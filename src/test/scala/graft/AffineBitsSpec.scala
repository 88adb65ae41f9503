package graft

import graft.affine.{AffineGrid, LocalAffine}

/** Bit-exact pin of the local-affine field. AffineGoldenSpec compares
  * within 1e-5, so a rewrite of the kernel that moves one rounding step
  * would pass it; this spec hashes `floatToRawIntBits` of every output
  * value, so it fails on any changed bit. The pinned hashes come from the
  * unhoisted per-voxel form of the kernel, which evaluates every term in
  * the same order as the hoisted one.
  *
  * Blocks are grouped by how many axes they touch the grid boundary on
  * (0 interior, 1 face, 2 edge, 3 corner) and each group is pinned on its
  * own, so a failure names the boundary case that moved.
  */
class AffineBitsSpec extends SparkSpec {

  private case class Geometry(
      grid: Array[Int], bs: Array[Int], overlap: Array[Int],
      spacing: Array[Float], shape: Array[Long], rows: Int,
      displacement: Boolean, seed: Long) {
    def affines: AffineGrid = {
      val rnd = new scala.util.Random(seed)
      val n = grid.product
      val m = new Array[Double](n * rows * 4)
      for (b <- 0 until n; r <- 0 until rows; c <- 0 until 4) {
        val v =
          if (c == 3) rnd.nextDouble() * 6 - 3 // translation
          else if (r == c) 1.0 + (rnd.nextDouble() - 0.5) * 0.2
          else (rnd.nextDouble() - 0.5) * 0.2
        m(b * rows * 4 + r * 4 + c) = v
      }
      AffineGrid(grid(0), grid(1), grid(2), rows, 4, m)
    }
  }

  // (a) the benchmark's operating point: 3³ × 96 / overlap 12, 4×4
  // matrices, displacement field, shape = the padded domain
  private val geomA = Geometry(Array(3, 3, 3), Array(96, 96, 96), Array(12, 12, 12),
    Array(1f, 1f, 1f), Array(288L, 288L, 288L), rows = 4, displacement = true, seed = 11)
  // (b) uneven everything: blocksize, grid, overlap (one axis 0), non-unit
  // spacing, 3×4 matrices, positions; the shape drops the x = 3 blocks and
  // crops the last block on every axis
  private val geomB = Geometry(Array(4, 3, 2), Array(10, 7, 5), Array(2, 3, 0),
    Array(0.5f, 1.25f, 3f), Array(27L, 19L, 8L), rows = 3, displacement = false, seed = 12)

  private val classes = Seq("interior", "face", "edge", "corner")

  /** FNV-1a over the block index, its extents and the raw bits of every
    * value, per block; blocks folded in index order within each class.
    */
  private def classHashes(g: Geometry): Map[String, (Int, Long)] = {
    val s = spark
    import s.implicits._
    val grid = g.grid
    val perBlock = LocalAffine.localAffinesToField(
        s, g.shape, g.spacing, g.affines, g.bs, g.overlap, g.displacement)
      .ds.map { b =>
        var h = 0xcbf29ce484222325L
        def mix(v: Int): Unit = h = (h ^ (v & 0xffffffffL)) * 0x100000001b3L
        Seq(b.bi.bx, b.bi.by, b.bi.bz, b.nx, b.ny, b.nz).foreach(mix)
        var i = 0
        while (i < b.data.length) { mix(java.lang.Float.floatToRawIntBits(b.data(i))); i += 1 }
        (b.bi.bx, b.bi.by, b.bi.bz, h)
      }.collect()
    perBlock.toSeq.groupBy { case (x, y, z, _) =>
      Seq((x, 0), (y, 1), (z, 2)).count { case (v, ax) => v == 0 || v == grid(ax) - 1 }
    }.map { case (n, blocks) =>
      val sorted = blocks.sortBy { case (x, y, z, _) => (x, y, z) }
      classes(n) -> (sorted.size, sorted.foldLeft(0L)((acc, b) => acc * 31 + b._4))
    }
  }

  private lazy val hashesA = classHashes(geomA)
  private lazy val hashesB = classHashes(geomB)

  private def pin(name: String, hashes: => Map[String, (Int, Long)],
      cls: String, blocks: Int, hash: Long): Unit =
    test(s"$name: $cls blocks are bit-identical to the pinned field") {
      val (n, h) = hashes.getOrElse(cls, (0, 0L))
      assert(n == blocks, s"$name $cls: $n blocks, want $blocks")
      assert(h == hash, f"$name $cls: hash 0x$h%016xL, pinned 0x$hash%016xL")
    }

  private val nameA = "3³ × 96/o12, 4×4, displacement"
  pin(nameA, hashesA, "interior", 1, 0x1b65ac37c67a10bfL)
  pin(nameA, hashesA, "face", 6, 0x13b5bd1de2d9698dL)
  pin(nameA, hashesA, "edge", 12, 0x6937a0dcb881f7cdL)
  pin(nameA, hashesA, "corner", 8, 0xb842eb4e4a1f0da8L)

  // grid (4,3,2) has no interior block (z has only boundary blocks), and
  // the crop drops x = 3, leaving 3×3×2 = 18 blocks
  private val nameB = "bs (10,7,5), grid (4,3,2), 3×4, positions, cropped"
  test(s"$nameB: no interior block") {
    assert(!hashesB.contains("interior"))
  }
  pin(nameB, hashesB, "face", 4, 0x04cb3427d7c87c64L)
  pin(nameB, hashesB, "edge", 10, 0xc07248b7567da63fL)
  pin(nameB, hashesB, "corner", 4, 0x4fbee80023b84f38L)
}

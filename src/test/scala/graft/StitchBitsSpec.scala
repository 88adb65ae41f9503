package graft

import graft.core.{Block, BlockGrid, BlockIndex}
import graft.stitch.Stitch

/** Bit-exact pin of the stitch merge. StitchGoldenSpec compares within
  * 1e-5, so a change that reorders the float32 sum of a target's pieces
  * would pass it; this spec hashes `floatToRawIntBits` of every output
  * value, so it fails on any changed bit. The pinned hashes were computed
  * with the `groupByKey` merge that sorted each target's pieces by source
  * key in memory.
  *
  * Blocks are grouped by how many axes they touch the grid boundary on
  * (0 interior, 1 face, 2 edge, 3 corner) and each group is pinned on its
  * own, so a failure names the boundary case that moved. Both
  * `stitchBlocks` and `restitchBlocks` are pinned.
  */
class StitchBitsSpec extends SparkSpec {

  private case class Geometry(grid: Array[Int], bs: Array[Int], overlap: Array[Int],
      c: Int, seed: Long) {
    /** Seeded tiles with values spread over several magnitudes, so any
      * reordering of a sum moves low bits.
      */
    def input: BlockGrid = {
      val ext = Array.tabulate(3)(ax => bs(ax) + 2 * overlap(ax))
      val tiles = for {
        x <- 0 until grid(0); y <- 0 until grid(1); z <- 0 until grid(2)
      } yield {
        val rnd = new scala.util.Random(seed * 1000 + (x * 31 + y) * 31 + z)
        Block(BlockIndex(x, y, z), ext(0), ext(1), ext(2), c,
          Array.fill(ext.product * c)((rnd.nextGaussian() * math.pow(10, rnd.nextInt(4))).toFloat))
      }
      BlockGrid.fromTiles(spark, tiles, bs, overlap, grid, c)
    }
  }

  // (a) cubic 3³ grid, bs 24 / overlap 6: one interior block
  private val geomA = Geometry(Array(3, 3, 3), Array(24, 24, 24), Array(6, 6, 6), 1, seed = 21)
  // (b) uneven grid, blocksize and overlap, 3 components; z has only
  // boundary blocks, so no interior class
  private val geomB = Geometry(Array(4, 3, 2), Array(10, 7, 6), Array(2, 3, 1), 3, seed = 22)

  private val classes = Seq("interior", "face", "edge", "corner")

  /** FNV-1a over the block index, its extents and the raw bits of every
    * value, per block; blocks folded in index order within each class.
    */
  private def classHashes(grid: Array[Int], out: BlockGrid): Map[String, (Int, Long)] = {
    val s = spark
    import s.implicits._
    val perBlock = out.ds.map { b =>
      var h = 0xcbf29ce484222325L
      def mix(v: Int): Unit = h = (h ^ (v & 0xffffffffL)) * 0x100000001b3L
      Seq(b.bi.bx, b.bi.by, b.bi.bz, b.nx, b.ny, b.nz, b.c).foreach(mix)
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

  private lazy val stitchA = classHashes(geomA.grid, Stitch.stitchBlocks(geomA.input))
  private lazy val stitchB = classHashes(geomB.grid, Stitch.stitchBlocks(geomB.input))
  // a face tile of (a): its affected set is 18 blocks of every class
  private lazy val restitchA = classHashes(geomA.grid,
    Stitch.restitchBlocks(geomA.input, Seq(BlockIndex(1, 0, 1))))
  // two far-apart tiles of (b): the affected set is two clusters
  private lazy val restitchB = classHashes(geomB.grid,
    Stitch.restitchBlocks(geomB.input, Seq(BlockIndex(0, 0, 0), BlockIndex(3, 2, 1))))

  private def pin(name: String, hashes: => Map[String, (Int, Long)],
      cls: String, blocks: Int, hash: Long): Unit =
    test(s"$name: $cls blocks are bit-identical to the pinned output") {
      val (n, h) = hashes.getOrElse(cls, (0, 0L))
      assert(n == blocks, s"$name $cls: $n blocks, want $blocks")
      assert(h == hash, f"$name $cls: hash 0x$h%016xL, pinned 0x$hash%016xL")
    }

  private val nameA = "stitch 3³ × 24/o6"
  pin(nameA, stitchA, "interior", 1, 0x5ae5f06a2b7e9104L)
  pin(nameA, stitchA, "face", 6, 0x99fa91afbad79a13L)
  pin(nameA, stitchA, "edge", 12, 0x3557958e0c368b1fL)
  pin(nameA, stitchA, "corner", 8, 0x1320a91d204d9792L)

  private val nameB = "stitch (4,3,2) × (10,7,6)/(2,3,1), c 3"
  test(s"$nameB: no interior block") {
    assert(!stitchB.contains("interior"))
  }
  pin(nameB, stitchB, "face", 4, 0x484c959eba661c8cL)
  pin(nameB, stitchB, "edge", 12, 0x8cbc10ee045f82d6L)
  pin(nameB, stitchB, "corner", 8, 0x9be57a6b481fc389L)

  private val nameRA = "restitch 3³ × 24/o6, face tile changed"
  pin(nameRA, restitchA, "interior", 1, 0x5ae5f06a2b7e9104L)
  pin(nameRA, restitchA, "face", 5, 0x54c7bcbe028f8243L)
  pin(nameRA, restitchA, "edge", 8, 0xcf6489d3ca37c32aL)
  pin(nameRA, restitchA, "corner", 4, 0x6a0e5552ea4e62c5L)

  private val nameRB = "restitch (4,3,2), two corner tiles changed"
  pin(nameRB, restitchB, "face", 4, 0x484c959eba661c8cL)
  pin(nameRB, restitchB, "edge", 8, 0x0157f3cdd88140cbL)
  pin(nameRB, restitchB, "corner", 4, 0x1fa5dd26aee1dd8aL)
}

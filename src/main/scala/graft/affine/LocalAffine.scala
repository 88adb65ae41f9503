package graft.affine

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import graft.core.{Block, BlockGrid, BlockIndex, GridMeta, Routed}
import graft.ndarray.Nd

/** A small dense grid of per-block affine matrices — the side input of
  * /root/reference/dask_stitch/local_affine.py (shape (gx,gy,gz,4,4) or
  * (gx,gy,gz,3,4); only rows [:3], cols [:3] and [-1] are read,
  * local_affine.py:21-22). Kept float64 like the reference's einsum.
  * Flat layout: m[(((x*gy)+y)*gz + z)*rows*cols + r*cols + col].
  */
final case class AffineGrid(gx: Int, gy: Int, gz: Int, rows: Int, cols: Int, m: Array[Double]) {
  require(m.length == gx.toLong * gy * gz * rows * cols, "affine buffer size mismatch")
  def gridDims: Array[Int] = Array(gx, gy, gz)
  def matOffset(x: Int, y: Int, z: Int): Int = (((x * gy) + y) * gz + z) * rows * cols
}

/** One block's affine matrix as a distributed row — the side-input shape
  * of the join path (at real scale this is read from storage, not built
  * from a driver-held AffineGrid).
  */
final case class BlockAffine(bx: Int, by: Int, bz: Int, rows: Int, cols: Int, m: Array[Double])

/** One affine on its way to a neighbouring field block (tx,ty,tz) in the
  * join path's exchange; `srcKey` is the linear index of the affine's own
  * block.
  */
private[graft] final case class AffineNeighbor(
    tx: Int, ty: Int, tz: Int, srcKey: Long, cols: Int, m: Array[Double]) extends Routed

/** Dense blended deformation-field synthesis from a grid of local affines —
  * the Spark-native re-expression of local_affine.py:110-139.
  *
  * Physical plan: ZERO shuffles. The coordinate grid is never
  * materialized or rechunked (the reference's meshgrid+rechunk at
  * local_affine.py:11-13 becomes per-executor generation from
  * BlockIndex); the affines ship once via `broadcast` (= `delayed`,
  * local_affine.py:124); each task applies <=27 neighbor affines to its
  * own overlap sub-grids and blends — the reference's
  * recompute-over-communicate design, which is exactly right at scale.
  * Beyond ~10^6 blocks the broadcast should become a join on BlockIndex
  * against a small DataFrame (SURVEY.md §7.5); below that it is ~MBs.
  *
  * Fidelity notes (SURVEY.md §7.5, verified): the seam weighting is NOT a
  * partition of unity — voxels on the higher-index side of each seam sum
  * to (4/3)^d for d seam axes (reversed weight slices,
  * local_affine.py:85-94). Reproduced bug-for-bug. Coordinates are exact
  * Float (not the reference's int16, which overflows >32767 voxels/axis —
  * documented divergence, SURVEY.md §1.2).
  */
object LocalAffine {
  private implicit val blockEnc: Encoder[Block] = BlockGrid.blockEncoder
  private val blockIndexEnc: Encoder[BlockIndex] = Encoders.product[BlockIndex]

  /** The merge_neighbors kernel (local_affine.py:33-107) for one block:
    * generates this block's world-space coordinate sub-grid on the fly and
    * accumulates <=27 weighted neighbor affine fields. Neighbor iteration
    * is offset-lexicographic like the reference's itertools.product
    * (local_affine.py:79) so float32 accumulation order matches.
    */
  def mergeNeighbors(
      bi: BlockIndex,
      bs: Array[Int],
      grid: Array[Int],
      spacing: Array[Float],
      affines: AffineGrid,
      overlap: Array[Int],
      displacement: Boolean): Array[Float] =
    mergeNeighborsLookup(bi, bs, grid, spacing,
      (x, y, z) => (affines.m, affines.matOffset(x, y, z)), affines.cols,
      overlap, displacement)

  /** Kernel body parameterized over the affine source: `affAt` returns
    * (matrix buffer, offset) for an in-grid block index. The broadcast
    * path closes over the whole AffineGrid; the join path closes over the
    * ≤27 shuffled neighbor rows. Neighbor iteration order is identical in
    * both, so the float32 accumulation (and hence the output) is
    * bit-identical — pinned by AffineJoinPathSpec.
    */
  def mergeNeighborsLookup(
      bi: BlockIndex,
      bs: Array[Int],
      grid: Array[Int],
      spacing: Array[Float],
      affAt: (Int, Int, Int) => (Array[Double], Int),
      cols: Int,
      overlap: Array[Int],
      displacement: Boolean): Array[Float] = {
    val nx = bs(0); val ny = bs(1); val nz = bs(2)
    val out = new Array[Float](nx * ny * nz * 3)
    val prof = Array.tabulate(3) { ax =>
      Nd.affineProfile(bs(ax), overlap(ax), bi(ax) == 0, bi(ax) == grid(ax) - 1)
    }
    val start = Array(bi.bx * nx, bi.by * ny, bi.bz * nz)

    // Per-axis slice descriptor for neighbor offset `no`: block-local range
    // [b0, b0+len) plus the weight-profile index per position — mirrors
    // local_affine.py:85-94 exactly, including the slice REVERSAL that
    // causes the (4/3)^d seam quirk.
    def axisSlices(ax: Int, no: Int): (Int, Array[Int]) = {
      val o = overlap(ax); val b = bs(ax); val wlen = prof(ax).length
      no match {
        case -1 => (0, Array.tabulate(o)(i => o - i)) // ws = slice(o, 0, -1)
        case 1 => (b - o, Array.tabulate(o)(i => wlen - 1 - i)) // slice(-1,-o-1,-1)
        case _ => (0, Array.tabulate(b)(i => o + i)) // slice(o, -o)
      }
    }

    // Loop invariants are hoisted out of the voxel loop, and every value
    // keeps the per-voxel evaluation order ((a·px + b·py) + c·pz) + t, so
    // the output is bit-identical to the unhoisted form (AffineBitsSpec).
    bi.neighbors(grid).foreach { case (nb, (nox, noy, noz)) =>
      val (m, mOff) = affAt(nb.bx, nb.by, nb.bz)
      // affine_to_field (local_affine.py:16-30): rows [:3],
      // translation = last column; double math like einsum
      val r1 = mOff + cols; val r2 = mOff + 2 * cols
      val a00 = m(mOff); val a01 = m(mOff + 1); val a02 = m(mOff + 2); val a03 = m(r1 - 1)
      val a10 = m(r1); val a11 = m(r1 + 1); val a12 = m(r1 + 2); val a13 = m(r2 - 1)
      val a20 = m(r2); val a21 = m(r2 + 1); val a22 = m(r2 + 2); val a23 = m(r2 + cols - 1)
      val (x0, wsx) = axisSlices(0, nox)
      val (y0, wsy) = axisSlices(1, noy)
      val (z0, wsz) = axisSlices(2, noz)
      val wxp = prof(0); val wyp = prof(1); val wzp = prof(2)
      // the z row, shared by every (i, j) of this neighbour
      val nk = wsz.length
      val pz = new Array[Double](nk); val wz = new Array[Float](nk)
      val pz0 = new Array[Double](nk); val pz1 = new Array[Double](nk)
      val pz2 = new Array[Double](nk)
      var k = 0
      while (k < nk) {
        pz(k) = ((start(2) + z0 + k).toFloat * spacing(2)).toDouble
        wz(k) = wzp(wsz(k))
        pz0(k) = a02 * pz(k); pz1(k) = a12 * pz(k); pz2(k) = a22 * pz(k)
        k += 1
      }
      var i = 0
      while (i < wsx.length) {
        val px = ((start(0) + x0 + i).toFloat * spacing(0)).toDouble
        val wxv = wxp(wsx(i))
        var j = 0
        while (j < wsy.length) {
          val py = ((start(1) + y0 + j).toFloat * spacing(1)).toDouble
          val wxy = wxv * wyp(wsy(j))
          val s0 = a00 * px + a01 * py
          val s1 = a10 * px + a11 * py
          val s2 = a20 * px + a21 * py
          var di = ((((x0 + i) * ny) + (y0 + j)) * nz + z0) * 3
          k = 0
          while (k < nk) {
            val w = wxy * wz(k)
            var rx = s0 + pz0(k) + a03
            var ry = s1 + pz1(k) + a13
            var rz = s2 + pz2(k) + a23
            if (displacement) { rx -= px; ry -= py; rz -= pz(k) }
            out(di) += (rx * w).toFloat
            out(di + 1) += (ry * w).toFloat
            out(di + 2) += (rz * w).toFloat
            di += 3
            k += 1
          }
          j += 1
        }
        i += 1
      }
    }
    out
  }

  /** Above this many blocks the in-memory AffineGrid is no longer
    * broadcast; the affines become a distributed Dataset and the field is
    * built by the one-shuffle join path (SURVEY.md §7.5). At 128 B/matrix
    * 2^20 blocks ≈ 134 MB — past the comfortable broadcast envelope.
    */
  val BroadcastMaxBlocks: Long = 1L << 20

  /** Top-level field synthesis (local_affine.py:110-139): generated grid ->
    * broadcast affines -> per-block kernel -> crop to `shape`. Zero
    * shuffles; one broadcast; blocks generated from `spark.range`. Beyond
    * [[BroadcastMaxBlocks]] affines, dispatches to the join path
    * ([[localAffinesToFieldJoin]]) instead of broadcasting — both paths
    * produce bit-identical output (AffineJoinPathSpec).
    */
  def localAffinesToField(
      spark: SparkSession,
      shape: Array[Long],
      spacing: Array[Float],
      affines: AffineGrid,
      blocksize: Array[Int],
      overlap: Array[Int],
      displacement: Boolean = true): BlockGrid = {
    val grid = affines.gridDims
    val bs = blocksize.clone()
    requireValidOverlap(bs, overlap)
    val meta = GridMeta(shape.clone(), bs, Array(0, 0, 0), grid.clone(), components = 3)
    val nBlocks = meta.numBlocks
    // too big to broadcast: ship the affines as a Dataset and join (the
    // at-scale entry point is the join itself, fed from storage)
    if (nBlocks > BroadcastMaxBlocks) return localAffinesToFieldJoin(
      spark, shape, spacing, affineRows(spark, affines), grid, blocksize, overlap, displacement)
    val bAff = spark.sparkContext.broadcast(affines)
    val sp = spacing.clone()
    val ov = overlap.clone()
    val g = grid.clone()
    val sh = shape.clone()

    import spark.implicits._
    // one typed op from range id to cropped block: each op of a typed
    // chain costs the driver its own analysis on every pass
    val ds = spark.range(0, nBlocks, 1, math.min(nBlocks, spark.sparkContext.defaultParallelism * 2).toInt)
      .as[Long]
      .flatMap { i =>
        val bi = BlockIndex.fromLinear(i, g)
        // keep only blocks intersecting the requested shape (crop,
        // local_affine.py:136 — padded domain minus out-of-range blocks)
        if (inShape(bi, bs, sh))
          Some(fieldBlock(bi, bs, g, sp, bAff.value, ov, sh, displacement))
        else None
      }(blockEnc)
    BlockGrid(meta, ds)
  }

  /** INCREMENTAL FIELD RECOMPUTE — a local affine was re-estimated:
    * [[mergeNeighbors]] reads only a block's ≤27 neighbor affines, so a
    * changed affine at grid coordinate (x,y,z) can only alter field
    * blocks in its 1-neighborhood. Recomputes exactly those blocks with
    * the identical kernel on the identical inputs — bit-identical to
    * re-running [[localAffinesToField]] (RefieldSpec) at work
    * proportional to the change, not the volume. Callers overwrite the
    * returned blocks in the stored field.
    */
  def refieldBlocks(
      spark: SparkSession,
      shape: Array[Long],
      spacing: Array[Float],
      affines: AffineGrid,
      blocksize: Array[Int],
      overlap: Array[Int],
      changed: Seq[BlockIndex],
      displacement: Boolean = true): BlockGrid = {
    require(changed.nonEmpty, "refield needs at least one changed affine")
    val grid = affines.gridDims
    changed.foreach { bi =>
      require(bi.inGrid(grid), s"refield: changed affine (${bi.bx},${bi.by},${bi.bz}) " +
        s"is outside the ${grid.mkString("x")} affine grid")
    }
    val bs = blocksize.clone()
    requireValidOverlap(bs, overlap)
    val meta = GridMeta(shape.clone(), bs, Array(0, 0, 0), grid.clone(), components = 3)
    val sh = shape.clone(); val sp = spacing.clone(); val ov = overlap.clone()
    val g = grid.clone()
    // the changed affines' neighbours, less those the crop drops
    val affected = changed.flatMap(_.neighbors(g).map(_._1)).distinct
      .filter(bi => inShape(bi, bs, sh)).sortBy(_.linear(g))
    val bAff = spark.sparkContext.broadcast(affines)
    val ds = spark.createDataset(affected)(blockIndexEnc)
      .repartition(math.min(affected.size,
        spark.sparkContext.defaultParallelism).max(1))
      .map(fieldBlock(_, bs, g, sp, bAff.value, ov, sh, displacement))(blockEnc)
    BlockGrid(meta, ds)
  }

  /** Join-path field synthesis for affine grids too large to broadcast:
    * each affine row is flatMapped to its ≤27 neighbor target blocks,
    * and the one exchange ([[BlockGrid.exchange]]) routes them to
    * contiguous runs of the row-major block order, where the same kernel
    * runs over each target's assembled neighborhood. Shuffle volume =
    * 27×(affine rows) ≈ 3.5 KB/block — negligible next to the emitted
    * field. Accumulation order is identical to the broadcast path, so
    * output is bit-identical.
    */
  def localAffinesToFieldJoin(
      spark: SparkSession,
      shape: Array[Long],
      spacing: Array[Float],
      affines: Dataset[BlockAffine],
      grid: Array[Int],
      blocksize: Array[Int],
      overlap: Array[Int],
      displacement: Boolean = true): BlockGrid = {
    val bs = blocksize.clone()
    requireValidOverlap(bs, overlap)
    val meta = GridMeta(shape.clone(), bs, Array(0, 0, 0), grid.clone(), components = 3)
    val sp = spacing.clone()
    val ov = overlap.clone()
    val g = grid.clone()
    val sh = shape.clone()
    implicit val rowEnc: Encoder[AffineNeighbor] = Encoders.product[AffineNeighbor]
    val rows = affines.flatMap { a =>
      val src = BlockIndex(a.bx, a.by, a.bz)
      // every in-grid neighbour the crop keeps receives this affine
      src.neighbors(g).collect { case (t, _) if inShape(t, bs, sh) =>
        AffineNeighbor(t.bx, t.by, t.bz, src.linear(g), a.cols, a.m)
      }
    }
    val ds = BlockGrid.exchange(rows, BlockGrid.linearTarget(g), meta.numBlocks) { (bi, run) =>
      val nbrs = run.map(a => a.srcKey -> a).toMap
      val affAt = (x: Int, y: Int, z: Int) => (nbrs(BlockIndex(x, y, z).linear(g)).m, 0)
      val full = mergeNeighborsLookup(bi, bs, g, sp, affAt, nbrs.head._2.cols, ov, displacement)
      cropBlock(Block(bi, bs(0), bs(1), bs(2), 3, full), bs, sh)
    }
    BlockGrid(meta, ds)
  }

  /** The affines of `affines` as one row per block — the join path's input. */
  private[graft] def affineRows(spark: SparkSession, affines: AffineGrid): Dataset[BlockAffine] = {
    val n = affines.rows * affines.cols
    spark.createDataset(for {
      x <- 0 until affines.gx; y <- 0 until affines.gy; z <- 0 until affines.gz
    } yield {
      val off = affines.matOffset(x, y, z)
      BlockAffine(x, y, z, affines.rows, affines.cols,
        java.util.Arrays.copyOfRange(affines.m, off, off + n))
    })(Encoders.product[BlockAffine])
  }

  /** Voxel coordinate grid — reference parity with `position_grid`
    * (local_affine.py:7-13): block (bx,by,bz) holds each voxel's global
    * index per axis as a 3-component field, generated per executor (zero
    * shuffles, nothing materialized driver-side). Divergence from the
    * reference (documented, SURVEY.md §1.2): coordinates are float32,
    * not the reference's int16, which silently overflows beyond 32767
    * voxels per axis — a 100 TB array is far past that.
    */
  def positionGrid(
      spark: SparkSession,
      shape: Array[Long],
      blocksize: Array[Int]): BlockGrid = {
    val bs = blocksize.clone()
    val sh = shape.clone()
    val g = Array.tabulate(3)(ax => ((sh(ax) + bs(ax) - 1) / bs(ax)).toInt)
    val meta = GridMeta(sh, bs, Array(0, 0, 0), g, components = 3)
    val nBlocks = meta.numBlocks
    import spark.implicits._
    val ds = spark.range(0, nBlocks, 1, math.min(nBlocks, spark.sparkContext.defaultParallelism * 2).toInt)
      .as[Long]
      .map { i =>
        val bi = BlockIndex.fromLinear(i, g)
        val ex = math.min(bs(0).toLong, sh(0) - bi.bx.toLong * bs(0)).toInt
        val ey = math.min(bs(1).toLong, sh(1) - bi.by.toLong * bs(1)).toInt
        val ez = math.min(bs(2).toLong, sh(2) - bi.bz.toLong * bs(2)).toInt
        val data = new Array[Float](ex * ey * ez * 3)
        var di = 0
        var x = 0
        while (x < ex) {
          var y = 0
          while (y < ey) {
            var z = 0
            while (z < ez) {
              data(di) = (bi.bx.toLong * bs(0) + x).toFloat
              data(di + 1) = (bi.by.toLong * bs(1) + y).toFloat
              data(di + 2) = (bi.bz.toLong * bs(2) + z).toFloat
              di += 3
              z += 1
            }
            y += 1
          }
          x += 1
        }
        Block(bi, ex, ey, ez, 3, data)
      }(blockEnc)
    BlockGrid(meta, ds)
  }

  private def requireValidOverlap(bs: Array[Int], overlap: Array[Int]): Unit =
    (0 until 3).foreach { ax =>
      // ramp core bs - (2o-1) + 1 must be non-negative and neighbor slices
      // at most a full block wide (beyond that the reference errors)
      require(overlap(ax) >= 0 && overlap(ax) <= bs(ax) &&
          math.max(0, 2 * overlap(ax) - 1) <= bs(ax) + 1,
        s"invalid overlap ${overlap(ax)} for blocksize ${bs(ax)} on axis $ax")
    }

  /** One field block: the kernel over the full block, cropped to `sh` —
    * the per-block body of [[localAffinesToField]] and [[refieldBlocks]].
    */
  private def fieldBlock(
      bi: BlockIndex, bs: Array[Int], g: Array[Int], sp: Array[Float],
      affines: AffineGrid, ov: Array[Int], sh: Array[Long], displacement: Boolean): Block = {
    val full = mergeNeighbors(bi, bs, g, sp, affines, ov, displacement)
    cropBlock(Block(bi, bs(0), bs(1), bs(2), 3, full), bs, sh)
  }

  /** Whether block `bi` starts inside the cropped output shape `sh`. */
  private def inShape(bi: BlockIndex, bs: Array[Int], sh: Array[Long]): Boolean =
    bi.bx.toLong * bs(0) < sh(0) && bi.by.toLong * bs(1) < sh(1) && bi.bz.toLong * bs(2) < sh(2)

  /** Trim a full-size block to the cropped output shape. */
  private def cropBlock(b: Block, bs: Array[Int], sh: Array[Long]): Block = {
    val ex = math.min(bs(0).toLong, sh(0) - b.bi.bx.toLong * bs(0)).toInt
    val ey = math.min(bs(1).toLong, sh(1) - b.bi.by.toLong * bs(1)).toInt
    val ez = math.min(bs(2).toLong, sh(2) - b.bi.bz.toLong * bs(2)).toInt
    if (ex == bs(0) && ey == bs(1) && ez == bs(2)) b
    else Block(b.bi, ex, ey, ez, 3,
      Nd.sliceCopy(b.data, bs(0), bs(1), bs(2), 3, 0, 0, 0, ex, ey, ez))
  }
}

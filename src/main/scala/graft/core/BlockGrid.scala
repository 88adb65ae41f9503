package graft.core

import org.apache.spark.sql.{Column, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.{call_function, col, lit}
import graft.ndarray.Nd

/** A row of a block-grid exchange ([[BlockGrid.exchange]]): bound for
  * target block (tx,ty,tz), ordered within its target by `srcKey`, the
  * linear index of the block it came from.
  */
private[graft] trait Routed {
  def tx: Int
  def ty: Int
  def tz: Int
  def srcKey: Long
}

/** One halo fragment in flight: source block data destined for target
  * block (tx,ty,tz), to be placed at offset (x0,y0,z0) with extent
  * (dx,dy,dz). `srcKey` is the source block's linear index. The stitch
  * sums a target's pieces in its order, so float32 accumulation order is
  * deterministic run-to-run (SURVEY.md §7.5); `mapOverlap` and `rechunk`
  * pieces of one target are disjoint, so their assembly is a copy.
  */
final case class HaloPiece(
    tx: Int, ty: Int, tz: Int,
    srcKey: Long,
    x0: Int, y0: Int, z0: Int,
    dx: Int, dy: Int, dz: Int,
    data: Array[Float]) extends Routed

object HaloPiece {
  /** found implicitly wherever pieces are built or read back */
  implicit val encoder: Encoder[HaloPiece] = Encoders.product[HaloPiece]
}

/** Domain-edge fill policy of [[BlockGrid.mapOverlap]] — the counterpart
  * of dask's `map_overlap(boundary=...)` options. `Constant` matches
  * `boundary=<value>` (all the reference ever uses: stitch.py:117 passes
  * 0.0); `Reflect` is dask's 'reflect' (edge-inclusive mirror, np.pad
  * 'symmetric'); `Nearest` replicates the edge plane; `Periodic` wraps
  * around the domain. Reflect/Nearest are a local fill after halo
  * assembly (the mirrored data is always inside the edge block's own
  * extended buffer); Periodic changes piece routing instead — source
  * chunks emit to wrapped targets, so the margins carry real far-side
  * data and no fill happens. NoPad is dask's `boundary='none'`: the
  * domain edge gets NO margin at all — edge blocks receive smaller
  * extended tiles (chunk + depth only on sides that have a neighbor),
  * so kernels see real data exclusively and must read extents from the
  * Block they are handed rather than assuming chunk+2*depth.
  */
sealed trait Boundary extends Serializable
object Boundary {
  final case class Constant(v: Float) extends Boundary
  case object Reflect extends Boundary
  case object Nearest extends Boundary
  case object Periodic extends Boundary
  case object NoPad extends Boundary
}

/** A lazy block-partitioned dense N-d array: `Dataset[Block]` + static
  * [[GridMeta]] — the Spark-native counterpart of a dask array
  * (SURVEY.md §1.3). All transformations are lazy (the reference never
  * calls compute — stitch.py:113, local_affine.py:139); only
  * [[collectDense]] / IO trigger actions.
  */
final case class BlockGrid(meta: GridMeta, ds: Dataset[Block]) {

  /** Narrow per-chunk kernel — the analogue of `da.map_blocks`
    * (stitch.py:105-110). Chained maps fuse inside one
    * whole-stage-codegen stage (SURVEY.md §4.2).
    */
  def mapBlocks(newMeta: GridMeta)(f: Block => Block): BlockGrid =
    BlockGrid(newMeta, ds.map(f)(BlockGrid.blockEncoder))

  /** Generic halo-exchange map — the reusable analogue of
    * `da.map_overlap(kernel, depth, boundary=., trim=False, chunks=...)`
    * (the reference's one physical primitive, stitch.py:113-121).
    *
    * Semantics (dask's, verified in SURVEY §1.2): chunks live in
    * CONCATENATED-chunk coordinates — chunk i spans
    * [i*chunkSize, (i+1)*chunkSize) per axis regardless of any logical
    * overlap the chunks represent. Each chunk is extended by `depth(ax)`
    * voxels of neighbor data per side (`boundary` fill where the grid
    * ends), the kernel runs on the extended block, and its output becomes
    * the new chunk with `newMeta`'s declared geometry.
    *
    * Physical plan: ONE shuffle — a ≤27-way piece flatMap keyed by target
    * block, then [[BlockGrid.exchange]]: assemble + kernel once per
    * target run. Pieces of a target are disjoint, so assembly is a copy
    * and the result is deterministic independent of arrival order. At
    * 100 TB shuffle volume is the array volume + the halo fraction; no
    * second exchange.
    *
    * PRECONDITION: the grid must be DENSE — every BlockIndex in
    * [0,blockGrid) must be present exactly once in `ds` (dask arrays are
    * dense by construction, so the reference has no sparse case). A
    * missing block produces no output row AND its neighbors silently get
    * boundary fill where real data should be; the uniform-chunk `require`
    * below cannot catch absence. MapOverlapSpec pins output cardinality
    * == grid volume on the golden fixtures.
    */
  def mapOverlap(depth: Array[Int], newMeta: GridMeta,
      boundary: Boundary = Boundary.Constant(0f))(
      kernel: Block => Block): BlockGrid = {
    val m = meta
    require(m.isRegular,
      "mapOverlap requires a regular (uniform-chunk) grid — rechunk first")
    val cs = Array.tabulate(3)(m.chunkSize)
    val g = m.blockGrid
    val c = m.components
    (0 until 3).foreach { ax =>
      require(depth(ax) >= 0 && depth(ax) <= cs(ax),
        s"mapOverlap requires 0 <= depth <= chunk extent per axis " +
          s"(got depth=${depth(ax)}, chunk=${cs(ax)} on axis $ax)")
    }
    val periodic = boundary == Boundary.Periodic
    val pieces = ds.flatMap { b =>
      require(b.nx == cs(0) && b.ny == cs(1) && b.nz == cs(2),
        s"mapOverlap requires uniform chunks ${cs.mkString("x")}, " +
          s"got ${b.nx}x${b.ny}x${b.nz} at ${b.bi}")
      val src = b.bi
      // under Periodic the VIRTUAL (unwrapped) target carries the
      // intersection arithmetic; the piece routes to the wrapped real
      // index. Buffer frames are congruent mod the domain, so
      // virtual-frame offsets are valid in the real buffer.
      val targets =
        if (periodic) BlockIndex.offsets.map(src + _) else src.neighbors(g).map(_._1)
      targets.flatMap { tgt =>
        // intersect source chunk [s*cs, s*cs+cs) with target's extended
        // domain [t*cs - depth, t*cs + cs + depth) per axis
        def axis(ax: Int) = BlockGrid.intersect(
          src(ax).toLong * cs(ax), src(ax).toLong * cs(ax) + cs(ax),
          tgt(ax).toLong * cs(ax) - depth(ax), tgt(ax).toLong * cs(ax) + cs(ax) + depth(ax))
        for ((ox, sx, ex) <- axis(0); (oy, sy, ey) <- axis(1); (oz, sz, ez) <- axis(2)) yield {
          val real =
            if (periodic)
              BlockIndex(Math.floorMod(tgt.bx, g(0)),
                Math.floorMod(tgt.by, g(1)), Math.floorMod(tgt.bz, g(2)))
            else tgt
          HaloPiece(real.bx, real.by, real.bz, src.linear(g),
            ox, oy, oz, ex, ey, ez, BlockGrid.sliceOf(b, sx, sy, sz, ex, ey, ez))
        }
      }
    }
    val noPad = boundary == Boundary.NoPad
    val merged = BlockGrid.exchange(pieces, BlockGrid.linearTarget(g), m.numBlocks) { (bi, run) =>
      // NoPad: a domain-edge side contributes no margin, so the
      // extended tile shrinks there; pieces were routed in the
      // full-margin virtual frame and shift down by the missing margin
      val lo = Array.tabulate(3)(ax => if (noPad && bi(ax) == 0) 0 else depth(ax))
      val hi = Array.tabulate(3)(ax => if (noPad && bi(ax) == g(ax) - 1) 0 else depth(ax))
      val ex = cs(0) + lo(0) + hi(0); val ey = cs(1) + lo(1) + hi(1)
      val ez = cs(2) + lo(2) + hi(2)
      val buf = new Array[Float](ex * ey * ez * c)
      boundary match {
        case Boundary.Constant(v) if v != 0f => java.util.Arrays.fill(buf, v)
        case _ => ()
      }
      run.foreach { p =>
        Nd.placeInto(buf, ex, ey, ez, c, p.data,
          p.x0 - (depth(0) - lo(0)), p.y0 - (depth(1) - lo(1)),
          p.z0 - (depth(2) - lo(2)), p.dx, p.dy, p.dz)
      }
      boundary match {
        case Boundary.Reflect | Boundary.Nearest =>
          fillEdges(buf, bi, cs, depth, g, c, boundary == Boundary.Reflect)
        case _ => ()
      }
      kernel(Block(bi, ex, ey, ez, c, buf))
    }
    BlockGrid(newMeta, merged)
  }

  /** Fill the out-of-domain margin of an assembled extended buffer by
    * mapping each outside cell to its reflected (edge-inclusive mirror,
    * dask 'reflect') or clamped (dask 'nearest') in-domain twin — which
    * is always inside this edge block's own buffer since depth ≤ chunk.
    */
  private def fillEdges(buf: Array[Float], bi: BlockIndex, cs: Array[Int],
      depth: Array[Int], g: Array[Int], c: Int, reflect: Boolean): Unit = {
    // interior blocks have no out-of-domain cells — skip the buffer scan
    // (the overwhelming majority of blocks on a large grid)
    val touchesEdge = (0 until 3).exists(ax =>
      depth(ax) > 0 && (bi(ax) == 0 || bi(ax) == g(ax) - 1))
    if (!touchesEdge) return
    val ex = cs(0) + 2 * depth(0); val ey = cs(1) + 2 * depth(1)
    val ez = cs(2) + 2 * depth(2)
    // per-axis: local index -> mapped local index (or -1 when in-domain)
    def axisMap(ax: Int, e: Int): Array[Int] = {
      val base = bi(ax).toLong * cs(ax) - depth(ax)
      val dSize = g(ax).toLong * cs(ax)
      Array.tabulate(e) { i =>
        val gc = base + i
        if (gc >= 0 && gc < dSize) i
        else {
          val mapped =
            if (reflect) { if (gc < 0) -1 - gc else 2 * dSize - 1 - gc }
            else { if (gc < 0) 0L else dSize - 1 }
          (mapped - base).toInt
        }
      }
    }
    val mx = axisMap(0, ex); val my = axisMap(1, ey); val mz = axisMap(2, ez)
    var x = 0
    while (x < ex) {
      var y = 0
      while (y < ey) {
        var z = 0
        while (z < ez) {
          if (mx(x) != x || my(y) != y || mz(z) != z) {
            val di = ((x * ey + y) * ez + z) * c
            val si = ((mx(x) * ey + my(y)) * ez + mz(z)) * c
            var k = 0
            while (k < c) { buf(di + k) = buf(si + k); k += 1 }
          }
          z += 1
        }
        y += 1
      }
      x += 1
    }
  }

  /** Re-partition the voxels onto a new UNIFORM chunk geometry — dask's
    * `da.rechunk(chunks=int_per_axis)` (the reference rechunks its
    * position grid to the blocksize at local_affine.py:13). The domain
    * need not divide: trailing blocks shape-crop on both sides, exactly
    * as the input's may. For an arbitrary per-axis chunk-extent spec
    * (dask's `chunks=((5,3),(7,2),...)` tuple form) use the
    * [[rechunk(chunks:Array[Array[Int]])*]] overload.
    */
  def rechunk(newBlocksize: Array[Int]): BlockGrid = {
    (0 until 3).foreach(ax => require(newBlocksize(ax) >= 1,
      s"rechunk blocksize must be >= 1 (got ${newBlocksize(ax)} on axis $ax)"))
    val nbs = newBlocksize.clone()
    val sh = meta.shape
    val ng = Array.tabulate(3)(ax => ((sh(ax) + nbs(ax) - 1) / nbs(ax)).toInt)
    rechunkTo(GridMeta(sh.clone(), nbs, Array(0, 0, 0), ng, meta.components))
  }

  /** Re-partition onto an IRREGULAR chunk geometry — dask's
    * `da.rechunk(chunks=((5,3),(7,2),(3,2)))` explicit tuple form:
    * `newChunks(ax)` lists each chunk's voxel extent along axis `ax` and
    * must sum to the domain shape. The result's [[GridMeta.chunks]] is
    * set; downstream halo ops require a regular grid (rechunk back), as
    * in the reference's own pipeline.
    */
  def rechunk(newChunks: Array[Array[Int]]): BlockGrid = {
    val sh = meta.shape
    val spec = newChunks.map(_.clone())
    val ng = spec.map(_.length)
    // nominal blocksize = max extent per axis (display/partitioning hint
    // only; all geometry below goes through chunkBounds)
    val nominal = spec.map(_.max)
    rechunkTo(GridMeta(sh.clone(), nominal, Array(0, 0, 0), ng, meta.components, spec))
  }

  /** Shared rechunk engine, boundary-driven so source and target may each
    * be regular or irregular. ONE shuffle ([[BlockGrid.exchange]]): each
    * source block is sliced into the target blocks it intersects (pieces
    * are disjoint, assembly is a copy — deterministic regardless of
    * arrival order). Requires an exact (overlap-0) source grid; per-axis
    * boundary arrays are tiny (#chunks-per-axis longs) and ride the task
    * closure.
    */
  private def rechunkTo(newMeta: GridMeta): BlockGrid = {
    val m = meta
    require(m.overlap.forall(_ == 0), "rechunk requires an exact (overlap-0) grid")
    require(java.util.Arrays.equals(newMeta.shape, m.shape),
      s"rechunk target shape ${newMeta.shape.toSeq} != grid shape ${m.shape.toSeq}")
    val c = m.components
    val sb = Array.tabulate(3)(m.chunkBounds) // source chunk boundaries
    val tb = Array.tabulate(3)(newMeta.chunkBounds) // target chunk boundaries
    // index of the chunk whose [b(i), b(i+1)) contains voxel v
    def locate(bounds: Array[Long], v: Long): Int = {
      val p = java.util.Arrays.binarySearch(bounds, v)
      if (p >= 0) p else -p - 2
    }
    val pieces = ds.flatMap { b =>
      val src = b.bi
      val srcLo = Array.tabulate(3)(ax => sb(ax)(src(ax)))
      val srcHi = Array.tabulate(3)(ax => srcLo(ax) + b.shape(ax))
      // the target chunks holding this block's first and last voxel
      val tLo = Array.tabulate(3)(ax => locate(tb(ax), srcLo(ax)))
      val tHi = Array.tabulate(3)(ax => locate(tb(ax), srcHi(ax) - 1))
      def axis(t: BlockIndex, ax: Int) =
        BlockGrid.intersect(srcLo(ax), srcHi(ax), tb(ax)(t(ax)), tb(ax)(t(ax) + 1))
      for {
        tx <- tLo(0) to tHi(0); ty <- tLo(1) to tHi(1); tz <- tLo(2) to tHi(2)
        t = BlockIndex(tx, ty, tz)
        (ox, sx, ex) <- axis(t, 0); (oy, sy, ey) <- axis(t, 1); (oz, sz, ez) <- axis(t, 2)
      } yield HaloPiece(tx, ty, tz, src.linear(m.blockGrid),
        ox, oy, oz, ex, ey, ez, BlockGrid.sliceOf(b, sx, sy, sz, ex, ey, ez))
    }
    val merged = BlockGrid.exchange(pieces, BlockGrid.linearTarget(newMeta.blockGrid),
        newMeta.numBlocks) { (bi, run) =>
      val e = Array.tabulate(3)(ax => (tb(ax)(bi(ax) + 1) - tb(ax)(bi(ax))).toInt)
      val buf = new Array[Float](e(0) * e(1) * e(2) * c)
      run.foreach { p =>
        Nd.placeInto(buf, e(0), e(1), e(2), c, p.data, p.x0, p.y0, p.z0, p.dx, p.dy, p.dz)
      }
      Block(bi, e(0), e(1), e(2), c, buf)
    }
    BlockGrid(newMeta, merged)
  }

  /** MULTISCALE DOWNSAMPLE — mean-pool by `factor` per axis: the pyramid
    * level every microscopy stitching pipeline emits after fusion (the
    * reference's outputs feed viewers that require pyramids; dask's
    * `da.coarsen(np.mean, ...)` plays this role). Output voxel o is the
    * mean of input cell [o·f, min((o+1)·f, shape)) — trailing partial
    * cells average their ACTUAL voxels (no pad bias). Accumulation is a
    * fixed x→y→z loop in double with one rounding to f32 at the end, so
    * the result is bit-deterministic wherever a cell lands.
    *
    * Physical plan: ONE rechunk shuffle to align chunk boundaries to
    * factor multiples (skipped when already aligned), then a NARROW
    * per-block pool — cells never straddle blocks, so no halo exchange
    * and the pooled level re-shards with zero extra traffic. At 100 TB
    * the cost is the rechunk's array-volume shuffle at most; each
    * further pyramid level is (1/∏f) the previous one's volume.
    */
  def downsample(factor: Array[Int]): BlockGrid = {
    require(factor.length == 3 && factor.forall(_ >= 1),
      s"downsample factor must be 3 positive ints: ${factor.toSeq}")
    val m = meta
    require(m.overlap.forall(_ == 0), "downsample requires an exact (overlap-0) grid")
    if (factor.forall(_ == 1)) return this
    // align chunk boundaries to factor multiples (trailing chunk crops)
    val alignedBs = Array.tabulate(3) { ax =>
      val f = factor(ax)
      math.max(f, m.blocksize(ax) / f * f)
    }
    val aligned = {
      val already = m.isRegular &&
        (0 until 3).forall(ax => m.blocksize(ax) == alignedBs(ax))
      if (already) this else rechunk(alignedBs)
    }
    val am = aligned.meta
    val f0 = factor(0); val f1 = factor(1); val f2 = factor(2)
    val c = m.components
    val outShape = Array.tabulate(3)(ax => (am.shape(ax) + factor(ax) - 1) / factor(ax))
    val outBs = Array.tabulate(3)(ax => alignedBs(ax) / factor(ax))
    val outMeta = GridMeta(outShape, outBs, Array(0, 0, 0),
      am.blockGrid.clone(), c)
    aligned.mapBlocks(outMeta) { b =>
      val on = Array((b.nx + f0 - 1) / f0, (b.ny + f1 - 1) / f1, (b.nz + f2 - 1) / f2)
      val out = new Array[Float](on(0) * on(1) * on(2) * c)
      var ox = 0
      while (ox < on(0)) {
        val x1 = math.min((ox + 1) * f0, b.nx)
        var oy = 0
        while (oy < on(1)) {
          val y1 = math.min((oy + 1) * f1, b.ny)
          var oz = 0
          while (oz < on(2)) {
            val z1 = math.min((oz + 1) * f2, b.nz)
            var ch = 0
            while (ch < c) {
              var acc = 0.0d; var cnt = 0
              var x = ox * f0
              while (x < x1) {
                var y = oy * f1
                while (y < y1) {
                  var z = oz * f2
                  while (z < z1) {
                    acc += b.data(((x * b.ny + y) * b.nz + z) * c + ch)
                    cnt += 1
                    z += 1
                  }
                  y += 1
                }
                x += 1
              }
              out(((ox * on(1) + oy) * on(2) + oz) * c + ch) = (acc / cnt).toFloat
              ch += 1
            }
            oz += 1
          }
          oy += 1
        }
        ox += 1
      }
      Block(b.bi, on(0), on(1), on(2), c, out)
    }
  }

  /** Collect into one dense row-major float buffer (tests / small outputs
    * only — the 100 TB path writes Parquet instead, see graft.io).
    * Blocks are placed at their chunk origin (bi*blocksize on regular
    * grids, the chunk-extent prefix sum on irregular ones); partial edge
    * blocks (post-crop) use their own extents.
    */
  def collectDense(): Array[Float] = {
    val sx = meta.shape(0).toInt; val sy = meta.shape(1).toInt; val sz = meta.shape(2).toInt
    val c = meta.components
    val out = new Array[Float](sx * sy * sz * c)
    val m = meta
    ds.collect().foreach { b =>
      val x0 = m.chunkStart(0, b.bi.bx).toInt
      val y0 = m.chunkStart(1, b.bi.by).toInt
      val z0 = m.chunkStart(2, b.bi.bz).toInt
      val rowLen = b.nz * c
      var pi = 0
      var x = 0
      while (x < b.nx) {
        var y = 0
        while (y < b.ny) {
          var di = (((x0 + x) * sy + (y0 + y)) * sz + z0) * c
          System.arraycopy(b.data, pi, out, di, rowLen)
          pi += rowLen
          y += 1
        }
        x += 1
      }
    }
    out
  }
}

object BlockGrid {
  implicit val blockEncoder: Encoder[Block] = Encoders.product[Block]

  /** The row-major linear index ([[BlockIndex.linear]]) of a piece's
    * target block `(tx, ty, tz)` on `grid`, as a column.
    */
  private[graft] def linearTarget(grid: Array[Int]): Column =
    (col("tx").cast("long") * grid(1) + col("ty")) * grid(2) + col("tz")

  /** The overlap of source interval [sLo, sHi) with target interval
    * [tLo, tHi) on one axis: (offset in the target, offset in the
    * source, extent), or None when they are disjoint.
    */
  private[graft] def intersect(sLo: Long, sHi: Long, tLo: Long, tHi: Long): Option[(Int, Int, Int)] = {
    val lo = math.max(sLo, tLo); val hi = math.min(sHi, tHi)
    if (hi <= lo) None else Some(((lo - tLo).toInt, (lo - sLo).toInt, (hi - lo).toInt))
  }

  /** The box of `b` at (x0,y0,z0) with extent (dx,dy,dz) — `b`'s own
    * buffer when the box is the whole block.
    */
  private def sliceOf(b: Block, x0: Int, y0: Int, z0: Int, dx: Int, dy: Int, dz: Int): Array[Float] =
    if (dx == b.nx && dy == b.ny && dz == b.nz) b.data
    else Nd.sliceCopy(b.data, b.nx, b.ny, b.nz, b.c, x0, y0, z0, dx, dy, dz)

  /** The one exchange of every block-grid op: route each row to its
    * target block's partition ([[routeToTargets]]), sort each partition
    * on (tx, ty, tz, srcKey), and `assemble` each target from its run,
    * which arrives in srcKey order. `run` reads the sorted partition
    * lazily and only within its target; the sort spills to disk under
    * memory pressure, so no partition must fit in memory.
    */
  private[graft] def exchange[T <: Routed](pieces: Dataset[T], rank: Column, targets: Long)(
      assemble: (BlockIndex, Iterator[T]) => Block): Dataset[Block] =
    routeToTargets(pieces, rank, targets)
      .sortWithinPartitions("tx", "ty", "tz", "srcKey")
      .mapPartitions(mapRuns(_)((p: T) => BlockIndex(p.tx, p.ty, p.tz))(assemble))

  /** Sends each row to partition `rank * P div targets`, where `rank` in
    * [0, targets) orders the target blocks and P = min(targets,
    * spark.sql.shuffle.partitions), so each partition receives one
    * contiguous run of ⌈targets/P⌉ or ⌊targets/P⌋ targets (a hash of the
    * target put 5/12/2/8 of a 3³ grid's blocks on 4 partitions).
    */
  private def routeToTargets[T](pieces: Dataset[T], rank: Column, targets: Long): Dataset[T] = {
    val shufflePartitions = pieces.sparkSession.conf.get("spark.sql.shuffle.partitions").toLong
    val p = math.max(1L, math.min(targets, shufflePartitions))
    pieces.repartitionById(p.toInt,
      call_function("div", rank.cast("long") * p, lit(targets)).cast("int"))
  }

  /** One `f(key, run)` per run of equal `key` in a key-sorted iterator.
    * `run` reads the underlying iterator lazily and only within its run;
    * whatever `f` leaves unread is skipped.
    */
  private def mapRuns[T, K, R](it: Iterator[T])(key: T => K)(f: (K, Iterator[T]) => R): Iterator[R] = {
    val in = it.buffered
    new Iterator[R] {
      def hasNext: Boolean = in.hasNext
      def next(): R = {
        val k = key(in.head)
        val run = new Iterator[T] {
          def hasNext: Boolean = in.hasNext && key(in.head) == k
          def next(): T = if (hasNext) in.next() else Iterator.empty.next()
        }
        val r = f(k, run)
        while (run.hasNext) run.next()
        r
      }
    }
  }

  /** Build a grid from an in-memory dense array of extended tiles (tests,
    * small inputs). `tiles` maps BlockIndex -> flat row-major chunk of
    * extent blocksize+2*overlap per axis (the stitch input contract,
    * stitch.py:19-20).
    */
  def fromTiles(
      spark: SparkSession,
      tiles: Seq[Block],
      blocksize: Array[Int],
      overlap: Array[Int],
      blockGrid: Array[Int],
      components: Int): BlockGrid = {
    val shape = Array.tabulate(3)(i => blocksize(i).toLong * blockGrid(i))
    val meta = GridMeta(shape, blocksize, overlap, blockGrid, components)
    // parallelize to one partition per block: blocks are the unit of work
    val n = math.max(1, math.min(tiles.size, spark.sparkContext.defaultParallelism))
    BlockGrid(meta, spark.createDataset(spark.sparkContext.parallelize(tiles, n))(blockEncoder))
  }
}

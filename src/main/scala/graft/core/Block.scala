package graft.core

/** Integer chunk-grid coordinates of one block.
  *
  * Mirrors the reference's `block_info[0]['chunk-location']`
  * (/root/reference/dask_stitch/stitch.py:13, local_affine.py:46) as a
  * first-class key: every block-grid exchange routes on its
  * [[linear]] index ([[BlockGrid.exchange]]) and all neighbor
  * arithmetic happens on it ([[neighbors]]).
  */
final case class BlockIndex(bx: Int, by: Int, bz: Int) {
  def apply(ax: Int): Int = ax match {
    case 0 => bx
    case 1 => by
    case _ => bz
  }
  def +(d: (Int, Int, Int)): BlockIndex = BlockIndex(bx + d._1, by + d._2, bz + d._3)
  def inGrid(grid: Array[Int]): Boolean =
    bx >= 0 && by >= 0 && bz >= 0 && bx < grid(0) && by < grid(1) && bz < grid(2)
  /** Row-major linearization (x-major like numpy C order). */
  def linear(grid: Array[Int]): Long =
    (bx.toLong * grid(1) + by) * grid(2) + bz
  /** The in-grid ±1 neighbours of this block, itself included, each with
    * its offset, in lexicographic (dx, dy, dz) order — the reference's
    * `itertools.product` order (local_affine.py:79), which is also
    * ascending [[linear]] order.
    */
  def neighbors(grid: Array[Int]): Seq[(BlockIndex, (Int, Int, Int))] =
    BlockIndex.offsets.map(d => (this + d, d)).filter(_._1.inGrid(grid))
}

object BlockIndex {
  /** The 27 offsets of a ±1 neighbourhood in lexicographic (dx, dy, dz) order. */
  val offsets: Seq[(Int, Int, Int)] =
    for (dx <- -1 to 1; dy <- -1 to 1; dz <- -1 to 1) yield (dx, dy, dz)

  def fromLinear(i: Long, grid: Array[Int]): BlockIndex = {
    val z = (i % grid(2)).toInt
    val y = ((i / grid(2)) % grid(1)).toInt
    val x = (i / (grid(2).toLong * grid(1))).toInt
    BlockIndex(x, y, z)
  }
}

/** One chunk of a block-partitioned dense N-d array: the Spark analogue of
  * one dask chunk (SURVEY.md §1.3). `data` is a flat row-major float32
  * buffer of logical shape (nx, ny, nz[, c]) — component axis minor,
  * matching numpy's trailing-axis layout. Stored via the product encoder;
  * `data` lands in Tungsten UnsafeArrayData (contiguous primitives).
  */
final case class Block(
    bi: BlockIndex,
    nx: Int,
    ny: Int,
    nz: Int,
    c: Int, // components; 1 = scalar volume, 3 = vector field
    data: Array[Float],
) {
  def shape: Array[Int] = Array(nx, ny, nz)
  def numel: Int = nx * ny * nz * c
  require(data == null || data.length == numel, s"data ${if (data == null) -1 else data.length} != $nx*$ny*$nz*$c")
}

/** Static metadata of a block grid — the role dask's `Array` object plays
  * (shape/chunks/dtype known at graph-build time, SURVEY.md §1.1). Spark
  * Datasets carry no user metadata, so the [[BlockGrid]] wrapper pairs it
  * with the Dataset.
  *
  * Chunk geometry is REGULAR by default (uniform `blocksize` with a
  * shape-cropped trailing chunk per axis — dask's `chunks=int` form).
  * `chunks != null` declares an IRREGULAR geometry (dask's explicit
  * per-axis tuple form, `chunks=((5,3),(7,2),...)`): chunk i on axis ax
  * spans `chunks(ax)(i)` voxels starting at the running sum of its
  * predecessors. Irregular grids are what `da.rechunk` can produce;
  * halo ops ([[BlockGrid.mapOverlap]], stitch) require regular grids,
  * as does dask's own overlap machinery in the reference's usage.
  *
  * @param shape     logical voxel shape of the full array (per spatial axis)
  * @param blocksize core chunk size per spatial axis (nominal — the max
  *                  chunk extent — when `chunks` is set)
  * @param overlap   halo depth per spatial axis (0 when chunks are exact)
  * @param blockGrid number of chunks per spatial axis
  * @param components trailing component axis extent (1 = scalar)
  * @param chunks    per-axis explicit chunk extents (null = regular)
  */
final case class GridMeta(
    shape: Array[Long],
    blocksize: Array[Int],
    overlap: Array[Int],
    blockGrid: Array[Int],
    components: Int,
    chunks: Array[Array[Int]] = null,
) {
  if (chunks != null) {
    require(chunks.length == 3, s"chunks needs one extent list per axis")
    (0 until 3).foreach { ax =>
      require(chunks(ax).length == blockGrid(ax),
        s"axis $ax: ${chunks(ax).length} chunks declared, blockGrid says ${blockGrid(ax)}")
      require(chunks(ax).forall(_ >= 1), s"axis $ax: chunk extents must be >= 1")
      require(chunks(ax).foldLeft(0L)(_ + _) == shape(ax),
        s"axis $ax: chunk extents ${chunks(ax).mkString("+")} != shape ${shape(ax)}")
    }
    require(overlap.forall(_ == 0), "irregular chunk geometry requires an overlap-0 grid")
  }

  def numBlocks: Long = blockGrid(0).toLong * blockGrid(1) * blockGrid(2)
  /** Chunk extent per axis including overlap (input contract of stitch:
    * blocksize + 2*overlap, stitch.py:19-20 — verified SURVEY §1.1). */
  def chunkSize(ax: Int): Int = blocksize(ax) + 2 * overlap(ax)

  /** Regular = uniform blocksize geometry (trailing chunks shape-crop). */
  def isRegular: Boolean = chunks == null

  /** Voxel boundaries of axis `ax`'s chunks: length blockGrid(ax)+1,
    * ascending, first 0, last shape(ax). Chunk i spans [b(i), b(i+1)).
    */
  def chunkBounds(ax: Int): Array[Long] = {
    val n = blockGrid(ax)
    val a = new Array[Long](n + 1)
    if (chunks == null) {
      var i = 0
      while (i <= n) {
        a(i) = math.min(i.toLong * blocksize(ax), shape(ax)); i += 1
      }
    } else {
      var i = 0
      while (i < n) { a(i + 1) = a(i) + chunks(ax)(i); i += 1 }
    }
    a
  }

  /** Voxel origin of chunk i on axis `ax`. */
  def chunkStart(ax: Int, i: Int): Long =
    if (chunks == null) i.toLong * blocksize(ax)
    else { var s = 0L; var j = 0; while (j < i) { s += chunks(ax)(j); j += 1 }; s }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.affine.{AffineGrid, LocalAffine}
import graft.core.{Block, BlockGrid, GridMeta}
import graft.io.BlockIO
import graft.stitch.Stitch

/** The reference-parity entry points — the engine's equivalent of the
  * reference's flat two-function API (`dask_stitch.stitch.stitch_blocks`,
  * `dask_stitch.local_affine.local_affines_to_field`; the reference's
  * `__init__.py` exports nothing, SURVEY.md §1.2): stitch, restitch,
  * refield, the streaming stitch, the affine field, the position grid,
  * the dask array primitives and grid IO. Everything here delegates to
  * the module that owns the implementation; every other operator is
  * called on its own module.
  */
object Graft {

  // ---- stitch core (reference parity) --------------------------------

  /** Linear-blend stitching of overlapping tiles; input chunks
    * blocksize+2*overlap, output chunks blocksize (stitch.py:94-121).
    */
  def stitchBlocks(grid: BlockGrid): BlockGrid = Stitch.stitchBlocks(grid)

  /** Incremental re-stitch after tile replacement: recomputes exactly
    * the changed tiles' 26-neighborhoods, bit-identical to a full
    * re-stitch on those blocks — work proportional to the change, not
    * the acquisition ([[Stitch.restitchBlocks]]).
    */
  def restitchBlocks(grid: BlockGrid,
      changed: Seq[core.BlockIndex]): BlockGrid =
    Stitch.restitchBlocks(grid, changed)

  /** Incremental affine-field recompute after a local affine was
    * re-estimated: only the changed cells' neighborhoods recompute,
    * bit-identical to the full field
    * ([[affine.LocalAffine.refieldBlocks]]).
    */
  def refieldBlocks(spark: SparkSession, shape: Array[Long],
      spacing: Array[Float], affines: affine.AffineGrid,
      blocksize: Array[Int], overlap: Array[Int],
      changed: Seq[core.BlockIndex], displacement: Boolean = true): BlockGrid =
    affine.LocalAffine.refieldBlocks(spark, shape, spacing, affines,
      blocksize, overlap, changed, displacement)

  /** Streaming stitch: same contract over an unbounded tile stream —
    * each output block emits when its last halo piece arrives,
    * bit-identical to [[stitchBlocks]]
    * ([[graft.streaming.StreamingStitch]]).
    */
  def stitchBlocksStream(tiles: org.apache.spark.sql.Dataset[core.Block],
      meta: core.GridMeta): org.apache.spark.sql.Dataset[core.Block] =
    streaming.StreamingStitch.stitchStream(tiles, meta)

  /** Streaming stitch with PROCESSING-TIME bounded waiting: stalled
    * blocks emit partial after `partialAfterMs` of no arrivals.
    */
  def stitchBlocksStream(tiles: org.apache.spark.sql.Dataset[core.Block],
      meta: core.GridMeta, partialAfterMs: Long): org.apache.spark.sql.Dataset[core.Block] =
    streaming.StreamingStitch.stitchStream(tiles, meta, partialAfterMs)

  /** Streaming stitch with EVENT-TIME bounded waiting: tiles carry an
    * acquisition timestamp; a block emits partial when the watermark
    * passes its last piece's time + `stallGapMs` — deterministic,
    * replay-identical ([[streaming.StreamingStitch.stitchStreamByWatermark]]).
    */
  def stitchBlocksStreamByWatermark(
      tiles: org.apache.spark.sql.Dataset[(core.Block, java.sql.Timestamp)],
      meta: core.GridMeta, stallGapMs: Long,
      watermarkDelay: String = "0 seconds"): org.apache.spark.sql.Dataset[core.Block] =
    streaming.StreamingStitch.stitchStreamByWatermark(tiles, meta, stallGapMs, watermarkDelay)

  /** Dense blended deformation field from a grid of local affines
    * (local_affine.py:110-139); zero shuffles, broadcast side input.
    */
  def localAffinesToField(
      spark: SparkSession,
      shape: Array[Long],
      spacing: Array[Float],
      affines: AffineGrid,
      blocksize: Array[Int],
      overlap: Array[Int],
      displacement: Boolean = true): BlockGrid =
    LocalAffine.localAffinesToField(spark, shape, spacing, affines, blocksize, overlap, displacement)

  /** Voxel coordinate grid — `position_grid` (local_affine.py:7-13):
    * block (bx,by,bz) holds each voxel's global index per axis as a
    * 3-component field. Generated per executor; zero shuffles.
    */
  def positionGrid(
      spark: SparkSession,
      shape: Array[Long],
      blocksize: Array[Int]): BlockGrid =
    LocalAffine.positionGrid(spark, shape, blocksize)

  /** Narrow per-chunk kernel — `da.map_blocks` (stitch.py:105-110). */
  def mapBlocks(grid: BlockGrid, newMeta: GridMeta)(f: Block => Block): BlockGrid =
    grid.mapBlocks(newMeta)(f)

  /** Generic halo exchange — `da.map_overlap(kernel, depth, boundary,
    * trim=False)` (stitch.py:113-121): each chunk is extended by `depth`
    * voxels of neighbor data per side before `kernel` runs, with the
    * domain edge filled per `boundary` (constant / reflect / nearest /
    * periodic / no-pad, dask's 'none' — edge tiles shrink instead of
    * being filled). ONE shuffle; requires a dense uniform grid.
    */
  def mapOverlap(
      grid: BlockGrid,
      depth: Array[Int],
      newMeta: GridMeta,
      boundary: graft.core.Boundary = graft.core.Boundary.Constant(0f))(
      kernel: Block => Block): BlockGrid =
    grid.mapOverlap(depth, newMeta, boundary)(kernel)

  /** Re-partition a grid's voxels onto a new uniform chunk geometry —
    * `da.rechunk(chunks=int_per_axis)` (the reference rechunks its
    * position grid to the blocksize, local_affine.py:13). ONE shuffle;
    * the domain need not divide (trailing chunks shape-crop), and the
    * source grid may itself be irregular. Operates on the logical array,
    * so the source must be overlap-0 — as dask's is.
    */
  def rechunk(grid: BlockGrid, newBlocksize: Array[Int]): BlockGrid =
    grid.rechunk(newBlocksize)

  /** Re-partition onto an IRREGULAR per-axis chunk-extent spec —
    * `da.rechunk(chunks=((5,3),(7,2),(3,2)))` explicit tuple form; each
    * axis's extents must sum to the domain shape. ONE shuffle.
    */
  def rechunk(grid: BlockGrid, newChunks: Array[Array[Int]]): BlockGrid =
    grid.rechunk(newChunks)

  /** Mean-pool pyramid level: `factor`-per-axis downsample of an exact
    * grid (the viewer-pyramid output step; dask's `da.coarsen(np.mean)`
    * analogue with trailing partial cells averaged, not trimmed). One
    * alignment rechunk at most, then a narrow per-block pool — see
    * [[core.BlockGrid.downsample]].
    */
  def downsample(grid: BlockGrid, factor: Array[Int]): BlockGrid =
    grid.downsample(factor)

  /** Build an in-memory block grid (tests / small inputs). */
  def gridFromTiles(
      spark: SparkSession,
      tiles: Seq[Block],
      blocksize: Array[Int],
      overlap: Array[Int],
      blockGrid: Array[Int],
      components: Int = 1): BlockGrid =
    BlockGrid.fromTiles(spark, tiles, blocksize, overlap, blockGrid, components)

  /** Block grid parquet sink / source (one row per block + meta sidecar). */
  def writeGrid(grid: BlockGrid, path: String): Unit = BlockIO.write(grid, path)
  def readGrid(spark: SparkSession, path: String): BlockGrid = BlockIO.read(spark, path)

  /** Relational view of a per-block `.npy` directory through the
    * DataSource V2 reader ([[graft.sources.NpyDataSource]]): predicates
    * on bx/by/bz prune FILES at planning time, and index-only
    * projections never open a file (NpySourceSpec pins both).
    */
  def readNpyBlocks(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("npy-blocks").load(dir)

  /** Bucketed, per-bucket-sorted managed table sink: co-locates recurring
    * equi-joins so they run shuffle- and sort-free off the scan.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int, key: String, sortKeys: String*): Unit =
    io.Bucketing.writeBucketed(df, table, buckets, key, sortKeys: _*)
}

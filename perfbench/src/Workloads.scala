package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.affine.{AffineGrid, LocalAffine}
import graft.core.{BlockGrid, BlockIndex}
import graft.io.BlockIO
import graft.stitch.Stitch

/** One benchmark workload. A pass is one disk-to-disk run of the pipeline
  * (or one sequence of driver queries); `prefixes` drain the same pipeline
  * up to each layer boundary, shortest first, for the traced run.
  */
abstract class Workload(val name: String) {
  def generate(): Unit
  /** Runs one pass; returns how many of its `units` failed. */
  def pass(): Int
  def units: Int = 1
  /** Timed passes a run makes at least, however long they take. */
  def minPasses: Int = 4
  /** Input generations timed in set-up (the median counts). */
  def genReps: Int = 3
  /** Untimed passes before the timed ones (counted in set-up): the first
    * pass is several times slower while classes load and the JIT compiles
    * the hot paths.
    */
  def warmPasses: Int = 4
  def outVoxels: Long
  def check(): Seq[String]
  /** Problems with the check itself: it must fail on planted defects. */
  def selfTest(): Seq[String]
  /** Per-pass housekeeping kept out of the timed region. */
  def beforePass(): Unit = ()
  def prefixes: Seq[(String, () => Unit)]
  /** Block geometry for the single-thread ndarray baseline. */
  def ndGeometry: Geometry
  def inputDir: Path
  def outputDir: Path
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `check` on planted defects: it must pass the clean copy and fail
    * every corrupted one.
    */
  def expectCaught(what: String, clean: => Seq[String],
      defects: Seq[(String, () => Unit, () => Seq[String])]): Seq[String] = {
    val c = clean
    (if (c.nonEmpty) Seq(s"$what check rejects a correct output: ${c.head}") else Nil) ++
      defects.flatMap { case (d, plant, run) =>
        plant()
        if (run().isEmpty) Seq(s"$what check misses $d") else Nil
      }
  }
}

import Workload._

/** A stitch workload: its input tiles as the program reads them. */
trait StitchInput { def grid: BlockGrid }

/** Tiles on disk as one `.npy` per tile -> `importNpyViaSource` ->
  * `stitchBlocks` -> `exportNpy`.
  */
final class StitchNpy(spark: SparkSession, seed: Long, work: Path, g: Geometry)
    extends Workload("stitch_tiles_npy") with StitchInput {
  val inputDir: Path = work.resolve("in_tiles_npy")
  val outputDir: Path = work.resolve("out_stitch_npy")
  def ndGeometry: Geometry = g
  def outVoxels: Long = g.outVoxels
  def generate(): Unit = Gen.tilesNpy(spark, seed, g, inputDir)
  def grid: BlockGrid = BlockIO.importNpyViaSource(spark, inputDir.toString)
  override def beforePass(): Unit = Dirs.reset(outputDir)
  def pass(): Int = { BlockIO.exportNpy(Stitch.stitchBlocks(grid), outputDir.toString); 0 }
  def check(): Seq[String] = Checks.stitchNpy(spark, seed, g, outputDir)
  def prefixes: Seq[(String, () => Unit)] = Seq(
    "read" -> (() => noop(grid.ds.toDF())),
    "map" -> (() => noop(Stitch.emitPieces(grid).toDF())),
    "merge" -> (() => noop(Stitch.stitchBlocks(grid).ds.toDF())),
    "full" -> (() => pass()))

  def selfTest(): Seq[String] = {
    val t = Geometry(2, 8, 2)
    val dir = Dirs.reset(work.resolve("selftest_npy"))
    def exact(bi: BlockIndex) = Array.tabulate(t.bs * t.bs * t.bs) { i =>
      Vox.value(seed, bi.bx * t.bs + i / (t.bs * t.bs), bi.by * t.bs + i / t.bs % t.bs,
        bi.bz * t.bs + i % t.bs)
    }
    def put(bi: BlockIndex, d: Array[Float], shape: Seq[Int] = Seq(t.bs, t.bs, t.bs)) =
      NpyFile.write(dir.resolve(NpyFile.blockName(bi)), shape, d)
    t.blocks.foreach(bi => put(bi, exact(bi)))
    val run = () => Checks.stitchNpy(spark, seed, t, dir)
    val b0 = BlockIndex(0, 0, 0); val b1 = BlockIndex(1, 0, 1)
    expectCaught("stitch npy", run(), Seq(
      ("one changed voxel", () => { val d = exact(b0); d(77) += 1f; put(b0, d) }, run),
      ("a dropped block", () => { put(b0, exact(b0)); Files.delete(dir.resolve(NpyFile.blockName(b1))) }, run),
      ("a wrong extent", () => put(b1, new Array[Float](t.bs * t.bs * 2), Seq(t.bs, t.bs, 2)), run)))
  }
}

/** Tiles as parquet rows -> `BlockIO.read` -> `stitchBlocks` -> `BlockIO.write`. */
final class StitchParquet(spark: SparkSession, seed: Long, work: Path, g: Geometry)
    extends Workload("stitch_blocks_parquet") with StitchInput {
  import Gen.rowEnc
  val inputDir: Path = work.resolve("in_tiles_parquet")
  val outputDir: Path = work.resolve("out_stitch_parquet")
  def ndGeometry: Geometry = g
  def outVoxels: Long = g.outVoxels
  def generate(): Unit = Gen.tilesParquet(spark, seed, g, inputDir)
  def grid: BlockGrid = BlockIO.read(spark, inputDir.toString)
  def pass(): Int = { BlockIO.write(Stitch.stitchBlocks(grid), outputDir.toString); 0 }
  def check(): Seq[String] = Checks.stitchParquet(spark, seed, g, outputDir)
  def prefixes: Seq[(String, () => Unit)] = Seq(
    "read" -> (() => noop(grid.ds.toDF())),
    "map" -> (() => noop(Stitch.emitPieces(grid).toDF())),
    "merge" -> (() => noop(Stitch.stitchBlocks(grid).ds.toDF())),
    "full" -> (() => pass()))

  def selfTest(): Seq[String] = {
    val t = Geometry(2, 8, 2)
    val dir = work.resolve("selftest_parquet")
    val exact = t.blocks.map { bi =>
      BlockRow(bi.bx, bi.by, bi.bz, t.bs, t.bs, t.bs, 1, Array.tabulate(t.bs * t.bs * t.bs) { i =>
        Vox.value(seed, bi.bx * t.bs + i / (t.bs * t.bs), bi.by * t.bs + i / t.bs % t.bs,
          bi.bz * t.bs + i % t.bs)
      })
    }
    spark.createDataset(exact).coalesce(1).write.mode("overwrite").parquet(dir.toString)
    def run(rows: Seq[BlockRow]) = () => Checks.stitchRows(seed, t, spark.createDataset(rows))
    val bumped = exact.head.data.clone(); bumped(5) += 1f
    expectCaught("stitch parquet", Checks.stitchParquet(spark, seed, t, dir), Seq(
      ("one changed voxel", () => (), run(exact.head.copy(data = bumped) +: exact.tail)),
      ("a dropped block", () => (), run(exact.tail)),
      ("a duplicated block", () => (), run(exact.head +: exact.tail.init :+ exact.head))))
  }
}

/** Seeded affine grid -> `localAffinesToField` -> `exportNpy` (3 components). */
final class AffineNpy(spark: SparkSession, seed: Long, work: Path, g: Geometry)
    extends Workload("affine_field_npy") {
  val inputDir: Path = work.resolve("in_affines")
  val outputDir: Path = work.resolve("out_field_npy")
  private var affines: AffineGrid = null
  def ndGeometry: Geometry = g
  def outVoxels: Long = g.outVoxels
  def generate(): Unit = affines = Vox.affines(seed, g)
  private def field = LocalAffine.localAffinesToField(spark, g.shape, Array(1f, 1f, 1f),
    affines, g.bsArr, g.oArr)
  override def beforePass(): Unit = Dirs.reset(outputDir)
  def pass(): Int = { BlockIO.exportNpy(field, outputDir.toString); 0 }
  private val sample = Seq(BlockIndex(0, 0, 0), BlockIndex(g.grid / 2, g.grid / 2, g.grid / 2),
    BlockIndex(g.grid - 1, 0, g.grid - 1), BlockIndex(g.grid - 1, g.grid - 1, g.grid - 1)).distinct
  def check(): Seq[String] = Checks.affineNpy(seed, g, outputDir, sample)
  def prefixes: Seq[(String, () => Unit)] = Seq(
    "kernel" -> (() => noop(field.ds.toDF())),
    "full" -> (() => pass()))

  def selfTest(): Seq[String] = {
    val t = Geometry(2, 8, 2)
    val dir = Dirs.reset(work.resolve("selftest_affine"))
    val aff = Vox.affines(seed, t)
    def exact(bi: BlockIndex) =
      LocalAffine.mergeNeighbors(bi, t.bsArr, t.dims, Array(1f, 1f, 1f), aff, t.oArr, displacement = true)
    def put(bi: BlockIndex, d: Array[Float]) =
      NpyFile.write(dir.resolve(NpyFile.blockName(bi)), Seq(t.bs, t.bs, t.bs, 3), d)
    t.blocks.foreach(bi => put(bi, exact(bi)))
    val run = () => Checks.affineNpy(seed, t, dir, t.blocks)
    val b0 = BlockIndex(0, 1, 0); val b1 = BlockIndex(1, 1, 1)
    expectCaught("affine", run(), Seq(
      ("one changed voxel", () => { val d = exact(b0); d(100) = Math.nextUp(d(100)); put(b0, d) }, run),
      ("a dropped block", () => { put(b0, exact(b0)); Files.delete(dir.resolve(NpyFile.blockName(b1))) }, run)))
  }
}

/** Driver queries (see [[DriverQueries.pins]]) run in sequence through
  * `SparkEntry.queries`. Each query is drained by collecting its result, so
  * every pass checks every result against its pin. The tables are fixed
  * (independent of the seed) so the results can be pinned.
  */
final class DriverQueries(spark: SparkSession, work: Path, sf: Double)
    extends Workload(DriverQueries.name) {
  val inputDir: Path = work.resolve("in_tables")
  val outputDir: Path = work.resolve("out_none")
  def ndGeometry: Geometry = Geometry(3, 128, 16)
  def outVoxels: Long = 0L
  val keys: Seq[String] = DriverQueries.pins.keys.toSeq.sorted
  override def units: Int = keys.length
  override def genReps: Int = 1
  // its passes are longer: fewer warm-up and timed passes keep the run as
  // long as the others'
  override def warmPasses: Int = 2
  override def minPasses: Int = 3
  private val dir = inputDir.toString
  private var last = Map.empty[String, Seq[Row]]
  def generate(): Unit = TableGen.write(spark, sf, inputDir)
  def query(k: String): DataFrame = SparkEntry.queries(k)(spark, dir)

  /** Result mismatch of query `k`, if any. */
  def mismatch(k: String, rows: Seq[Row]): Option[String] = {
    val got = Checks.digest(rows)
    val want = DriverQueries.pins(k)
    if (got == want) None
    else Some(s"$k: ${got._1} rows digest ${got._2}, pinned ${want._1} rows digest ${want._2}")
  }

  def pass(): Int = keys.count { k =>
    try {
      val rows = query(k).collect().toSeq
      last += k -> rows
      mismatch(k, rows).map(m => System.err.println(s"[perfbench] CHECK FAILED: $m")).isDefined
    } catch { case e: Exception => System.err.println(s"[perfbench] $k failed: $e"); true }
  }
  val tables: Seq[String] = TableGen.names
  def prefixes: Seq[(String, () => Unit)] =
    Seq("read" -> (() => tables.foreach(t => noop(spark.read.parquet(s"$dir/$t.parquet")))))

  /** Every pass already checked its results; this covers queries that never returned. */
  def check(): Seq[String] = keys.filterNot(last.contains).map(k => s"$k: no result")

  def selfTest(): Seq[String] = {
    val k = "q239_connected_components"
    val rows = last.getOrElse(k, query(k).collect().toSeq)
    def run(rs: Seq[Row]) = () => mismatch(k, rs).toSeq
    val changed = Row.fromSeq(rows.head.toSeq.updated(2, rows.head.getLong(2) + 1)) +: rows.tail
    expectCaught("driver digest", run(rows)(), Seq(
      ("a wrong row", () => (), run(changed)),
      ("a dropped row", () => (), run(rows.tail)),
      ("a duplicated row", () => (), run(rows.head +: rows))))
  }
}

object DriverQueries {
  val name = "driver_queries"
  val sf = 0.01
  /** The queries of a pass: the connected-components gauge (graph layer
    * over relational joins; iterative, tens of Spark jobs). Each maps to its
    * (rows, order-insensitive digest) on the generated tables at `sf`,
    * recorded once the repo's DuckDB oracle check agreed.
    */
  val pins: Map[String, (Long, Long)] = Map(
    "q239_connected_components" -> (280L, -2993996349539017301L))
}

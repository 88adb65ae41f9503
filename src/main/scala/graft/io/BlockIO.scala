package graft.io

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import graft.core.{Block, BlockGrid, GridMeta}

/** Parquet source/sink for block grids — the engine's storage edge
  * (SURVEY.md §2b "Scans/sources/sinks": the reference has no I/O at all;
  * arrays live in memory. At 100 TB the grid IS a parquet dataset).
  *
  * Layout: one row per block (bx,by,bz,nx,ny,nz,c,data:array<float>),
  * written partitioned-by nothing but sortable on (bx,by,bz); the grid
  * metadata travels in a `_grid_meta.json` sidecar next to the parquet
  * files (Spark carries no per-dataset user metadata). At cluster scale
  * the same layout works on any Hadoop-compatible FS; the sidecar write
  * goes through the same filesystem API.
  */
object BlockIO {
  private implicit val blockEnc: Encoder[Block] = BlockGrid.blockEncoder

  /** canonical per-block file naming — the ONE definition of the on-disk
    * contract, shared by [[exportNpy]] and the `npy-blocks` DataSource V2
    * reader ([[importNpyViaSource]]) so they cannot drift
    */
  private[graft] val blockFileName = "block_(\\d+)_(\\d+)_(\\d+)\\.npy$".r

  private[graft] def blockFileNameOf(bx: Int, by: Int, bz: Int): String =
    s"block_${bx}_${by}_$bz.npy"

  private[graft] def parseBlockFileName(path: String): Option[(Int, Int, Int)] =
    blockFileName.findFirstMatchIn(path)
      .map(m => (m.group(1).toInt, m.group(2).toInt, m.group(3).toInt))

  private[io] def metaJson(m: GridMeta): String = {
    def arr[T](a: Array[T]): String = a.mkString("[", ",", "]")
    val chunks =
      if (m.chunks == null) ""
      else s""","chunks":${m.chunks.map(arr(_)).mkString("[", ",", "]")}"""
    s"""{"shape":${arr(m.shape)},"blocksize":${arr(m.blocksize)},""" +
      s""""overlap":${arr(m.overlap)},"blockGrid":${arr(m.blockGrid)},""" +
      s""""components":${m.components}$chunks}"""
  }

  private[io] def parseMeta(s: String): GridMeta = {
    def ints(k: String): Array[Int] =
      s"""$k":\\[([^\\]]*)\\]""".r.findFirstMatchIn(s).get.group(1).split(",").map(_.trim.toInt)
    val chunks = """"chunks":\[(\[[^\]]*\](?:,\[[^\]]*\])*)\]""".r
      .findFirstMatchIn(s)
      .map(_.group(1).split("\\],\\[").map(_.replaceAll("[\\[\\]]", "")
        .split(",").map(_.trim.toInt)))
      .orNull
    GridMeta(
      shape = ints("shape").map(_.toLong),
      blocksize = ints("blocksize"),
      overlap = ints("overlap"),
      blockGrid = ints("blockGrid"),
      components = s"""components":(\\d+)""".r.findFirstMatchIn(s).get.group(1).toInt,
      chunks = chunks)
  }

  /** Write a grid to `path` as parquet rows + a `_grid_meta.json` sidecar.
    * The sidecar goes through the Hadoop FileSystem API, so any scheme the
    * parquet write supports (file://, hdfs://, s3a://, ...) works.
    */
  def write(grid: BlockGrid, path: String): Unit = {
    val spark = grid.ds.sparkSession
    grid.ds
      .select(col("bi.bx").as("bx"), col("bi.by").as("by"), col("bi.bz").as("bz"),
        col("nx"), col("ny"), col("nz"), col("c"), col("data"))
      .write.mode("overwrite").parquet(path)
    writeSidecar(spark, path, grid.meta)
  }

  /** Export one `.npy` per block (`block_<bx>_<by>_<bz>.npy`, shape
    * (nx,ny,nz) or (nx,ny,nz,c)) + the meta sidecar — numpy-ecosystem
    * interop (the reference's consumers read numpy). Files are written
    * ON the executors through the Hadoop FS of `dir`'s scheme; the
    * driver broadcasts its Hadoop conf once so credentials/settings apply.
    */
  def exportNpy(grid: BlockGrid, dir: String): Unit = {
    val spark = grid.ds.sparkSession
    val sc = spark.sparkContext
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    grid.ds.foreachPartition { (it: Iterator[Block]) =>
      if (it.hasNext) {
        val base = new org.apache.hadoop.fs.Path(dir)
        val fs = base.getFileSystem(conf.value.value)
        it.foreach { b =>
          val shape = if (b.c == 1) Array(b.nx, b.ny, b.nz) else Array(b.nx, b.ny, b.nz, b.c)
          val p = new org.apache.hadoop.fs.Path(base,
            blockFileNameOf(b.bi.bx, b.bi.by, b.bi.bz))
          val out = fs.create(p, true)
          try out.write(Npy.toBytes(shape, b.data))
          finally out.close()
        }
      }
    }
    writeSidecar(spark, dir, grid.meta)
  }

  /** The `_grid_meta.json` sidecar of [[write]] and [[exportNpy]]. */
  private def writeSidecar(spark: SparkSession, dir: String, meta: GridMeta): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, "_grid_meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(metaJson(meta).getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readSidecar(spark: SparkSession, dir: String): GridMeta = {
    val metaPath = new org.apache.hadoop.fs.Path(dir, "_grid_meta.json")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(metaPath)
    val metaStr =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](4096)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        new String(buf.toByteArray, StandardCharsets.UTF_8)
      } finally in.close()
    parseMeta(metaStr)
  }

  /** Import a directory of per-block `.npy` files written by
    * [[exportNpy]] (or by numpy with the same naming) through the
    * `npy-blocks` DataSource V2 reader ([[graft.sources.NpyDataSource]]):
    * each file is read on an executor, no driver materialization, and
    * the source's file-level pruning means a downstream
    * `filter(bx/by/bz …)` on the grid's rows skips unopened files
    * entirely.
    */
  def importNpyViaSource(spark: SparkSession, dir: String): BlockGrid = {
    val meta = readSidecar(spark, dir)
    val ds = spark.read.format("npy-blocks").load(dir)
      .select(struct(col("bx"), col("by"), col("bz")).as("bi"),
        col("nx"), col("ny"), col("nz"), col("c"), col("data"))
      .as[Block]
    BlockGrid(meta, ds)
  }

  /** Read a grid written by [[write]]; lazy Dataset + sidecar meta. */
  def read(spark: SparkSession, path: String): BlockGrid = {
    val meta = readSidecar(spark, path)
    val ds = spark.read.parquet(path)
      .select(struct(col("bx"), col("by"), col("bz")).as("bi"),
        col("nx"), col("ny"), col("nz"), col("c"), col("data"))
      .as[Block]
    BlockGrid(meta, ds)
  }
}

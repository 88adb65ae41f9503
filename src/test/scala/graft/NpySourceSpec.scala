package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.core.{Block, BlockGrid, BlockIndex}
import graft.io.BlockIO
import graft.sources.{NpyBlockFile, NpyDataSource, NpyFilePartition, NpyScan}

/** The DataSource V2 npy-blocks reader: round-trip vs BlockIO.exportNpy,
  * file-level partition pruning from pushed bx/by/bz predicates, and
  * column pruning that skips payload decode entirely for index-only
  * projections (both pinned via the plan and a same-JVM decode counter).
  */
class NpySourceSpec extends SparkSpec {

  private def grid(dir: String): Unit = {
    val s = spark
    val tiles = for {
      x <- 0 until 3; y <- 0 until 2; z <- 0 until 2
    } yield Block(BlockIndex(x, y, z), 4, 5, 6, 1,
      Array.tabulate(120)(i => (x * 1000 + y * 100 + z * 10 + i).toFloat))
    BlockIO.exportNpy(
      BlockGrid.fromTiles(s, tiles, Array(4, 5, 6), Array(0, 0, 0), Array(3, 2, 2), 1),
      dir)
  }

  /** the scan's partitions, each as the block indices of its files */
  private def scanPartitions(df: org.apache.spark.sql.DataFrame): Seq[Seq[(Int, Int, Int)]] =
    df.queryExecution.executedPlan.collectLeaves().collect {
      case b: BatchScanExec => b.inputPartitions.map(
        _.asInstanceOf[NpyFilePartition].files.toSeq.map(f => (f.bx, f.by, f.bz)))
    }.flatten

  /** files the scan plans to read (several may share one partition) */
  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
    scanPartitions(df).map(_.size).sum

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("npy-blocks round-trips every block exportNpy wrote") {
    val dir = java.nio.file.Files.createTempDirectory("npysrc").toString
    grid(dir)
    val df = spark.read.format("npy-blocks").load(dir)
    assert(df.count() == 12)
    val r = df.filter(col("bx") === 2 && col("by") === 1 && col("bz") === 0)
      .select("nx", "ny", "nz", "c", "data").collect()
    assert(r.length == 1)
    assert((r(0).getInt(0), r(0).getInt(1), r(0).getInt(2), r(0).getInt(3)) == (4, 5, 6, 1))
    assert(r(0).getSeq[Float](4) == Seq.tabulate(120)(i => (2100 + i).toFloat))
  }

  test("bx/by/bz predicates prune FILES at planning time") {
    val dir = java.nio.file.Files.createTempDirectory("npysrc").toString
    grid(dir)
    val df = spark.read.format("npy-blocks").load(dir)
    assert(plannedFiles(df.filter(col("bx") === 1)) == 4)
    assert(plannedFiles(df.filter(col("bx") === 1 && col("bz") === 0)) == 2)
    assert(plannedFiles(df.filter(col("bx") >= 1 && col("by") < 1)) == 4)
    assert(plannedFiles(df.filter(col("bx").isin(0, 2))) == 8)
    // an out-of-Int-range literal must evaluate truthfully (bx < 5e9 is
    // always true), not prune every file
    assert(plannedFiles(df.filter(col("bx") < 5000000000L)) == 12)
    assert(df.filter(col("bx") < 5000000000L).count() == 12)
    // and the pruned scans still return the right rows
    assert(df.filter(col("bx") === 1).count() == 4)
    assert(df.filter(col("bx") >= 1 && col("by") < 1).count() == 4)
  }

  test("index-only projections never decode a payload; data projections do") {
    val dir = java.nio.file.Files.createTempDirectory("npysrc").toString
    grid(dir)
    val df = spark.read.format("npy-blocks").load(dir)
    NpyDataSource.decodes.set(0)
    val idx = df.select("bx", "by", "bz").collect()
    assert(idx.length == 12)
    assert(NpyDataSource.decodes.get() == 0,
      "index-only projection must not open files")
    val sums = df.select(col("bx"), aggregate(col("data"), lit(0.0d),
      (acc, x) => acc + x).as("s")).collect()
    assert(sums.length == 12)
    assert(NpyDataSource.decodes.get() == 12)
  }

  test("files pack into contiguous block ranges by Spark's file-source rule") {
    val dir = java.nio.file.Files.createTempDirectory("npysrc").toString
    grid(dir)
    // a new DataFrame per check: a DataFrame keeps the scan it first planned
    def df = spark.read.format("npy-blocks").load(dir)
    val order = for { x <- 0 until 3; y <- 0 until 2; z <- 0 until 2 } yield (x, y, z)
    // 12 files of 608 B cost 608 B + the 4 MB open cost each; over a
    // parallelism of 4 the split is 3 costs, so 3 files per partition
    assert(scanPartitions(df) == order.grouped(3).toSeq)
    // minPartitionNum 2 doubles the split
    withConf("spark.sql.files.minPartitionNum" -> "2") {
      assert(scanPartitions(df) == order.grouped(6).toSeq)
    }
    // a split below two files' cost keeps one file per partition
    withConf("spark.sql.files.maxPartitionBytes" -> "1000") {
      assert(scanPartitions(df) == order.map(Seq(_)))
    }
    // without an open cost the split is 3 files' bytes: again 3 per partition
    withConf("spark.sql.files.openCostInBytes" -> "0") {
      assert(scanPartitions(df) == order.grouped(3).toSeq)
    }
  }

  test("27 tiles of 4 MB pack into 4 partitions of 7/7/7/6 at the default settings") {
    assert(spark.sparkContext.defaultParallelism == 4)
    // a 100³ float32 tile with its 128-byte npy header
    val files = (0 until 27).map(i => NpyBlockFile(s"f$i", 4000128L, i / 9, i / 3 % 3, i % 3)).toArray
    val parts = NpyScan.pack(files, spark)
    assert(parts.map(_.length).toSeq == Seq(7, 7, 7, 6))
    assert(parts.flatten.toSeq == files.toSeq)
  }

  test("a multi-file partition returns every block once and decodes only what is asked") {
    val dir = java.nio.file.Files.createTempDirectory("npysrc").toString
    grid(dir)
    val df = spark.read.format("npy-blocks").load(dir)
    assert(scanPartitions(df).forall(_.size == 3))
    NpyDataSource.decodes.set(0)
    val idx = df.select("bx", "by", "bz").collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    assert(idx.length == 12 && idx.toSet.size == 12)
    assert(NpyDataSource.decodes.get() == 0, "index-only projection must not open files")
    val rows = df.collect()
    assert(NpyDataSource.decodes.get() == 12)
    assert(rows.length == 12)
    rows.foreach { r =>
      val (x, y, z) = (r.getInt(0), r.getInt(1), r.getInt(2))
      assert((r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6)) == (4, 5, 6, 1))
      assert(r.getSeq[Float](7) == Seq.tabulate(120)(i => (x * 1000 + y * 100 + z * 10 + i).toFloat),
        s"block ($x,$y,$z)")
    }
  }

  test("stitch via the DSv2 import path matches stitchBlocks on the in-memory grid") {
    val dir = java.nio.file.Files.createTempDirectory("npysrc").toString
    val s = spark
    // an overlapped stitchable grid (bs 4, o 1 -> 6^3 tiles)
    val tiles = for {
      x <- 0 until 2; y <- 0 until 2; z <- 0 until 2
    } yield Block(BlockIndex(x, y, z), 6, 6, 6, 1,
      Array.tabulate(216)(i => (x * 31 + y * 17 + z * 7 + i % 5).toFloat))
    val inMemory = BlockGrid.fromTiles(s, tiles, Array(4, 4, 4), Array(1, 1, 1), Array(2, 2, 2), 1)
    BlockIO.exportNpy(inMemory, dir)
    def stitched(g: BlockGrid) = graft.stitch.Stitch.stitchBlocks(g).ds.collect()
      .map(b => ((b.bi.bx, b.bi.by, b.bi.bz), b.data.toSeq)).toMap
    val viaV2 = stitched(BlockIO.importNpyViaSource(s, dir))
    val want = stitched(inMemory)
    assert(viaV2.keySet == want.keySet && viaV2.keySet.size == 8)
    viaV2.keys.foreach(k => assert(viaV2(k) == want(k), s"block $k differs"))
  }

  test("non-index predicates stay with Spark and still filter correctly") {
    val dir = java.nio.file.Files.createTempDirectory("npysrc").toString
    grid(dir)
    val df = spark.read.format("npy-blocks").load(dir)
    // nx isn't a pushable column: all 12 files stay planned, Spark filters
    val q = df.filter(col("nx") === 4)
    assert(plannedFiles(q) == 12)
    assert(q.count() == 12)
    assert(df.filter(col("nx") === 99).count() == 0)
  }
}

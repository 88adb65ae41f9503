package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.llm.Pack
import graft.sources.WdsDataSource

/** The DataSource V2 wds-shards reader: full payload round-trip vs
  * Pack.writeTarShards, shard-file pruning from pushed `shard`
  * predicates, header-only streaming for payload-free projections
  * (pinned via a same-JVM payload counter), multimodal key grouping,
  * and the strict-parse quarantine on corrupt shards.
  */
class WdsSourceSpec extends SparkSpec {

  private def corpus(n: Int) = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, s"doc $i body ${"x" * (i % 7)}"))
      .toDF("doc_id", "text")
  }

  private def write(dir: String, n: Int, shards: Int): Unit =
    Pack.writeTarShards(spark, corpus(n), dir, shards).count()

  private def scanPartitions(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collectLeaves().collect {
      case b: BatchScanExec => b.partitions.size
    }.sum

  test("wds-shards round-trips every member writeTarShards wrote") {
    val dir = java.nio.file.Files.createTempDirectory("wdssrc").toString
    write(dir, 17, 4)
    val df = spark.read.format("wds-shards").load(dir)
    assert(df.count() == 17)
    val rows = df.select(col("shard"), col("key").cast("long").as("id"),
        col("ext"), col("size"), col("payload").cast("string").as("text"))
      .collect().map(r => (r.getLong(1), (r.getInt(0), r.getString(2),
        r.getLong(3), r.getString(4)))).toMap
    (0 until 17).foreach { i =>
      val t = s"doc $i body ${"x" * (i % 7)}"
      assert(rows(i.toLong) == ((i % 4, "txt", t.length.toLong, t)),
        s"member $i")
    }
  }

  test("shard predicates prune FILES at planning time") {
    val dir = java.nio.file.Files.createTempDirectory("wdssrc").toString
    write(dir, 17, 4)
    val df = spark.read.format("wds-shards").load(dir)
    assert(scanPartitions(df) == 4)
    assert(scanPartitions(df.filter(col("shard") === 2)) == 1)
    assert(scanPartitions(df.filter(col("shard").isin(0, 3))) == 2)
    assert(scanPartitions(df.filter(col("shard") >= 1 && col("shard") < 3)) == 2)
    // an out-of-Int-range literal must evaluate truthfully, not prune
    // every file (the npy-blocks rule)
    assert(scanPartitions(df.filter(col("shard") < 5000000000L)) == 4)
    // pruned scans still return the right rows; 17 docs over id % 4
    assert(df.filter(col("shard") === 2).count() == 4)
    assert(df.filter(col("shard") === 0).count() == 5)
    // a key predicate is NOT file-evaluable: it must stay with Spark,
    // scanning all files but still filtering correctly
    assert(scanPartitions(df.filter(col("key") === "7")) == 4)
    assert(df.filter(col("key") === "7").count() == 1)
  }

  test("payload-free projections stream headers only; payload projections decode") {
    val dir = java.nio.file.Files.createTempDirectory("wdssrc").toString
    write(dir, 17, 4)
    val df = spark.read.format("wds-shards").load(dir)
    WdsDataSource.payloadReads.set(0)
    val meta = df.select("shard", "key", "ext", "size").collect()
    assert(meta.length == 17)
    assert(WdsDataSource.payloadReads.get() == 0,
      "metadata projection must not materialize payloads")
    // sizes are still exact without touching payload bytes
    assert(meta.map(_.getLong(3)).sum ==
      (0 until 17).map(i => s"doc $i body ${"x" * (i % 7)}".length.toLong).sum)
    val withPayload = df.select("key", "payload").collect()
    assert(withPayload.length == 17)
    assert(WdsDataSource.payloadReads.get() == 17)
  }

  test("pruning composes with header-only projection: one file, zero payloads") {
    val dir = java.nio.file.Files.createTempDirectory("wdssrc").toString
    write(dir, 17, 4)
    val df = spark.read.format("wds-shards").load(dir)
    WdsDataSource.filesOpened.set(0)
    WdsDataSource.payloadReads.set(0)
    val r = df.filter(col("shard") === 1).select("key", "size").collect()
    assert(r.length == 4)
    assert(WdsDataSource.filesOpened.get() == 1, "pruning must open one file")
    assert(WdsDataSource.payloadReads.get() == 0)
  }

  test("multimodal members group by key: <id>.bmp and <id>.txt are two rows, one key") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wdssrc").toString
    // hand-build a shard with paired members (the q439 layout)
    val members = (0 until 3).flatMap { i =>
      val px = Array.tabulate(256)(k => ((i * 31 + k * 7) % 256))
      Seq((s"$i.bmp", graft.io.Bmp.build24(graft.io.Bmp.Gray(16, 16, px))),
        (s"$i.txt", s"caption $i".getBytes("UTF-8")))
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, graft.io.Tar.shardFileNameOf(0)),
      graft.io.Tar.build(members))
    val df = spark.read.format("wds-shards").load(dir)
    val byKey = df.groupBy("key").agg(sort_array(collect_list(col("ext")))
      .as("exts"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getSeq[String](1), r.getLong(2)))
      .toMap
    assert(byKey.keySet == Set("0", "1", "2"))
    byKey.values.foreach { case (exts, n) =>
      assert(n == 2 && exts == Seq("bmp", "txt"))
    }
    // and the image payload decodes through the real codec
    val bmp0 = df.filter(col("key") === "0" && col("ext") === "bmp")
      .select("payload").head().getAs[Array[Byte]](0)
    val g = graft.io.Bmp.parse(bmp0)
    assert(g.width == 16 && g.height == 16)
    assert(g.pixels.toSeq == Seq.tabulate(256)(k => (k * 7) % 256))
  }

  test("corrupt shards die loud, not as silent rows") {
    val dir = java.nio.file.Files.createTempDirectory("wdssrc").toString
    val good = graft.io.Tar.build(Seq(("a.txt", "hello".getBytes("UTF-8"))))
    // flip a byte inside the header checksum region
    val bad = good.clone(); bad(150) = ('9': Char).toByte
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, graft.io.Tar.shardFileNameOf(0)), bad)
    val df = spark.read.format("wds-shards").load(dir)
    val e = intercept[org.apache.spark.SparkException] { df.collect() }
    assert(e.getMessage.contains("checksum") ||
      Option(e.getCause).exists(_.getMessage.contains("checksum")))
    // truncation (no end-of-archive marker) also dies loud
    val dir2 = java.nio.file.Files.createTempDirectory("wdssrc").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir2, graft.io.Tar.shardFileNameOf(0)),
      good.dropRight(1024))
    val e2 = intercept[org.apache.spark.SparkException] {
      spark.read.format("wds-shards").load(dir2).collect()
    }
    assert(e2.getMessage.contains("end-of-archive") ||
      Option(e2.getCause).exists(_.getMessage.contains("end-of-archive")))
  }

  test("DSv2 sink: write -> mount round-trips; empty partitions make no file; no temps remain") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wdssink").toString + "/out"
    Seq(("0", "txt", "alpha".getBytes("UTF-8")),
      ("1", "txt", "beta".getBytes("UTF-8")))
      .toDF("key", "ext", "payload")
      .repartition(6, col("key")) // >= 4 empty partitions
      .write.format("wds-shards").mode("append").save(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.forall(_.endsWith(".tar")), s"temps left: ${files.toSeq}")
    assert(files.length <= 2 && files.nonEmpty, s"${files.toSeq}")
    val back = spark.read.format("wds-shards").load(dir)
      .select(col("key"), col("payload").cast("string").as("t"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(back == Map("0" -> "alpha", "1" -> "beta"))
  }

  test("DSv2 sink: overwrite truncates the previous shard set atomically-per-commit") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wdssink").toString + "/out"
    (0 until 12).map(i => (i.toString, "txt", s"v1-$i".getBytes("UTF-8")))
      .toDF("key", "ext", "payload")
      .repartition(4, col("key"))
      .write.format("wds-shards").mode("append").save(dir)
    val before = new java.io.File(dir).listFiles().length
    assert(before >= 2)
    // overwrite with ONE partition: old shards must all be gone
    Seq(("99", "txt", "v2".getBytes("UTF-8"))).toDF("key", "ext", "payload")
      .coalesce(1)
      .write.format("wds-shards").mode("overwrite").save(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.length == 1 && files.head.endsWith(".tar"), files.toSeq)
    val back = spark.read.format("wds-shards").load(dir)
      .select("key").as[String].collect().toSeq
    assert(back == Seq("99"))
  }

  test("DSv2 sink: wrong input schema is rejected loud, before any write") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wdssink").toString + "/out"
    val e = intercept[Exception] {
      Seq((1L, "x")).toDF("doc_id", "text")
        .write.format("wds-shards").mode("append").save(dir)
    }
    def msg(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(msg).getOrElse("")
    assert(msg(e).contains("wds-shards write expects"), msg(e))
    assert(!new java.io.File(dir).exists() ||
      new java.io.File(dir).listFiles().isEmpty)
  }

  test("DSv2 sink: task abort deletes the attempt's temp file") {
    val s = spark
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("wdssink").toString + "/out"
    val confEntries = s.sparkContext.hadoopConfiguration
      .iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
    val factory = graft.sources.WdsWriterFactory(dir, 0, 1, 2, None, 0L, confEntries)
    val w = factory.createWriter(partitionId = 0, taskId = 7L)
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("0"),
      org.apache.spark.unsafe.types.UTF8String.fromString("txt"),
      "abandoned".getBytes("UTF-8"))
    w.write(row)
    assert(new java.io.File(dir).listFiles().length == 1) // the temp
    w.abort()
    assert(new java.io.File(dir).listFiles().isEmpty,
      "abort must remove the attempt's temp")
  }

  test("DSv2 sink shardColumn mode: data-driven shard names, idx = in-partition row order") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wdssink").toString + "/out"
    // shard 7 gets b,a in THAT order (sortWithinPartitions pins it);
    // shard 3 gets c — one partition may own several shards
    Seq((7L, "b", "txt", "second?no-first".getBytes("UTF-8")),
      (3L, "c", "txt", "gamma".getBytes("UTF-8")),
      (7L, "a", "txt", "alpha".getBytes("UTF-8")))
      .toDF("shard", "key", "ext", "payload")
      .repartition(2, col("shard"))
      .sortWithinPartitions("shard", "key")
      .write.format("wds-shards").option("shardColumn", "shard")
      .mode("append").save(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.toSeq == Seq("shard_00003.tar", "shard_00007.tar"), files.toSeq)
    val back = spark.read.format("wds-shards").load(dir)
      .select("shard", "idx", "key").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
    assert(back == Set((3, 0L, "c"), (7, 0L, "a"), (7, 1L, "b")), back)
  }

  test("DSv2 sink shardColumn mode: a shard split across partitions fails the COMMIT, publishing nothing") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wdssink").toString + "/out"
    // two explicit partitions, one row each, SAME shard value — the
    // broken-contract case, forced deterministically via parallelize
    val rows = Seq(
      org.apache.spark.sql.Row(5L, "a", "txt", "x".getBytes("UTF-8")),
      org.apache.spark.sql.Row(5L, "b", "txt", "y".getBytes("UTF-8")))
    val schema = Seq(("shard", "long"), ("key", "string"),
      ("ext", "string"), ("payload", "binary"))
      .foldLeft(new org.apache.spark.sql.types.StructType()) {
        case (st, (n, t)) => st.add(n, t)
      }
    val df = s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)
    val e = intercept[Exception] {
      df.write.format("wds-shards").option("shardColumn", "shard")
        .mode("append").save(dir)
    }
    def msg(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(msg).getOrElse("")
    assert(msg(e).contains("written by multiple partitions"), msg(e))
    // nothing published: no shard files (temps may have been aborted)
    val published = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".tar"))
    assert(published.isEmpty, published.map(_.getName).toSeq)
  }

  test("streaming sink protocol: replaying an epoch republishes the SAME names — exactly-once") {
    val s = spark
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("wdsstream").toString + "/out"
    val schema = new org.apache.spark.sql.types.StructType()
      .add("shard", "long").add("key", "string")
      .add("ext", "string").add("payload", "binary")
    val confEntries = s.sparkContext.hadoopConfiguration
      .iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
    val write = graft.sources.WdsWrite(dir, schema, truncate = false,
      shardCol = Some("shard"), confEntries)
    def u(x: String) = org.apache.spark.unsafe.types.UTF8String.fromString(x)
    def deliver(payload: String): Unit = {
      val w = write.createStreamingWriterFactory(null).createWriter(0, 1L, 5L)
      w.write(org.apache.spark.sql.catalyst.InternalRow(
        7L, u("a"), u("txt"), payload.getBytes("UTF-8")))
      write.commit(5L, Array(w.commit()))
    }
    deliver("first-delivery")
    deliver("replay-wins!!") // same epoch: the at-least-once redelivery
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.toSeq == Seq("shard_500007.tar"),
      s"replay must not duplicate: ${files.toSeq}") // 5*1e5 + slot 7
    val back = graft.io.Tar.parse(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "shard_500007.tar")))
    assert(back.map(m => m._1 -> new String(m._2, "UTF-8")) ==
      Seq("a.txt" -> "replay-wins!!"))
  }

  test("streaming source: waves picked up once each; restart resumes from the checkpointed shard offset") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("wdsstreamsrc").toString
    val dir = s"$root/shards"; val ckpt = s"$root/ckpt"
    def publish(shard: Long, keys: Seq[String]): Unit =
      keys.map(k => (shard, k, "txt", s"payload-$k".getBytes("UTF-8")))
        .toDF("shard", "key", "ext", "payload").coalesce(1)
        .write.format("wds-shards").option("shardColumn", "shard")
        .mode("append").save(dir)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[String])]
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      s.readStream.format("wds-shards").load(dir)
        .select("key")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          val ks = b.select("key").collect().map(_.getString(0)).toSet
          if (ks.nonEmpty) got.synchronized { got += ((id, ks)); () }
        }
        .option("checkpointLocation", ckpt).start()
    publish(0L, Seq("a", "b"))
    publish(1L, Seq("c"))
    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    assert(got.toList == List((0L, Set("a", "b", "c"))), got)
    // new shards while the query is DOWN; restart resumes past id 1
    publish(2L, Seq("d"))
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    assert(got.toList == List((0L, Set("a", "b", "c")), (1L, Set("d"))), got)
  }

  test("streaming source rate control: maxShardsPerTrigger admits lowest ids first, one per batch") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("wdsrate").toString
    val dir = s"$root/shards"; val ckpt = s"$root/ckpt"
    (0L until 4L).foreach { sh =>
      Seq((sh, s"k$sh", "txt", s"p$sh".getBytes("UTF-8")))
        .toDF("shard", "key", "ext", "payload").coalesce(1)
        .write.format("wds-shards").option("shardColumn", "shard")
        .mode("append").save(dir)
    }
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Int])]
    val q = s.readStream.format("wds-shards")
      .option("maxShardsPerTrigger", "1").load(dir)
      .select("shard")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val shards = b.collect().map(_.getInt(0)).toSeq.sorted
        if (shards.nonEmpty) got.synchronized { got += ((id, shards)); () }
      }
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    // the 4-shard backlog drains one shard per batch, id order
    assert(got.toList == List((0L, Seq(0)), (1L, Seq(1)), (2L, Seq(2)),
      (3L, Seq(3))), got)
  }

  test("compactWdsShards: an epoch-fragmented store becomes fixed-size shards, order preserved") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("wdscompact").toString
    val in = s"$root/in"; val out = s"$root/out"
    // a streaming-sink-shaped store: epoch-encoded ids, uneven sizes
    def publish(shard: Long, keys: Seq[String]): Unit =
      keys.map(k => (shard, k, "txt", s"p-$k".getBytes("UTF-8")))
        .toDF("shard", "key", "ext", "payload").coalesce(1)
        .write.format("wds-shards").option("shardColumn", "shard")
        .mode("append").save(in)
    publish(0L, Seq("a", "b"))
    publish(1L, Seq("c"))
    publish(100000L, Seq("d", "e", "f")) // epoch 1, slot 0
    val manifest = graft.llm.Pack.compactWdsShards(s, in, out,
      targetMembers = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(manifest == Seq((0L, 3L), (1L, 3L)), manifest)
    // global consumption order (old shard asc, idx asc) is preserved
    val order = spark.read.format("wds-shards").load(out)
      .select("shard", "idx", "key").collect()
      .sortBy(r => (r.getInt(0), r.getLong(1))).map(_.getString(2)).toSeq
    assert(order == Seq("a", "b", "c", "d", "e", "f"), order)
  }

  test("non-shard files in the directory are ignored by the naming contract") {
    val dir = java.nio.file.Files.createTempDirectory("wdssrc").toString
    write(dir, 8, 2)
    // a crashed-rename temp and an unrelated file must not become rows
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "shard_00000.tar.tmp-deadbeef"),
      Array[Byte](1, 2, 3))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_SUCCESS"), Array.empty[Byte])
    assert(spark.read.format("wds-shards").load(dir).count() == 8)
  }

  test("DSv2 sink: append then overwrite of a repartitioned corpus reads it back") {
    val dir = java.nio.file.Files.createTempDirectory("wdssink").toString + "/out"
    val members = corpus(9).select(col("doc_id").cast("string").as("key"),
      lit("txt").as("ext"), col("text").cast("binary").as("payload"))
    members.repartition(3, col("key"))
      .write.format("wds-shards").mode("append").save(dir)
    // overwrite replaces the set
    members.repartition(2, col("key"))
      .write.format("wds-shards").mode("overwrite").save(dir)
    val back = spark.read.format("wds-shards").load(dir)
      .select(col("key").cast("long"), col("payload").cast("string"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == (0 until 9).map(i => i.toLong -> s"doc $i body ${"x" * (i % 7)}").toMap)
    assert(new java.io.File(dir).listFiles().length <= 2)
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.llm.Pack

/** Sequence packing: the greedy fit rule, oversize handling, agreement
  * with a local reference over random sizes, and invariance to input
  * partitioning (determinism is a function of ids, not shuffle order).
  */
class PackSpec extends SparkSpec {

  test("packRange: greedy first-fit in id order, oversize docs get their own sequence") {
    // max 10: [4,5] fit (9), 3 starts seq 1, 12 (oversize) seq 2, 2 seq 3
    val got = Pack.packRange(
      Seq((3L, 3L), (1L, 4L), (2L, 5L), (4L, 12L), (5L, 2L)), maxTokens = 10)
    assert(got == Seq((1L, 0), (2L, 0), (3L, 1), (4L, 2), (5L, 3)))
    // an oversize FIRST doc still occupies seq 0
    assert(Pack.packRange(Seq((0L, 99L), (1L, 1L)), 10) == Seq((0L, 0), (1L, 1)))
    assert(Pack.packRange(Seq.empty, 10).isEmpty)
  }

  test("chunkDocs: window/stride arithmetic, tail length, overlap continuity") {
    val s = spark
    import s.implicits._
    // 10 tokens, window 4, stride 3 → starts 0,3,6; the last window
    // ends exactly at the tail, so no extra chunk
    val docs = Seq((7L, (0 until 10).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val got = Pack.chunkDocs(s, docs, window = 4, stride = 3).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getString(3), r.getString(4)))
      .sortBy(_._1).toSeq
    assert(got == Seq((0, 4L, "t0", "t3"), (1, 4L, "t3", "t6"), (2, 4L, "t6", "t9")))
    // 11 tokens: starts 0,3,6,9 — the tail chunk keeps its short length
    val docs11 = Seq((8L, (0 until 11).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val got11 = Pack.chunkDocs(s, docs11, window = 4, stride = 3).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getString(3), r.getString(4)))
      .sortBy(_._1).toSeq
    assert(got11 == Seq((0, 4L, "t0", "t3"), (1, 4L, "t3", "t6"),
      (2, 4L, "t6", "t9"), (3, 2L, "t9", "t10")))
    // short doc: exactly one chunk of its own length
    val one = Pack.chunkDocs(s, Seq((1L, "a b c")).toDF("doc_id", "text"), 64, 48)
      .collect()
    assert(one.length == 1 && one(0).getLong(2) == 3L)
    intercept[IllegalArgumentException](
      Pack.chunkDocs(s, docs, window = 4, stride = 5).collect())
  }

  test("distributed packing matches the local reference and ignores input partitioning") {
    val s = spark
    import s.implicits._
    val r = new scala.util.Random(23)
    val docs = Seq.tabulate(300)(i =>
      (i.toLong, Array.fill(1 + r.nextInt(40))("w").mkString(" ")))
    def run(parts: Int) =
      Pack.packSequences(s, docs.toDF("doc_id", "text").repartition(parts),
          maxTokens = 64, docsPerRange = 50)
        .collect().map(x => (x.getLong(1), x.getLong(0))).sorted.toSeq
    val a = run(1); val b = run(7)
    assert(a == b, "packing depends on input partitioning")
    // local reference: pack each 50-id range greedily
    val want = docs.groupBy(_._1 / 50).toSeq.flatMap { case (part, ds) =>
      Pack.packRange(ds.map { case (i, t) => (i, t.split(" ").length.toLong) }, 64)
        .map { case (id, seq) => (id, part * 100000L + seq) }
    }.sorted
    assert(a == want)
  }

  test("docsPerRange beyond the seq_id stride fails fast instead of colliding ids") {
    val s = spark
    import s.implicits._
    val docs = Seq((0L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](
      Pack.packSequences(s, docs, maxTokens = 16, docsPerRange = 200000))
    intercept[IllegalArgumentException](
      Pack.materializeSequences(s, docs, Seq.empty, "/tmp/unused",
        maxSeqTokens = 16, docsPerRange = 200000))
  }

  test("materializeSequences: artifact is lossless, ordered, bounded, partitioning-invariant") {
    val s = spark
    import s.implicits._
    val r = new scala.util.Random(31)
    val wordPool = Array("low", "lower", "newest", "wide", "bright", "er", "stone")
    val docsSeq = Seq.tabulate(90)(i =>
      (i.toLong, Array.fill(1 + r.nextInt(30))(wordPool(r.nextInt(wordPool.length)))
        .mkString(" ")))
    val docs = docsSeq.toDF("doc_id", "text")
    val merges = graft.llm.Bpe.train(s, docs, numMerges = 15)
    assert(merges.nonEmpty)
    def run(parts: Int, dir: String) =
      Pack.materializeSequences(s, docs.repartition(parts), merges, dir,
        maxSeqTokens = 48, docsPerRange = 25)
    val dirA = java.nio.file.Files.createTempDirectory("mat-a").toString
    val out = run(1, dirA)
    val rows = out.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
      x.getInt(3), x.getInt(4), x.getSeq[Int](5))).sortBy(_._1)
    // vocab decodes ids back to token strings
    val vocab = s.read.parquet(s"$dirA/vocab").collect()
      .map(x => x.getInt(0) -> x.getString(1)).toMap
    // lossless: per sequence, decoded tokens concatenated == the BPE
    // tokenization of its docs' words in id order
    val assign = rows.flatMap { case (seqId, _, _, _, _, tids) => Seq(seqId -> tids) }.toMap
    val expected = docsSeq.groupBy(_._1 / 25).toSeq.flatMap { case (part, ds) =>
      val counts = ds.sortBy(_._1).map { case (i, t) =>
        (i, t.split(" ").flatMap(w => graft.llm.Bpe.tokenizeWord(w, merges)))
      }
      Pack.packRange(counts.map { case (i, ts) => (i, ts.length.toLong) }, 48)
        .zip(counts).groupBy(_._1._2).map { case (sq, run0) =>
          (part * 100000L + sq) -> run0.flatMap(_._2._2)
        }
    }.toMap
    assert(assign.keySet == expected.keySet)
    expected.foreach { case (seqId, toks) =>
      assert(assign(seqId).map(vocab) == toks.toSeq, s"sequence $seqId differs")
    }
    // summary columns agree with the arrays; token bound holds for
    // multi-doc sequences (a single oversize doc may exceed it)
    rows.foreach { case (_, nDocs, nToks, first, last, tids) =>
      assert(nToks == tids.length && first == tids.head && last == tids.last)
      assert(nDocs == 1 || nToks <= 48)
    }
    // partitioning-invariant: same artifact from a different input layout
    val dirB = java.nio.file.Files.createTempDirectory("mat-b").toString
    val rowsB = run(7, dirB).collect().map(x => (x.getLong(0), x.getLong(1),
      x.getLong(2), x.getInt(3), x.getInt(4), x.getSeq[Int](5))).sortBy(_._1)
    assert(rows.toSeq == rowsB.toSeq, "artifact depends on input partitioning")
  }

  test("writeShards: deterministic hash-order shards, manifest matches the data") {
    val s = spark
    import s.implicits._
    val seqs = Seq.tabulate(23)(i =>
      (1000L + i, 2L, 5L + i % 3, Array(i, i + 1, i + 2)))
      .toDF("seq_id", "n_docs", "n_tokens", "token_ids")
    val dir = java.nio.file.Files.createTempDirectory("shards").toString
    val manifest = Pack.writeShards(s, seqs, dir, seqsPerShard = 4, seed = 9L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    // 23 seqs / 4 per shard -> shards 0..5, last short
    assert(manifest.map(_._1) == (0L to 5L) && manifest.map(_._2).sum == 23)
    assert(manifest.init.forall(_._2 == 4) && manifest.last._2 == 3)
    // manifest sums equal direct recomputation from the written data
    val data = s.read.parquet(s"$dir/data")
      .select(col("shard_id").cast("long"), col("seq_id"), col("n_tokens"),
        col("token_ids")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Int](3).map(_.toLong).sum))
    val byShard = data.groupBy(_._1).map { case (sh, rs) =>
      (sh, rs.length.toLong, rs.map(_._3).sum, rs.map(_._4).sum, rs.map(_._2).sum)
    }.toSeq.sortBy(_._1)
    assert(byShard == manifest, "manifest disagrees with written shards")
    // shard k reads via partition pruning: a filtered scan touches one dir
    val one = s.read.parquet(s"$dir/data").filter(col("shard_id") === 2L)
    assert(one.count() == 4)
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("shard_id"),
      "shard filter should prune partitions")
    // shard contents are the seeded hash order, not input order: the
    // same write with a different seed moves sequences across shards
    val dir2 = java.nio.file.Files.createTempDirectory("shards2").toString
    val m2 = Pack.writeShards(s, seqs, dir2, seqsPerShard = 4, seed = 10L)
    val a = s.read.parquet(s"$dir/data")
      .select(col("shard_id").cast("long"), col("seq_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = s.read.parquet(s"$dir2/data")
      .select(col("shard_id").cast("long"), col("seq_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a != b, "different seeds should reshard")
    assert(m2.agg(sum("n_seqs")).collect()(0).getLong(0) == 23)
  }

  test("packEfficiencySweep: padding, oversize and fill land on the planted fixture") {
    val s = spark
    import s.implicits._
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    // one 64-doc range: four 100-token docs + one 1500-token oversize
    val docs = ((0L until 4L).map(i => (i, words(100))) :+ (4L, words(1500)))
      .toDF("doc_id", "text")
    val got = Pack.packEfficiencySweep(s, docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    // mt=128: each 100-doc alone + the oversize alone
    assert(got(128L) == ((5L, 1900L, 112L, 1L, 1900L * 1000 / 640)), got)
    // mt=256: two pairs + the oversize
    assert(got(256L) == ((3L, 1900L, 112L, 1L, 1900L * 1000 / 768)), got)
    // mt=512: all four small docs in one sequence
    assert(got(512L) == ((2L, 1900L, 112L, 1L, 1900L * 1000 / 1024)), got)
    // mt=1024: the 400-token sequence leaves 624 tokens of padding
    assert(got(1024L) == ((2L, 1900L, 624L, 1L, 1900L * 1000 / 2048)), got)
  }

  test("shardInterleave: stratified low-discrepancy order with pinned ties") {
    val s = spark
    import s.implicits._
    // srcA: 5 docs at 2 docs/shard -> 3 shards at positions 1/6, 3/6,
    // 5/6; srcB: 2 docs -> 1 shard at 1/2 — ties with A's 3/6 and
    // loses the source tie-break
    val docs = ((0L until 5L).map(i => (i, "x", "srcA")) ++
      (10L until 12L).map(i => (i, "x", "srcB")))
      .toDF("doc_id", "text", "source")
    val got = Pack.shardInterleave(s, docs, docsPerShard = 2L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "srcA", 0L), (2L, "srcA", 1L),
      (3L, "srcB", 0L), (4L, "srcA", 2L)), got)
  }

  test("multimodalShards: image+caption pairs, exact layout, decode roundtrip") {
    val s = spark
    import s.implicits._
    val docs = Seq((0L, "cap zero"), (1L, "caption one " + ("y" * 600)),
      (4L, "same shard as zero")).toDF("doc_id", "text")
    val got = Pack.multimodalShards(s, docs, shards = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toMap
    def cap(t: String) = t.getBytes("UTF-8").length.toLong
    def mem(n: Long) = 512L + (n + 511) / 512 * 512
    // shard 0: docs 0 and 4 (2 docs, 4 members); shard 1: doc 1
    val s0tar = mem(cap("cap zero")) + mem(822) +
      mem(cap("same shard as zero")) + mem(822) + 1024
    assert(got(0L) == ((2L, 4L,
      cap("cap zero") + cap("same shard as zero") + 1644L, s0tar, true)), got)
    val c1 = cap("caption one " + ("y" * 600))
    assert(got(1L) == ((1L, 2L, c1 + 822L, mem(c1) + mem(822) + 1024, true)),
      got)
  }

  test("multimodalJpegShards: bit-exact jpeg roundtrip, caption accounting") {
    val s = spark
    import s.implicits._
    val docs = Seq((0L, "cap zero"), (1L, "one"), (4L, "four"))
      .toDF("doc_id", "text")
    val got = Pack.multimodalJpegShards(s, docs, shards = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5))).toMap
    assert(got(0L) == ((2L, 4L,
      ("cap zero".length + "four".length).toLong, true, true)), got)
    assert(got(1L) == ((1L, 2L, 3L, true, true)), got)
    // independent of the writer's own check: the planted raster for
    // doc 1 encodes and decodes bit-exact under DcExactQuant
    val px = Array.tabulate(256) { k =>
      val block = (k / 16 / 8) * 2 + (k % 16) / 8
      ((1L * 31 + block * 17) % 256).toInt
    }
    val g = graft.io.Jpeg.parse(graft.io.Jpeg.buildGray(
      graft.io.Bmp.Gray(16, 16, px), graft.io.Jpeg.DcExactQuant))
    assert(g.pixels.toSeq == px.toSeq)
  }

  test("interleavedCurriculum: a permutation that walks shards in schedule order") {
    val s = spark
    import s.implicits._
    val docs = ((0L until 5L).map(i => (i, "x", "srcA")) ++
      (10L until 12L).map(i => (i, "x", "srcB")))
      .toDF("doc_id", "text", "source")
    val rows = Pack.interleavedCurriculum(s, docs, docsPerShard = 2L,
        seed = 5L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // exactly one global position per doc, 0..n-1, all docs present
    assert(rows.map(_._1).toSeq == (0L until 7L), rows.toSeq)
    assert(rows.map(_._2).toSet == Set(0L, 1L, 2L, 3L, 4L, 10L, 11L))
    // consumption order walks whole shards in schedule-step order:
    // (A,0) (A,1) (B,0) (A,2) — the pinned shardInterleave fixture
    assert(rows.sortBy(_._1).map(r => (r._3, r._5)).distinct.toSeq ==
      Seq(("srcA", 0L), ("srcA", 1L), ("srcB", 0L), ("srcA", 2L)))
    // within a shard: contiguous positions in per-source hash order
    def hv(i: Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"5:$i".getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(8).map(b => f"$b%02x").mkString
        .take(15), 16)
    }
    rows.groupBy(r => (r._3, r._5)).foreach { case (_, g) =>
      val sorted = g.sortBy(_._6)
      assert(sorted.map(_._1).toSeq ==
        (sorted.head._1 until sorted.head._1 + g.length), "contiguous")
      assert(sorted.map(r => (hv(r._2), r._2)).toSeq ==
        sorted.map(r => (hv(r._2), r._2)).sortBy(identity).toSeq,
        "hash order within shard")
    }
    // the last shard of a source may run short, never overlong
    rows.groupBy(r => (r._3, r._5)).values.foreach(g => assert(g.length <= 2))
  }

  test("interleaveDiscrepancy: the stratified schedule stays under one shard") {
    val s = spark
    import s.implicits._
    // schedule A,A,B,A (the fixture above): max |C_s(k)*4 - k*n_s| = 2
    // for both sources -> 500 milli, well under the one-shard bound
    val docs = ((0L until 5L).map(i => (i, "x", "srcA")) ++
      (10L until 12L).map(i => (i, "x", "srcB")))
      .toDF("doc_id", "text", "source")
    val got = Pack.interleaveDiscrepancy(s, docs, docsPerShard = 2L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == Map("srcA" -> ((3L, 500L)), "srcB" -> ((1L, 500L))), got)
    assert(got.values.forall(_._2 < 1000L), "one-shard discrepancy bound")
  }

  private def tarCorpus = {
    val s = spark
    import s.implicits._
    (0L until 9L).map(i => (i, s"doc $i words here", s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
  }

  test("writeTarShards: the manifest counts every doc and wds-shards reads the corpus back") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("packtar").toString
    val manifest = Pack.writeTarShards(s, tarCorpus, dir, shards = 3).collect()
    assert(manifest.map(_.getLong(1)).sum == 9L)
    val back = s.read.format("wds-shards").load(dir)
      .select(col("key").cast("long").as("doc_id"),
        col("payload").cast("string").as("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == (0L until 9L).map(i => i -> s"doc $i words here").toMap)
  }

  test("writeMultimodalTarShards + pairMultimodalSamples close the loop on disk") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("packmm").toString
    val manifest = Pack.writeMultimodalTarShards(s, tarCorpus, dir, shards = 3)
      .collect()
    assert(manifest.map(_.getLong(2)).sum == 18L) // 9 docs x 2 members
    val pairs = Pack.pairMultimodalSamples(s, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(pairs == (0L until 9L).map(i =>
      i -> ((s"doc $i words here", true))).toMap)
  }

  test("pairMultimodalSamples dies loud on a sample missing a modality") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("packmmbad").toString
    // one complete pair + one orphan caption
    val members = Seq(
      ("0.jpg", graft.io.Jpeg.buildGray(
        graft.io.Bmp.Gray(16, 16, Array.fill(256)(7)),
        graft.io.Jpeg.DcExactQuant)),
      ("0.txt", "cap".getBytes("UTF-8")),
      ("1.txt", "orphan".getBytes("UTF-8")))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, graft.io.Tar.shardFileNameOf(0)),
      graft.io.Tar.build(members))
    val e = intercept[org.apache.spark.SparkException] {
      Pack.pairMultimodalSamples(s, dir).collect()
    }
    def msg(t: Throwable): String =
      t.getMessage + Option(t.getCause).map(msg).getOrElse("")
    assert(msg(e).contains("must carry exactly jpg+txt"))
  }
}

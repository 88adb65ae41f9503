package graft

import org.apache.spark.sql.functions._
import graft.llm.BinaryAnn

class BinaryAnnSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("packBits: known vector packs to the expected words") {
    val s = spark
    import s.implicits._
    // 33 dims, threshold 0: bits = sign pattern; dim 0 -> bit 0 of
    // word 0, dim 32 -> bit 0 of word 1
    val thr = Array.fill(33)(0.0)
    val vec = Array.tabulate(33)(i => if (i == 0 || i == 4 || i == 32) 1.0f else -1.0f)
    val got = Seq(Tuple1(vec)).toDF("vec")
      .select(BinaryAnn.packBits(col("vec"), thr).as("w"))
      .head.getSeq[Long](0)
    assert(got == Seq((1L << 0) | (1L << 4), 1L))
  }

  test("hamming over packed words equals bit-level distance") {
    val s = spark
    import s.implicits._
    val df = Seq((Array(0xF0L, 0x1L), Array(0x0FL, 0x1L)))
      .toDF("a", "b")
    val got = df.select(BinaryAnn.hamming(col("a"), col("b"))).head.getLong(0)
    assert(got == 8L) // 0xF0 xor 0x0F = 8 bits, second word equal
  }

  test("median thresholds split each dimension ~50/50 and are " +
      "deterministic across runs") {
    val s = spark
    val e = graft.rel.Tables.embeddings(s, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val t1 = BinaryAnn.thresholds(e, "vec")
    val t2 = BinaryAnn.thresholds(e, "vec")
    assert(t1.toSeq == t2.toSeq && t1.length == 64)
  }

  test("saved-index probe is bit-identical to train-and-probe; " +
      "streaming appends with at-least-once duplicates stay correct") {
    val s = spark
    import s.implicits._
    val e = graft.rel.Tables.embeddings(s, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val base = e.filter(col("id") % 3 =!= 0)
    val arriving = e.filter(col("id") % 3 === 0)
    val q = e.filter(col("id") < 6)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val work = java.nio.file.Files.createTempDirectory("binidx")
    BinaryAnn.saveBinary(s, base, s"$work/idx")
    // bit-identity on the base corpus
    val viaIndex = BinaryAnn.probeBinary(s, s"$work/idx", q, 5, 60)
      .select("qid", "rn", "id", "cos").collect().map(_.toSeq).toSet
    val direct = BinaryAnn.binaryTopK(s, base, q, 5, 60)
      .select("qid", "rn", "id", "cos").collect().map(_.toSeq).toSet
    assert(viaIndex == direct && viaIndex.nonEmpty)
    // stream the remaining vectors in, WITH a duplicated delivery
    val in = s"$work/in"
    arriving.write.mode("append").parquet(in)
    arriving.write.mode("append").parquet(in) // at-least-once replay
    val src = s.readStream.schema(s.read.parquet(in).schema).parquet(in)
    val sq = BinaryAnn.appendBinaryStream(s, src, s"$work/idx", s"$work/ckpt")
    try sq.processAllAvailable() finally sq.stop()
    // probing the appended index equals train-and-probe on the FULL
    // corpus: duplicate rows collapse in the (qid, id) max
    val appended = BinaryAnn.probeBinary(s, s"$work/idx", q, 5, 60)
      .select("qid", "rn", "id").collect().map(_.toSeq).toSet
    // same thresholds as the saved index (fit on base), full corpus
    val thrBase = BinaryAnn.thresholds(base, "vec")
    val full = {
      val codes = e.select(col("id"),
        BinaryAnn.packBits(col("vec"), thrBase).as("codes"))
      val qc = q.select(col("qid"),
        BinaryAnn.packBits(col("qvec"), thrBase).as("qc"))
      val ham = broadcast(qc).join(codes, col("id") =!= col("qid"))
        .withColumn("negham", -BinaryAnn.hamming(col("codes"), col("qc")))
      val sl = graft.functions.TopK.perKeyTopK(ham, 60, "qid", "id", "negham")
        .select("qid", "id")
      val scored = sl.join(e, "id").join(broadcast(q), "qid")
        .withColumn("cos", graft.functions.VecFunctions
          .vecCosine(s, col("qvec"), col("vec")))
      graft.functions.TopK.perKeyTopK(scored, 5, "qid", "id", "cos")
        .select("qid", "rn", "id").collect().map(_.toSeq).toSet
    }
    assert(appended == full)
  }

  test("non-default caller column names land name-canonical on disk: " +
      "probe and cross-named appends stay schema-stable") {
    val s = spark
    val e = graft.rel.Tables.embeddings(s, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = e.filter(col("id") < 4)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val work = java.nio.file.Files.createTempDirectory("binidx-names")
    // save under caller names (vid, emb) ≠ canonical
    BinaryAnn.saveBinary(s,
      e.filter(col("id") % 2 === 0)
        .select(col("id").as("vid"), col("vec").as("emb")),
      s"$work/idx", id = "vid", vec = "emb")
    assert(s.read.parquet(s"$work/idx/codes").columns.toSeq == Seq("id", "codes"))
    assert(s.read.parquet(s"$work/idx/vectors").columns.toSeq == Seq("id", "vec"))
    // append under a THIRD naming — must not fork the parquet schema
    val in = s"$work/in"
    e.filter(col("id") % 2 === 1)
      .select(col("id").as("k"), col("vec").as("v"))
      .write.parquet(in)
    val src = s.readStream.schema(s.read.parquet(in).schema).parquet(in)
    val sq = BinaryAnn.appendBinaryStream(s, src, s"$work/idx", s"$work/ckpt",
      id = "k", vec = "v")
    try sq.processAllAvailable() finally sq.stop()
    // probe resolves (no unresolved-column failure) and sees all rows
    val got = BinaryAnn.probeBinary(s, s"$work/idx", q, 5, 60)
    assert(got.count() == 4 * 5)
  }

  test("compactBinary: replayed appends shrink the logs, probe output " +
      "bit-identical before and after") {
    val s = spark
    import s.implicits._
    val e = graft.rel.Tables.embeddings(s, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = e.filter(col("id") < 5)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val work = java.nio.file.Files.createTempDirectory("binidx-compact")
    BinaryAnn.saveBinary(s, e.filter(col("id") % 3 =!= 0), s"$work/idx")
    val in = s"$work/in"
    val arriving = e.filter(col("id") % 3 === 0)
    arriving.write.mode("append").parquet(in)
    arriving.write.mode("append").parquet(in) // at-least-once replay
    val src = s.readStream.schema(s.read.parquet(in).schema).parquet(in)
    val sq = BinaryAnn.appendBinaryStream(s, src, s"$work/idx", s"$work/ckpt")
    try sq.processAllAvailable() finally sq.stop()
    val n = e.count()
    val dupCodes = s.read.parquet(s"$work/idx/codes").count()
    assert(dupCodes > n) // the replay really left duplicates
    val before = BinaryAnn.probeBinary(s, s"$work/idx", q, 5, 60)
      .collect().map(_.toSeq).toSet
    BinaryAnn.compactBinary(s, s"$work/idx")
    assert(s.read.parquet(s"$work/idx/codes").count() == n)
    assert(s.read.parquet(s"$work/idx/vectors").count() == n)
    val after = BinaryAnn.probeBinary(s, s"$work/idx", q, 5, 60)
      .collect().map(_.toSeq).toSet
    assert(after == before && after.nonEmpty)
  }

  test("recall@5 vs the exact scan clears the 0.8 bar (r9 verdict " +
      "item 6) and the two-stage result is deterministic") {
    val s = spark
    val e = graft.rel.Tables.embeddings(s, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = e.filter(col("id") < 8)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    def approx() = BinaryAnn.binaryTopK(s, e, q, k = 5, rerank = 100)
      .select(col("qid"), col("id")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val a1 = approx(); val a2 = approx()
    assert(a1.toSeq == a2.toSeq)
    val scoredAll = broadcast(q).join(e, col("id") =!= col("qid"))
      .withColumn("cos",
        graft.functions.VecFunctions.vecCosine(s, col("qvec"), col("vec")))
    val exact = graft.functions.TopK.perKeyTopK(scoredAll, 5, "qid", "id", "cos")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = a1.count(exact.contains)
    assert(hits.toDouble / exact.size >= 0.8,
      s"recall ${hits.toDouble / exact.size} < 0.8")
  }

  test("compactBinary on a duplicate-free index leaves MMR probe output unchanged") {
    val s = spark
    import s.implicits._
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val e = Seq(
      (0L, v(1.0, 0.00, 0.0)), (1L, v(1.0, 0.02, 0.0)), (2L, v(1.0, 0.04, 0.0)),
      (3L, v(0.00, 1.0, 0.0)), (4L, v(0.02, 1.0, 0.0)), (5L, v(0.04, 1.0, 0.0)),
      (6L, v(0.0, 0.0, 1.0))
    ).toDF("id", "vec")
    val q = e.filter(col("id") < 2)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val work = java.nio.file.Files.createTempDirectory("binidx-noop")
    BinaryAnn.saveBinary(s, e, s"$work/bin")
    def probe = graft.llm.Mmr.mmrProbeBinary(s, s"$work/bin", q,
        k = 3, poolSize = 5, rerank = 7)
      .collect().map(_.toSeq).toSeq
    val before = probe
    BinaryAnn.compactBinary(s, s"$work/bin")
    assert(probe == before && before.nonEmpty)
  }
}

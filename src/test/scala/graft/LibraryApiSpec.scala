package graft

import org.apache.spark.sql.functions._
import graft.llm.{Ann, Dedup, LlmOps, SketchOps}
import graft.rel.Tables

/** The DataFrame-in/DataFrame-out library surface must agree with the
  * oracle-checked driver entries built from the same kernels — a user
  * switching from the query entries to the public API sees identical
  * results.
  */
class LibraryApiSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.01"

  private def emb = Tables.embeddings(spark, d)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))
  private def docs = Tables.documents(spark, d)
    .select(col("doc_id").as("id"), col("text"))

  test("Ann.cosineTopK matches the q37 driver entry") {
    val q = emb.filter(col("id") < 3).select(col("id").as("qid"), col("vec").as("qvec"))
    val got = Ann.cosineTopK(spark, emb, q, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val want = LlmOps.all("q37_knn_cosine").fn(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == want)
  }

  test("Ann.lshTopK matches the q38 driver entry") {
    val q = emb.filter(col("id") < 8).select(col("id").as("qid"), col("vec").as("qvec"))
    val got = Ann.lshTopK(spark, emb, q, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        BigDecimal(r.getDouble(3) * 1000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)).toSeq
    val want = SketchOps.all("q38_knn_lsh").fn(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
  }

  test("Ann.ivfTopK matches the q47 driver entry") {
    val q = emb.filter(col("id") < 8).select(col("id").as("qid"), col("vec").as("qvec"))
    val got = Ann.ivfTopK(spark, emb, q, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        BigDecimal(r.getDouble(3) * 1000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)).toSeq
    val want = graft.llm.IvfOps.all("q47_ivf_ann").fn(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
  }

  test("Ann.pqTopK matches the q55 driver entry") {
    val q = emb.filter(col("id") < 8).select(col("id").as("qid"), col("vec").as("qvec"))
    val got = Ann.pqTopK(spark, emb, q, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        BigDecimal(r.getDouble(3) * 1000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)).toSeq
    val want = graft.llm.PqOps.all("q55_pq_ann").fn(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
  }

  test("Ann.opqTopK matches the q69 driver entry") {
    val q = emb.filter(col("id") < 8).select(col("id").as("qid"), col("vec").as("qvec"))
    val got = Ann.opqTopK(spark, emb, q, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        BigDecimal(r.getDouble(3) * 1000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)).toSeq
    val want = graft.llm.OpqOps.all("q69_opq_ann").fn(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
  }

  test("Ann.ivfPqTopK matches the q56 driver entry") {
    val q = emb.filter(col("id") < 8).select(col("id").as("qid"), col("vec").as("qvec"))
    val got = Ann.ivfPqTopK(spark, emb, q, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        BigDecimal(r.getDouble(3) * 1000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)).toSeq
    val want = graft.llm.IvfPqOps.all("q56_ivfpq_ann").fn(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
  }

  test("Dedup.exactGroups matches the q33 driver entry") {
    val got = Dedup.exactGroups(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = LlmOps.all("q33_exact_dedup").fn(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(Dedup.dropExactDuplicates(docs).count() == got.size)
  }

  test("Dedup.connectedComponents labels chains, cliques, and isolated pairs") {
    val s = spark
    import s.implicits._
    // components: chain 1-2-3-4 (diameter > 1 round), triangle 10-11-12,
    // isolated pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("ida", "idb")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    assert(got == want)
  }

  test("Dedup.jaccardPairs and minhashCandidates cover the q34 top pairs") {
    val top = LlmOps.all("q34_ngram_jaccard").fn(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val jac = Dedup.jaccardPairs(spark, docs, minJaccard = 0.96).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(top.subsetOf(jac), s"missing: ${top -- jac}")
    val mh = Dedup.minhashCandidates(spark, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(top.subsetOf(mh), s"missing: ${top -- mh}")
  }
}

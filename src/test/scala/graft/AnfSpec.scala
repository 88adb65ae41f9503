package graft

import org.apache.spark.sql.DataFrame
import graft.graph.Anf

class AnfSpec extends SparkSpec {

  private def edges(rows: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("u", "v")
  }

  private def exact(rows: Seq[(Long, Long)], maxT: Int)
      : Seq[(Long, Long, Long, Long, Boolean)] =
    Anf.neighborhoodFunctionExact(spark, edges(rows), maxT).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq

  test("path graph: the hand-computed N(t) curve and its 90% landmark") {
    // a-b-c-d: N(0)=4, N(1)=10, N(2)=14, N(3)=16 (ordered pairs + self)
    val got = exact(Seq((1L, 2L), (2L, 3L), (3L, 4L)), maxT = 5)
    assert(got == Seq(
      (0L, 4L, 4L, 250L, false),
      (1L, 6L, 10L, 625L, false),
      (2L, 4L, 14L, 875L, false),
      (3L, 2L, 16L, 1000L, true)))
  }

  test("disconnected islands: the curve converges to sum of component squares") {
    // two disjoint edges: N(inf) = 2*4 = 8
    val got = exact(Seq((1L, 2L), (3L, 4L)), maxT = 4)
    assert(got == Seq((0L, 4L, 4L, 500L, false), (1L, 4L, 8L, 1000L, true)))
  }

  test("self-loops and duplicate/reversed edges are normalized away") {
    val got = exact(Seq((1L, 2L), (2L, 1L), (1L, 1L), (1L, 2L)), maxT = 2)
    assert(got == Seq((0L, 2L, 2L, 500L, false), (1L, 2L, 4L, 1000L, true)))
  }

  test("hll: singleton balls read the literal linear-counting table exactly") {
    // at t=0 every node's ball is {v}: 1 register set, zeros = 63,
    // so est = lcMicro(63) per node, summed exactly
    val g = Seq((1L, 2L), (3L, 4L), (5L, 6L))
    val out = Anf.neighborhoodFunctionHll(spark, edges(g), maxT = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) == 6L * Anf.LcMicro(62), s"t0 = ${out(0L)}")
  }

  test("hll: estimates are monotone in t and track exact within the p=6 band") {
    // 30-clique plus a pendant path: balls grow then saturate
    val clique = for {
      i <- 1L to 30L; j <- (i + 1) to 30L
    } yield (i, j)
    val g = clique ++ Seq((30L, 100L), (100L, 101L))
    val ex = exact(g, maxT = 3).map(r => r._1 -> r._3).toMap
    val hl = Anf.neighborhoodFunctionHll(spark, edges(g), maxT = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 3L).sliding(2).foreach { w =>
      assert(hl(w(1)) >= hl(w(0)), s"est not monotone: $hl")
    }
    (0L to 3L).foreach { t =>
      val ratio = hl(t).toDouble / 1e6 / ex(t).toDouble
      assert(ratio > 0.55 && ratio < 1.45, s"t=$t ratio=$ratio")
    }
  }

  test("hll: deterministic across independent plans") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val a = Anf.neighborhoodFunctionHll(spark, edges(g), 3).collect().toSeq
    val b = Anf.neighborhoodFunctionHll(spark, edges(g), 3).collect().toSeq
    assert(a.map(_.toSeq) == b.map(_.toSeq))
  }

  test("horizon bounds are rejected") {
    intercept[IllegalArgumentException](exact(Seq((1L, 2L)), 0))
    intercept[IllegalArgumentException](exact(Seq((1L, 2L)), 33))
  }

  test("3-node path: exact curve closes at t=2; hll emits one row per t up to maxT") {
    val pg = Seq((1L, 2L), (2L, 3L))
    assert(exact(pg, maxT = 3).map(r => (r._1, r._3)) ==
      Seq((0L, 3L), (1L, 7L), (2L, 9L)))
    val nh = Anf.neighborhoodFunctionHll(spark, edges(pg), 2).collect()
    assert(nh.length == 3 && nh.last.getLong(2) == 1000L)
  }
}

package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.rel.AsofJoin

/** As-of join edge semantics (the oracle covers the bulk; this pins the
  * corner cases): no prior right row -> null; equal timestamps match
  * (ASOF >= semantics); later right rows never leak backwards.
  */
class AsofJoinSpec extends SparkSpec {
  test("asof picks most recent right row at-or-before each left row") {
    val s = spark
    import s.implicits._
    def t(sec: Int) = new Timestamp(sec * 1000L)
    val left = Seq(
      (1L, t(5), "p1"), (1L, t(10), "p2"), (1L, t(2), "p0"),
      (2L, t(7), "p3")).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, t(5), 100L), (1L, t(9), 101L), (3L, t(1), 102L)).toDF("user_id", "ts", "rid")
    val out = AsofJoin.asof(left, right, "user_id", "ts", Map("rid" -> "matched"))
      .select("tag", "matched").collect().map(r => r.getString(0) -> (
        if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out("p0") == -1L) // before any right row
    assert(out("p1") == 100L) // equal ts matches (>= semantics)
    assert(out("p2") == 101L) // most recent, not first
    assert(out("p3") == -1L) // key with no right rows at all
  }

  test("asof carries the matched right row atomically when payloads are null") {
    val s = spark
    import s.implicits._
    def t(sec: Int) = new Timestamp(sec * 1000L)
    val left = Seq((1L, t(10), "p")).toDF("user_id", "ts", "tag")
    // most recent right row (ts=9) has a NULL rid: the match must yield
    // null, not leak rid=100 from the older row (per-column carry bug)
    val right = Seq(
      (1L, t(5), Some(100L)), (1L, t(9), None: Option[Long])).toDF("user_id", "ts", "rid")
    val out = AsofJoin.asof(left, right, "user_id", "ts",
      Map("rid" -> "matched", "ts" -> "rts")).collect()
    assert(out.length == 1)
    assert(out(0).isNullAt(out(0).fieldIndex("matched"))) // null from ts=9 row
    assert(out(0).getTimestamp(out(0).fieldIndex("rts")) == t(9)) // same row's ts
  }

  test("random corpora: asof equals the brute-force most-recent-at-or-before") {
    val s = spark
    import s.implicits._
    def t(sec: Int) = new Timestamp(sec * 1000L)
    Seq(31, 77).foreach { seed =>
      val r = new scala.util.Random(seed)
      // duplicate timestamps ON PURPOSE — the tie semantics (>= match)
      // must hold under collisions too; rid tie-break makes the brute
      // force deterministic the same way the engine's ordering is
      val left = Seq.tabulate(120)(i => (r.nextInt(6).toLong, t(r.nextInt(40)), i.toLong))
      val right = Seq.tabulate(80)(i => (r.nextInt(6).toLong, t(r.nextInt(40)), i.toLong))
      val got = AsofJoin.asof(
          left.toDF("user_id", "ts", "lid"),
          right.toDF("user_id", "ts", "rid"), "user_id", "ts",
          Map("rid" -> "matched"))
        .select("lid", "matched").collect()
        .map(row => row.getLong(0) -> (if (row.isNullAt(1)) -1L else row.getLong(1)))
        .toMap
      val want = left.map { case (u, ts, lid) =>
        val cands = right.filter(x => x._1 == u && !x._2.after(ts))
        lid -> (if (cands.isEmpty) -1L
          else cands.maxBy(x => (x._2.getTime, x._3))._3)
      }.toMap
      assert(got == want, s"seed=$seed: ${(got.toSet -- want.toSet).take(5)}")
    }
  }

  test("driver entry() returns rows on sf0.001") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("asofTolerance: stale matches null out, fresh matches equal plain asof") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 100L, "p1"), (1L, 250L, "p2")).toDF("k", "ts", "tag")
    val right = Seq((1L, 90L, "t_old"), (1L, 240L, "t_new")).toDF("k", "ts", "v")
    // plain as-of: both purchases match their latest prior touch
    val plain = AsofJoin.asof(left, right, "k", "ts", Map("v" -> "v"))
      .collect().map(r => r.getString(2) -> r.getString(3)).toMap
    assert(plain == Map("p1" -> "t_old", "p2" -> "t_new"))
    // tolerance 15 micros: p1's match (gap 10) survives, p2's (gap 10)
    // survives; tolerance 5: both null
    val tol15 = AsofJoin.asofTolerance(left, right, "k", "ts",
        Map("v" -> "v"), toleranceMicros = 15L)
      .collect().map(r => r.getString(2) -> Option(r.getString(3))).toMap
    assert(tol15 == Map("p1" -> Some("t_old"), "p2" -> Some("t_new")))
    val tol5 = AsofJoin.asofTolerance(left, right, "k", "ts",
        Map("v" -> "v"), toleranceMicros = 5L)
      .collect().map(r => r.getString(2) -> Option(r.getString(3))).toMap
    assert(tol5 == Map("p1" -> None, "p2" -> None))
  }
}

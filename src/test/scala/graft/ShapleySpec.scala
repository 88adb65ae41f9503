package graft

import graft.rel.Shapley

/** Exact Shapley attribution (rel/Shapley.scala): the 2-channel hand
  * game, the efficiency law in scaled integers, symmetry, the null
  * player, and the loud guards.
  */
class ShapleySpec extends SparkSpec {

  private def ev(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("user_id", "event_type")
  }

  private def phis(rows: Seq[(Long, String)], channels: Seq[String]) =
    Shapley.shapleyAttribution(ev(rows), channels, "purchase")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("two-channel hand game matches the analytic Shapley values") {
    // exposure {A}: users 1,2 (1 converts) -> v = 500000
    // exposure {A,B}: user 3 (converts)    -> v = 1000000
    // exposure {B}: user 4 (no conversion) -> v = 0 ; v(empty) = 0
    // phi_A(num, k!=2 scaled micro) = 1*(500000-0) + 1*(1000000-0) = 1500000
    // phi_B = 1*(0-0) + 1*(1000000-500000) = 500000
    val rows = Seq(
      (1L, "a"), (1L, "purchase"), (2L, "a"),
      (3L, "a"), (3L, "b"), (3L, "purchase"),
      (4L, "b"))
    val got = phis(rows, Seq("a", "b"))
    assert(got === Map("a" -> 1500000L, "b" -> 500000L))
  }

  test("efficiency: scaled credits sum to k!(v(full) - v(empty))") {
    // messy 3-channel data including untouched users (mask 0)
    val rows = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"), (1L, "purchase"),
      (2L, "a"), (2L, "b"), (2L, "c"),
      (3L, "a"), (3L, "purchase"),
      (4L, "b"), (4L, "c"), (4L, "purchase"),
      (5L, "c"),
      (6L, "purchase"), // converted with NO touches: v(empty) = 500000
      (7L, "view_only_user_has_no_channel_events"))
    val got = phis(rows, Seq("a", "b", "c"))
    // v(full {a,b,c}) = 1/2 -> 500000 micro; v(empty): users 6,7 -> 1/2
    // -> 500000; k! = 6
    assert(got.values.sum === 6L * (500000L - 500000L))
  }

  test("symmetric channels earn identical credit") {
    // a and b always co-occur -> interchangeable players
    val rows = Seq(
      (1L, "a"), (1L, "b"), (1L, "purchase"),
      (2L, "a"), (2L, "b"),
      (3L, "c"))
    val got = phis(rows, Seq("a", "b", "c"))
    assert(got("a") === got("b"))
  }

  test("unobserved-coalition quirk: an unexposed channel draws negative credit") {
    // Zhao et al.'s exactly-S game sets v = 0 on unobserved coalitions,
    // so a never-seen channel is NOT a null player: its marginal over
    // S = {a} is v({a,ghost}) - v({a}) = 0 - 500000. The efficiency law
    // still balances the books (sum = k!(v(full)-v(empty)) = 0).
    val rows = Seq((1L, "a"), (1L, "purchase"), (2L, "a"))
    val got = phis(rows, Seq("a", "ghost"))
    assert(got("a") === 500000L)
    assert(got("ghost") === -500000L)
    assert(got.values.sum === 0L)
  }

  test("guards: too many channels and conv-as-channel fail loudly") {
    intercept[IllegalArgumentException] {
      Shapley.shapleyAttribution(ev(Seq((1L, "a"))),
        (1 to 9).map(i => s"c$i"), "purchase")
    }
    intercept[IllegalArgumentException] {
      Shapley.shapleyAttribution(ev(Seq((1L, "a"))),
        Seq("a", "purchase"), "purchase")
    }
  }

  test("one channel: phi is the exposed conversion rate, phi_r6 in rate units") {
    val got = Shapley.shapleyAttribution(
      ev(Seq((1L, "a"), (1L, "buy"), (2L, "a"))), Seq("a"), "buy").collect()
    assert(got.length == 1 && got.head.getString(0) == "a"
      && got.head.getLong(1) == 500000L && got.head.getDouble(2) == 0.5)
  }
}

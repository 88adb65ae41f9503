package graft

/** Cross-source LM divergence matrix (q435): hand-computed snapped
  * pins on a 3-source fixture, including the unseen-gram floor path.
  */
class SourceLmMatrixSpec extends SparkSpec {

  test("sourceLmMatrix: snapped cross-entropy pins and the floor path") {
    val s = spark
    import s.implicits._
    // srcX: a:3 b:1 (n=4); srcY: a:1 b:3 (n=4); srcZ: c:2 (n=2); V=3
    val docs = Seq(
      (0L, "a a a b", "srcX"),
      (1L, "a b b b", "srcY"),
      (2L, "c c", "srcZ")
    ).toDF("doc_id", "text", "source")
    val got = graft.llm.Curation.sourceLmMatrix(s, docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(got.size == 9)
    // ln(4/7)->-559616, ln(2/7)->-1252763 micro:
    // H(X,X) = (3*559616 + 1252763)/4 = 732902.75 -> 732903
    assert(got(("srcX", "srcX")) == 732903L, got)
    // H(X,Y) = (3*1252763 + 559616)/4 = 1079476.25 -> 1079476
    assert(got(("srcX", "srcY")) == 1079476L, got)
    // X's grams are all unseen in Z: pure floor ln(1/5)->-1609438
    assert(got(("srcX", "srcZ")) == 1609438L, got)
    // H(Z,Z) = ln(3/5) snapped = 510826
    assert(got(("srcZ", "srcZ")) == 510826L, got)
    // self-model always predicts itself at least as well as others do
    Seq("srcX", "srcY", "srcZ").foreach { a =>
      Seq("srcX", "srcY", "srcZ").filter(_ != a).foreach { b =>
        assert(got((a, a)) < got((a, b)), s"H($a,$a) !< H($a,$b)")
      }
    }
  }
}

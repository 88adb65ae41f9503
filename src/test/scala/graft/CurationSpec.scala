package graft

import org.apache.spark.sql.functions._
import graft.llm.Curation

/** Decontamination and PII scrubbing: gram windows must match the
  * 3-gram hash family's conventions, planted eval overlap must be found
  * (and only it), and the scrub must count and redact exactly.
  */
class CurationSpec extends SparkSpec {

  test("gramHashes: windows, dedup, and the k=3 case matches shingles64Of") {
    val toks = "a b c d c d a b c".split(" ")
    assert(Curation.gramHashes(toks, 3).toSeq ==
      graft.llm.SketchOps.shingles64Of(toks).distinct.toSeq)
    assert(Curation.gramHashes("a b".split(" "), 3).isEmpty)
    // 'x y x y x y': grams (x y x),(y x y),(x y x),(y x y) → 2 distinct
    assert(Curation.gramHashes("x y x y x y".split(" "), 3).length == 2)
  }

  test("contamination finds exactly the docs overlapping the eval set") {
    val s = spark
    import s.implicits._
    val w = (n: Int, seed: Int) =>
      Array.tabulate(n)(i => s"w${(i * 31 + seed * 7919) % 97}").mkString(" ")
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val train = Seq(
      (0L, s"${w(20, 1)} $shared ${w(5, 2)}"), // contains the eval 10-gram run
      (1L, w(40, 3)), // disjoint
      (2L, shared) // IS the shared run
    ).toDF("doc_id", "text")
    val eval = Seq((100L, s"${w(6, 9)} $shared")).toDF("doc_id", "text")
    val got = Curation.contamination(s, train, eval, k = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the shared run has 10 tokens → 3 distinct 8-grams
    assert(got == Map(0L -> 3L, 2L -> 3L), s"got $got")
  }

  test("mixtureSample: rates bound keep fractions; raising a rate only ADDS docs") {
    val s = spark
    import s.implicits._
    val docs = Seq.tabulate(2000)(i =>
      (i.toLong, if (i % 2 == 0) "a" else "b", "text")).toDF("doc_id", "source", "text")
    def kept(rA: Double) = Curation.mixtureSample(s, docs, Map("a" -> rA, "b" -> 1.0))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val half = kept(0.5); val more = kept(0.8)
    // all of source b survives at rate 1.0; a's fraction tracks the rate
    assert(half.count(_._2 == "b") == 1000)
    val aHalf = half.count(_._2 == "a")
    assert(aHalf > 400 && aHalf < 600, s"rate 0.5 kept $aHalf of 1000")
    // monotone upgrade: the 0.5 set is a SUBSET of the 0.8 set
    assert(half.subsetOf(more), "raising a rate swapped kept docs")
  }

  test("mixtureSampleByBudget: bucketed plan equals the naive hash-order prefix; budgets are monotone") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val docs = (0L until 300L).map { i =>
      val src = s"s${i % 3}"
      val n = 1 + rnd.nextInt(12)
      (i, src, Seq.fill(n)("tok").mkString(" "))
    }.toDF("doc_id", "source", "text")
    // the naive formulation: per-source hash-order running sum
    def naive(budgets: Map[String, Long]): Set[Long] = {
      import org.apache.spark.sql.expressions.Window
      val hv = conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10)
        .cast("long")
      val nToks = size(split(trim(lower(col("text"))), "\\s+")).cast("long")
      val cum = coalesce(sum(col("n_toks")).over(
        Window.partitionBy(col("source")).orderBy(col("hv"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
      val budget = budgets.foldLeft(lit(-1L)) { case (acc, (src, b)) =>
        when(col("source") === src, lit(b)).otherwise(acc)
      }
      docs.withColumn("hv", hv).withColumn("n_toks", nToks)
        .withColumn("cum", cum).filter(col("cum") < budget)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    // budgets cover: partial prefix, keep-all (over total), zero
    val budgets = Map("s0" -> 120L, "s1" -> 100000L, "s2" -> 0L)
    for (buckets <- Seq(1, 2, 64, 4096)) {
      val got = Curation.mixtureSampleByBudget(s, docs, budgets, buckets = buckets)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == naive(budgets), s"buckets=$buckets diverged from the naive window")
    }
    // monotone: raising every budget only ADDS docs
    val low = Curation.mixtureSampleByBudget(s, docs, budgets)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val high = Curation.mixtureSampleByBudget(s, docs,
        budgets.map { case (k, v) => k -> (v + 150L) })
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(low.subsetOf(high), "raising budgets removed docs")
    // within one doc of the budget: kept tokens stop before budget +
    // the crossing doc
    val keptToks = Curation.mixtureSampleByBudget(s, docs, budgets)
      .filter(col("source") === "s0")
      .withColumn("n", size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
      .agg(sum("n")).collect()(0).getLong(0)
    assert(keptToks >= 120L && keptToks < 120L + 13L,
      s"s0 kept $keptToks tokens for budget 120")
  }

  test("decontaminateSpans masks exactly the eval-gram-covered tokens and collapses runs") {
    val s = spark
    import s.implicits._
    // doc 0: tokens 3..12 (0-based) contain the planted eval 8-gram run
    // "e1..e10" → grams at starts 3,4,5 are contaminated → mask [3,12]
    val evalRun = (1 to 10).map(i => s"e$i").mkString(" ")
    val train = Seq(
      (0L, s"a b c $evalRun x y z"),
      (1L, "clean words only nothing shared here at all")).toDF("doc_id", "text")
    val eval = Seq((9L, evalRun)).toDF("doc_id", "text")
    val got = Curation.decontaminateSpans(s, train, eval, k = 8)
      .orderBy("doc_id").collect()
    assert(got.length == 2)
    val r0 = got(0)
    assert(r0.getLong(1) == 16 && r0.getLong(2) == 10 && r0.getLong(3) == 1,
      s"doc 0: ${r0.toSeq}")
    assert(r0.getString(4) == "a b c [REMOVED] x y z")
    val r1 = got(1)
    assert(r1.getLong(2) == 0 && r1.getString(4) == r1.getString(4).toLowerCase)
    // two disjoint contaminated runs -> two sentinels
    val train2 = Seq((0L, s"$evalRun mid1 mid2 mid3 $evalRun")).toDF("doc_id", "text")
    val g2 = Curation.decontaminateSpans(s, train2, eval, k = 8).collect()(0)
    assert(g2.getLong(3) == 2 && g2.getString(4) == "[REMOVED] mid1 mid2 mid3 [REMOVED]")
  }

  test("shuffleCorpus: positions are an exact permutation equal to the naive global order") {
    val s = spark
    import s.implicits._
    val docs = (0L until 500L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    def naive(seed: Long): Seq[Long] = {
      import org.apache.spark.sql.expressions.Window
      val hv = conv(substring(md5(
          concat(lit(seed.toString), lit(":"), col("doc_id").cast("string")).cast("binary")),
        1, 15), 16, 10).cast("long")
      docs.withColumn("hv", hv)
        .withColumn("pos", row_number().over(Window.orderBy(col("hv"), col("doc_id"))) - 1)
        .orderBy("pos").select("doc_id").collect().map(_.getLong(0)).toSeq
    }
    for (buckets <- Seq(1, 16, 4096)) {
      val got = Curation.shuffleCorpus(s, docs, seed = 7L, buckets = buckets)
        .orderBy("pos").select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(got == naive(7L), s"buckets=$buckets diverged from the naive order")
    }
    // a different seed is a different permutation of the same ids
    val p7 = Curation.shuffleCorpus(s, docs, 7L).select("pos").collect().map(_.getLong(0)).toSet
    val o8 = Curation.shuffleCorpus(s, docs, 8L)
      .orderBy("pos").select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(p7 == (0L until 500L).toSet, "positions are not a permutation")
    assert(o8 != naive(7L), "seed change did not change the order")
  }

  test("shuffleCorpus plan: bucket-hash exchange + local sort, NO global range sort") {
    val s = spark
    import s.implicits._
    val docs = (0L until 500L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val plan = Curation.shuffleCorpus(s, docs, seed = 7L)
      .queryExecution.executedPlan.toString
    // the window ranks WITHIN hash buckets (parallel reducers)...
    assert(plan.contains("hashpartitioning(bucket"), s"no bucket exchange:\n$plan")
    // ...and nothing range-partitions the full data into one total order
    // (the single-reducer shape this operator exists to avoid)
    assert(!plan.contains("rangepartitioning"), s"global sort crept in:\n$plan")
  }

  test("mixtureUpsample: whole epochs + deterministic fractional epoch, monotone in weight") {
    val s = spark
    import s.implicits._
    val docs = (0L until 200L).map(i => (i, "src", s"t$i")).toDF("doc_id", "source", "text")
    val up = Curation.mixtureUpsample(s, docs, Map("src" -> 2.5))
      .select("doc_id", "copy").collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = up.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // every doc appears at least twice (copies 0,1), some exactly three times
    assert(byDoc.size == 200 && byDoc.values.forall(c => c == Seq(0L, 1L) || c == Seq(0L, 1L, 2L)))
    val n3 = byDoc.values.count(_.length == 3)
    assert(n3 > 50 && n3 < 150, s"fractional epoch kept $n3/200 — not ~half")
    // monotone: the 2.5x selection contains the 2.25x one
    val lo = Curation.mixtureUpsample(s, docs, Map("src" -> 2.25))
      .filter(col("copy") === 2).select("doc_id").collect().map(_.getLong(0)).toSet
    val hi = byDoc.filter(_._2.length == 3).keySet
    assert(lo.subsetOf(hi), "raising the weight swapped fractional-epoch docs")
    // weight 0 drops the source entirely
    assert(Curation.mixtureUpsample(s, docs, Map("src" -> 0.0)).count() == 0)
  }

  test("scoreQualityModel: exact integer fold, stays in codegen (no UDF in the plan)") {
    val s = spark
    import s.implicits._
    val w = Curation.demoWeights(1024)
    def featOf(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(md.substring(0, 15), 16) % 1024).toInt
    }
    val docs = Seq((0L, "Alpha beta GAMMA"), (1L, ""), (2L, "x")).toDF("doc_id", "text")
    val df = Curation.scoreQualityModel(s, docs, w)
    val got = df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want0 = Seq("alpha", "beta", "gamma").map(t => w(featOf(t))).sum
    assert(got(0) == ((0L, 3L, want0)))
    assert(got(1) == ((1L, 0L, 0L)), "empty text must score (0, 0)")
    assert(got(2) == ((2L, 1L, w(featOf("x")))))
    // the scoring pass is pure codegen'd expressions — no (Scala/Python)
    // UDF nodes anywhere in the physical plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"), plan)
  }

  test("repetitionSignals: degenerate text scores high, varied text low") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "spam spam spam spam spam spam spam spam"),
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "a b") // too short for 3-grams
    ).toDF("doc_id", "text")
    val got = Curation.repetitionSignals(s, docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // "spam"x8: 6 identical 3-grams → 5/6 dup; every 2-gram identical
    assert(got(0L) == ((6L, 833L, 1000L)))
    val (n1, dup1, top1) = got(1L)
    assert(n1 == 8 && dup1 == 0 && top1 <= 200)
    assert(got(2L) == ((0L, 0L, 1000L))) // one 2-gram, trivially the top
  }

  test("piiScrub counts and redacts emails and phones exactly") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "mail me at a.b_c1@host9.org or x@y.io thanks"),
      (1L, "call +1-415-555-0134 or +1-212-555-0188 now"),
      (2L, "clean text, no pii at all")
    ).toDF("doc_id", "text")
    val got = Curation.piiScrub(s, docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSeq.sortBy(_._1)
    assert(got(0)._2 == 2 && got(0)._3 == 0)
    assert(got(0)._4 == "mail me at [EMAIL] or [EMAIL] thanks")
    assert(got(1)._2 == 0 && got(1)._3 == 2)
    assert(got(1)._4 == "call [PHONE] or [PHONE] now")
    assert(got(2)._2 == 0 && got(2)._3 == 0 && got(2)._4 == "clean text, no pii at all")
  }

  test("snapshotDiff labels added/removed/changed/unchanged exactly") {
    val s = spark
    import s.implicits._
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val neu = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("doc_id", "text")
    val got = Curation.snapshotDiff(s, old, neu).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "removed"), (2L, "unchanged"),
      (3L, "changed"), (4L, "added")))
  }

  test("urlDomainFilter: parse, blocklist, and a deterministic monotone per-domain cap") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "https://www.a.com/x"), (1L, "https://a.com/y?q=1"),
      (2L, "https://sub.deep.a.com/z"), (3L, "https://b.org/1"),
      (4L, "https://b.org/2"), (5L, "https://b.org/3"),
      (6L, "https://bad.net/x"), (7L, "http://c.io/p#frag")
    ).toDF("doc_id", "url")
    val got = Curation.urlDomainFilter(s, docs, blocklist = Seq("bad.net"),
        maxPerDomain = 2)
      .select("doc_id", "host", "domain").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    // bad.net dropped; a.com has 3 members (www./bare/sub.deep. all
    // normalize to the registered domain) and b.org has 3 — each keeps 2
    assert(!got.exists(_._3 == "bad.net"))
    assert(got.count(_._3 == "a.com") == 2 && got.count(_._3 == "b.org") == 2)
    assert(got.exists(t => t._1 == 7L && t._2 == "c.io" && t._3 == "c.io"))
    // host never contains scheme, path, query, or fragment
    assert(got.forall(t => !t._2.contains("/") && !t._2.contains("?") && !t._2.contains("#")))
    // raising the cap only ADDS docs (hash-order prefix is monotone)
    val kept2 = got.map(_._1).toSet
    val kept3 = Curation.urlDomainFilter(s, docs, Seq("bad.net"), maxPerDomain = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2.subsetOf(kept3) && kept3.size == 7)
  }

  test("splitByCluster: clusters never straddle splits; train grows monotonically") {
    import spark.implicits._
    // 60 docs, 20 clusters of 3 (planted near-dup groups)
    val docs = (0L until 60L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val clusters = (0L until 60L).map(i => (i, i / 3 * 3)).toDF("doc_id", "cluster_id")
    val fr = Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2)
    val got = Curation.splitByCluster(spark, docs, clusters, fr)
      .select("doc_id", "cluster_id", "split")
      .as[(Long, Long, String)].collect().toSeq
    assert(got.size == 60)
    // leakage-free: one split per cluster
    got.groupBy(_._2).foreach { case (c, members) =>
      assert(members.map(_._3).distinct.size == 1, s"cluster $c straddles splits")
    }
    assert(got.map(_._3).distinct.toSet.subsetOf(Set("train", "val", "test")))
    // raising the train fraction only ADDS to train
    val train1 = got.filter(_._3 == "train").map(_._1).toSet
    val train2 = Curation.splitByCluster(spark, docs, clusters,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .filter(col("split") === "train").select("doc_id").as[Long].collect().toSet
    assert(train1.subsetOf(train2), "growing the train fraction must only add docs")
    // unclustered docs survive as singletons
    val solo = Curation.splitByCluster(spark, docs, clusters.limit(0), fr)
    assert(solo.count() == 60)
    assert(solo.select("cluster_id").as[Long].collect().toSet == (0L until 60L).toSet)
  }

  test("sourceDivergence: zero for a corpus-identical source, hand value otherwise") {
    import spark.implicits._
    // one source IS the corpus -> KL = 0 exactly
    val uni = Seq((0L, "one", "a b"), (1L, "one", "c")).toDF("doc_id", "source", "text")
    val z = Curation.sourceDivergence(spark, uni).collect()
    assert(z.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("one", 3L, 0.0)))
    // two sources: s1 = {a,a}, s2 = {a,b}; Q = {a:3/4, b:1/4}
    val two = Seq((0L, "s1", "a a"), (1L, "s2", "a b")).toDF("doc_id", "source", "text")
    val got = Curation.sourceDivergence(spark, two).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val kl1 = r6(1.0 * math.log(1.0 / 0.75)) // P(a)=1
    val kl2 = r6(0.5 * math.log(0.5 / 0.75) + 0.5 * math.log(0.5 / 0.25))
    assert(got == Seq(("s1", 2L, kl1), ("s2", 2L, kl2)))
    assert(got.forall(_._3 >= 0.0), "KL is non-negative")
  }

  test("dupClassHistogram: power-of-two buckets land on the planted classes") {
    val s = spark
    import s.implicits._
    // classes of sizes 1, 2, 4, 5 (normalized equality: case and
    // whitespace runs collapse) -> buckets 0:{1}, 1:{2}, 2:{4,5}
    val docs = (Seq((0L, "solo")) ++
      (1L to 2L).map(i => (i, if (i % 2 == 0) "PAIR  text" else "pair text")) ++
      (3L to 6L).map(i => (i, "quad body")) ++
      (7L to 11L).map(i => (i, "five member family"))
    ).toDF("doc_id", "text")
    val got = Curation.dupClassHistogram(s, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 1L, 1L), (1L, 1L, 2L), (2L, 2L, 9L)), got)
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.rel.Cdc

/** CDC batch apply — edge semantics the q237 fixture can't isolate:
  * delete of an absent key (no-op, no ghost row), insert over an
  * existing key (upsert overwrites), intra-batch last-writer-wins with
  * an explicit tie-break at EQUAL sequence, delete-then-reinsert in one
  * batch (the later op wins whole-row), and pass-through of untouched
  * base rows. Plus the plan guard: winner selection is a hash
  * aggregation, not a per-key window.
  */
class CdcSpec extends SparkSpec {

  private def s = spark

  test("upsert/delete semantics incl. absent-key delete and reinsert") {
    val sp = s
    import sp.implicits._
    val base = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
    val changes = Seq(
      (2L, 99L, "U", 1L),  // update existing
      (3L, 0L, "D", 1L),   // delete existing
      (4L, 40L, "I", 1L),  // insert new
      (5L, 0L, "D", 1L),   // delete ABSENT key: must not create a row
      (6L, 60L, "D", 1L),  // delete...
      (6L, 61L, "I", 2L)   // ...then reinsert later in the same batch
    ).toDF("k", "v", "op", "seq")
    val got = Cdc.applyBatch(base, changes, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 10L, 2L -> 99L, 4L -> 40L, 6L -> 61L))
  }

  test("schema evolution: add-column batch against an old snapshot, " +
      "old-producer batch against the evolved snapshot") {
    val sp = s
    import sp.implicits._
    val base = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
    // upgraded producer: adds column c
    val b1 = Seq((2L, 99L, "x", "U", 1L), (4L, 40L, "y", "I", 1L))
      .toDF("k", "v", "c", "op", "seq")
    val snap1 = Cdc.applyBatchEvolving(base, b1, Seq("k"))
    val got1 = snap1.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), Option(r.getString(2)))).toMap
    // untouched rows null-fill the new column; updated rows carry it
    assert(got1 == Map(1L -> (10L, None), 2L -> (99L, Some("x")),
      3L -> (30L, None), 4L -> (40L, Some("y"))))
    // old producer (no c) updates an evolved row: the full-row-image
    // contract means its unknown column lands as NULL
    val b2 = Seq((2L, 50L, "U", 2L)).toDF("k", "v", "op", "seq")
    val got2 = Cdc.applyBatchEvolving(snap1, b2, Seq("k")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), Option(r.getString(2)))).toMap
    assert(got2(2L) == (50L, None) && got2(4L) == (40L, Some("y")))
    // the fixed-schema form pins base's payload: a wider batch applies
    // but its extra column is DROPPED — the reason Evolving exists
    val fixed = Cdc.applyBatch(base, b1, Seq("k"))
    assert(fixed.columns.toSeq == Seq("k", "v"))
  }

  test("schema evolution, versioned streaming: generations widen " +
      "mid-stream and replay stays a no-op") {
    val sp = s
    import sp.implicits._
    val st0 = Cdc.bootstrapState(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    val b1 = Seq((2L, 99L, "w", "U", 1L)).toDF("k", "v", "c", "op", "seq")
    val st1 = Cdc.applyVersionedEvolving(st0, b1, Seq("k"))
    assert(st1.columns.toSeq == Seq("k", "v", "c", "seq", "deleted"))
    // replaying the SAME widened batch is a no-op
    val st2 = Cdc.applyVersionedEvolving(st1, b1, Seq("k"))
    assert(st2.collect().map(_.toSeq).toSet ==
      st1.collect().map(_.toSeq).toSet)
    // an old-schema batch still applies against the widened state
    val b2 = Seq((1L, 11L, "U", 2L)).toDF("k", "v", "op", "seq")
    val got = Cdc.snapshotOf(Cdc.applyVersionedEvolving(st2, b2, Seq("k")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), Option(r.getString(2))))
      .toMap
    assert(got == Map(1L -> (11L, None), 2L -> (99L, Some("w"))))
  }

  test("equal-sequence conflicts resolve by the explicit tie-break") {
    val sp = s
    import sp.implicits._
    val base = Seq((1L, 0L)).toDF("k", "v")
    val changes = Seq(
      (1L, 111L, "U", 5L, 2L), // same seq, higher change id -> wins
      (1L, 222L, "U", 5L, 1L)
    ).toDF("k", "v", "op", "seq", "cid")
    val got = Cdc.applyBatch(base, changes, Seq("k"), tieBreak = Some("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 111L))
  }

  test("multi-column keys and multi-column payloads") {
    val sp = s
    import sp.implicits._
    val base = Seq((1L, "a", 10L, "x"), (1L, "b", 20L, "y"))
      .toDF("k1", "k2", "v", "w")
    val changes = Seq((1L, "b", 21L, "z", "U", 1L))
      .toDF("k1", "k2", "v", "w", "op", "seq")
    val got = Cdc.applyBatch(base, changes, Seq("k1", "k2"))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getString(3))).toMap
    assert(got == Map((1L, "a") -> ((10L, "x")), (1L, "b") -> ((21L, "z"))))
  }

  test("applyVersioned: replay is a no-op, stale changes cannot resurrect") {
    val sp = s
    import sp.implicits._
    val base = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    val st0 = Cdc.bootstrapState(base)
    val b1 = Seq((1L, 11L, "U", 5L), (2L, 0L, "D", 5L)).toDF("k", "v", "op", "seq")
    val st1 = Cdc.applyVersioned(st0, b1, Seq("k"))
    assert(Cdc.snapshotOf(st1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 11L))
    // replay the same batch: state unchanged (strictly-greater rule)
    val st2 = Cdc.applyVersioned(st1, b1, Seq("k"))
    assert(Cdc.snapshotOf(st2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 11L))
    // a STALE update (seq 3 < the delete's 5) must not resurrect key 2
    // (the tombstone carries the delete's sequence)
    val stale = Seq((2L, 99L, "U", 3L)).toDF("k", "v", "op", "seq")
    val st3 = Cdc.applyVersioned(st2, stale, Seq("k"))
    assert(Cdc.snapshotOf(st3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 11L))
    // a NEWER reinsert (seq 7 > 5) does land
    val revive = Seq((2L, 77L, "I", 7L)).toDF("k", "v", "op", "seq")
    val st4 = Cdc.applyVersioned(st3, revive, Seq("k"))
    assert(Cdc.snapshotOf(st4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(1L -> 11L, 2L -> 77L))
  }

  test("property: versioned batch application is ORDER-INDEPENDENT " +
      "and equals the one-shot batch apply") {
    val sp = s
    import sp.implicits._
    // with unique sequences per key, the versioned state machine must
    // converge to the per-key max-seq change regardless of how the
    // change set is split into batches OR the order batches arrive —
    // the exactly-once-effect claim behind q238, as a property
    var seed = 987654321L
    def r(): Long = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      math.abs(seed)
    }
    for (trial <- 0 until 12) {
      val base = (0L until 8L).filter(_ => r() % 2 == 0)
        .map(k => (k, r() % 100)).toDF("k", "v")
      val nCh = 6 + (r() % 10).toInt
      val changes = (1 to nCh).map { i =>
        val op = Seq("I", "U", "D")((r() % 3).toInt)
        (r() % 12, r() % 100, op, i.toLong) // seq globally unique
      }.toDF("k", "v", "op", "seq")
      val want = Cdc.applyBatch(base, changes, Seq("k"))
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      // random split into 3 batches, applied in a random ORDER
      val parts = (0 until 3).map(p =>
        changes.filter(pmod(xxhash64(col("seq") + trial), lit(3)) === p))
      val order = r() % 6 match {
        case 0 => Seq(0, 1, 2); case 1 => Seq(0, 2, 1)
        case 2 => Seq(1, 0, 2); case 3 => Seq(1, 2, 0)
        case 4 => Seq(2, 0, 1); case _ => Seq(2, 1, 0)
      }
      val finalState = order.foldLeft(Cdc.bootstrapState(base)) {
        (st, p) => Cdc.applyVersioned(st, parts(p), Seq("k"))
          .localCheckpoint() // keep the fold's lineage flat
      }
      val got = Cdc.snapshotOf(finalState)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(got == want, s"trial=$trial order=$order got=$got want=$want")
    }
  }

  test("bucketed state generations: the state side applies SHUFFLE-FREE") {
    val sp = s
    import sp.implicits._
    // the production claim in Cdc's scaladoc, pinned: store the state
    // bucketed by the key (bucket count = shuffle partitions, so the
    // winner agg's output partitioning already matches) and the ENTIRE
    // versioned apply plans exactly ONE exchange — the tiny winners
    // agg — while the big state scan feeds the join straight from disk
    val state = Cdc.bootstrapState(
      (1L to 100L).map(k => (k, k * 10)).toDF("k", "v"))
    // clear any residue of an earlier run (table AND its location —
    // a failed run can leave the warehouse dir without the table)
    sp.sql("DROP TABLE IF EXISTS cdc_state_gen0")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File("spark-warehouse/cdc_state_gen0"))
    graft.io.Bucketing.writeBucketed(state, "cdc_state_gen0",
      buckets = 4, key = "k")
    val changes = Seq((3L, 999L, "U", 1L), (101L, 1L, "I", 1L))
      .toDF("k", "v", "op", "seq")
    val next = Cdc.applyVersioned(
      sp.table("cdc_state_gen0"), changes, Seq("k"))
    // executedPlan, not sparkPlan: exchanges are inserted by
    // EnsureRequirements, which only runs for the executed plan
    val plan = next.queryExecution.executedPlan.toString
    // join children render with ':-'/'+-' prefixes at varying indents;
    // ' Exchange ' (spaces) counts the nodes without matching
    // ReusedExchange
    val exchanges = " Exchange ".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange (winners agg):\n$plan")
    // and the result is still right
    val got = Cdc.snapshotOf(next).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(3L) == 999L && got(101L) == 1L && got(1L) == 10L
      && got.size == 101)
    sp.sql("DROP TABLE IF EXISTS cdc_state_gen0")
  }

  test("property: applyBatch(a, diff(a, b)) reconstructs b exactly") {
    val sp = s
    import sp.implicits._
    val rnd = new scala.util.Random(13)
    (1 to 3).foreach { _ =>
      // random keyed snapshots with overlapping keys, null payloads,
      // and identical rows (which must NOT appear in the diff)
      def snap() = (1L to 60L).flatMap { k =>
        if (rnd.nextInt(4) == 0) None
        else Some((k, if (rnd.nextInt(6) == 0) null
          else s"v${rnd.nextInt(3)}", rnd.nextInt(5).toLong))
      }.toDF("k", "s", "n")
      val (a, b) = (snap(), snap())
      val log = Cdc.diff(a, b, Seq("k"))
      // no-op keys (identical payload) must be absent from the log
      val noop = a.intersect(b).select("k")
      assert(log.join(noop, "k").isEmpty)
      val rebuilt = Cdc.applyBatch(a, log, Seq("k"))
      assert(rebuilt.exceptAll(b).isEmpty && b.exceptAll(rebuilt).isEmpty,
        "apply(diff) did not reconstruct the target snapshot")
    }
  }

  test("scd2History: versions, delete-closed intervals, reinsert, current") {
    val sp = s
    import sp.implicits._
    val log = Seq(
      // key 1: U,U,D,I — two closed versions, a gap, then a current one
      (1L, 10L, "U", 1L), (1L, 11L, "U", 2L), (1L, 0L, "D", 3L),
      (1L, 12L, "I", 5L),
      // key 2: delete-last — history exists but nothing is current
      (2L, 20L, "I", 1L), (2L, 0L, "D", 4L),
      // key 3: single insert, current forever
      (3L, 30L, "I", 7L)
    ).toDF("k", "v", "op", "seq")
    val got = Cdc.scd2History(log, Seq("k"))
      .select("k", "v", "valid_from_seq", "valid_to_seq", "is_current")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
      .toSet
    assert(got == Set(
      (1L, 10L, 1L, 2L, false),   // closed by the next update
      (1L, 11L, 2L, 3L, false),   // closed by the delete
      (1L, 12L, 5L, -1L, true),   // reinsert after delete is current
      (2L, 20L, 1L, 4L, false),   // closed by the final delete…
      (3L, 30L, 7L, -1L, true)))  // …so key 2 has NO current row
  }

  test("scd2History plan: the one window is partitioned by the key") {
    val sp = s
    import sp.implicits._
    val log = Seq((1L, 10L, "U", 1L)).toDF("k", "v", "op", "seq")
    val plan = Cdc.scd2History(log, Seq("k")).queryExecution.sparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"partition-less window: ${w.simpleStringWithNodeId()}"))
  }

  test("plan: hash-agg winners, broadcast anti join, no full-outer SMJ") {
    val sp = s
    import sp.implicits._
    val base = Seq((1L, 10L)).toDF("k", "v")
    val changes = Seq((1L, 11L, "U", 1L)).toDF("k", "v", "op", "seq")
    val plan = Cdc.applyBatch(base, changes, Seq("k"))
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("Aggregate") || plan.contains("HashAggregate"), plan)
    // the 100x-scale claim: the base side anti-joins against a BROADCAST
    // winner set — never a full-outer SMJ that would shuffle the base
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan)
    assert(!plan.contains("FullOuter"), plan)
  }

  test("evolving CDC: an add-column upsert lands in the batch and versioned paths") {
    val sp = s
    import sp.implicits._
    val base = Seq((1L, 10L)).toDF("k", "v")
    val b = Seq((1L, 11L, "x", "U", 1L)).toDF("k", "v", "c", "op", "seq")
    val snap = Cdc.applyBatchEvolving(base, b, Seq("k"))
      .collect().map(_.toSeq)
    assert(snap.toSeq == Seq(Seq(1L, 11L, "x")))
    val st = Cdc.applyVersionedEvolving(Cdc.bootstrapState(base), b, Seq("k"))
    assert(st.columns.contains("c"))
  }
}

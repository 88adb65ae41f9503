package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.core.{Block, BlockGrid, BlockIndex, GridMeta}
import graft.streaming.StreamingStitch
import graft.stitch.Stitch

/** The streaming stitch must emit blocks incrementally — each as soon
  * as its neighborhood completes, regardless of tile arrival order —
  * and every emitted block must be bit-identical to the batch
  * `Stitch.stitchBlocks` on the same tiles.
  */
class StreamingStitchSpec extends SparkSpec {

  private val bs = Array(6, 6, 6); private val o = Array(2, 2, 2)
  private val g = Array(3, 2, 2)
  private val meta = GridMeta(bs.map(_.toLong * 3), bs, o, g, 1).copy(
    shape = Array(18L, 12L, 12L))

  private def tiles: Seq[Block] = for {
    x <- 0 until g(0); y <- 0 until g(1); z <- 0 until g(2)
  } yield Block(BlockIndex(x, y, z), 10, 10, 10, 1,
    Array.tabulate(1000)(i => (x * 131 + y * 37 + z * 11 + (i % 13)).toFloat * 0.25f))

  test("shuffled multi-batch arrival: emitted blocks equal batch stitch bit-for-bit") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val want = Stitch.stitchBlocks(BlockGrid.fromTiles(s, tiles, bs, o, g, 1))
      .ds.collect().map(b => ((b.bi.bx, b.bi.by, b.bi.bz), b.data.toSeq)).toMap

    val mem = MemoryStream[Block]
    val q = StreamingStitch.stitchStream(mem.toDS(), meta)
      .writeStream.format("memory").queryName("stream_stitch")
      .outputMode("append").start()
    try {
      // three shuffled slices, processed as separate micro-batches
      val shuffled = new scala.util.Random(5).shuffle(tiles)
      shuffled.grouped(5).foreach { slice =>
        mem.addData(slice: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = s.table("stream_stitch").as[Block].collect()
      .map(b => ((b.bi.bx, b.bi.by, b.bi.bz), b.data.toSeq)).toMap
    assert(got.keySet == want.keySet && got.keySet.size == 12)
    got.keys.foreach(k => assert(got(k) == want(k), s"block $k differs"))
  }

  test("blocks emit incrementally, before the full acquisition arrives") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[Block]
    val q = StreamingStitch.stitchStream(mem.toDS(), meta)
      .writeStream.format("memory").queryName("stream_stitch_inc")
      .outputMode("append").start()
    try {
      // feed tiles x <= 1 only: every x=0 block's neighborhood is then
      // complete (y and z span the whole 2-wide grid), every x>=1
      // block still waits on an x=2 tile
      val corner = tiles.filter(b => b.bi.bx <= 1)
      mem.addData(corner: _*)
      q.processAllAvailable()
      val emitted = s.table("stream_stitch_inc").as[Block].collect()
      assert(emitted.map(b => (b.bi.bx, b.bi.by, b.bi.bz)).toSet ==
        Set((0, 0, 0), (0, 0, 1), (0, 1, 0), (0, 1, 1)))
      // the rest of the acquisition completes every remaining block
      mem.addData(tiles.filterNot(b => b.bi.bx <= 1): _*)
      q.processAllAvailable()
      assert(s.table("stream_stitch_inc").count() == 12)
    } finally q.stop()
  }

  test("timeout emits PARTIAL blocks (missing pieces = zero), then late tiles are dropped") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // 4-wide grid: x=3 blocks receive NO pieces from the partial feed,
    // so they must stay silent through the stall and complete late
    val g4 = Array(4, 2, 2)
    val meta4 = GridMeta(Array(24L, 12L, 12L), bs, o, g4, 1)
    val tiles4: Seq[Block] = for {
      x <- 0 until 4; y <- 0 until 2; z <- 0 until 2
    } yield Block(BlockIndex(x, y, z), 10, 10, 10, 1,
      Array.tabulate(1000)(i => (x * 131 + y * 37 + z * 11 + (i % 13)).toFloat * 0.25f))
    val mem = MemoryStream[Block]
    val q = StreamingStitch.stitchStream(mem.toDS(), meta4, partialAfterMs = 5000L)
      .writeStream.format("memory").queryName("stream_stitch_to")
      // a real trigger interval: timeouts fire via paced no-data
      // batches instead of a busy loop (the deployment guidance in the
      // stitchStream scaladoc)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
      .outputMode("append").start()
    // processAllAvailable never returns while processing-time timeouts
    // are pending (the engine always has another no-data batch
    // scheduled), so this test synchronizes by polling the sink
    def awaitCount(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 120000
      while (s.table("stream_stitch_to").count() < n &&
        System.currentTimeMillis() < deadline) Thread.sleep(250)
      assert(s.table("stream_stitch_to").count() >= n,
        s"sink stuck below $n rows")
    }
    try {
      // feed only the x <= 1 tiles: the four x=0 blocks complete, the
      // x=1/x=2 blocks wait on x>=2 tiles that never come
      val fed = tiles4.filter(_.bi.bx <= 1)
      mem.addData(fed: _*)
      awaitCount(4)
      // expected: the batch kernels applied to the pieces that DID
      // arrive — absent neighbors contribute zero
      val want = fed.flatMap(b => Stitch.piecesOf(b, meta4))
        .groupBy(p => (p.tx, p.ty, p.tz))
        .map { case (k, ps) =>
          k -> Stitch.assembleBlock(BlockIndex(k._1, k._2, k._3),
            ps.sortBy(_.srcKey).iterator, meta4).data.toSeq
        }
      // the stall passes → no-data batches fire the timeouts: every
      // block with >=1 arrived piece emits (x<=1 complete-or-partial,
      // x=2 partial); x=3 blocks have no state and stay silent
      awaitCount(want.size.toLong)
      val got = s.table("stream_stitch_to").as[Block].collect()
        .map(b => ((b.bi.bx, b.bi.by, b.bi.bz), b.data.toSeq)).toMap
      assert(got.keySet == want.keySet, s"emitted ${got.keySet}")
      assert(got.keySet.forall(_._1 <= 2), "x=3 blocks must not emit without pieces")
      want.foreach { case (k, w) =>
        assert(got(k) == w, s"block $k differs from the batch kernels") }
      // the rest of the acquisition arrives LATE: emitted partials must
      // not change (tombstones drop the late pieces); x=3 completes
      // fully once its whole neighborhood is in
      mem.addData(tiles4.filter(_.bi.bx >= 2): _*)
      awaitCount(16)
      val after = s.table("stream_stitch_to").as[Block].collect()
        .map(b => ((b.bi.bx, b.bi.by, b.bi.bz), b.data.toSeq)).toMap
      assert(after.size == 16, s"expected all 16 blocks, got ${after.size}")
      want.foreach { case (k, w) =>
        assert(after(k) == w, s"late tiles changed emitted block $k") }
      // x=3 blocks completed normally: bit-identical to the full batch
      val full = Stitch.stitchBlocks(BlockGrid.fromTiles(s, tiles4, bs, o, g4, 1))
        .ds.collect().map(b => ((b.bi.bx, b.bi.by, b.bi.bz), b.data.toSeq)).toMap
      after.keys.filter(_._1 == 3).foreach { k =>
        assert(after(k) == full(k), s"completed block $k differs from batch") }
    } finally q.stop()
  }

  test("watermark-driven partials: stall is EVENT-time, deterministic, no wall clock") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val g4 = Array(4, 2, 2)
    val meta4 = GridMeta(Array(24L, 12L, 12L), bs, o, g4, 1)
    val tiles4: Seq[Block] = for {
      x <- 0 until 4; y <- 0 until 2; z <- 0 until 2
    } yield Block(BlockIndex(x, y, z), 10, 10, 10, 1,
      Array.tabulate(1000)(i => (x * 131 + y * 37 + z * 11 + (i % 13)).toFloat * 0.25f))
    def at(ms: Long)(b: Block) = (b, new java.sql.Timestamp(ms))
    val gap = 60000L // one MINUTE of acquisition-clock stall — wall time irrelevant
    val mem = MemoryStream[(Block, java.sql.Timestamp)]
    val q = StreamingStitch.stitchStreamByWatermark(mem.toDS(), meta4, stallGapMs = gap)
      .writeStream.format("memory").queryName("stream_stitch_wm")
      .outputMode("append").start()
    try {
      // acquisition reaches t=10s then stalls: x<=1 tiles only
      val fed = tiles4.filter(_.bi.bx <= 1)
      mem.addData(fed.map(at(10000L)): _*)
      q.processAllAvailable()
      assert(s.table("stream_stitch_wm").count() == 4) // x=0 complete
      val want = fed.flatMap(b => Stitch.piecesOf(b, meta4))
        .groupBy(p => (p.tx, p.ty, p.tz))
        .map { case (k, ps) =>
          k -> Stitch.assembleBlock(BlockIndex(k._1, k._2, k._3),
            ps.sortBy(_.srcKey).iterator, meta4).data.toSeq
        }
      // the acquisition clock jumps past the gap: tile (3,0,0) arrives
      // at t=10s+gap+1s, advancing the watermark — x=1 blocks (untouched
      // by it) time out and emit partial; x=2 blocks got a fresh piece
      mem.addData(at(10000L + gap + 1000L)(tiles4.find(_.bi == BlockIndex(3, 0, 0)).get))
      q.processAllAvailable()
      val got = s.table("stream_stitch_wm").as[Block].collect()
        .map(b => ((b.bi.bx, b.bi.by, b.bi.bz), b.data.toSeq)).toMap
      val partialKeys = want.keySet.filter(_._1 == 1)
      assert(got.keySet == want.keySet.filter(_._1 == 0) ++ partialKeys,
        s"emitted ${got.keySet}")
      partialKeys.foreach { k =>
        assert(got(k) == want(k), s"partial block $k differs from the batch kernels") }
      // the rest arrives LATE in processing order but with a FRESH event
      // time (rows at-or-behind the watermark would be dropped by the
      // engine's late-data filter before the operator): x=1 partials
      // stay immutable, x>=2 completes fully and matches the batch
      mem.addData(tiles4.filter(b => b.bi.bx >= 2 && b.bi != BlockIndex(3, 0, 0))
        .map(at(10000L + gap + 2000L)): _*)
      q.processAllAvailable()
      val after = s.table("stream_stitch_wm").as[Block].collect()
        .map(b => ((b.bi.bx, b.bi.by, b.bi.bz), b.data.toSeq)).toMap
      assert(after.size == 16, s"expected all 16 blocks, got ${after.size}")
      partialKeys.foreach { k =>
        assert(after(k) == want(k), s"late tiles changed emitted block $k") }
      val full = Stitch.stitchBlocks(BlockGrid.fromTiles(s, tiles4, bs, o, g4, 1))
        .ds.collect().map(b => ((b.bi.bx, b.bi.by, b.bi.bz), b.data.toSeq)).toMap
      after.keys.filter(_._1 >= 2).foreach { k =>
        assert(after(k) == full(k), s"completed block $k differs from batch") }
    } finally q.stop()
  }

  test("tombstones EVICT once the watermark passes maxTs + gap; replays within the gap stay idempotent") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def at(ms: Long)(b: Block) = (b, new java.sql.Timestamp(ms))
    val gap = 60000L
    val t0 = 10000L
    val mem = MemoryStream[(Block, java.sql.Timestamp)]
    val q = StreamingStitch.stitchStreamByWatermark(mem.toDS(), meta, stallGapMs = gap)
      .writeStream.format("memory").queryName("stream_stitch_evict")
      .outputMode("append").start()
    try {
      def stateRows: Long = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      // full acquisition in one batch: all 12 blocks emit, leaving 12 tombstones
      mem.addData(tiles.map(at(t0)): _*)
      q.processAllAvailable()
      assert(s.table("stream_stitch_evict").count() == 12)
      assert(stateRows == 12, s"expected 12 tombstones, state has $stateRows")
      // replay WITHIN the gap (watermark = t0, eviction due at t0+gap):
      // tombstones drop every piece, nothing re-emits, state unchanged
      mem.addData(tiles.map(at(t0)): _*)
      q.processAllAvailable()
      assert(s.table("stream_stitch_evict").count() == 12)
      assert(stateRows == 12, s"replay within the gap disturbed state: $stateRows")
      // the acquisition clock jumps past every tombstone's maxTs + gap;
      // the fresh-ts pieces themselves drop against still-live tombstones
      mem.addData(at(t0 + 2 * gap)(tiles.head))
      q.processAllAvailable()
      // a replay at the ORIGINAL timestamps is now entirely below the
      // watermark: the late filter drops every row before the operator,
      // the batch reaches the operator data-free, and every tombstone's
      // pending eviction timeout fires -> state drains to zero
      mem.addData(tiles.map(at(t0)): _*)
      q.processAllAvailable()
      assert(s.table("stream_stitch_evict").count() == 12,
        "eviction round re-emitted blocks")
      assert(stateRows == 0, s"tombstones survived watermark passage: $stateRows")
    } finally q.stop()
  }

  test("tiles replayed AFTER emission are dropped idempotently (at-least-once source)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[Block]
    val q = StreamingStitch.stitchStream(mem.toDS(), meta)
      .writeStream.format("memory").queryName("stream_stitch_replay")
      .outputMode("append").start()
    try {
      mem.addData(tiles: _*)
      q.processAllAvailable()
      assert(s.table("stream_stitch_replay").count() == 12)
      // full replay: every block already emitted -> tombstones drop all
      mem.addData(tiles: _*)
      q.processAllAvailable()
      assert(s.table("stream_stitch_replay").count() == 12)
    } finally q.stop()
  }

  test("tiles replayed BEFORE their block completes dedup against the buffer") {
    // an at-least-once source can re-deliver a tile while its targets
    // are still buffering; the pieces must dedup by srcKey, not crash
    // the completeness invariant, and the final output must still be
    // bit-identical to the batch stitch
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val want = Stitch.stitchBlocks(BlockGrid.fromTiles(s, tiles, bs, o, g, 1))
      .ds.collect().map(b => ((b.bi.bx, b.bi.by, b.bi.bz), b.data.toSeq)).toMap
    val mem = MemoryStream[Block]
    val q = StreamingStitch.stitchStream(mem.toDS(), meta)
      .writeStream.format("memory").queryName("stream_stitch_predup")
      .outputMode("append").start()
    try {
      val fed = tiles.filter(_.bi.bx <= 1) // x=1 blocks stay in-flight
      mem.addData(fed: _*)
      q.processAllAvailable()
      assert(s.table("stream_stitch_predup").count() == 4)
      mem.addData(fed: _*) // replay INTO the buffering phase
      q.processAllAvailable()
      assert(s.table("stream_stitch_predup").count() == 4,
        "pre-completion replay must not emit or crash")
      mem.addData(tiles.filterNot(_.bi.bx <= 1): _*)
      q.processAllAvailable()
      val got = s.table("stream_stitch_predup").as[Block].collect()
        .map(b => ((b.bi.bx, b.bi.by, b.bi.bz), b.data.toSeq)).toMap
      assert(got.keySet == want.keySet && got.size == 12)
      got.keys.foreach(k => assert(got(k) == want(k), s"block $k differs"))
    } finally q.stop()
  }

  test("invalid geometry fails fast, like the batch path") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[Block]
    intercept[IllegalArgumentException] {
      StreamingStitch.stitchStream(mem.toDS(), meta.copy(overlap = Array(0, 2, 2)))
    }
  }

  test("random geometries: streaming equals batch bit-for-bit under shuffled arrival") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val r = new scala.util.Random(12)
    (1 to 3).foreach { round =>
      def pick(lo: Int, hi: Int) = lo + r.nextInt(hi - lo + 1)
      val rbs = Array(pick(4, 9), pick(4, 9), pick(4, 9))
      val ro = rbs.map(b => pick(1, b / 2))
      val rg = Array(pick(1, 3), pick(1, 3), pick(1, 3))
      val rMeta = GridMeta(Array.tabulate(3)(i => rbs(i).toLong * rg(i)), rbs, ro, rg, 1)
      val cs = Array.tabulate(3)(i => rbs(i) + 2 * ro(i))
      val rTiles = for {
        x <- 0 until rg(0); y <- 0 until rg(1); z <- 0 until rg(2)
      } yield Block(BlockIndex(x, y, z), cs(0), cs(1), cs(2), 1,
        Array.tabulate(cs(0) * cs(1) * cs(2))(i =>
          (x * 7 + y * 5 + z * 3 + (i % 17)).toFloat * 0.5f))
      val want = Stitch.stitchBlocks(BlockGrid.fromTiles(s, rTiles, rbs, ro, rg, 1))
        .ds.collect().map(b => ((b.bi.bx, b.bi.by, b.bi.bz), b.data.toSeq)).toMap
      val mem = MemoryStream[Block]
      val q = StreamingStitch.stitchStream(mem.toDS(), rMeta)
        .writeStream.format("memory").queryName(s"stream_stitch_rand$round")
        .outputMode("append").start()
      try {
        r.shuffle(rTiles).grouped(4).foreach { slice =>
          mem.addData(slice: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      val got = s.table(s"stream_stitch_rand$round").as[Block].collect()
        .map(b => ((b.bi.bx, b.bi.by, b.bi.bz), b.data.toSeq)).toMap
      assert(got == want, s"geometry bs=${rbs.toSeq} o=${ro.toSeq} g=${rg.toSeq} differs")
    }
  }

  test("expectedPieces counts in-grid neighbors per axis") {
    // corner of a 3x2x2 grid: 2*2*2; interior x edge: 3*2*2
    assert(StreamingStitch.expectedPieces(0, 0, 0, g) == 8)
    assert(StreamingStitch.expectedPieces(1, 0, 1, g) == 12)
    assert(StreamingStitch.expectedPieces(2, 1, 1, g) == 8)
  }
}

package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core.{Block, BlockGrid, BlockIndex, GridMeta, HaloPiece}
import graft.stitch.Stitch

/** STREAMING stitch — the reference's core operator
  * (stitch.py:94-121) reformulated for an unbounded tile stream:
  * tiles arrive in ANY order (microscope acquisition order, transfer
  * order …), each is weighted and sliced into its ≤27 destination
  * pieces on arrival, and every output block is emitted EXACTLY when
  * its last halo piece arrives — no barrier, no waiting for the full
  * acquisition.
  *
  * Mechanics: the piece emission is the batch kernel
  * ([[Stitch.piecesOf]]), the per-target completeness count is a pure
  * function of the grid geometry (a target receives one piece from
  * each in-grid ±1 neighbor tile, itself included), and state per
  * in-flight block is its arrived pieces, removed at emission — peak
  * state is bounded by the arrival disorder (blocks whose neighborhood
  * is complete leave state immediately), not by the acquisition size.
  * Assembly sorts the buffered pieces into the srcKey order the batch
  * merge sums in ([[Stitch.assembleBlock]]), so every emitted block is
  * BIT-IDENTICAL to `Stitch.stitchBlocks` on the same tiles
  * (StreamingStitchSpec pins it over shuffled multi-batch arrival).
  *
  * A tile that never arrives leaves its 27 targets in state forever —
  * the natural semantics for "the stitch is as complete as the data";
  * a production deployment bounds that with a watermark on an
  * acquisition-time column and a timeout emitting partial blocks
  * (boundary=0 semantics), which this minimal core omits.
  */
object StreamingStitch {

  /** pieces buffered for one in-flight output block; replays BEFORE
    * emission dedup against the buffer by srcKey, and after emission the
    * state collapses to an empty TOMBSTONE (`done = true`) so replayed
    * tiles from an at-least-once source are dropped idempotently
    * instead of re-opening the block and emitting a duplicate. The
    * tombstone is a few bytes per emitted block; a deployment that
    * can't keep them pairs the stream with a watermark + timeout
    * eviction instead.
    */
  final case class PieceBuf(pieces: Array[HaloPiece], done: Boolean)

  private implicit val blockEnc: Encoder[Block] = BlockGrid.blockEncoder
  private implicit val bufEnc: Encoder[PieceBuf] = Encoders.product[PieceBuf]
  private implicit val keyEnc: Encoder[(Int, Int, Int)] =
    Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt, Encoders.scalaInt)

  /** number of pieces target block (x,y,z) must collect: one per
    * in-grid ±1 neighbor tile (itself included) per axis combination
    */
  private[graft] def expectedPieces(x: Int, y: Int, z: Int, g: Array[Int]): Int = {
    def axis(v: Int, n: Int): Int = 1 + (if (v > 0) 1 else 0) + (if (v < n - 1) 1 else 0)
    axis(x, g(0)) * axis(y, g(1)) * axis(z, g(2))
  }

  /** A buffered target's block: its pieces summed in the batch merge's
    * srcKey order, so a complete block is bit-identical to the batch one.
    */
  private def assemble(key: (Int, Int, Int), pieces: Array[HaloPiece], meta: GridMeta): Block =
    Stitch.assembleBlock(BlockIndex(key._1, key._2, key._3),
      pieces.sortBy(_.srcKey).iterator, meta)

  /** One arrival step of a target, shared by both stream variants: add
    * the `fresh` pieces to the `buffered` ones, keeping the first per
    * srcKey — a replay before the neighborhood completes re-delivers
    * identical pieces, so at-least-once delivery is safe in the buffering
    * phase too, not just after the tombstone — check the count against
    * [[expectedPieces]], and assemble once it is reached. Left = the
    * pieces still waiting, Right = the finished block.
    */
  private def arrive(key: (Int, Int, Int), buffered: Array[HaloPiece],
      fresh: Iterator[HaloPiece], meta: GridMeta): Either[Array[HaloPiece], Block] = {
    val arrived = (buffered ++ fresh).distinctBy(_.srcKey)
    val need = expectedPieces(key._1, key._2, key._3, meta.blockGrid)
    require(arrived.length <= need,
      s"block $key received ${arrived.length} distinct pieces, expected " +
        s"$need — tiles outside the declared grid geometry")
    if (arrived.length == need) Right(assemble(key, arrived, meta)) else Left(arrived)
  }

  /** Streaming stitch of `tiles` (extended blocksize+2·overlap chunks,
    * the stitchBlocks input contract) under `meta`. Append-mode output:
    * one finished Block per completed neighborhood.
    */
  def stitchStream(tiles: Dataset[Block], meta: GridMeta): Dataset[Block] =
    stitchStreamImpl(tiles, meta, None)

  /** [[stitchStream]] with BOUNDED WAITING: a block whose neighborhood
    * has not completed `partialAfterMs` after its last piece arrived is
    * emitted PARTIAL — missing pieces contribute zero, exactly the
    * `boundary=0.` semantics the batch path applies at the domain edge
    * (stitch.py:113-121), now applied at the data's edge. "The stitch
    * is as complete as the data, and it finishes." Pieces arriving
    * after the partial emission are dropped idempotently (the same
    * tombstone that makes replays safe), so an at-least-once source
    * cannot double-blend a timed-out block.
    *
    * Deployment note: pair this with a real trigger interval
    * (`.trigger(Trigger.ProcessingTime(...))`) — processing-time
    * timeouts fire in no-data micro-batches, and the default
    * as-fast-as-possible trigger turns an idle stalled stream into a
    * busy loop of empty state-store commits.
    */
  def stitchStream(tiles: Dataset[Block], meta: GridMeta,
      partialAfterMs: Long): Dataset[Block] = {
    require(partialAfterMs > 0, s"partialAfterMs must be > 0, got $partialAfterMs")
    stitchStreamImpl(tiles, meta, Some(partialAfterMs))
  }

  /** buffered pieces + the latest event time seen, for the
    * watermark-driven variant
    */
  final case class EtBuf(pieces: Array[HaloPiece], maxTs: Long, done: Boolean)
  private implicit val etBufEnc: Encoder[EtBuf] = Encoders.product[EtBuf]
  private implicit val pieceTsEnc: Encoder[(HaloPiece, java.sql.Timestamp)] =
    Encoders.tuple(HaloPiece.encoder, Encoders.TIMESTAMP)
  private implicit val blockTsEnc: Encoder[(Block, java.sql.Timestamp)] =
    Encoders.tuple(BlockGrid.blockEncoder, Encoders.TIMESTAMP)

  /** EVENT-TIME bounded waiting: tiles carry an acquisition timestamp,
    * the stream declares a watermark on it, and a block whose
    * neighborhood makes no EVENT-TIME progress for `stallGapMs` —
    * watermark passes its last piece's timestamp + gap — emits PARTIAL
    * (missing pieces = zero, the batch path's boundary=0 at the data's
    * edge). Unlike the processing-time variant this is deterministic:
    * "stalled" is a property of the DATA (acquisition clock), not of
    * how fast the cluster happens to run, so replays produce identical
    * output — and the spec needs no wall-clock sleeps. Late pieces
    * after a partial emission drop against the same tombstone that
    * makes replays idempotent — and the tombstones themselves EVICT
    * once the watermark passes their maxTs + gap (replays carry their
    * original timestamps, by then below the watermark, so the
    * event-time late filter drops them before the operator): total
    * state tracks the in-flight window, not the emitted history. A
    * piece with a FRESH timestamp above the watermark arriving after
    * eviction is not a replay but data violating the declared stall
    * contract; it re-opens the block.
    *
    * `watermarkDelay` is the out-of-orderness bound of the tile
    * TIMESTAMPS (Spark watermark semantics), e.g. "0 seconds" for an
    * in-order acquisition clock.
    */
  def stitchStreamByWatermark(tiles: Dataset[(Block, java.sql.Timestamp)],
      meta: GridMeta, stallGapMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[Block] = {
    Stitch.requireStitchable(meta)
    require(stallGapMs > 0, s"stallGapMs must be > 0, got $stallGapMs")
    // the watermark goes on the PIECE rows: a typed flatMap strips
    // column metadata, and EventTimeTimeout requires the watermarked
    // column to be visible at the stateful operator itself
    tiles
      .flatMap { case (b, ts) =>
        Stitch.piecesOf(b, meta).iterator.map(p => (p, ts))
      }
      .toDF("piece", "ts")
      .withWatermark("ts", watermarkDelay)
      .as[(HaloPiece, java.sql.Timestamp)]
      .groupByKey { case (p, _) => (p.tx, p.ty, p.tz) }
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (key: (Int, Int, Int), it: Iterator[(HaloPiece, java.sql.Timestamp)],
            state: GroupState[EtBuf]) => {
          // every emission (complete or partial) leaves a `done` tombstone
          // with an EVICTION timeout at maxTs + gap: once the watermark
          // passes it, any REPLAYED piece (ts <= maxTs < watermark) is
          // dropped by the event-time late filter before reaching this
          // operator, so the tombstone is redundant and state.remove()s —
          // long-running acquisitions hold state proportional to the
          // in-flight window, not to everything ever emitted
          // (StreamingStitchSpec pins state draining to zero).
          def tombstone(maxTs: Long): Unit = {
            state.update(EtBuf(Array.empty, maxTs, done = true))
            state.setTimeoutTimestamp(
              math.max(maxTs + stallGapMs, state.getCurrentWatermarkMs + 1))
          }
          if (state.hasTimedOut) {
            val buf = state.get
            if (buf.done) { state.remove(); Iterator.empty } // evict tombstone
            else {
              tombstone(buf.maxTs)
              if (buf.pieces.isEmpty) Iterator.empty
              else Iterator.single(assemble(key, buf.pieces, meta))
            }
          } else if (state.exists && state.get.done) {
            // late pieces after emission: drop idempotently — and RE-ARM
            // the eviction timeout: Spark clears a group's pending
            // timeout on every function invocation, so a tombstone that
            // just absorbed a replay would otherwise never evict
            tombstone(state.get.maxTs)
            Iterator.empty
          } else {
            val rows = it.toArray
            val prev = if (state.exists) state.get
              else EtBuf(Array.empty, Long.MinValue, done = false)
            val maxTs = (prev.maxTs +: rows.map(_._2.getTime)).max
            arrive(key, prev.pieces, rows.iterator.map(_._1), meta) match {
              case Right(block) =>
                tombstone(maxTs)
                Iterator.single(block)
              case Left(arrived) =>
                state.update(EtBuf(arrived, maxTs, done = false))
                // stall clock: event time of the LAST piece + gap (never
                // at-or-behind the watermark, which Spark rejects)
                state.setTimeoutTimestamp(
                  math.max(maxTs + stallGapMs, state.getCurrentWatermarkMs + 1))
                Iterator.empty
            }
          }
        })
  }

  private def stitchStreamImpl(tiles: Dataset[Block], meta: GridMeta,
      partialAfterMs: Option[Long]): Dataset[Block] = {
    Stitch.requireStitchable(meta) // same geometry contract as the batch
    // path — without it, o=0 would leave every block waiting forever
    // and 2o>bs would silently blend wrong
    val timeoutConf = if (partialAfterMs.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    tiles
      .flatMap(b => Stitch.piecesOf(b, meta))
      .groupByKey(p => (p.tx, p.ty, p.tz))
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(
        (key: (Int, Int, Int), it: Iterator[HaloPiece], state: GroupState[PieceBuf]) => {
          if (state.hasTimedOut) {
            // acquisition stalled for this block: emit what arrived
            // (absent pieces are zero — boundary=0 at the data's edge)
            val buf = state.get
            state.update(PieceBuf(Array.empty, done = true)) // tombstone
            if (buf.done || buf.pieces.isEmpty) Iterator.empty
            else Iterator.single(assemble(key, buf.pieces, meta))
          } else if (state.exists && state.get.done) {
            // replayed tiles after emission: drop idempotently
            Iterator.empty
          } else {
            // replays before completion are dropped by `arrive`, replays
            // after it hit the tombstone — at-least-once safe in both phases
            val buffered = if (state.exists) state.get.pieces else Array.empty[HaloPiece]
            arrive(key, buffered, it, meta) match {
              case Right(block) =>
                state.update(PieceBuf(Array.empty, done = true)) // tombstone
                Iterator.single(block)
              case Left(arrived) =>
                state.update(PieceBuf(arrived, done = false))
                // the clock restarts on each arrival: "stalled" means no
                // progress for the duration, not slow acquisition
                partialAfterMs.foreach(state.setTimeoutDuration)
                Iterator.empty
            }
          }
        })
  }
}

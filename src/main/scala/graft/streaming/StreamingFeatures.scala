package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming wrappers for the window-family operators
  * (SURVEY.md §2.8 — the reference is pure batch; these are the engine's
  * incremental form of the same semantics).
  *
  * Batch ↔ streaming mapping:
  *  - tumbling/sliding buckets (W1-W3)  → `window(ts, dur[, slide])`
  *  - gap sessionization (W9)           → `session_window(ts, gap)`
  *  - late data                         → `withWatermark`
  * State stays bounded by the watermark; aggregates are the same partial
  * `vecAvg`/avg/count aggregations the batch path uses, so a migration from
  * nightly batch to continuous ingest keeps semantics identical.
  */
object StreamingFeatures {

  /** Tumbling event-time aggregate: per (user, window) count + mean value. */
  def tumblingAgg(events: DataFrame, windowDur: String, watermark: String): DataFrame =
    events
      .withColumn("ts_t", col("ts").cast("timestamp"))
      .withWatermark("ts_t", watermark)
      .groupBy(window(col("ts_t"), windowDur), col("user_id"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_v"))
      .select(
        col("user_id"),
        unix_micros(col("window.start")).as("win_start_us"),
        col("n"),
        col("avg_v"))

  /** `tag` is an opaque per-row id (e.g. an event id) carried through the
    * stateful op unchanged, so callers never need a recovery join on
    * (user, ts) to re-attach row identity to the filled output. */
  final case class LocfEvent(user_id: Long, ts_us: Long, v: Option[Double], tag: Long = 0L)
  final case class LocfOut(user_id: Long, ts_us: Long, v_filled: Option[Double], tag: Long = 0L)
  final case class LocfCarry(lastTs: Long, lastV: Double)

  /** Stateful streaming LOCF — the incremental twin of
    * `graft.ops.Backfill.locf`, via `flatMapGroupsWithState` (§2.8 custom
    * state): per entity, the last observed value is carried in GroupState
    * across micro-batches, so a value observed in batch 1 backfills nulls
    * arriving in batch 7 with O(1) state per entity (never a rows buffer).
    *
    * Ordering contract: rows are sorted by ts WITHIN a batch (the per-call
    * buffer is exactly one micro-batch's rows for one key — bounded by the
    * trigger interval, never unbounded state); across batches the carry is
    * monotonic in ts (a GUARDED update — a value delivered late with an
    * older timestamp cannot regress the carry to stale data), i.e. exact
    * when the source delivers each entity's rows in event-time order
    * batch-over-batch (the common log-structured case). A late row's OWN
    * null is still filled from the newer carry — only exact for ordered
    * delivery; for out-of-order sources use [[statefulLocfBuffered]]
    * (watermark-delayed emission). Also callable on a batch Dataset (one
    * group call per key) where it equals the window-based LOCF exactly. */
  def statefulLocf(events: Dataset[LocfEvent]): Dataset[LocfOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, rows: Iterator[LocfEvent], state: GroupState[LocfCarry]) => {
          val (carry, out) = locfFold(key, state.getOption, rows.toVector)
          carry.foreach(state.update)
          out.iterator
        })
  }

  /** The LOCF step shared by [[statefulLocf]] and [[statefulLocfBuffered]]:
    * sorts `rows` by ts, fills each null from the carry and advances the
    * carry on each value. Guarded: a value older than the carry never
    * regresses it. Returns the final carry and one output per row. */
  private def locfFold(key: Long, carry0: Option[LocfCarry], rows: Vector[LocfEvent])
      : (Option[LocfCarry], Vector[LocfOut]) = {
    var carry = carry0
    val out = rows.sortBy(_.ts_us).map { e =>
      e.v match {
        case Some(value) =>
          if (carry.forall(_.lastTs <= e.ts_us)) carry = Some(LocfCarry(e.ts_us, value))
          LocfOut(key, e.ts_us, e.v, e.tag)
        case None => LocfOut(key, e.ts_us, carry.map(_.lastV), e.tag)
      }
    }
    (carry, out)
  }

  /** Tagged union row for [[statefulAsOf]]: build rows carry the payload
    * (`isBuild = true`), probe rows carry an opaque `tag` for identity. */
  final case class AsOfEvent(
      user_id: Long, ts_us: Long, isBuild: Boolean, v: Option[Double], tag: Long = 0L)
  final case class AsOfOut(
      user_id: Long, ts_us: Long, src_ts: Option[Long], v: Option[Double], tag: Long = 0L)
  /** v stays an Option: a build row with a null payload is still a MATCH
    * (batch asOf keeps it — max(struct(null)) is a non-null struct; the
    * DuckDB oracle's `max(value) GROUP BY ts` likewise keeps the row with
    * a NULL value), so the carry must advance to (ts, None), not skip. */
  final case class AsOfCarry(srcTs: Long, v: Option[Double])

  /** Stateful streaming AS-OF JOIN — the incremental twin of the flagship
    * `graft.ops.AsOfJoin.asOf`: per entity, GroupState holds ONLY the
    * latest build row (O(1) state, never a rows buffer); each probe emits
    * with the payload of the latest build at-or-before it. A build
    * observed in batch 1 serves probes arriving in batch 7.
    *
    * Semantics parity with the batch operator (same DuckDB ASOF oracle):
    * inclusive match (a build at the probe's exact ts is visible — builds
    * sort before probes at equal ts), duplicate build timestamps resolve
    * to the max payload (ascending payload sort ⇒ last write wins), and
    * zero temporal leakage by the same ordering argument. Ordering
    * contract across batches matches [[statefulLocf]] (event-time-ordered
    * delivery per entity; the log-structured case) — and the carry update
    * is GUARDED (round-4 advice): a build delivered in a later micro-batch
    * with an older (or equal-ts, lower-payload) timestamp can no longer
    * regress the carry to stale data, so at-least-once / mildly
    * out-of-order build delivery stays consistent with batch asOf's
    * latest-ts / max-payload semantics. Probes that arrive before a
    * late build still miss it — for full out-of-order correctness use
    * [[statefulAsOfBuffered]]. Callable on a batch Dataset (one group call
    * per key) where it equals `asOf` exactly. */
  def statefulAsOf(events: Dataset[AsOfEvent]): Dataset[AsOfOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, rows: Iterator[AsOfEvent], state: GroupState[AsOfCarry]) => {
          val (carry, out) = asOfFold(key, state.getOption, rows.toVector)
          carry.foreach(state.update)
          out.iterator
        })
  }

  /** The as-of step shared by [[statefulAsOf]] and [[statefulAsOfBuffered]]:
    * sorts `rows` by (ts, build-first, payload), advances the carry on each
    * build that is (ts, payload)-lexicographically ≥ it — the batch
    * operator's latest-ts / max-payload resolution order, so an older build
    * never regresses it — and emits each probe with the carry. Returns the
    * final carry and the probe outputs. */
  private def asOfFold(key: Long, carry0: Option[AsOfCarry], rows: Vector[AsOfEvent])
      : (Option[AsOfCarry], Vector[AsOfOut]) = {
    val neg = Double.NegativeInfinity
    var carry = carry0
    val out = Vector.newBuilder[AsOfOut]
    rows.sortBy(e => (e.ts_us, if (e.isBuild) 0 else 1, e.v.getOrElse(neg))).foreach { e =>
      if (!e.isBuild) out += AsOfOut(key, e.ts_us, carry.map(_.srcTs), carry.flatMap(_.v), e.tag)
      else if (carry.forall(c =>
          e.ts_us > c.srcTs || (e.ts_us == c.srcTs && e.v.getOrElse(neg) >= c.v.getOrElse(neg))))
        carry = Some(AsOfCarry(e.ts_us, e.v))
    }
    (carry, out.result())
  }

  /** Buffered state for the watermark-delayed ops: the carry plus rows not
    * yet final (event time still above the last flushed watermark). The
    * buffer holds at most one watermark-delay's worth of one entity's rows
    * — bounded by the delay the caller chooses, not by stream length. */
  final case class AsOfBufState(
      carry: Option[AsOfCarry], pending: Vector[AsOfEvent], flushedUs: Long)
  final case class LocfBufState(
      carry: Option[LocfCarry], pending: Vector[LocfEvent], flushedUs: Long)

  /** Watermark-delayed stateful AS-OF JOIN — the out-of-order-safe mode of
    * [[statefulAsOf]] (round-4 directive #6). Rows buffer in GroupState
    * until the event-time watermark passes them, then flush in exact
    * (ts, build-first, payload) order — so a build arriving in a LATER
    * micro-batch than a probe it should serve still joins, as long as it
    * arrives within `delay`. The trade: emission latency = watermark delay,
    * and per-entity state grows to one delay-window of rows (vs O(1) for
    * the fast path). Rows older than the watermark are dropped by the
    * ENGINE before this function runs (`FlatMapGroupsWithStateExec`
    * filters late input under EventTimeTimeout — standard too-late
    * semantics); the in-function too-late branch below is defensive
    * re-application of the same rule, kept so a Spark version that ever
    * delivers a late row still handles it consistently (builds may
    * advance the carry, probes are dropped). Streaming-only (event-time
    * timeout needs a watermark); on ordered sources output equals
    * [[statefulAsOf]] exactly. */
  def statefulAsOfBuffered(events: Dataset[AsOfEvent], delay: String): Dataset[AsOfOut] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", delay)
      .as[AsOfEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: Long, rows: Iterator[AsOfEvent], state: GroupState[AsOfBufState]) => {
          val st = state.getOption.getOrElse(AsOfBufState(None, Vector.empty, Long.MinValue))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // split arrivals: too-late rows (≤ already-flushed watermark) are
          // dropped as probes but may still advance the carry as builds
          val (tooLate, fresh) = rows.toVector.partition(_.ts_us <= st.flushedUs)
          val (lateCarry, _) = asOfFold(key, st.carry, tooLate.filter(_.isBuild))
          val (ripe, hold) = (st.pending ++ fresh).partition(_.ts_us <= wmUs)
          val (carry, out) = asOfFold(key, lateCarry, ripe)
          state.update(AsOfBufState(carry, hold, math.max(st.flushedUs, wmUs)))
          // wake this key as soon as the watermark passes its oldest held row
          if (hold.nonEmpty) state.setTimeoutTimestamp(hold.map(_.ts_us).min / 1000L + 1L)
          out.iterator
        })
  }

  /** Watermark-delayed stateful LOCF — out-of-order-safe twin of
    * [[statefulLocf]]; same buffering contract as [[statefulAsOfBuffered]]. */
  def statefulLocfBuffered(events: Dataset[LocfEvent], delay: String): Dataset[LocfOut] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", delay)
      .as[LocfEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: Long, rows: Iterator[LocfEvent], state: GroupState[LocfBufState]) => {
          val st = state.getOption.getOrElse(LocfBufState(None, Vector.empty, Long.MinValue))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (tooLate, fresh) = rows.toVector.partition(_.ts_us <= st.flushedUs)
          val (lateCarry, _) = locfFold(key, st.carry, tooLate.filter(_.v.isDefined))
          val (ripe, hold) = (st.pending ++ fresh).partition(_.ts_us <= wmUs)
          val (carry, out) = locfFold(key, lateCarry, ripe)
          state.update(LocfBufState(carry, hold, math.max(st.flushedUs, wmUs)))
          if (hold.nonEmpty) state.setTimeoutTimestamp(hold.map(_.ts_us).min / 1000L + 1L)
          out.iterator
        })
  }

  /** Gap-based session aggregate — streaming form of
    * `graft.ops.Sessionize` (new session when idle > gap). */
  def sessionAgg(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withColumn("ts_t", col("ts").cast("timestamp"))
      .withWatermark("ts_t", watermark)
      .groupBy(session_window(col("ts_t"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_rows"), avg(col("value")).as("avg_value"))
      .select(
        col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_rows"),
        col("avg_value"))
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events table. The reference
  * has no streaming at all (SURVEY §2.5) — this is the beyond-reference
  * extension for continuous ingestion pipelines.
  *
  * Design: the same column expressions serve batch and streaming
  * (Spark's unified model), so every streaming transform here has a
  * batch-equivalent query in graft.queries that the DuckDB oracle checks;
  * streaming-specific semantics (watermarks, state timeouts) are
  * covered by ScalaTest with a file source + memory sink.
  *
  * Scale notes: windowed aggregation state is keyed by (window,
  * event_type) — bounded by the watermark horizon; sessionization state
  * is per-user and evicted on timeout, so state size tracks active
  * users, not history.
  */
object EventStreams {

  /** Schema of the events stream with ts as a proper timestamp
    * (converted from the parquet nanos-long — see Tables.load). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Convert the batch events table (nanos-long ts) to the canonical
    * stream shape (timestamp ts, microsecond precision). */
  def canonicalEvents(raw: DataFrame): DataFrame =
    raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))

  /** Tumbling (or, with `slide`, hopping) window count/sum per event
    * type with late-data handling. Works on both batch and streaming
    * inputs. A hopping window assigns each event to
    * window/slide overlapping windows — state and output volume scale
    * by that factor, which is why slide defaults off. */
  def windowedStats(events: DataFrame, window: String = "1 hour",
      watermark: String = "2 hours",
      slide: Option[String] = None): DataFrame = {
    val in =
      if (events.isStreaming) events.withWatermark("ts", watermark)
      else events
    val win = slide match {
      case Some(s) =>
        org.apache.spark.sql.functions.window(col("ts"), window, s)
      case None =>
        org.apache.spark.sql.functions.window(col("ts"), window)
    }
    in.groupBy(win.as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("win.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
  }

  /** Streaming deduplication on an id column: drops repeats of
    * already-seen ids — including a retried event re-sent with a
    * refreshed timestamp (the at-least-once-producer case), via
    * `dropDuplicatesWithinWatermark` keyed on the id alone. State is
    * evicted past the watermark horizon (bounded by stream rate ×
    * horizon, not history).
    *
    * Horizon caveat: the streaming path only suppresses repeats that
    * arrive within the watermark horizon of each other (state for older
    * ids has been evicted — that is the price of bounded state); the
    * batch path dedups globally over the whole input. A batch backfill
    * therefore dedups MORE aggressively than the live stream when
    * repeats straddle the horizon. */
  def dedupStream(events: DataFrame, idCol: String,
      watermark: String = "1 hour"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(Seq(idCol))
    else events.dropDuplicates(Seq(idCol))

  /** Stream-stream self-join: pair each `click` event with ALL of the
    * same user's preceding `view`s within `horizon` (multi-touch
    * attribution — one output row per qualifying view; see
    * [[lastTouchAttribution]] for the nearest-only variant). Both sides
    * are watermarked and the join condition bounds the time range, so
    * each side's state store holds only `horizon`+watermark of data
    * (bounded state — the property that keeps this runnable forever at
    * 100 TB/day ingest). Works identically on batch input (same join,
    * no watermark); streaming==batch is the correctness gate. */
  def clickAttribution(events: DataFrame,
      horizon: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val isStream = events.isStreaming
    def side(tpe: String, prefix: String): DataFrame = {
      val f = events.filter(col("event_type") === tpe)
        .select(col("event_id").as(s"${prefix}_id"),
          col("user_id").as(s"${prefix}_user"),
          col("ts").as(s"${prefix}_ts"))
      if (isStream) f.withWatermark(s"${prefix}_ts", watermark) else f
    }
    side("click", "click").join(side("view", "view"),
      col("click_user") === col("view_user") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $horizon"))
  }

  /** Last-touch attribution: for each click, the SINGLE nearest
    * preceding view within `horizon` (ties on view_ts broken by the
    * highest view_id — fully deterministic). Built on
    * [[clickAttribution]]'s bounded all-pairs join plus a per-click
    * top-1; the candidate set per click is horizon-bounded, so the
    * top-1 window shuffles only qualifying pairs, not raw events.
    * Batch path — a streaming caller keeps the all-pairs join's
    * bounded state and resolves last-touch downstream of the sink
    * (a post-join top-1 would need a second stateful operator whose
    * results could retract on late views). */
  def lastTouchAttribution(events: DataFrame,
      horizon: String = "30 minutes"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("click_id"))
      .orderBy(col("view_ts").desc, col("view_id").desc)
    clickAttribution(events, horizon)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("click_id"), col("click_user").as("user_id"),
        col("view_id"), col("view_ts"))
  }

  /** One user event (typed view for stateful processing). */
  case class UserEvent(user_id: Long, ts: java.sql.Timestamp,
      event_type: String, value: Double)

  /** A closed user session. */
  case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  /** Session accumulator; start/end are epoch MICROSECONDS — Timestamp
    * round-trips through millis (`getTime`) would silently truncate the
    * testdata's microsecond precision. Public: the streaming state
    * store's generated encoder code lives outside this object and
    * cannot reference a private class. */
  case class SessionState(start: Long, end: Long, n: Long, total: Double)

  case class GroupItem(group: String, item: String)
  case class GroupItemTs(group: String, item: String,
      ts: java.sql.Timestamp)
  case class GroupCandidates(group: String, candidates: Array[String])

  /** [[cmsSketchStream]] output: the group's serialized Count-Min
    * sketch after this micro-batch, plus its total item count. */
  case class GroupSketch(group: String, sketch: Array[Byte], n: Long)

  /** [[heavyHitterCandidatesExpiring]] output: `evicted = true` marks
    * the group's FINAL summary (emitted once when its state expires —
    * the candidates are the last-known MG survivors, not a tombstone);
    * `false` is a regular per-batch refresh. */
  case class GroupSummary(group: String, candidates: Array[String],
      evicted: Boolean)

  /** Streaming heavy-hitter candidates per group: one Misra-Gries
    * summary ([[graft.functions.MGBuffer]] — the SAME sketch and wire
    * format as the batch [[graft.functions.MisraGriesKeys]] aggregate)
    * per key in the state store, updated each micro-batch. State per
    * key is <= k entries REGARDLESS of stream length — the streaming
    * analogue of "nothing token-sized ever shuffles": nothing
    * item-sized is ever stored. The MG containment guarantee holds
    * across batch boundaries (the summary after n batches equals a
    * batch MG run over the concatenated stream), so each emitted
    * candidate list contains every item with frequency > N/(k+1) of
    * the stream so far; exact counts come from the same two-pass
    * recount as the batch path. Update output mode: each micro-batch
    * re-emits the refreshed list per touched group.
    *
    * State is bounded PER GROUP but never expires, so this variant is
    * for batch inputs and bounded group domains; a production stream
    * with an unbounded group domain uses
    * [[heavyHitterCandidatesExpiring]], which evicts idle groups on an
    * event-time timeout. */
  /** Streaming Count-Min sketch per group: state is ONE depth×width
    * cell array per group ([[graft.functions.CMSBuffer]] — the SAME
    * sketch and wire format as the batch aggregate). Because CMS
    * merge is exact cell-wise addition, the streaming sketch after
    * ANY number of micro-batches is BYTE-IDENTICAL to the batch
    * sketch over the same rows (spec-gated) — the strongest
    * streaming==batch claim in the sketch family (MG's summary is
    * arrival-order-sensitive; CMS is not). Each batch re-emits the
    * group's current sketch; downstream probes any key against the
    * latest bytes. Per-group state is a fixed 8·depth·width bytes;
    * for an unbounded group domain compose event-time eviction as in
    * [[heavyHitterCandidatesExpiring]]. */
  def cmsSketchStream(spark: SparkSession, items: Dataset[GroupItem],
      depth: Int, width: Int): Dataset[GroupSketch] = {
    import spark.implicits._
    import graft.functions.CMSBuffer
    items.groupByKey(_.group)
      .mapGroupsWithState[Array[Byte], GroupSketch](
        GroupStateTimeout.NoTimeout) {
        (group: String, rows: Iterator[GroupItem],
         state: GroupState[Array[Byte]]) =>
          val buf = state.getOption
            .map(CMSBuffer.fromBytes(_, depth, width))
            .getOrElse(new CMSBuffer(depth, width))
          rows.foreach(r => buf.add(
            r.item.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          val bytes = CMSBuffer.toBytes(buf)
          state.update(bytes)
          GroupSketch(group, bytes, buf.n)
      }
  }

  def heavyHitterCandidates(spark: SparkSession, items: Dataset[GroupItem],
      k: Int): Dataset[GroupCandidates] = {
    import spark.implicits._
    import graft.functions.MGBuffer
    items.groupByKey(_.group)
      .mapGroupsWithState[Array[Byte], GroupCandidates](
        GroupStateTimeout.NoTimeout) {
        (group: String, rows: Iterator[GroupItem],
         state: GroupState[Array[Byte]]) =>
          val buf = state.getOption.map(MGBuffer.fromBytes(_, k))
            .getOrElse(new MGBuffer(k))
          rows.foreach(r => buf.add(r.item))
          state.update(MGBuffer.toBytes(buf))
          GroupCandidates(group, buf.effective.map(_._1).toArray.sorted)
      }
  }

  /** [[heavyHitterCandidates]] with idle-group eviction — the
    * production streaming shape: per-group state is <= k entries AND
    * the group domain itself is bounded (active groups only), the same
    * two-bound discipline as [[sessionize]]. A group idle for `idleMs`
    * of EVENT time (watermark passes its last item + idleMs) emits one
    * FINAL summary — its last-known candidates decoded from state
    * before removal, marked `evicted = true`, so a consumer gets the
    * group's closing heavy-hitter set without replaying updates — and
    * its state is removed; if the
    * group reappears later its sketch restarts, so the containment
    * guarantee is scoped to each contiguous active period — the price
    * of bounded state, exactly like dedupStream's horizon caveat.
    * Callers must set `withWatermark("ts", ...)` on the input (Spark
    * requires a watermark for event-time timeouts). */
  def heavyHitterCandidatesExpiring(spark: SparkSession,
      items: Dataset[GroupItemTs], k: Int,
      idleMs: Long = 60 * 60 * 1000L): Dataset[GroupSummary] = {
    import spark.implicits._
    import graft.functions.MGBuffer
    items.groupByKey(_.group)
      .mapGroupsWithState[Array[Byte], GroupSummary](
        GroupStateTimeout.EventTimeTimeout) {
        (group: String, rows: Iterator[GroupItemTs],
         state: GroupState[Array[Byte]]) =>
          if (state.hasTimedOut) {
            val last = state.getOption.map(MGBuffer.fromBytes(_, k))
              .map(_.effective.map(_._1).toArray.sorted)
              .getOrElse(Array.empty[String])
            state.remove()
            GroupSummary(group, last, evicted = true)
          } else {
            val buf = state.getOption.map(MGBuffer.fromBytes(_, k))
              .getOrElse(new MGBuffer(k))
            var lastMs = Long.MinValue
            rows.foreach { r =>
              buf.add(r.item)
              val t = r.ts.getTime
              if (t > lastMs) lastMs = t
            }
            state.update(MGBuffer.toBytes(buf))
            // idle deadline in event time; a watermark that has already
            // passed it would make setTimeoutTimestamp throw, so clamp
            // to just past the current watermark (fires next batch)
            state.setTimeoutTimestamp(
              math.max(lastMs + idleMs, state.getCurrentWatermarkMs() + 1))
            GroupSummary(group, buf.effective.map(_._1).toArray.sorted,
              evicted = false)
          }
      }
  }

  /** Per-user funnel progress: how many ordered steps are reached. */
  case class FunnelProgress(user_id: Long, stage: Int)

  /** Funnel accumulator; epoch micros, Long.MaxValue = step unset. */
  case class FunnelState(t1: Long, t2: Long, t3: Long)

  /** Streaming ordered-funnel tracker (view → click → purchase, each
    * step within `windowMs` of the previous): per-user state is three
    * timestamps, each update emits the user's currently-reached stage
    * (Update mode). Mirrors `q_funnel`'s batch conditional-min
    * cascade exactly for in-order delivery (each micro-batch is
    * sorted in-handler, so the first eligible event per step IS the
    * minimum); a cross-batch straggler that would have changed an
    * earlier step's minimum is the usual bounded-state horizon
    * caveat — the batch query is the backfill that settles it.
    * Streaming == batch equivalence is EventStreamsSpec-gated.
    *
    * State eviction (streaming): a user is evicted once the watermark
    * passes the point where their funnel can no longer advance — the
    * last reached step + `windowMs` (a later click/purchase would be
    * outside the step window), or immediately after completion (t3
    * set) or for users with no reached step. The eviction emission
    * repeats the user's final stage, so downstream consumers keyed on
    * user_id see an idempotent last value. Streaming callers must set
    * `withWatermark("ts", ...)`; in batch mode timeouts never fire and
    * state lives for the single batch only. */
  def funnelStages(spark: SparkSession, events: Dataset[UserEvent],
      windowMs: Long = 24 * 3600 * 1000L): Dataset[FunnelProgress] = {
    import spark.implicits._
    val wUs = windowMs * 1000L
    val Unset = Long.MaxValue
    val streaming = events.isStreaming
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelProgress](timeoutConf) {
        (uid: Long, rows: Iterator[UserEvent],
         state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            FunnelProgress(uid,
              Seq(s.t1, s.t2, s.t3).count(_ != Unset))
          } else {
            var s = state.getOption.getOrElse(
              FunnelState(Unset, Unset, Unset))
            rows.toSeq.sortBy(e => (toMicros(e.ts), e.event_type))
              .foreach { e =>
                val t = toMicros(e.ts)
                e.event_type match {
                  case "view" if s.t1 == Unset =>
                    s = s.copy(t1 = t)
                  case "click" if s.t1 != Unset && s.t2 == Unset &&
                      t > s.t1 && t <= s.t1 + wUs =>
                    s = s.copy(t2 = t)
                  case "purchase" if s.t2 != Unset && s.t3 == Unset &&
                      t > s.t2 && t <= s.t2 + wUs =>
                    s = s.copy(t3 = t)
                  case _ => ()
                }
              }
            state.update(s)
            if (streaming) {
              // deadline: last reached step + window, clamped past the
              // current watermark (setTimeoutTimestamp throws on an
              // already-passed deadline); complete or never-started
              // funnels cannot advance, so they expire next batch
              val lastStepUs =
                Seq(s.t1, s.t2, s.t3).filter(_ != Unset)
                  .foldLeft(Long.MinValue)(math.max)
              val deadlineMs =
                if (s.t3 != Unset || lastStepUs == Long.MinValue)
                  state.getCurrentWatermarkMs() + 1
                else math.max(math.floorDiv(lastStepUs, 1000L) + windowMs,
                  state.getCurrentWatermarkMs() + 1)
              state.setTimeoutTimestamp(deadlineMs)
            }
            FunnelProgress(uid,
              Seq(s.t1, s.t2, s.t3).count(_ != Unset))
          }
      }
  }

  private def toMicros(ts: java.sql.Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  private def fromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Gap-based sessionization via flatMapGroupsWithState: a session
    * closes when a user is idle for `gapMs`. Emits closed sessions
    * (Append mode).
    *
    * State eviction: on a streaming input the event-time timeout fires
    * once the watermark passes a user's last event + gap — the final
    * session is then emitted and the user's state REMOVED, so state
    * size tracks currently-active users. Callers must set
    * `withWatermark("ts", ...)` on a streaming input (Spark requires it
    * for event-time timeouts; timeouts never fire in batch mode, where
    * the final open session simply stays unemitted). */
  def sessionize(spark: SparkSession, events: Dataset[UserEvent],
      gapMs: Long = 30 * 60 * 1000L): Dataset[UserSession] = {
    import spark.implicits._
    val gapUs = gapMs * 1000L
    // captured driver-side: the Dataset itself must not be referenced
    // inside the state function (it runs on executors)
    val streaming = events.isStreaming
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append, timeoutConf) {
        (userId: Long, rows: Iterator[UserEvent],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last event + gap: close and evict
            val out = state.getOption.map(s => UserSession(userId,
              fromMicros(s.start), fromMicros(s.end), s.n, s.total))
            state.remove()
            out.iterator
          } else {
            // Sort this micro-batch's events; emit sessions closed by
            // gaps.
            val sorted = rows.toSeq.sortBy(e =>
              (toMicros(e.ts), e.event_type))
            var cur = state.getOption
            val closed = scala.collection.mutable.ArrayBuffer[UserSession]()
            sorted.foreach { e =>
              val t = toMicros(e.ts)
              cur match {
                case Some(s) if t - s.end <= gapUs =>
                  cur = Some(SessionState(s.start, t, s.n + 1,
                    s.total + e.value))
                case Some(s) =>
                  closed += UserSession(userId, fromMicros(s.start),
                    fromMicros(s.end), s.n, s.total)
                  cur = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (streaming) {
                state.setTimeoutTimestamp(
                  math.floorDiv(s.end, 1000L) + gapMs)
              }
            }
            closed.iterator
          }
      }
  }

  /** Batch reference implementation of gap sessionization (window
    * functions) — used to cross-check the stateful streaming path and
    * as the scalable batch backfill: one shuffle on user_id, one sort
    * within partitions. */
  def sessionizeBatch(events: DataFrame,
      gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val marked = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) >
            gapMs * 1000L, 1L)
          .otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked.groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        // decimal-routed: exact and shuffle-order-independent
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total_value"))
      .drop("session_idx")
  }
}

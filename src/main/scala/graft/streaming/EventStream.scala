package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured Streaming operators over the `events` stream shape
  * (user_id BIGINT, event_id BIGINT, event_type STRING, tus/ts, ...).
  *
  * The reference is pure batch — this module is the engine's streaming
  * surface for the same analytics: `sessionWindowStats` is the
  * streaming-capable twin of `sessionize`, `clickAttribution` the
  * stream-stream interval join, and the `flatMapGroupsWithState`
  * operators (`retentionCellUpdates`, `transitionCellUpdates`,
  * `streamingAsofWithin`) keep per-user state whose updates reproduce
  * the batch contract queries.
  *
  * Scale notes: every stateful operator partitions by user_id — state
  * is sharded across executors and survives through the checkpoint
  * location; each operator's doc states its per-user state bound.
  */
object EventStream {

  /** Gap-based sessionization (batch form): a new session starts when a
    * user's inter-event gap exceeds `gapMicros`. Input needs
    * (user_id, event_id, tus) with tus = event time in epoch micros;
    * output one row per session: (user_id, session_id, n_events,
    * start_us, end_us). Window functions partition by user, so state is
    * per-user and shuffles once.
    *
    * SKEW at scale: a hot key (bot account) lands its ENTIRE history in
    * one task here — the lag/running-sum window cannot be split. The
    * 100 TB path for skewed corpora is `sessionWindowStats`: the native
    * session_window is an AGGREGATE, so map-side partial merging trims
    * hot keys before the shuffle and AQE can split what remains; this
    * window formulation stays the contract query (its running session
    * ids are SQL-mirrorable) at gate scale. */
  def sessionize(events: DataFrame, gapMicros: Long = 1800L * 1000 * 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
    events
      .withColumn("prev", lag(col("tus"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev").isNull || col("tus") - col("prev") > gapMicros, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"), min("tus").as("start_us"), max("tus").as("end_us"))
  }

  /** Native session-window aggregation — the streaming-capable twin of
    * `sessionize`: `session_window(ts, gap)` merges events of a user
    * into sessions whose gaps are < `gapSeconds`, works identically on
    * batch and streaming frames (add a watermark upstream for bounded
    * streaming state), and at scale is ONE gap-merging aggregate instead
    * of the window-function lag/running-sum pair.
    *
    * Boundary semantics: an event exactly `gap` after its predecessor
    * MERGES into the session (session windows close at last+gap
    * INCLUSIVE — verified against Spark 4.1, and pinned by spec) — the
    * same `> gap`-starts-new-session rule as `sessionize`, and the
    * oracle mirrors it.
    * Input needs (user_id, tus epoch-micros).
    * Output: (user_id, start_us, end_us, n_events), end = last event. */
  def sessionWindowStats(events: DataFrame, gapSeconds: Long = 1800,
                         watermark: Option[String] = None): DataFrame = {
    val withTs = events.withColumn("ts", expr("timestamp_micros(tus)"))
    // streaming session windows need the watermark ON THIS ts column
    // (a watermark on a column dropped upstream does not carry over)
    val src = watermark.fold(withTs)(w => withTs.withWatermark("ts", w))
    src
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapSeconds seconds"))
      .agg(count(lit(1)).as("n_events"), min("tus").as("start_us"), max("tus").as("end_us"))
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
  }

  /** Stream-stream interval join: attribute each click to the view(s) of
    * the same user within the preceding `horizonSec` seconds. Both sides
    * carry watermarks, and the join condition bounds the event-time gap
    * in BOTH directions, so Spark can evict buffered state once the
    * watermark passes the horizon — state is O(events per horizon), not
    * O(stream). Inputs need (user_id, ts, event_id) each; output one row
    * per qualifying (view, click) pair.
    *
    * This is the streaming twin of the batch as-of join (`q_asof_join`):
    * the batch form picks only the latest prior view, which streaming
    * can't do with bounded state (a later view can always arrive before
    * the watermark closes), so the streaming contract is the windowed
    * pair set — downstream dedup picks winners once the window closes. */
  def clickAttribution(views: DataFrame, clicks: DataFrame,
                       horizonSec: Long = 3600, watermark: String = "2 hours"): DataFrame = {
    val v = views.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id").as("c_user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    v.join(c,
      col("user_id") === col("c_user_id") &&
        col("click_ts") > col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $horizonSec SECONDS"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  case class HourEvent(user_id: Long, hour: Long)
  case class UserHours(cohort: Long, hours: Seq[Long])
  case class RetentionDelta(cohort_hour: Long, offset_hours: Long, delta: Int)

  /** Streaming twin of `analytics.Analytics.retention`: per-user cohort
    * (first-seen hour) and activity-hour state, emitting DELTAS of
    * retention-matrix cells — downstream `sum(delta)` grouped by
    * (cohort_hour, offset_hours) reproduces the batch matrix at every
    * trigger. Late data is handled by RETRACTION: an event earlier than
    * the user's known cohort rebases every one of their cells (−1 the
    * old, +1 the rebased) — the batch semantics (cohort = global min)
    * preserved exactly on an unbounded stream, which a watermark-only
    * formulation cannot do (dropping the late event would freeze a
    * wrong cohort).
    *
    * State per user is O(distinct active hours); production bounds it
    * by capping the matrix horizon (drop hours > cohort + H inside the
    * update — cells past the horizon are never reported anyway).
    * Update output mode; state shards by user_id like every stateful
    * per-user operator here. */
  def retentionCellUpdates(events: Dataset[HourEvent]): Dataset[RetentionDelta] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (_: Long, it: Iterator[HourEvent], state: GroupState[UserHours]) =>
          val prev = state.getOption
          val oldHours = prev.map(_.hours.toSet).getOrElse(Set.empty[Long])
          val newHours = oldHours ++ it.map(_.hour)
          if (newHours.isEmpty) Iterator.empty
          else {
            val cohort = newHours.min
            state.update(UserHours(cohort, newHours.toSeq))
            val oldCells = prev match {
              case Some(p) => oldHours.map(h => (p.cohort, h - p.cohort))
              case None => Set.empty[(Long, Long)]
            }
            val newCells = newHours.map(h => (cohort, h - cohort))
            (oldCells -- newCells).iterator.map { case (c, o) => RetentionDelta(c, o, -1) } ++
              (newCells -- oldCells).iterator.map { case (c, o) => RetentionDelta(c, o, 1) }
          }
      }
  }

  case class SeqEvent(user_id: Long, event_id: Long, event_type: String, tus: Long)
  case class UserSeq(events: Seq[SeqEvent])
  case class TransitionDelta(prev_type: String, next_type: String, delta: Long)

  /** Streaming twin of `analytics.Analytics.transitionMatrix`: per-user
    * ordered-sequence state emitting DELTAS of (prev_type, next_type)
    * transition cells — downstream `sum(delta)` grouped by the pair
    * reproduces the batch matrix's `n_transitions` at every trigger
    * (`prob` derives from the counts exactly as in batch). Late data is
    * handled by RETRACTION, the retentionCellUpdates discipline: an
    * event landing in the MIDDLE of a user's seen sequence retracts the
    * (pred, succ) pair it splits (−1) and asserts the two pairs it
    * creates (+1 each) — the batch semantics (global (tus, event_id)
    * order per user) preserved exactly on an unbounded stream, which a
    * drop-late watermark cannot do. The trigger's group iterator is NOT
    * time-ordered (the DebounceStream trap) — incoming events merge
    * into the state and the whole sequence re-sorts by (tus, event_id)
    * before pairs are read.
    *
    * State per user is its whole event sequence — the price of exact
    * insert-anywhere retraction, unbounded. Update output mode; state
    * shards by user_id. */
  def transitionCellUpdates(events: Dataset[SeqEvent]): Dataset[TransitionDelta] = {
    val spark = events.sparkSession
    import spark.implicits._
    def pairCounts(s: Seq[SeqEvent]): Map[(String, String), Long] =
      if (s.length < 2) Map.empty
      else s.zip(s.tail).groupMapReduce(
        p => (p._1.event_type, p._2.event_type))(_ => 1L)(_ + _)
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (_: Long, it: Iterator[SeqEvent], state: GroupState[UserSeq]) =>
          val prev = state.getOption.map(_.events).getOrElse(Seq.empty)
          val merged = (prev ++ it).sortBy(e => (e.tus, e.event_id))
          state.update(UserSeq(merged))
          val before = pairCounts(prev)
          val after = pairCounts(merged)
          (before.keySet ++ after.keySet).iterator.flatMap { k =>
            val d = after.getOrElse(k, 0L) - before.getOrElse(k, 0L)
            if (d != 0L) Iterator(TransitionDelta(k._1, k._2, d)) else Iterator.empty
          }
      }
  }

  case class AsofEvent(user_id: Long, event_id: Long, event_type: String, tus: Long)
  case class AsofState(vLatest: Long, vPrevDistinct: Long, seen: Boolean)
  case class AsofMatch(user_id: Long, event_id: Long, click_us: Long,
                       recent_view_us: Option[Long])

  /** Streaming twin of `ops/AsofJoin.lastBeforeWithin` — each LEFT event
    * (`leftType`, e.g. click) emits once, enriched with the time of the
    * latest RIGHT event (`rightType`, e.g. view) STRICTLY before it and
    * within `toleranceMicros`; staler or absent matches emit null,
    * exactly the batch operator's attribution-horizon semantics
    * (spec-pinned ≡ batch on event-time-ordered triggers, the
    * DebounceStream contract — intra-trigger order is free: the group
    * sorts by (tus, event_id) before the walk, so a right event landing
    * in the same trigger as its left still matches).
    *
    * State per user is TWO longs — the latest right time and the
    * latest strictly-earlier distinct right time (the tie case: a right
    * event AT a left's exact time never matches, so the walk falls back
    * one distinct value) — not the O(events-per-horizon) pair buffer
    * the stream-stream interval join (`clickAttribution`) must hold,
    * and with no watermark coupling: the FIRST right beyond any gap
    * still matches, which an evicting join cannot promise. The price is
    * the ordered-trigger contract on LATE left events (a left arriving
    * after a later-time right was folded into two-long state cannot
    * reconstruct its own horizon — the interval join is the late-data
    * shape). Update mode; state shards by user_id. */
  def streamingAsofWithin(events: Dataset[AsofEvent], leftType: String,
                          rightType: String,
                          toleranceMicros: Long): Dataset[AsofMatch] = {
    require(toleranceMicros >= 0L, s"need tolerance >= 0, got $toleranceMicros")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[AsofEvent], state: GroupState[AsofState]) =>
          var st = state.getOption.getOrElse(AsofState(Long.MinValue, Long.MinValue, seen = false))
          val out = Seq.newBuilder[AsofMatch]
          // the trigger's iterator is NOT time-ordered (DebounceStream trap)
          for (e <- it.toSeq.sortBy(e => (e.tus, e.event_id))) {
            if (e.event_type == rightType) {
              if (!st.seen || e.tus > st.vLatest)
                st = AsofState(e.tus,
                  if (st.seen) st.vLatest else Long.MinValue, seen = true)
              // e.tus == vLatest: a duplicate time changes nothing
            } else if (e.event_type == leftType) {
              val cand =
                if (st.seen && st.vLatest < e.tus) Some(st.vLatest)
                else if (st.vPrevDistinct != Long.MinValue) Some(st.vPrevDistinct)
                else None
              // c < e.tus re-checked on the FALLBACK arm too: an
              // out-of-contract late left (e.tus ≤ vPrevDistinct) must
              // fail safe to null, never emit a match from the left's
              // FUTURE (e.tus − c would be negative and pass the
              // tolerance bound alone)
              out += AsofMatch(user, e.event_id, e.tus,
                cand.filter(c => c < e.tus && e.tus - c <= toleranceMicros))
            }
          }
          state.update(st)
          out.result().iterator
      }
  }
}

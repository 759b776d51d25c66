package graft.analytics

import graft.Cached
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch analytics over the events shape (user_id, event_type, tus
  * epoch-micros) — funnel and cohort retention. These are BATCH
  * operators (funnel folds to a K-row driver result; retention joins a
  * distinct activity grid), so they live here rather than in
  * `graft.streaming`: the retention matrix's streaming twin is
  * `EventStream.retentionCellUpdates`, which keeps per-user state and
  * works on unbounded streams.
  */
object Analytics {

  /** Event debounce — telemetry burst-dedup: a client retry storm, a
    * double-click, or an at-least-once producer emits the same logical
    * event many times in quick succession; this keeps the FIRST event
    * of each burst chain per (user, event_type) and drops the rest. A
    * burst chain is the sessionize grouping at gap = `gapUs`: an event
    * within `gapUs` of its PREDECESSOR joins the predecessor's chain,
    * so a storm ticking every second collapses to exactly one kept
    * event no matter how long it lasts. (The alternative "within gap of
    * the last KEPT event" rule would re-admit one event per gap inside
    * a long storm — deliberately not the semantics here: chain
    * suppression is the debounce contract, and it is the rule a single
    * lag comparison expresses exactly.)
    *
    * Shape: ONE (user, type)-keyed exchange shared by the lag and the
    * running-sum window (the sessionize discipline), keep = the
    * chain-opening row — a filter, no second aggregate, no join back.
    * All integers. Input needs (event_id, user_id, event_type, tus);
    * output = the kept rows, same columns. */
  def debounceEvents(events: DataFrame, gapUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(gapUs >= 1, s"need gapUs >= 1, got $gapUs")
    val byKey = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("tus"), col("event_id"))
    events
      .withColumn("_prev", lag(col("tus"), 1).over(byKey))
      .withColumn("_chain_start",
        col("_prev").isNull || col("tus") - col("_prev") > gapUs)
      .filter(col("_chain_start"))
      .drop("_prev", "_chain_start")
  }

  /** Ordered funnel analysis: how many users reach each stage of
    * `stages` IN ORDER (stage i+1 counts only if it happens strictly
    * after the user's first stage-i event). One hash aggregate computes
    * every user's first time per stage (map-side partial min), a second
    * tiny aggregate folds the stage predicates — no joins, no windows,
    * no per-stage passes; cost is one scan + one user-keyed shuffle at
    * any scale. Input needs (user_id, event_type, tus). Output: one row
    * per stage prefix: (stage, event_type, n_users). */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val firstCols = stages.map(st =>
      min(when(col("event_type") === st, col("tus"))).as(s"t_$st"))
    val firsts = events
      .groupBy(col("user_id"))
      .agg(firstCols.head, firstCols.tail: _*)
    // reached(i): every t_0..t_i non-null and strictly increasing
    val reached = stages.indices.map { i =>
      (0 to i).map(j => col(s"t_${stages(j)}").isNotNull)
        .reduce(_ && _) &&
        (1 to i).map(j => col(s"t_${stages(j - 1)}") < col(s"t_${stages(j)}"))
          .reduceOption(_ && _).getOrElse(lit(true))
    }
    val agg = firsts.agg(
      count(when(reached.head, 1)).as("s0"),
      reached.tail.zipWithIndex.map { case (c, i) => count(when(c, 1)).as(s"s${i + 1}") }: _*)
    val spark = events.sparkSession
    import spark.implicits._
    val row = agg.collect().head
    stages.zipWithIndex
      .map { case (st, i) => (i.toLong, st, row.getLong(i)) }
      .toDF("stage", "event_type", "n_users")
  }

  /** Event-type transition matrix — the first-order Markov view of user
    * journeys (the input to any "what do users do after X" question and
    * to journey-sankey rendering): for each ordered (prev, next) pair of
    * consecutive events WITHIN a user's stream, the transition count and
    * its probability among all transitions leaving `prev`.
    *
    * Shape: one user-keyed ordered window (lag) — the same exchange
    * sessionization pays — then a types²-bounded aggregate; the
    * per-prev total rides a window over that aggregate (no join back).
    * Counts are exact; prob is ONE division of two CAST-to-DOUBLE exact
    * integers. The first event of each user has no predecessor and
    * drops out. Input needs (user_id, event_id, event_type, tus);
    * (tus, event_id) is the deterministic intra-user order.
    * Output: (prev_type, next_type, n_transitions, prob). */
  def transitionMatrix(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
    val pairs = events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
    pairs
      .withColumn("prev_total",
        sum(col("n_transitions")).over(Window.partitionBy(col("prev_type"))))
      .select(col("prev_type"), col("next_type"), col("n_transitions"),
        (col("n_transitions").cast("double") /
          col("prev_total").cast("double")).as("prob"))
  }

  /** Hour-cohort retention: users grouped by their FIRST-seen hour
    * (cohort), counted by how many distinct later hours they came back
    * in. The standard growth-analytics matrix, shaped for scale: first
    * hour and the per-(user, hour) activity grid are two hash
    * aggregates; the cohort join keys on user_id only. Input needs
    * (user_id, tus). Output: (cohort_hour, offset_hours, n_users) with
    * offset 0 = the cohort's own hour. */
  def retention(events: DataFrame): DataFrame = {
    val hourUs = 3600L * 1000 * 1000
    // integer `div`, not double division + cast: bit-identical to the
    // oracle's `//` with no float quotient anywhere
    val hours = events.select(col("user_id"), expr(s"tus div $hourUs").as("hour"))
    val active = hours.distinct()
    val cohorts = hours.groupBy(col("user_id")).agg(min("hour").as("cohort_hour"))
    active.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_hour"), (col("hour") - col("cohort_hour")).as("offset_hours"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Hourly resample with gap filling: a dense (event_type × hour)
    * spine over the corpus' global hour range, left-joined against the
    * per-hour aggregates — missing hours come back as explicit zero
    * rows, which is what any charting/anomaly layer downstream needs
    * (a time series with silent holes reads as "no data", not "zero
    * traffic"). Input needs (event_type, tus, value).
    *
    * Scale shape: the corpus collapses to (types × hours) aggregate
    * rows FIRST (one scan + one shuffle, map-side partials); the spine
    * is generated from two tiny aggregates (distinct types, global
    * hour bounds) and is hours·types rows — generation and the final
    * left join never touch corpus-sized data. Integer `div` bucketing
    * (the retention argument).
    * Output: (event_type, hour, n, total_value) — zeros where no
    * events landed.
    *
    * NOTE: the returned frame is MATERIALIZED and cached through
    * `Cached.result` — the intermediate per-hour cache is released
    * before return, but the caller owns the result's release: call
    * `unpersist()` once done with it (repeated calls without release
    * accumulate cached frames for the session lifetime). */
  def resampleHourly(events: DataFrame): DataFrame = {
    val hourUs = 3600L * 1000 * 1000
    val ev = events.select(col("event_type"), expr(s"tus div $hourUs").as("hour"),
      col("value"))
    // ONE corpus scan: bounds and the type set derive from the tiny
    // per-hour aggregate, which is persisted because it feeds three
    // plan references (bounds, types, final join) — without the cache
    // each reference would re-run the corpus aggregate
    val byHour = Cached.keep(ev.groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value")))
    val bounds = byHour.agg(min("hour").as("lo"), max("hour").as("hi"))
    val spine = byHour.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("hour"))
    val out = spine.join(byHour, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("total_value"), lit(0.0)).as("total_value"))
    Cached.result(out, byHour)
  }
}

package graft.analytics

import graft.Cached
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality observability over any table — the Deequ/Great-
  * Expectations capability a 100 TB ingest pipeline runs BEFORE
  * publishing a snapshot: column profiling (nulls, cardinality) and a
  * declarative constraint suite (domain rules, key uniqueness,
  * referential integrity) whose output is a small pass/fail frame a
  * publish gate can assert on.
  *
  * Scale shape: every rule that can be a per-row predicate folds into
  * ONE aggregate over ONE scan of the table (violation counts are
  * conditional sums — map-side partials, no shuffle beyond the 1-row
  * aggregate); uniqueness and profiling ride exact count(DISTINCT)
  * aggregates (Spark plans N distinct aggregates via one Expand — an
  * N× row blowup bounded by the column list, the standard price of
  * exact profiling; a production pipeline that profiles EVERY column
  * of a wide table swaps in approx_count_distinct per the q_vocab HLL
  * pattern); referential integrity is one anti-join COUNT against the
  * parent key set (broadcast when the parent is dimension-sized).
  * Everything emitted is an exact BIGINT or a boolean — no float
  * discipline anywhere.
  */
object DataQuality {

  /** Per-column profile: (col_name, n_rows, n_nulls, n_distinct) for
    * each requested column, from ONE aggregate pass (plus the Expand
    * for the exact distinct counts). n_distinct counts DISTINCT
    * NON-NULL values (both engines' count(DISTINCT) semantics). */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile: need at least one column")
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(
        count(col(c)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map(c => struct(
      lit(c).as("col_name"),
      col("n_rows"),
      (col("n_rows") - col(s"nn_$c")).as("n_nulls"),
      col(s"nd_$c").as("n_distinct")))
    row.select(explode(array(stacked: _*)).as("p")).select(col("p.*"))
  }

  /** Declarative per-row rules: each (name, violationPredicate) becomes
    * one conditional sum in a single aggregate over a single scan.
    * Predicates state what a VIOLATION is (e.g. `col < 0`). */
  def ruleViolations(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "ruleViolations: need at least one rule")
    val aggs = rules.map { case (name, pred) =>
      sum(when(pred, lit(1L)).otherwise(lit(0L))).as(s"v_$name")
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stacked = rules.map { case (name, _) =>
      struct(lit(name).as("check_name"), col(s"v_$name").as("n_violations"))
    }
    row.select(explode(array(stacked: _*)).as("p"))
      .select(col("p.check_name").as("check_name"), col("p.n_violations").as("n_violations"))
  }

  /** Key-uniqueness violations: rows beyond one per key value =
    * n_rows − n_distinct (null keys each count as a violation too,
    * via the non-null count). 1-row output. */
  def uniqueViolations(df: DataFrame, key: String, name: String): DataFrame =
    df.agg((count(lit(1)) - countDistinct(col(key))).as("n_violations"))
      .select(lit(name).as("check_name"), col("n_violations"))

  /** Referential-integrity violations: child rows whose key has no
    * parent — one anti join (broadcast for a dimension-sized parent)
    * + COUNT. 1-row output. */
  def fkViolations(child: DataFrame, key: String,
                   parent: DataFrame, parentKey: String,
                   name: String): DataFrame =
    child.join(broadcast(parent.select(col(parentKey).as(key)).distinct()),
        Seq(key), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit(name).as("check_name"), col("n_violations"))

  /** Assemble a suite: union the pieces, derive the pass bit. */
  def suite(parts: Seq[DataFrame]): DataFrame = {
    require(parts.nonEmpty, "suite: need at least one part")
    parts.reduce(_.unionByName(_))
      .select(col("check_name"), col("n_violations"),
        (col("n_violations") === 0L).as("passed"))
  }

  /** Snapshot diff — the change report between two published corpus
    * versions (what a ManifestSink-style versioned pipeline reviews
    * before promoting v(N+1)): per source, how many documents were
    * added, removed, changed (same id, different content) or unchanged.
    * An unexpectedly large `removed` or `changed` band is the classic
    * sign of an upstream crawl regression — caught at the diff, not in
    * training.
    *
    * Shape: contents compare by md5 so the join carries 32-char digests
    * instead of document bodies; ONE id-keyed full-outer sort-merge
    * join (both sides shuffle by doc_id once — the minimal plan for a
    * keyed diff), then a sources×4-sized aggregate. Counts are exact
    * BIGINTs. Output: (source, status, n_docs). */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val o = oldSnap.select(col("doc_id"), md5(col("text")).as("oh"),
      col("source").as("osrc"))
    val n = newSnap.select(col("doc_id"), md5(col("text")).as("nh"),
      col("source").as("nsrc"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(coalesce(col("nsrc"), col("osrc")).as("source"),
        when(col("oh").isNull, lit("added"))
          .when(col("nh").isNull, lit("removed"))
          .when(col("oh") =!= col("nh"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Versioned corpus-card diff — the between-releases change report a
    * publish gate reviews: [[snapshotDiff]]'s id-level bands pivoted
    * wide, side by side with each release's dataset-card integers
    * (`TextAnalysis.datasheet`'s per-source volume / Gopher-pass /
    * exact-dup counts) and the headline token delta. One row per
    * source answers "what did this release change here" — doc churn
    * (added/removed/changed), volume drift, and whether the quality
    * mix moved (pass/dup counts), which is how a crawl regression or a
    * filter change shows up BEFORE training does.
    *
    * All outputs are exact BIGINTs (the exact-grid doctrine: emit the
    * counts, let the reader divide) — no float discipline needed.
    * Shape: the diff is one doc_id-keyed full-outer join; each card is
    * the datasheet aggregate; the final full-outer joins are
    * sources-sized. Each snapshot frame is consumed by TWO different
    * aggregations (diff + its card) and Spark reuses no subplans, so
    * both snapshots persist for the operator's duration and release
    * after the sources-sized output materializes (the chunkDedup
    * discipline) — without it a derived snapshot's whole upstream plan
    * re-executes per consumer. */
  def corpusCardDiff(oldSnap: DataFrame, newSnap: DataFrame,
                     minWords: Int, maxWords: Int,
                     minAvgLen: Double, maxAvgLen: Double,
                     minStopHits: Int, minAlphaFrac: Double): DataFrame = {
    // persist DEFENSIVE COPIES (a fresh Project node per snapshot), never
    // the caller's frames: persist() throws if the caller already cached
    // a snapshot at a different level, and the release below would
    // silently evict a cache the caller owns
    def copy(df: DataFrame): DataFrame = df.select(df.columns.map(col): _*)
    val o = Cached.keep(copy(oldSnap))
    val n = Cached.keep(copy(newSnap))
    def band(st: String, as: String) =
      coalesce(sum(when(col("status") === st, col("n_docs"))), lit(0L)).as(as)
    val bands = snapshotDiff(o, n).groupBy(col("source")).agg(
      band("added", "n_added"), band("removed", "n_removed"),
      band("changed", "n_changed"), band("unchanged", "n_unchanged"))
    def card(snap: DataFrame, suffix: String) =
      graft.llm.TextAnalysis.datasheet(snap, minWords, maxWords,
          minAvgLen, maxAvgLen, minStopHits, minAlphaFrac)
        .select(col("source"), col("n_docs").as(s"docs_$suffix"),
          col("n_tokens").as(s"tokens_$suffix"),
          col("n_gopher_pass").as(s"pass_$suffix"),
          col("n_dup_docs").as(s"dup_$suffix"))
    val z = lit(0L)
    val out = bands
      .join(card(o, "old"), Seq("source"), "full_outer")
      .join(card(n, "new"), Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("n_added"), z).as("n_added"),
        coalesce(col("n_removed"), z).as("n_removed"),
        coalesce(col("n_changed"), z).as("n_changed"),
        coalesce(col("n_unchanged"), z).as("n_unchanged"),
        coalesce(col("docs_old"), z).as("docs_old"),
        coalesce(col("docs_new"), z).as("docs_new"),
        coalesce(col("tokens_old"), z).as("tokens_old"),
        coalesce(col("tokens_new"), z).as("tokens_new"),
        (coalesce(col("tokens_new"), z) - coalesce(col("tokens_old"), z))
          .as("token_delta"),
        coalesce(col("pass_old"), z).as("pass_old"),
        coalesce(col("pass_new"), z).as("pass_new"),
        coalesce(col("dup_old"), z).as("dup_old"),
        coalesce(col("dup_new"), z).as("dup_new"))
    Cached.result(out, o, n)
  }
}

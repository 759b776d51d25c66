package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (SCD type 2) merge: apply a snapshot of
  * changed attribute values to a versioned dimension history, closing
  * the superseded open rows and appending new open rows — the
  * `MERGE INTO` pattern Delta/Iceberg ship as a table-format feature,
  * expressed engine-side over plain DataFrames. The reference engine
  * has no mutation operator at all (its pipelines are pure batch
  * reruns); this is the piece a production dimension pipeline needs the
  * moment history must be preserved across reruns.
  *
  * Semantics per change row (key, attrs):
  *   - key has an open history row with IDENTICAL attrs (null-safe) —
  *     no-op, the open row passes through;
  *   - key has an open history row with DIFFERENT attrs — the open row
  *     closes (`valid_to = version`, `is_current = false`) and a new
  *     open row (attrs from the change, `valid_from = version`) appends;
  *   - key has no history row — a new open row appends;
  *   - key has history rows but NO open row (externally-authored
  *     histories, or a future delete operator — [[merge]] and
  *     [[fromChangeLog]] outputs always keep exactly one open row per
  *     surviving key) — a new open row appends, detected by a per-key
  *     open-row count carried through the join on exactly one
  *     representative row so the insert emits once.
  * History rows already closed pass through untouched; open rows for
  * keys absent from the change set pass through untouched. Versions are
  * caller-supplied BIGINTs (ingestion batch ids / epoch micros), so the
  * whole output is exact integers + the attr values — nothing float.
  *
  * Scale shape: ONE key-keyed FULL OUTER equi-join (the Delta/Iceberg
  * `MERGE` plan shape — full outer because brand-new keys must surface
  * from the change side; Spark plans it sort-merge, full outer is the
  * one join type with no broadcast variant) + a factor-≤2 generator.
  * History is scanned exactly once: closed rows ride THROUGH the join
  * rather than around it (a separate `filter(!is_current)` union arm
  * would re-scan the table — Spark reuses no DataFrame subplans), and
  * each joined row emits its output rows from one `explode(array(...))`
  * with null placeholders filtered after the generator
  * (`when`+`array`+`explode` stay codegen'd; a `filter()` higher-order
  * function would not). At 100 TB the stored history is bucketed/
  * range-partitioned by key (Spark's `bucketBy` layout), which removes
  * the history-side exchange — the merge then shuffles only the change
  * batch, and the rewrite touches only partitions holding changed keys.
  * That claim is PINNED, not just argued: BucketingSpec runs this merge
  * over a bucketed history and counts exactly one surviving exchange
  * (the change side's) — the per-key window and the SMJ both ride the
  * bucket layout.
  */
object ScdMerge {

  /** @param history  SCD2 table: `key`, `attrs*`, `valid_from: BIGINT`,
    *                 `valid_to: BIGINT` (null = open), `is_current:
    *                 BOOLEAN`. At most one open row per key (the SCD2
    *                 invariant — outputs of this operator preserve it;
    *                 a key with only closed rows is handled: its change
    *                 inserts a fresh open row).
    * @param changes  one row per key: `key`, `attrs*`. Must be unique
    *                 per key (a change batch with conflicting rows for
    *                 one key has no well-defined SCD outcome — dedupe
    *                 upstream, e.g. `Dedup.keepByPriority`).
    * @param key      equi-join key column name.
    * @param attrs    tracked attribute columns, present on both sides.
    * @param version  the version stamp for this merge: closes get
    *                 `valid_to = version`, inserts get `valid_from =
    *                 version`.
    */
  def merge(history: DataFrame, changes: DataFrame, key: String,
            attrs: Seq[String], version: Long): DataFrame =
    mergeOps(history, changes.withColumn("_graft_op", lit("U")),
      key, attrs, "_graft_op", version)

  /** [[merge]] with TOMBSTONES — the op column CDC feeds carry
    * (`'U'` upsert / `'D'` delete): a delete CLOSES the key's open row
    * (`valid_to = version`) and inserts nothing, leaving the key with
    * only closed history — the SCD2 "soft delete" a dimension pipeline
    * needs when source rows are retired. Delete semantics per row:
    *   - delete + open row → the open row closes; no insert;
    *   - delete + no open row (never existed, or already deleted) —
    *     a no-op: tombstones are idempotent;
    *   - a later UPSERT for a deleted key re-inserts a fresh open row
    *     (the all-closed-key arm [[merge]] already carries).
    * Any op value other than 'U'/'D' fails the merge loudly
    * (raise_error in the projection — no silent row drops). Same plan
    * shape as [[merge]]: the op rides the change projection as one
    * boolean, nothing new shuffles, and [[merge]] itself is the
    * `op = 'U'` special case (delegates here). */
  def mergeOps(history: DataFrame, changes: DataFrame, key: String,
               attrs: Seq[String], opCol: String, version: Long): DataFrame = {
    require(attrs.nonEmpty, "SCD merge needs at least one tracked attribute")
    val outCols = (key +: attrs) ++ Seq("valid_from", "valid_to", "is_current")
    val delFlag = when(col(opCol).isin("U", "D"), col(opCol) === "D")
      .otherwise(raise_error(concat(
        lit("ScdMerge.mergeOps: unknown op '"), col(opCol).cast("string"),
        lit(s"' for key "), col(key).cast("string"),
        lit(" — expected 'U' (upsert) or 'D' (delete)"))))
    val chg = changes.select(
      (col(key).as(key) +: attrs.map(a => col(a).as(s"_chg_$a"))) ++
        Seq(delFlag.as("_del"), lit(true).as("_chg")): _*)
    // per-key open-row count + a single representative row, so a change
    // for a key whose history is ALL CLOSED still emits its insert (once).
    // The window's hashpartitioning(key) is the same exchange the
    // full-outer sort-merge join needs — history is still scanned once.
    val wKey = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
    val h = history
      .withColumn("_open_cnt",
        sum(when(col("is_current"), 1L).otherwise(0L)).over(wKey))
      .withColumn("_rn",
        row_number().over(wKey.orderBy(col("valid_from").desc)))
    val j = h.join(chg, Seq(key), "full_outer")
    val hasHist = col("is_current").isNotNull
    val sameAttrs = attrs.map(a => col(a) <=> col(s"_chg_$a")).reduce(_ && _)
    // a delete supersedes the open row regardless of attr equality
    val superseded = hasHist && col("is_current") && col("_chg") &&
      (!sameAttrs || col("_del"))
    // all-closed key receiving an UPSERT: nothing to close, but the open
    // row must appear — emit it from the key's one representative row
    // (which row carries it is irrelevant: the insert reads only change
    // attrs and the version literal). A delete on an all-closed key is
    // an idempotent no-op.
    val orphanInsert =
      hasHist && col("_open_cnt") === 0L && col("_chg") && col("_rn") === 1 &&
        !col("_del")
    def outStruct(attrCols: Seq[org.apache.spark.sql.Column],
                  from: org.apache.spark.sql.Column,
                  to: org.apache.spark.sql.Column,
                  current: org.apache.spark.sql.Column) =
      struct((col(key).as(key) +: attrCols.zip(attrs).map { case (c, a) => c.as(a) }) ++
        Seq(from.cast("long").as("valid_from"), to.cast("long").as("valid_to"),
          current.as("is_current")): _*)
    // row 1: the history row, closed out when superseded; or the brand-new
    // open row when the key never existed (unless the change is a delete
    // of a key that never existed — idempotent no-op). row 2: the
    // replacement open row for a superseded or re-inserted key (null and
    // filtered otherwise; never for a delete).
    val passOrClose = outStruct(attrs.map(col),
      col("valid_from"),
      when(superseded, lit(version)).otherwise(col("valid_to")),
      when(superseded, lit(false)).otherwise(col("is_current")))
    val insertNew = outStruct(attrs.map(a => col(s"_chg_$a")),
      lit(version), lit(null).cast("long"), lit(true))
    // `when` without `otherwise` is null of the branch type — the slot
    // the post-generator filter drops
    val rows = array(
      when(hasHist, passOrClose).otherwise(when(!col("_del"), insertNew)),
      when((superseded && !col("_del")) || orphanInsert, insertNew))
    j.select(explode(rows).as("_r"))
      .filter(col("_r").isNotNull)
      .select(outCols.map(c => col(s"_r.$c").as(c)): _*)
  }

  /** SCD2 backfill from a full change log — the one-shot batch twin of
    * the iterated [[merge]] loop (and of `streaming/ScdIngest`): given
    * every historical change row at once (the event-sourcing replay /
    * CDC-archive case), build the whole versioned history in ONE pass
    * instead of one merge per version. Semantics are exactly the
    * iterated fold's (generative-spec-pinned): a change identical
    * (null-safe) to the key's previous surviving change is a no-op —
    * equality is transitive along a run of no-ops, so comparing against
    * the previous RAW log row with `lag` is the same as comparing
    * against the last KEPT row — and each surviving change closes at
    * the NEXT surviving change's version (`lead`), the last one open.
    *
    * Shape: one key-keyed exchange shared by the dedupe `lag` and the
    * interval `lead` (same partitioning, the filter between them adds
    * only a sort), no joins, no generator — linear in log rows. The log
    * must have at most one row per (key, version). */
  def fromChangeLog(log: DataFrame, key: String, attrs: Seq[String],
                    versionCol: String): DataFrame = {
    require(attrs.nonEmpty, "SCD backfill needs at least one tracked attribute")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(versionCol))
    val sameAsPrev = attrs
      .map(a => col(a) <=> lag(col(a), 1).over(w))
      .reduce(_ && _) && lag(col(versionCol), 1).over(w).isNotNull
    log
      .withColumn("_same", sameAsPrev)
      .filter(!col("_same"))
      .withColumn("valid_from", col(versionCol).cast("long"))
      .withColumn("valid_to", lead(col(versionCol), 1).over(w).cast("long"))
      .withColumn("is_current", col("valid_to").isNull)
      .select((col(key) +: attrs.map(col)) ++
        Seq(col("valid_from"), col("valid_to"), col("is_current")): _*)
  }

  /** [[fromChangeLog]] with TOMBSTONES — the CDC-archive replay when the
    * log carries an op column ('U'/'D'): a delete terminates the key's
    * open interval at its version and emits no row of its own, so a
    * deleted key's history ends all-closed (with a GAP until any later
    * re-insert — [[pointInTime]] resolves lookups inside the gap to
    * null). One pass, exactly [[fromChangeLog]]'s fold equivalence
    * (generative-spec-pinned against the iterated [[mergeOps]]):
    * comparing against the previous RAW row is still the same as
    * comparing against the surviving state, because after any raw row
    * the state is exactly (present iff op='U', that row's attrs) —
    * dropped no-ops preserve it by definition. No-op rules:
    *   - upsert whose previous raw row is an upsert with identical
    *     (null-safe) attrs — dropped (a delete between them breaks the
    *     run, so the re-insert is kept even with equal attrs);
    *   - delete at the start of a key, or following another delete —
    *     dropped (tombstones are idempotent).
    * Same shape: one key-keyed exchange shared by the `lag` dedupe and
    * the `lead` intervals, no joins, linear in log rows. At most one
    * row per (key, version); unknown ops fail loudly. */
  def fromChangeLogOps(log: DataFrame, key: String, attrs: Seq[String],
                       versionCol: String, opCol: String): DataFrame = {
    require(attrs.nonEmpty, "SCD backfill needs at least one tracked attribute")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(versionCol))
    val del = when(col(opCol).isin("U", "D"), col(opCol) === "D")
      .otherwise(raise_error(concat(
        lit("ScdMerge.fromChangeLogOps: unknown op '"), col(opCol).cast("string"),
        lit("' for key "), col(key).cast("string"),
        lit(" — expected 'U' (upsert) or 'D' (delete)"))))
    val prevOp = lag(col(opCol), 1).over(w)
    val sameAsPrev = attrs.map(a => col(a) <=> lag(col(a), 1).over(w)).reduce(_ && _)
    val noop = when(col(opCol) === "D", prevOp.isNull || prevOp === "D")
      .otherwise(prevOp === "U" && sameAsPrev)
    log
      .withColumn("_del", del)
      .withColumn("_noop", noop)
      .filter(!coalesce(col("_noop"), lit(false)))
      .withColumn("valid_from", col(versionCol).cast("long"))
      .withColumn("valid_to", lead(col(versionCol), 1).over(w).cast("long"))
      .withColumn("is_current", !col("_del") && col("valid_to").isNull)
      .filter(!col("_del"))
      .select((col(key) +: attrs.map(col)) ++
        Seq(col("valid_from"), col("valid_to"), col("is_current")): _*)
  }

  /** HARD ERASE — the right-to-be-forgotten arm on dimension HISTORY
    * (GDPR Art. 17 applied to an SCD2 table): purge EVERY row of the
    * given keys, open and closed alike. A tombstone ([[mergeOps]]
    * op='D') closes the key's open row but RETAINS its attribute
    * history; erase removes the past itself — afterwards
    * [[pointInTime]] resolves the key to null attrs at EVERY t, exactly
    * as if the key had never been merged. That equivalence is real, not
    * just intuitive: the merge fold treats keys independently, so
    * erase(fold(log)) ≡ fold(log with the keys' rows removed)
    * (generative-spec-pinned), and erasing a key that never existed is
    * an idempotent no-op. Scale shape: one broadcast anti-join (erase
    * requests are tiny relative to the dimension — the
    * `StoreCompaction.liveView` subtraction shape on the SCD2 family);
    * over a bucketed history the rewrite touches only partitions
    * holding erased keys. */
  def eraseKeys(history: DataFrame, keys: DataFrame, key: String): DataFrame =
    history.join(broadcast(keys.select(col(key)).distinct()), Seq(key), "left_anti")

  /** Point-in-time dimension lookup against an SCD2 history — the read
    * side of [[merge]]: each fact row gets the attribute values that
    * were CURRENT at its version stamp (`asof_<attr>` columns; null
    * when the key had no row yet). Because a well-formed SCD2 history
    * partitions each key's timeline into disjoint `[valid_from,
    * valid_to)` intervals, "the row valid at t" is exactly "the latest
    * row with `valid_from <= t`" — which is [[AsofJoin.lastBefore]]'s
    * union-window shape with the strict `<` turned inclusive by
    * shifting the fact side one version tick (versions are discrete
    * BIGINTs, so `valid_from <= t` IS `valid_from < t+1`). A history
    * WITH DELETES ([[mergeOps]]) has gaps — a key all-closed between a
    * delete and a later re-insert — where the latest `valid_from <= t`
    * row is a CLOSED row no longer valid at t: the matched row's
    * `valid_to` rides along and stale matches resolve to null attrs
    * (on a gap-free history the check never fires: a closed match's
    * successor would itself match later, contradiction — so delete-free
    * results are bit-identical to before). Inherits the as-of join's
    * scale story: one key-keyed union-window, linear in facts + history
    * rows, no range-join pair blowup on hot keys. */
  def pointInTime(history: DataFrame, facts: DataFrame, key: String,
                  timeCol: String, attrs: Seq[String]): DataFrame = {
    require(attrs.nonEmpty, "point-in-time lookup needs at least one attribute")
    val vt = "_scd_vt"
    val h = history.select(
      (col(key) +: attrs.map(col)) ++ Seq(
        col("valid_to").cast("long").as(vt),
        col("valid_from").cast("long").as("_pit")): _*)
    val f = facts.withColumn("_pit", col(timeCol).cast("long") + 1L)
    val j = AsofJoin.lastBefore(f, h, Seq(key), "_pit", attrs :+ vt)
      .drop("_pit")
    val stale = col(s"asof_$vt").isNotNull &&
      col(s"asof_$vt") <= col(timeCol).cast("long")
    j.select(j.columns.filterNot(_ == s"asof_$vt").map { c =>
      if (attrs.contains(c.stripPrefix("asof_")) && c.startsWith("asof_"))
        when(!stale, col(c)).as(c)
      else col(c)
    }: _*)
  }
}

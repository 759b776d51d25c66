package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-store consistency audit for a served retrieval deployment.
  *
  * The serving tail runs over a QUADRUPLE of stores (lexical postings,
  * IVF-PQ index, float-vector refine store, doc-text store) that are
  * maintained by independent ingests and forgotten through independent
  * deletion vectors — nothing mechanical forces their id memberships to
  * agree. Divergence is silent and asymmetric: an id present in the
  * vector index but missing from the doc store nominates candidates
  * whose text can never be returned; present in lex but not vec skews
  * hybrid fusion toward the lexical arm; erased from one store but not
  * another is a forget-compliance hole. This audit makes membership
  * divergence a first-class, hash-checkable fact.
  *
  * [[presence]] reduces each store to its DISTINCT id set, full-outer-
  * joins the sets, and counts ids per presence combination — one row
  * per observed (in_a, in_b, …) tuple. At 100 TB each input is a
  * narrow id projection of a partition-pruned store view (columns
  * beyond the id never read), the joins shuffle only ids, and the
  * output is at most 2^n − 1 rows. All-integer output.
  */
object StoreAudit {

  /** Presence-combination counts over n ≥ 2 named id frames.
    * Input: (name, frame) pairs — each frame any DataFrame with
    * `idCol`; membership is by DISTINCT id. Output: one boolean column
    * `in_<name>` per input (column order = input order), plus `n` =
    * number of ids with exactly that membership pattern, ordered by the
    * flag columns. The all-false row cannot occur (an id must appear
    * somewhere to be seen) — consistent stores produce exactly one
    * all-true row. */
  def presence(stores: Seq[(String, DataFrame)], idCol: String): DataFrame = {
    require(stores.size >= 2, s"need >= 2 stores, got ${stores.size}")
    require(stores.map(_._1).distinct.size == stores.size,
      "store names must be unique")
    val flagged = stores.map { case (name, df) =>
      df.select(col(idCol)).distinct()
        .withColumn(s"in_$name", lit(true))
    }
    val joined = flagged.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val flags: Seq[Column] =
      stores.map { case (name, _) => coalesce(col(s"in_$name"), lit(false)).as(s"in_$name") }
    joined.select(flags: _*)
      .groupBy(stores.map { case (name, _) => col(s"in_$name") }: _*)
      .agg(count(lit(1)).as("n"))
      .orderBy(stores.map { case (name, _) => col(s"in_$name") }: _*)
  }

  /** Forget-COMPLIANCE audit: after a right-to-be-forgotten request,
    * how many requested ids does each store in the serving set STILL
    * serve — the check a deployment runs before attesting erasure, and
    * the one that catches the classic hole where forget was marked on
    * the corpus but an index keeps answering with the content. Every
    * count must be 0 for compliance; a ghost id (never stored) is
    * correctly compliant everywhere. Eager by design (an audit is a
    * point-in-time attestation, not a lazy plan): one membership count
    * per store — each a broadcast-semi-join-sized probe of the store's
    * serving view, never a corpus materialization. Output:
    * (store, n_serving), input order preserved. */
  def forgetCompliance(requestedIds: Seq[Long],
                       stores: Seq[(String, DataFrame)],
                       idCol: String): DataFrame = {
    require(stores.nonEmpty, "need at least one store")
    require(stores.map(_._1).distinct.size == stores.size,
      "store names must be unique")
    val spark = stores.head._2.sparkSession
    val rows = stores.map { case (name, df) =>
      val n =
        if (requestedIds.isEmpty) 0L
        else df.filter(col(idCol).isin(requestedIds: _*))
          .select(col(idCol)).distinct().count()
      (name, n)
    }
    import spark.implicits._
    rows.toDF("store", "n_serving")
  }
}

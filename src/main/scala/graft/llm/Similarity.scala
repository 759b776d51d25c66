package graft.llm

import graft.Cached
import graft.functions.NearestCentroid
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  *
  *   - brute-force cosine top-k — the exact baseline: broadcast the (few)
  *     query vectors against every candidate, cosine as a codegen'd
  *     zip_with/aggregate fold, window top-k. One scan, no shuffle of
  *     the embedding table beyond the final tiny top-k.
  *   - IVF (inverted-file) top-k — the 100 TB path: vectors are coarsely
  *     quantized to their nearest of K "cells" (here: K-Means-style
  *     centroids chosen from the corpus); a query probes only the nprobe
  *     nearest cells, so the scored candidate set shrinks by ~K/nprobe.
  *     At cluster scale the assignment becomes a partition key: each
  *     cell's vectors co-locate, and a probe reads only those partitions.
  *
  * Vectors are cast float->double; all engines' cosine then agrees to
  * the last ulp modulo summation order (outputs round to 4 decimals).
  */
object Similarity {

  private def v(c: Column): Column = c.cast("array<double>")

  /** Native codegen'd kernels (graft.functions.VectorOps) — identical
    * accumulation order to the HOF zip_with/aggregate forms, so values
    * are bit-identical, without the per-element lambda overhead that
    * dominates pair-join scoring. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorOps.dotCol(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  def distSq(a: Column, b: Column): Column = graft.functions.VectorOps.l2sqCol(a, b)

  /** Exact top-k neighbors (cosine) of each query vector, excluding self.
    * Output: (query_id, neighbor_id, sim). */
  def bruteForceTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame =
    bruteRanked(emb, queryIds, k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim"), 4).as("sim"))
      .orderBy(col("query_id"), col("neighbor_id"))

  /** Ranked form of [[bruteForceTopK]] for rank-fusion consumers:
    * (query_id, neighbor_id, rn) — ranks come from the same unrounded
    * (sim DESC, neighbor_id) window, so they are exactly the contract
    * query's ordering. */
  def bruteForceTopKRanked(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame =
    bruteRanked(emb, queryIds, k)
      .select(col("query_id"), col("neighbor_id"), col("rn").cast("long").as("rn"))

  private def bruteRanked(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), v(col("embedding")).as("vec"))
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qvec"), col("vec")).as("sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  // ---------- binary (Hamming) ANN — the bitwise compressed domain ----------

  /** Packed sign signature of each embedding: `ceil(dim/32)` BIGINT
    * words, bit `i % 32` of word `i / 32` set iff `v(i) > 0.0` (the
    * Charikar 2002 SimHash family with the identity hyperplanes — the
    * coordinate signs themselves; a production deployment composes
    * [[randomProject]] in front for isotropy, same signature kernel).
    * 64 float dims become 2 longs: a 32x-narrower candidate scan whose
    * distance is XOR+popcount — integer ops only, no FPU, no float
    * discipline. Words stay below 2^32 (32 bits per word, never 64) so
    * both engines assemble them as exact sums of distinct powers of two
    * and parquet round-trips them trivially.
    *
    * Scale shape: one projection — embarrassingly parallel; at 100 TB
    * the signature table is the thing you persist and scan (32x less
    * IO than the float corpus) while originals stay in the refine
    * store for exact re-ranking. */
  def signSignature(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      graft.functions.BitOps.signBitsCol(v(col("embedding"))).as("sig"))

  /** Top-k per query by Hamming distance over [[signSignature]] —
    * the binary ANN proposer: broadcast the query signatures, one
    * signature scan, XOR-popcount distance, per-query window top-k.
    * Ties (common: 64-bit signatures collide in distance) break to the
    * lowest neighbor_id — a total order, so EVERY column is an exact
    * integer and the oracle crosses with zero float discipline.
    * Output: (query_id, neighbor_id, hamming, rn). */
  def hammingTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame =
    hammingRanked(signSignature(emb), queryIds, k)
      .orderBy(col("query_id"), col("neighbor_id"))

  /** [[hammingTopK]] over a PRE-BUILT signature frame (vec_id, sig) —
    * the persisted-store entry point: signatures from a store's
    * liveView probe without touching float embeddings at all. */
  def hammingProbe(sig: DataFrame, queryIds: Seq[Long], k: Int): DataFrame =
    hammingRanked(sig, queryIds, k)
      .orderBy(col("query_id"), col("neighbor_id"))

  private def hammingRanked(s: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val q = s.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("sig").as("qsig"))
    val scored = s.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.functions.BitOps.hammingCol(col("qsig"), col("sig")).as("hamming"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** Binary propose → exact refine — the production composition of the
    * Hamming path (the [[ivfPqSearchRefined]] mechanism with sign bits
    * as the compressed domain): the signature scan nominates top-
    * `proposeR` per query by XOR popcount — integer ops over a 32×
    * narrower table — and only those R·Q originals fetch (broadcast
    * point-join; at scale an id-keyed point lookup against the refine
    * store) for the exact-L2² rerank, [[refineExact]] verbatim.
    * Measured on the sf0.01 corpus at Q=3/k=10: the raw Hamming top-10
    * keeps 9/30 of the exact cosine top-10, while the top-50 propose
    * set contains 21/30 — the refine budget is what turns sign bits
    * from a weak ranking into a usable proposer.
    * Output: (query_id, neighbor_id, d2, rn) — refineExact's contract. */
  def hammingRefined(emb: DataFrame, queryIds: Seq[Long],
                     proposeR: Int, k: Int): DataFrame = {
    require(proposeR >= k && k >= 1,
      s"need proposeR >= k >= 1, got proposeR=$proposeR k=$k")
    val cands = hammingRanked(signSignature(emb), queryIds, proposeR)
      .select(col("query_id"), col("neighbor_id"))
    refineExact(emb, cands, queryIds, k)
  }

  /** [[hammingRefined]] served STORE-ONLY — the binary propose/refine
    * pair over persisted stores: `sig` is a signature store's liveView
    * (the 32×-narrower integer scan nominates top-proposeR), `emb` is
    * the float-vector store's liveView (originals fetch by broadcast
    * point-join for the exact rerank, and the QUERY vectors resolve
    * from it too). Forget composes through both stages when the same
    * ids are marked on both stores: a forgotten vector can neither be
    * proposed (sig liveView) nor fetched as a rerank candidate (vec
    * liveView) — bitwise the one-shot [[hammingRefined]] over the
    * surviving corpus. */
  def hammingRefinedStored(sig: DataFrame, emb: DataFrame,
                           queryIds: Seq[Long], proposeR: Int,
                           k: Int): DataFrame = {
    require(proposeR >= k && k >= 1,
      s"need proposeR >= k >= 1, got proposeR=$proposeR k=$k")
    val cands = hammingRanked(sig, queryIds, proposeR)
      .select(col("query_id"), col("neighbor_id"))
    refineExact(emb, cands, queryIds, k)
  }

  /** Recall@k audit of the binary proposer against the exact cosine
    * top-k — per query, how many of the true neighbors the sign bits
    * keep (the number that decides whether Hamming can nominate for an
    * exact refine stage, the [[refineExact]] composition). The exact
    * pool left-joins the Hamming pool so a query with ZERO overlap
    * still reports its row; recall is one CAST-to-DOUBLE division of
    * exact BIGINTs (the rrfFuse discipline — crosses bitwise). Pays
    * brute force once: an sf-scale audit, never a production path.
    * EAGER (materializes the queries-row result, releases the pool).
    * Output: (query_id, n_exact, n_found, recall). */
  def hammingRecall(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val e = Cached.keep(emb.select(col("vec_id"), col("embedding")))
    val exact = bruteRanked(e, queryIds, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = hammingRanked(signSignature(e), queryIds, k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val out = exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_found"))
      .select(col("query_id"), col("n_exact"), col("n_found"),
        (col("n_found").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
      .orderBy(col("query_id"))
    Cached.result(out, e)
  }

  /** lcm(1..k) — the exact-fraction denominator grid for rank-reciprocal
    * sums: every precision-at-rank value P@r = h/r with r ≤ k becomes
    * the INTEGER h·(lcm/r), so rank-discounted aggregates (average
    * precision) stay in BIGINT until one final division. k ≤ 20 keeps
    * the grid (and the summed numerators) comfortably inside long. */
  private[graft] def lcmTo(k: Int): Long = {
    require(k >= 1 && k <= 20, s"need 1 <= k <= 20, got $k")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    (1L to k.toLong).reduce((a, b) => a / gcd(a, b) * b)
  }

  /** Retrieval-quality evaluation of ANY ranked frame against a
    * relevance table — the measurement loop that closes the retrieval
    * stack (the engine serves rankings; this grades them): per query,
    * hits@k, precision@k, reciprocal rank, and average precision.
    *
    * `ranked` is any retriever's (query_id, neighbor_id, rn) output —
    * [[bruteForceTopKRanked]], a BM25/Hamming/IVF-PQ probe, a fused
    * list; `qrels` is the judgment table (query_id, doc_id), here
    * typically label-derived (same label = relevant, the standard
    * proxy when human judgments don't exist at corpus scale).
    *
    * Float discipline — the qualityClassifier exact-grid pattern, no
    * rounding anywhere: every P@r = h/r is carried as the exact BIGINT
    * h·(lcm(1..k)/r) (r divides the lcm, so the integer division is
    * exact), and AP@k = Σ_{hit r≤k} P@r / min(R, k) emits as ONE
    * division of two CAST-to-DOUBLE exact integers; precision and
    * reciprocal rank are likewise single divisions; a query with no
    * relevant documents reports 0.0 by convention, never NaN.
    *
    * Scale shape: one broadcast-or-equi join of the top-k frame
    * (queries·k rows, never the corpus) against qrels, one per-query
    * running-sum window over ≤ k rows. The per-query relevant total
    * rides INTO the join as a count window over the (tiny by
    * construction) qrels frame rather than a second aggregate of it —
    * Spark reuses no DataFrame subplans, so referencing qrels twice
    * would replan its source scan twice (r18 advisor); a no-hit query
    * surfaces a null `_r_total`, which is safe because its `_apnum` is
    * 0 and AP reports 0.0 by convention anyway.
    * Output: (query_id, n_rel, prec, rr, ap) ordered by query_id. */
  def retrievalEval(ranked: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    val lcm = lcmTo(k)
    // distinct: a duplicated judgment row would double-count a hit
    val rel = qrels.select(col("query_id"), col("doc_id")).distinct()
      .withColumn("_r_total",
        count(lit(1)).over(Window.partitionBy(col("query_id"))))
    val j = ranked.filter(col("rn") <= k)
      .join(rel.withColumn("_rel", lit(1L)),
        ranked("query_id") === rel("query_id") &&
          col("neighbor_id") === col("doc_id"), "left")
      .select(ranked("query_id"), col("neighbor_id"), col("rn"),
        coalesce(col("_rel"), lit(0L)).as("hit"), col("_r_total"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rn"))
    val c = j.withColumn("hits_so_far", sum(col("hit")).over(w))
    val per = c.groupBy(col("query_id")).agg(
      sum(col("hit")).cast("long").as("n_rel"),
      min(when(col("hit") === 1L, col("rn"))).as("_frr"),
      sum(when(col("hit") === 1L,
        col("hits_so_far") * expr(s"$lcm div rn"))
        .otherwise(lit(0L))).cast("long").as("_apnum"),
      max(col("_r_total")).as("_r_total"))
    per
      .select(col("query_id"), col("n_rel"),
        (col("n_rel").cast("double") / lit(k.toLong).cast("double")).as("prec"),
        when(col("_frr").isNull, lit(0.0))
          .otherwise(lit(1L).cast("double") / col("_frr").cast("double"))
          .as("rr"),
        when(coalesce(col("_r_total"), lit(0L)) === 0L, lit(0.0))
          .otherwise(col("_apnum").cast("double") /
            (lit(lcm) * least(col("_r_total"), lit(k.toLong))).cast("double"))
          .as("ap"))
      .orderBy(col("query_id"))
  }

  /** Label-derived relevance judgments over the embeddings table — the
    * scale-practical qrels proxy (same label as the query = relevant,
    * self excluded): a broadcast join of the few query rows against
    * one corpus scan. Output: (query_id, doc_id). */
  def labelQrels(emb: DataFrame, queryIds: Seq[Long]): DataFrame = {
    val e = emb.select(col("vec_id"), col("label"))
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
    e.join(broadcast(q),
        col("label") === col("qlabel") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"))
  }

  /** Hard-negative mining for contrastive training (the DPR/SimCSE
    * data-prep step, Karpukhin et al. 2020): for each query vector, the
    * top-k most-similar vectors whose LABEL differs — the negatives a
    * trained retriever confuses, which is exactly what the next
    * training round needs. Self is excluded for free (same label).
    *
    * Shape = [[bruteForceTopK]] with the label-inequality predicate on
    * the broadcast join: one corpus scan, per-query window top-k —
    * nothing new shuffles. At 100 TB the proposer swaps to the IVF-PQ
    * candidate path ([[refineExact]]'s composition) with the same
    * label filter on the candidate frame; the exact form here is also
    * the audit reference for that swap. Ranking uses the UNROUNDED
    * cosine (the mmrRerank discipline: the kernel is mirrored exactly,
    * so `sim` crosses the oracle bitwise with no round() exposure).
    * Output: (query_id, neighbor_id, label, sim, rn). */
  def hardNegatives(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), v(col("embedding")).as("vec"), col("label"))
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
        col("label").as("qlabel"))
    val scored = e.join(broadcast(q), col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("label"),
        cosine(col("qvec"), col("vec")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .orderBy(col("query_id"), col("neighbor_id"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard
    * retrieval-ensemble combiner: two ranked candidate lists per query
    * merge on rank alone, score = Σ 1/(kRrf + rank), absent-from-one-
    * list contributes 0. Rank fusion needs NO score calibration
    * between the input retrievers (the reason RRF is the default
    * hybrid-search combiner), so any two (query_id, neighbor_id, rn)
    * frames compose — the contract fuses the exact-cosine ranking with
    * the PQ-ADC ranking, i.e. an exact/compressed ensemble.
    *
    * Float discipline: each term is one IEEE division of CAST-to-
    * DOUBLE exact integers and the score is the SUM OF EXACTLY TWO
    * such terms in fixed written order — a row expression, not an
    * aggregate, so there is no partition-order float-sum hazard and
    * the oracle crosses bitwise unrounded. Ordering (rrf DESC,
    * neighbor_id) is total.
    *
    * Scale shape: one equi full-outer join on (query, neighbor) sized
    * by the input top-k pools (queries·k rows, never the corpus) + the
    * per-query ranking window. Output: (query_id, neighbor_id, rrf,
    * rn), top `k` per query. */
  def rrfFuse(a: DataFrame, b: DataFrame, kRrf: Int, k: Int): DataFrame =
    rrfFuseN(Seq(a, b), kRrf, k)

  /** n-ary reciprocal-rank fusion — [[rrfFuse]] generalized to any
    * number of retrievers (a three-way exact/IVF/PQ ensemble is the
    * realistic hybrid-search shape; Cormack et al. fuse dozens).
    *
    * Float-order discipline for n terms: the score is a ROW EXPRESSION
    * summing one coalesced CAST-to-DOUBLE integer division per list in
    * the Seq's written order, left-associated — both engines evaluate
    * `t0 + t1 + ... + t(n-1)` as `((t0 + t1) + t2) ...`, so the IEEE
    * sum is order-pinned by construction and crosses bitwise unrounded
    * exactly like the binary form (which is now the n = 2 instance).
    *
    * Scale shape: n−1 equi full-outer joins on (query, neighbor), each
    * sized by the top-k pools (queries·k rows, never the corpus), then
    * one per-query ranking window. */
  def rrfFuseN(lists: Seq[DataFrame], kRrf: Int, k: Int): DataFrame = {
    require(kRrf >= 1 && k >= 1, s"need kRrf >= 1 and k >= 1, got $kRrf, $k")
    require(lists.size >= 2, s"need at least 2 rankings to fuse, got ${lists.size}")
    val ranked = lists.zipWithIndex.map { case (l, i) =>
      l.select(col("query_id"), col("neighbor_id"), col("rn").as(s"r$i"))
    }
    val joined = ranked.reduce(_.join(_, Seq("query_id", "neighbor_id"), "full_outer"))
    val score = ranked.indices.map { i =>
      coalesce(lit(1.0) / (lit(kRrf.toLong) + col(s"r$i")).cast("double"), lit(0.0))
    }.reduce(_ + _)
    val fused = joined.select(col("query_id"), col("neighbor_id"), score.as("rrf"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rrf").desc, col("neighbor_id"))
    fused.withColumn("rn", row_number().over(w).cast("long")).filter(col("rn") <= k)
  }

  /** IVF recall audit — the q_lsh_recall counterpart for the ANN
    * family: recall@k of [[ivfTopK]] against the exact
    * [[bruteForceTopK]] neighbor sets, swept over `nprobes`. The probe
    * budget is THE quality/cost knob of an IVF index; this makes its
    * miss rate a per-round hash-checked fact instead of a one-time
    * argument. Like the LSH audit it intentionally pays the exact
    * brute-force cost — an sf-scale audit, never a production path
    * (the production path is the ivfTopK it grades).
    *
    * Counting joins are exact-pool-sized (queries·k rows); recall is
    * one CAST-to-DOUBLE division of two exact BIGINTs — no rounding
    * discipline needed. Output: (nprobe, n_exact, n_found, recall). */
  def ivfRecall(emb: DataFrame, coarseIds: Seq[Long], queryIds: Seq[Long],
                nprobes: Seq[Int], k: Int): DataFrame = {
    require(nprobes.nonEmpty, "need at least one nprobe")
    // persist: the exact top-k pool is the shared reference for EVERY
    // sweep point — unpersisted, each union arm re-plans bruteForceTopK
    // and therefore re-scans the corpus per nprobe. queries·k rows.
    val exact = Cached.keep(bruteForceTopK(emb, queryIds, k)
      .select(col("query_id"), col("neighbor_id")))
    val out = nprobes.map { np =>
      val approx = ivfTopK(emb, coarseIds, queryIds, np, k)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_found"))
        .select(lit(np.toLong).as("nprobe"), col("n_exact"), col("n_found"),
          (col("n_found").cast("double") / col("n_exact").cast("double"))
            .as("recall"))
    }.reduce(_ union _)
    Cached.result(out, exact)
  }

  /** Recall audit for the COMPRESSED-domain ANN paths — [[ivfRecall]]'s
    * counterpart for [[pqSearch]] and [[ivfPqSearch]], the paths whose
    * ADC approximation is most likely to degrade silently (quantization
    * error never surfaces as an error, only as misses). The exact
    * reference is the brute-force L2² top-k — PQ ranks by (approximate)
    * L2 distance, so grading it against the cosine ranking would
    * conflate metric mismatch with quantization error.
    *
    * One row for the pure-PQ scan (`nprobe` = 0: no coarse pruning —
    * every miss is quantization error) plus one per swept nprobe for
    * IVF-PQ (misses = quantization + cell pruning). The exact pool
    * persists across arms (queries·k rows); counting joins are
    * pool-sized; recall is one CAST-to-DOUBLE division of exact
    * BIGINTs. Like the other audits this intentionally pays the exact
    * brute-force cost — an sf-scale audit, never a production path.
    * EAGER (inherits the codebook collects; materializes the
    * arms-row result to release the cached pool).
    * Output: (method, nprobe, n_exact, n_found, recall). */
  def pqRecall(emb: DataFrame, coarseIds: Seq[Long], codebookIds: Seq[Long],
               m: Int, queryIds: Seq[Long], nprobes: Seq[Int], k: Int): DataFrame = {
    require(nprobes.nonEmpty, "need at least one nprobe")
    val exact = Cached.keep(l2Ranked(emb, queryIds, k)
      .select(col("query_id"), col("neighbor_id")))
    def arm(method: String, np: Long, approx: DataFrame): DataFrame =
      exact.join(approx.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit")),
          Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_found"))
        .select(lit(method).as("method"), lit(np).as("nprobe"),
          col("n_exact"), col("n_found"),
          (col("n_found").cast("double") / col("n_exact").cast("double"))
            .as("recall"))
    val out = (arm("pq", 0L, pqSearch(emb, codebookIds, m, queryIds, k)) +:
      nprobes.map(np => arm("ivf_pq", np.toLong,
        ivfPqSearch(emb, coarseIds, codebookIds, m, queryIds, np, k))))
      .reduce(_ union _)
    Cached.result(out, exact)
  }

  /** Recall audit for the REFINE stage — [[pqRecall]]'s counterpart for
    * [[ivfPqSearchRefined]]: for each swept rerank budget R, the recall
    * of the refined top-k against the exact L2² top-k. R = k is the
    * plain ADC ranking's candidate SET (re-ordered exactly, same
    * membership), and recall is monotone in R toward the probed cells'
    * ceiling — the measured answer to "how much accuracy does each unit
    * of refine budget buy". Same audit economics as the other recall
    * queries: pays brute force once, never a production path.
    * Output: (rerank_r, n_exact, n_found, recall). */
  def refineRecall(emb: DataFrame, coarseIds: Seq[Long],
                   codebookIds: Seq[Long], m: Int, queryIds: Seq[Long],
                   nprobe: Int, rerankRs: Seq[Int], k: Int): DataFrame = {
    require(rerankRs.nonEmpty && rerankRs.forall(_ >= k),
      s"need every rerankR >= k=$k, got $rerankRs")
    val exact = Cached.keep(l2Ranked(emb, queryIds, k)
      .select(col("query_id"), col("neighbor_id")))
    val out = rerankRs.map { r =>
      val approx = ivfPqSearchRefined(emb, coarseIds, codebookIds, m,
          queryIds, nprobe, r, k)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_found"))
        .select(lit(r.toLong).as("rerank_r"), col("n_exact"), col("n_found"),
          (col("n_found").cast("double") / col("n_exact").cast("double"))
            .as("recall"))
    }.reduce(_ union _)
    Cached.result(out, exact)
  }

  /** Exact L2² top-k per query (ascending distance, ties to lowest
    * neighbor id) — the reference ranking for the distance-metric ANN
    * audits. Same broadcast-queries/one-scan shape as [[bruteRanked]]. */
  private def l2Ranked(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), v(col("embedding")).as("vec"))
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        distSq(col("qvec"), col("vec")).as("d2"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** argmin-cell assignment shared by IVF and near-dup pruning:
    * (vec_id, vec, cell_id) with cell = nearest coarse centroid by L2²,
    * ties to lowest cell_id.
    *
    * Shuffle-free: the coarse cells are K rows — the engine's documented
    * driver boundary — so they are collected once and handed to the
    * codegen'd [[graft.functions.NearestCentroid]] argmin as one table
    * literal, the kernel the vector K-Means core uses. The assignment is
    * a pure projection over the corpus scan at every K: no join, no
    * window, no Exchange, and the generated code does not grow with K.
    * Distances are `distSq`'s L2² accumulation, so the argmin is the
    * joined (cd2, cell_id) form's bit for bit, ties to the lowest
    * cell_id ([[NearestCentroid.nearestId]]).
    *
    * EAGER in `coarse` (collects the cells at call time) and requires a
    * non-empty cell table: an empty quantizer is a configuration error
    * that should fail loudly here, not propagate an empty assignment. */
  private[graft] def assignCells(e: DataFrame, coarse: DataFrame): DataFrame = {
    val cells = coarse.select(col("cell_id").cast("long"), col("cvec").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    require(cells.nonEmpty, "assignCells: empty coarse cell table")
    e.select(col("vec_id"), col("vec"), NearestCentroid.nearestId(col("vec"), cells).as("cell_id"))
  }

  /** Embedding-cosine near-duplicate pairs, cell-pruned: vectors are
    * coarse-quantized (same assignment as IVF) and only SAME-CELL pairs
    * are scored — the pair space shrinks by ~K and the quantization is
    * part of the operator's contract (the oracle mirrors it), so the
    * output is deterministic. Returns (va, vb, sim) with va < vb and
    * cosine >= threshold.
    *
    * NOTE: EAGER — composing this pipeline collects the coarse-cell
    * table (K driver rows) and, because the result is materialized to
    * release its caches, runs the scoring jobs at call time. */
  def cosineNearDupPairs(emb: DataFrame, coarseIds: Seq[Long], threshold: Double): DataFrame = {
    val e = emb.select(col("vec_id"), v(col("embedding")).as("vec"))
    val coarse = e.filter(col("vec_id").isin(coarseIds: _*))
      .select(col("vec_id").as("cell_id"), col("vec").as("cvec"))
    // persist: both sides of the pair self-join. Norms are precomputed
    // per VECTOR (n of them), not per pair (~n²/K of them) — same
    // sqrt(dot(v,v)) expression, so sim values are bit-identical, but the
    // pair loop does one fold instead of three
    val assigned = Cached.keep(assignCells(e, coarse)
      .withColumn("nrm", sqrt(dot(col("vec"), col("vec")))))
    val result = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell_id") === col("b.cell_id") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        (dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm"))).as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("va"), col("vb"), round(col("sim"), 4).as("sim"))
    Cached.result(result, assigned)
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication over the
    * embedding space — cluster the corpus (here: the same coarse-cell
    * quantization IVF uses; production fits it with `VectorKMeans.step`), then within
    * each cluster drop every vector that has a LOWER-id neighbor at
    * cosine ≥ `threshold` (the paper's keep-lowest-index policy, which
    * needs no transitive closure: any member of a near-dup group other
    * than its minimum is dropped by the pair that connects it to an
    * earlier member... and the minimum itself never is). Catches
    * paraphrases/translations that text-level MinHash scores near zero.
    *
    * Pure composition: `cosineNearDupPairs` supplies the cell-pruned
    * pair set (never n² — same-cell pairs only), and the policy is one
    * distinct + one anti join keyed by vec_id. EAGER (inherited from
    * the pair operator's cell collect + materialization).
    * Output: the SURVIVING (vec_id) rows. */
  def semDedup(emb: DataFrame, coarseIds: Seq[Long], threshold: Double): DataFrame = {
    val dropped = cosineNearDupPairs(emb, coarseIds, threshold)
      .select(col("vb").as("vec_id"))
      .distinct()
    emb.select(col("vec_id")).join(dropped, Seq("vec_id"), "left_anti")
  }

  /** Incremental semantic dedup: (batch_id, corpus_id, sim) cosine
    * near-dup pairs between a NEW embedding batch and the existing
    * corpus — the embedding-space twin of `Dedup.incrementalMinhash`,
    * completing the incremental family (exact, bloom-triaged, MinHash,
    * edit-distance, and now semantic). The ingest question it answers:
    * which new documents PARAPHRASE something already ingested — the
    * near-dups text-level MinHash scores near zero.
    *
    * Shape: both sides coarse-quantize with the SAME shuffle-free
    * argmin projection IVF uses (`assignCells`), so the
    * corpus is scanned once and NEVER self-joined; the assigned batch
    * (small next to the corpus) broadcasts into a same-cell equi-join
    * against the corpus scan. Candidates = same-cell cross pairs only —
    * the cell pruning that keeps this off the n·m cliff; at cluster
    * scale cell_id is the corpus partition key and a batch probes only
    * the cells it lands in. Centroids come from CORPUS vectors (the
    * fitted quantizer artifact, exactly how a production index ships).
    *
    * Norms are precomputed per VECTOR with the same sqrt(dot(v,v))
    * expression as `cosineNearDupPairs`, so sim values are
    * bit-identical to the batch operator's. vec_ids must be unique
    * ACROSS both frames. EAGER (inherits the coarse-cell collect). */
  def incrementalCosinePairs(newEmb: DataFrame, corpus: DataFrame,
                             coarseIds: Seq[Long], threshold: Double): DataFrame = {
    val cn = corpus.select(col("vec_id"), v(col("embedding")).as("vec"))
    val bn = newEmb.select(col("vec_id"), v(col("embedding")).as("vec"))
    val coarse = cn.filter(col("vec_id").isin(coarseIds: _*))
      .select(col("vec_id").as("cell_id"), col("vec").as("cvec"))
    def withNorm(df: DataFrame) =
      assignCells(df, coarse).withColumn("nrm", sqrt(dot(col("vec"), col("vec"))))
    broadcast(withNorm(bn)).as("a")
      .join(withNorm(cn).as("b"), col("a.cell_id") === col("b.cell_id"))
      .select(col("a.vec_id").as("batch_id"), col("b.vec_id").as("corpus_id"),
        (dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm"))).as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("batch_id"), col("corpus_id"), round(col("sim"), 4).as("sim"))
  }

  /** Multiplicative draw hash for id-keyed deterministic sampling:
    * (id % DrawMod) · DrawMult % DrawMod. Both factors < 2^32 so the
    * product stays far inside BIGINT on any engine — no overflow, no
    * wrap-semantics divergence. (Text-keyed samplers hash CONTENT; an
    * embedding row has no text, so the stable key is its id.) */
  private[graft] val DrawMod = 1000003L
  private[graft] val DrawMult = 2654435761L

  /** Cell-balanced (diversity) sampling — the topic-balancing step of
    * embedding-driven curation (the SemDeDup/DataComp recipe's
    * companion: after near-dup pruning, cap how much any one semantic
    * cluster contributes to the training mix). Every vector is
    * coarse-quantized by the same shuffle-free literal-centroid argmin
    * as IVF, then at most `quota` vectors per cell survive, drawn by a
    * deterministic multiplicative hash of vec_id (ties impossible: the
    * draw is injective mod DrawMod and vec_id breaks any residue
    * collision).
    *
    * Shape: one projection (cell assignment) + one cell-keyed window
    * whose per-key top-`quota` trims map-side (WindowGroupLimit) — a
    * single shuffle keyed by cell, output K·quota rows regardless of
    * corpus size. All-integer: the draw and rank cross engines with no
    * float discipline. Output: (cell_id, vec_id, rn), rn = 1..quota
    * within cell. */
  def cellBalancedSample(emb: DataFrame, coarseIds: Seq[Long], quota: Int): DataFrame = {
    require(quota >= 1, s"need quota >= 1, got $quota")
    val e = emb.select(col("vec_id"), v(col("embedding")).as("vec"))
    val coarse = e.filter(col("vec_id").isin(coarseIds: _*))
      .select(col("vec_id").as("cell_id"), col("vec").as("cvec"))
    val draw = (col("vec_id") % lit(DrawMod)) * lit(DrawMult) % lit(DrawMod)
    val w = Window.partitionBy(col("cell_id")).orderBy(draw, col("vec_id"))
    assignCells(e, coarse)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= quota)
      .select(col("cell_id"), col("vec_id"), col("rn"))
  }

  /** Per-cell medoid: the corpus vector closest to its cell's FITTED
    * centroid — the canonical exemplar a corpus card / cluster browser
    * shows per topic, and the diversity-sampling companion to
    * [[cellBalancedSample]] (that operator draws a balanced SAMPLE per
    * cell; this one names each cell's single most central member).
    * Takes an explicit (cell_id, cvec) table — the fitted-quantizer
    * artifact, the [[ivfTopKWith]] convention — because with
    * corpus-vector seeds the medoid is trivially the seed itself
    * (its own distance is 0): the operator is only informative once
    * centroids are means, i.e. after at least one K-Means step.
    *
    * Shape: the shuffle-free literal-centroid assignment shared with
    * IVF, one broadcast join to re-attach the K centroid vectors, then
    * ONE cell-keyed aggregate — `min(struct(d2, vec_id))` compares d2
    * then vec_id, so the argmin ties to the lowest id with map-side
    * partials doing the heavy lifting (a per-cell window would sort
    * whole cells; the min-struct aggregate keeps one candidate per
    * partition per cell). d2 is ordering-only and never emitted — the
    * output is all-integer (cell_id, medoid_id, n_members), nothing for
    * cross-engine float discipline to even guard. A cell emptied by the
    * assignment is simply absent. EAGER in the coarse table (see
    * [[ivfTopK]]). */
  def cellMedoids(emb: DataFrame, coarse: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), v(col("embedding")).as("vec"))
    val cells = coarse.select(col("cell_id").cast("long").as("cell_id"),
      col("cvec").cast("array<double>").as("cvec"))
    assignCells(e, cells)
      .join(broadcast(cells), Seq("cell_id"))
      .select(col("cell_id"), col("vec_id"),
        distSq(col("vec"), col("cvec")).as("d2"))
      .groupBy(col("cell_id"))
      .agg(min(struct(col("d2"), col("vec_id"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("cell_id"), col("m.vec_id").as("medoid_id"), col("n_members"))
  }

  /** Gram (second-moment) matrix of the embedding corpus: G[i][j] =
    * Σ_vec vec(i)·vec(j) — the building block for covariance/whitening/
    * PCA over a training-data embedding table. Join formulation (the
    * SQL-mirrorable contract form): explode positions, self-join per
    * vector, hash-aggregate the d² cells. Output: (i, j, g), 1-based.
    *
    * Fine at contract scale; the pair-row blowup is rows·d², which
    * `gramRaw`'s treeAggregate avoids beyond toy sizes. */
  def gramMatrix(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), v(col("embedding")).as("vec"))
      .repartition(emb.sparkSession.sessionState.conf.numShufflePartitions)
    val a = e.select(col("vec_id"), posexplode(col("vec")).as(Seq("p", "x")))
      .select(col("vec_id"), (col("p") + 1).cast("long").as("i"), col("x"))
    val b = a.select(col("vec_id").as("vid2"), col("i").as("j"), col("x").as("y"))
    a.join(b, col("vec_id") === col("vid2"))
      .groupBy(col("i"), col("j"))
      .agg(round(sum(col("x") * col("y")), 4).as("g"))
  }

  /** The raw (unrounded) flattened d×d gram matrix for the PCA power
    * iteration, the 100 TB formulation: `treeAggregate` accumulates a
    * local d×d matrix in a primitive array per partition (no pair rows
    * ever materialize), then merges partials in a tree ON EXECUTORS, so
    * the driver receives ONE d² matrix whatever the partition count.
    * Shuffles nothing. */
  private[graft] def gramRaw(emb: DataFrame): (Int, Array[Double]) = {
    val spark = emb.sparkSession
    import spark.implicits._
    // accumulator: (dim, flattened d×d sums); dim 0 = "nothing seen yet"
    val zero = (0, Array.emptyDoubleArray)
    val (d, total) = emb.select(v(col("embedding")))
      .as[Seq[Double]]
      .rdd
      .treeAggregate(zero)(
        seqOp = { case ((d0, acc0), s) =>
          val a = s.toArray
          val d = if (d0 == 0) a.length else d0
          val acc = if (d0 == 0) new Array[Double](d * d) else acc0
          require(a.length == d, s"ragged embedding: ${a.length} vs $d")
          var i = 0
          while (i < d) {
            val xi = a(i); var j = 0
            while (j < d) { acc(i * d + j) += xi * a(j); j += 1 }
            i += 1
          }
          (d, acc)
        },
        combOp = { case ((da, pa), (db, pb)) =>
          if (da == 0) (db, pb)
          else if (db == 0) (da, pa)
          else {
            require(da == db, s"gramRaw: inconsistent dims $da vs $db")
            var k = 0
            while (k < pa.length) { pa(k) += pb(k); k += 1 }
            (da, pa)
          }
        })
    require(d > 0, "gramRaw: empty embedding table")
    (d, total)
  }

  /** Principal direction of the embedding corpus by POWER ITERATION on
    * the gram matrix — the PCA step quality pipelines run before
    * whitening or before SemDeDup-style clustering. G comes from
    * `gramRaw` (treeAggregate: no shuffle, driver receives ONE d²
    * matrix); the iteration itself is d²-sized driver arithmetic — the
    * documented K-row driver boundary, independent of corpus size.
    *
    * Cross-engine contract (the c2_iterate3 technique): G rounds to 6
    * decimals FIRST, then each iteration computes v ← round((G·v) /
    * ‖G·v‖, 6) — both engines run the identical recurrence on identical
    * rounded inputs, so the only divergence channel is last-ulp sum
    * order inside one iteration, absorbed by the 1e-6 grid (margin
    * ~1e7). Equality does NOT require convergence: both sides run
    * exactly `iters` iterations from v₀ = all-ones.
    * Output: (dim, val) — the unit principal direction, 1-based dims. */
  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** `iters` power iterations of v ← round((G·v)/‖G·v‖, 6) from the
    * all-ones start — the driver half of the cross-engine recurrence. */
  private def powerChain(g: Array[Double], d: Int, iters: Int): Array[Double] = {
    var vv = Array.fill(d)(1.0)
    for (_ <- 1 to iters) {
      val mv = Array.tabulate(d) { i =>
        var s = 0.0; var j = 0
        while (j < d) { s += g(i * d + j) * vv(j); j += 1 }
        s
      }
      val nrm = math.sqrt(mv.map(x => x * x).sum)
      // a zero matrix (e.g. a grid-exact rank-1 gram after deflation)
      // has no principal direction: fail explicitly instead of folding
      // NaN into BigDecimal (NumberFormatException) or diverging from
      // the SQL mirror's 0/0 semantics
      require(nrm > 0, "powerChain: zero matrix — no principal direction")
      vv = mv.map(x => r6(x / nrm))
    }
    vv
  }

  def pcaPowerDirection(emb: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val spark = emb.sparkSession
    import spark.implicits._
    val (d, raw) = gramRaw(emb)
    val vv = powerChain(raw.map(r6), d, iters)
    vv.zipWithIndex.map { case (x, i) => ((i + 1).toLong, x) }.toSeq.toDF("dim", "val")
  }

  /** Second principal direction by HOTELLING DEFLATION: run the power
    * chain for v₁, estimate its Rayleigh quotient λ = round(v₁ᵀGv₁, 6),
    * deflate G₂ = round(G − λ·v₁v₁ᵀ, 6), and run the identical chain on
    * G₂ — the standard top-k eigensolver step, each stage on the same
    * round-6 contract grid so both engines walk the same matrices.
    * v₂ is orthogonal to v₁ exactly insofar as v₁ converged (spec pins
    * near-orthogonality on a separated fixture).
    * Output: (dim, val) of the second direction, 1-based dims. */
  def pcaSecondDirection(emb: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val spark = emb.sparkSession
    import spark.implicits._
    val (d, raw) = gramRaw(emb)
    require(d >= 2, s"pcaSecondDirection: needs >= 2 dims, got $d")
    val g = raw.map(r6)
    val v1 = powerChain(g, d, iters)
    var lam = 0.0
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) { lam += (v1(i) * g(i * d + j)) * v1(j); j += 1 }
      i += 1
    }
    val lr = r6(lam)
    val g2 = Array.tabulate(d * d)(k =>
      r6(g(k) - lr * (v1(k / d) * v1(k % d))))
    val v2 = powerChain(g2, d, iters)
    v2.zipWithIndex.map { case (x, i2) => ((i2 + 1).toLong, x) }.toSeq.toDF("dim", "val")
  }

  /** Per-vector symmetric int8 quantization: scale = 127 / max|v_i|,
    * code_i = round(v_i · scale) ∈ [-127, 127] — the memory layout an
    * embedding index at 100 TB actually stores (4 GB of float32 → 1 GB
    * of int8 + one float scale per vector, with dot products computed in
    * integer SIMD and rescaled). All-zero vectors quantize to all-zero
    * codes (scale 0). Pure per-row arithmetic — one scan, no shuffle —
    * and every op (abs, max, divide, multiply, round-half-away-from-
    * zero) is bit-identical across engines, so the codes match the SQL
    * oracle EXACTLY, not approximately.
    * Output: (vec_id, scale, codes array<long>). */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), v(col("embedding")).as("vec"))
    val maxAbs = array_max(transform(col("vec"), x => abs(x)))
    val scale = when(maxAbs > 0, lit(127.0) / maxAbs).otherwise(lit(0.0))
    e.withColumn("scale", scale)
      .select(col("vec_id"), col("scale"),
        transform(col("vec"), x => round(x * col("scale")).cast("long")).as("codes"))
  }

  /** Shared int8 code rows for the drift monitors: (vec_id, label,
    * codes) on the [[quantizeInt8]] grid (same per-vector maxAbs scale,
    * same round-half-up). ONE definition feeds both [[labelDrift]] and
    * the streaming `LabelDriftMonitor`'s input projection, so the batch
    * twin and the live monitor can never quantize differently. */
  def int8CodeRows(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), col("label").cast("long").as("label"),
      v(col("embedding")).as("vec"))
    val maxAbs = array_max(transform(col("vec"), x => abs(x)))
    val scale = when(maxAbs > 0, lit(127.0) / maxAbs).otherwise(lit(0.0))
    e.withColumn("sc", scale)
      .select(col("vec_id"), col("label"),
        transform(col("vec"), x => round(x * col("sc")).cast("long")).as("codes"))
  }

  /** Per-label embedding drift monitor — the shard-health check of an
    * embedding pipeline: how far does each label's (shard's/source's)
    * mean embedding DIRECTION deviate from the corpus mean? A corrupted
    * batch, a domain shift, or an encoder version skew shows up as one
    * label's cosine dropping away from the rest.
    *
    * Exactness discipline: vectors are int8-quantized first (the
    * [[quantizeInt8]] grid, already oracle-proven), so every centroid
    * sum is an INTEGER aggregate — commutative, partition-order-
    * invariant, bitwise cross-engine with no rounding. The cosine is
    * then a fixed sequence of five IEEE ops over exact integers
    * (cast, sqrt, sqrt, mul, div; sqrt is correctly rounded by IEEE
    * 754 in both engines). Sum bounds: per-dim label sums < 127·n_label,
    * global < 127·n, cross products < 2^63 until ~10^8 vectors per
    * label at 64 dims — past that, shard the label key.
    *
    * Shape: one explode + one (label, pos) integer aggregate; the
    * global centroid derives from the per-label sums (no second corpus
    * pass); the final join is (labels × dims)-sized. Output: (label,
    * n_vecs, dot, na2, nb2, cos_drift), NULL cosine for a degenerate
    * all-zero side. */
  def labelDrift(emb: DataFrame): DataFrame = {
    val codes = int8CodeRows(emb).select(col("label"), col("codes"))
    val x = codes.select(col("label"), posexplode(col("codes")).as(Seq("pos", "code")))
    // cnt rides the same aggregate (= n_vecs at every pos) and the global
    // centroid is a pos-keyed WINDOW over the per-label sums — a join
    // back to a re-aggregation would duplicate the corpus scan in the
    // plan tree (Spark reuses no DataFrame subplans); the window runs on
    // the labels × dims aggregate output, not the corpus
    val perLabel = x.groupBy(col("label"), col("pos"))
      .agg(sum(col("code")).as("ls"), count(lit(1)).as("cnt"))
    val withGlobal = perLabel.withColumn("gs",
      sum(col("ls")).over(Window.partitionBy(col("pos"))))
    withGlobal
      .groupBy(col("label"))
      .agg(sum(col("ls") * col("gs")).as("dot"),
        sum(col("ls") * col("ls")).as("na2"),
        sum(col("gs") * col("gs")).as("nb2"),
        max(col("cnt")).as("n_vecs"))
      .select(col("label"), col("n_vecs"), col("dot"), col("na2"), col("nb2"),
        when(col("na2") === 0 || col("nb2") === 0, lit(null).cast("double"))
          .otherwise(col("dot").cast("double") /
            (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))))
          .as("cos_drift"))
  }

  /** IVF top-k: quantize every vector to its nearest coarse cell (L2,
    * ties to lowest cell id), probe the nprobe nearest cells per query,
    * score only those candidates. Coarse centroids are corpus vectors
    * selected by id (deterministic; a K-Means fit is the production way
    * to pick them — the engine's own KMeansRunner generalizes here).
    * Output: (query_id, neighbor_id, sim).
    *
    * NOTE: EAGER — composing this pipeline collects the coarse-cell
    * table (K driver rows, the engine's documented driver boundary) so
    * the assignment can be a shuffle-free literal projection; merely
    * building the DataFrame therefore triggers a small Spark job. */
  def ivfTopK(emb: DataFrame, coarseIds: Seq[Long], queryIds: Seq[Long],
              nprobe: Int, k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), v(col("embedding")).as("vec"))
    val coarse = e.filter(col("vec_id").isin(coarseIds: _*))
      .select(col("vec_id").as("cell_id"), col("vec").as("cvec"))
    ivfTopKWith(emb, coarse, queryIds, nprobe, k)
  }

  /** IVF top-k against an explicit coarse-cell table (cell_id, cvec) —
    * e.g. centroids fitted by iterating `VectorKMeans.step`, the
    * production quantizer.
    * EAGER in `coarse` (see `ivfTopK`). */
  def ivfTopKWith(emb: DataFrame, coarse: DataFrame, queryIds: Seq[Long],
                  nprobe: Int, k: Int): DataFrame =
    ivfRanked(emb, coarse, queryIds, nprobe, k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim"), 4).as("sim"))
      .orderBy(col("query_id"), col("neighbor_id"))

  /** Ranked form of [[ivfTopK]] for rank-fusion consumers: (query_id,
    * neighbor_id, rn). Ranks come from the same unrounded
    * (sim DESC, neighbor_id) window as the contract query, so they are
    * exactly ann_ivf's ordering. EAGER in the coarse table (see
    * [[ivfTopK]]). */
  def ivfTopKRanked(emb: DataFrame, coarseIds: Seq[Long], queryIds: Seq[Long],
                    nprobe: Int, k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), v(col("embedding")).as("vec"))
    val coarse = e.filter(col("vec_id").isin(coarseIds: _*))
      .select(col("vec_id").as("cell_id"), col("vec").as("cvec"))
    ivfRanked(emb, coarse, queryIds, nprobe, k)
      .select(col("query_id"), col("neighbor_id"), col("rn").cast("long").as("rn"))
  }

  private def ivfRanked(emb: DataFrame, coarse: DataFrame, queryIds: Seq[Long],
                        nprobe: Int, k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), v(col("embedding")).as("vec"))

    // cell assignment: argmin_{cell} L2^2, ties -> lowest cell_id
    val assigned = assignCells(e, coarse)

    // probe list: the nprobe nearest cells of each query vector
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("qd2"), col("cell_id"))
    val probes = q.join(broadcast(coarse))
      .withColumn("qd2", distSq(col("qvec"), col("cvec")))
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qvec"), col("cell_id"))

    // score candidates in probed cells only
    val scored = assigned.join(broadcast(probes), Seq("cell_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qvec"), col("vec")).as("sim"))
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(wTop)).filter(col("rn") <= k)
  }

  /** Deterministic ±1 sign for projection cell (i, j), 0-based: two
    * rounds of quadratic mixing mod a prime, parity decides. Pure
    * integer arithmetic with every intermediate < 10^8 — exact in
    * BIGINT on any engine (a hash-seeded sign matrix is the standard
    * JL construction; Achlioptas 2001 shows ±1 entries suffice). The
    * quadratic term matters: a LINEAR map's parity would make sign
    * depend only on (i+j) mod 2 — a rank-2 "matrix". */
  private[graft] def rpSign(i: Int, j: Int): Double = {
    val h1 = (i.toLong * 7919L + j.toLong * 104729L + 12345L) % 10007L
    val h2 = (h1 * h1 + h1) % 10007L
    if (h2 % 2L == 0L) 1.0 else -1.0
  }

  /** Johnson–Lindenstrauss random projection to `outDim` dimensions:
    * y_j = ⟨vec, s_j⟩ / √outDim with s_j the deterministic ±1 columns of
    * `rpSign` — the dimensionality-reduction step an embedding pipeline
    * runs before LSH/clustering when d is large. The sign matrix is
    * TINY (d·outDim) and a pure function of (i, j), so it inlines as
    * literal arrays into `outDim` codegen'd dot kernels: one scan, no
    * shuffle, no matrix to broadcast or store — at 100 TB every
    * executor re-derives the same matrix from the formula.
    *
    * EAGER in the input dim (reads one row to size the literals).
    * Output: (vec_id, j, y) with j 1-based, y rounded to 4 decimals
    * (products are exact — ±1 · float — so engines differ only in
    * summation order, same margin analysis as the gram matrix). */
  def randomProject(emb: DataFrame, outDim: Int): DataFrame = {
    require(outDim >= 1, s"need outDim >= 1, got $outDim")
    val e = emb.select(col("vec_id"), v(col("embedding")).as("vec"))
    val d = e.select(size(col("vec"))).head().getInt(0)
    require(d.toLong * outDim <= MaxInlineLiterals,
      s"randomProject: $d x $outDim sign literals exceed the codegen budget " +
        s"($MaxInlineLiterals) - would silently run interpreted; use a " +
        "broadcast-matrix join formulation at this size")
    val scale = math.sqrt(outDim.toDouble)
    val ys = (0 until outDim).map { j =>
      val signs = array((0 until d).map(i => lit(rpSign(i, j))): _*)
      round(dot(col("vec"), signs) / scale, 4)
    }
    e.select(col("vec_id"), posexplode(array(ys: _*)).as(Seq("j0", "y")))
      .select(col("vec_id"), (col("j0") + 1).cast("long").as("j"), col("y"))
  }

  /** Product quantization (Jégou et al., PAMI 2011): split each vector
    * into `m` contiguous subspaces and quantize every slice to its
    * nearest sub-codeword — the compressed-domain representation a
    * 100 TB ANN index actually stores (d floats → m byte codes; query
    * scoring becomes m table lookups per candidate). Codewords here are
    * corpus vectors selected by id (deterministic contract; per-subspace
    * K-Means, iterating `VectorKMeans.step`, is the production way to
    * train them).
    *
    * The codebook is m·ncodes tiny arrays — the engine's documented
    * driver-K-row boundary — collected once and handed, one table
    * literal per subspace, to the codegen'd [[NearestCentroid]] argmin,
    * so encoding is a pure projection: one scan, no join, no shuffle
    * (the IVF assignment argument, per subspace). Ties break to the
    * lowest code (the kernel's first minimum). Output: (vec_id, s, code,
    * err) with s 0-based subspace, err = that slice's squared distance to
    * its codeword rounded to 4 decimals. */
  def pqEncode(emb: DataFrame, codebookIds: Seq[Long], m: Int): DataFrame = {
    require(m >= 1, s"need m >= 1, got $m")
    require(codebookIds.nonEmpty, "pqEncode: empty codebook")
    val e = emb.select(col("vec_id"), v(col("embedding")).as("vec"))
    // EAGER: the codebook rows are K driver rows by construction
    val cbVecs = pqCodebook(e, codebookIds)
    val d = cbVecs.head.length
    require(d % m == 0, s"pqEncode: dim $d not divisible by m=$m")
    val dsub = d / m
    val perSub = (0 until m).map { s =>
      val sub = slice(col("vec"), s * dsub + 1, dsub)
      val table = NearestCentroid.table(cbVecs.map(cv => cv.slice(s * dsub, (s + 1) * dsub)))
      val code = NearestCentroid.l2sqCol(sub, table)
      struct(lit(s.toLong).as("s"), code.cast("long").as("code"),
        round(distSq(sub, element_at(table, code + 1)), 4).as("err"))
    }
    e.select(col("vec_id"), explode(array(perSub: _*)).as("p"))
      .select(col("vec_id"), col("p.s").as("s"), col("p.code").as("code"),
        col("p.err").as("err"))
  }

  /** Budget for literals inlined into one generated projection (the RP
    * sign matrix, the per-query ADC lookup tables): code that grows with
    * d·outDim or Q·m outgrows the JVM's 64KB method limit past a few
    * thousand terms, and Spark silently falls back to interpreted eval.
    * These operators REQUIRE below-budget configurations and fail loudly
    * above it (the honest alternative to silently running 10x slower).
    * Centroid and codeword tables are not counted: the
    * [[NearestCentroid]] argmin takes them as data, so its code does not
    * grow with K. */
  private[graft] val MaxInlineLiterals = 1 << 13

  /** Collect vectors by id in the given order — the driver-K-row pull
    * that turns corpus rows into [[ivfPqProbe]] query vectors (and a
    * public face for quantizer assembly from non-corpus sources). */
  def collectVectors(emb: DataFrame, ids: Seq[Long]): Seq[(Long, Array[Double])] = {
    val e = emb.select(col("vec_id"), v(col("embedding")).as("vec"))
    ids.zip(pqCodebook(e, ids))
  }

  /** The collected codebook slices shared by pqEncode/pqSearch:
    * cbVecs(code) = full codeword vector, in codebookIds order. */
  private def pqCodebook(e: DataFrame, codebookIds: Seq[Long]): Seq[Array[Double]] = {
    val cb = e.filter(col("vec_id").isin(codebookIds: _*))
      .select(col("vec_id"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .toMap
    codebookIds.map(id => cb.getOrElse(id,
      sys.error(s"pq codebook id $id not in corpus")))
  }

  /** PQ asymmetric-distance (ADC) top-k search — the QUERY path of a
    * product-quantized index: each query precomputes an m×ncodes
    * distance table (driver-side: m·ncodes tiny L2²s, the K-row
    * boundary), and every candidate's approximate distance is m TABLE
    * LOOKUPS on its codes — no candidate vector is ever read, which is
    * the entire point at 100 TB (the float corpus stays cold; only the
    * m-byte code table scans). Here codes come from the same table-
    * literal argmin as `pqEncode`; the lookup is `element_at` on literal
    * per-query arrays, summed left-to-right over subspaces — a pure
    * codegen'd projection, one scan of the code table, top-k via the
    * same rounded-grid window as tfidf (adist rounds to 4 decimals
    * BEFORE ranking so both engines order the same quantity; ties to
    * the lowest neighbor id).
    * Output: (query_id, neighbor_id, adist, rn), self excluded. */
  def pqSearch(emb: DataFrame, codebookIds: Seq[Long], m: Int,
               queryIds: Seq[Long], k: Int): DataFrame = {
    require(m >= 1 && k >= 1, s"need m >= 1 and k >= 1, got m=$m k=$k")
    val e = emb.select(col("vec_id"), v(col("embedding")).as("vec"))
    val cbVecs = pqCodebook(e, codebookIds)
    val qVecs = pqCodebook(e, queryIds) // same id->vector collect, for queries
    val d = cbVecs.head.length
    require(d % m == 0, s"pqSearch: dim $d not divisible by m=$m")
    require(queryIds.length.toLong * m * codebookIds.length <= MaxInlineLiterals,
      s"pqSearch: ${queryIds.length} query tables exceed the codegen budget " +
        s"($MaxInlineLiterals); shard the query set or use a broadcast join")
    val dsub = d / m
    def sub(a: Array[Double], s: Int) = a.slice(s * dsub, (s + 1) * dsub)
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var acc = 0.0
      while (i < a.length) { val dd = a(i) - b(i); acc += dd * dd; i += 1 }
      acc
    }
    // per-vector codes once (shared across queries): codes(s) via the
    // table-literal argmin, one array column
    val codeCols = (0 until m).map { s =>
      val slc = slice(col("vec"), s * dsub + 1, dsub)
      VectorKMeans.cellOf(slc, cbVecs.map(cv => sub(cv, s))).cast("long")
    }
    val coded = e.select(col("vec_id"), array(codeCols: _*).as("codes"))
    // ONE corpus scan for all queries: each row explodes to Q (query,
    // adist) structs, each adist being m literal-table lookups
    val qStructs = queryIds.zip(qVecs).map { case (qid, qv) =>
      // distance table: dt(s)(c) = L2^2(q slice s, codeword c slice s)
      val dt = (0 until m).map(s => cbVecs.indices.map(c =>
        l2(sub(qv, s), sub(cbVecs(c), s))).toArray)
      val adist = (0 until m).map(s =>
        element_at(array(dt(s).map(lit).toSeq: _*),
          (element_at(col("codes"), s + 1) + 1).cast("int")))
        .reduce(_ + _) // left-to-right subspace sum
      struct(lit(qid).as("query_id"), adist.as("adist"))
    }
    val scored = coded
      .select(col("vec_id").as("neighbor_id"), explode(array(qStructs: _*)).as("qa"))
      .filter(col("neighbor_id") =!= col("qa.query_id"))
      .select(col("qa.query_id").as("query_id"), col("neighbor_id"),
        round(col("qa.adist"), 4).as("adist"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adist"), col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w).cast("long")).filter(col("rn") <= k)
  }

  /** IVF-PQ search — the production 100 TB ANN layout (the FAISS
    * IVFPQ composition): a coarse quantizer prunes the candidate set to
    * `nprobe` cells per query, and PQ codes score what remains — the
    * index stores ONE coarse cell id + m code bytes per vector; neither
    * the scan nor the scoring ever touches the float corpus. Everything
    * driver-sized is computed driver-side (probe lists, distance
    * tables: K·Q tiny L2²s) and inlined, so the whole query is a pure
    * projection over the (cell_id, codes) table followed by the one
    * top-k exchange: at cluster scale cell_id is the partition key and
    * a probe reads only nprobe/K of the data.
    *
    * Cell assignment/tie-breaks are `assignCells`' (lowest cell id);
    * codes/adist/rounding are `pqSearch`'s (rounded grid before
    * ranking, ties to lowest neighbor). Output: (query_id, neighbor_id,
    * adist, rn).
    *
    * Composition of [[ivfPqIndexRows]] (encode) and [[ivfPqProbe]]
    * (score) — the one-shot form that re-encodes the corpus per query.
    * A served deployment encodes ONCE with [[writeIvfPqIndex]] /
    * `streaming.VectorIndexIngest` and probes the stored rows: bitwise
    * the same results (the index holds only integers, so the parquet
    * round-trip is exact), spec-pinned. */
  def ivfPqSearch(emb: DataFrame, coarseIds: Seq[Long], codebookIds: Seq[Long],
                  m: Int, queryIds: Seq[Long], nprobe: Int, k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), v(col("embedding")).as("vec"))
    val q = IvfPqQuantizer(coarseIds.zip(pqCodebook(e, coarseIds)),
      pqCodebook(e, codebookIds), m)
    ivfPqProbe(ivfPqIndexRowsOf(e, q), q,
      queryIds.zip(pqCodebook(e, queryIds)), nprobe, k)
  }

  /** IVF-PQ search with EXACT RE-RANKING — the FAISS `refine` stage,
    * the production accuracy knob: the ADC ranking proposes the top
    * `rerankR` candidates per query from the compressed codes, then the
    * ORIGINAL vectors of just those R·Q rows are fetched (a broadcast
    * join of the tiny candidate set against the embedding table — at
    * scale, an id-keyed point fetch) and re-scored with exact L2²
    * against the query. Quantization error is bought back for R·Q
    * exact distances instead of the brute-force N·Q. Exact d2 rounds
    * to 4 BEFORE ranking (both engines rank the same grid), ties to
    * the lowest neighbor id. Output: (query_id, neighbor_id, d2, rn),
    * top `k` per query by EXACT distance. */
  def ivfPqSearchRefined(emb: DataFrame, coarseIds: Seq[Long],
                         codebookIds: Seq[Long], m: Int, queryIds: Seq[Long],
                         nprobe: Int, rerankR: Int, k: Int): DataFrame = {
    require(k >= 1 && rerankR >= k,
      s"need rerankR >= k >= 1, got rerankR=$rerankR k=$k")
    val cands = ivfPqSearch(emb, coarseIds, codebookIds, m, queryIds,
        nprobe, rerankR)
      .select(col("query_id"), col("neighbor_id"))
    refineExact(emb, cands, queryIds, k)
  }

  /** The refine stage alone: exact-L2² re-rank of a (query_id,
    * neighbor_id) candidate frame against the original vectors — shared
    * by [[ivfPqSearchRefined]] and any stored-index probe whose ADC
    * ranking needs the accuracy buy-back. */
  def refineExact(emb: DataFrame, cands: DataFrame, queryIds: Seq[Long],
                  k: Int): DataFrame = {
    val e = emb.select(col("vec_id").as("neighbor_id"),
      v(col("embedding")).as("vec"))
    val q = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), v(col("embedding")).as("qvec"))
    // rank by the UNROUNDED exact distance: the l2sq kernel is bitwise
    // cross-engine (same left-to-right loop both sides), so the ordering
    // needs no rounded grid — rounding only the OUTPUT column keeps the
    // rank immune to the DuckDB round() half-boundary class (the r10
    // hazard) instead of exposed to it
    val scored = e.join(broadcast(cands), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        distSq(col("qvec"), col("vec")).as("_d2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_d2"), col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("_d2"), 4).as("d2"), col("rn"))
  }

  /** MMR (maximal-marginal-relevance) diversity reranking — Carbonell
    * & Goldstein 1998, the standard de-crowding final stage of a RAG
    * retrieval stack: from the top-`poolN` cosine candidates of
    * `queryId`, greedily select `k` maximizing
    * `λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)`, so near-duplicate
    * hits can't fill the context window with the same passage.
    *
    * Scale shape: the corpus-sized work is exactly the brute-force
    * scorer's — ONE embedding scan against the broadcast query vector
    * and a top-poolN ranking window (the `rn <= poolN` filter collapses
    * to TakeOrderedAndProject: per-partition top-N then one merge, so
    * no single-partition corpus sort survives the optimizer — PlanSpec-
    * pinned on [[mmrPool]]). Only then does the poolN-row pool cross
    * to the driver, where the O(poolN²·k) greedy runs — poolN is the
    * caller's context-window budget (tens), never the corpus: the
    * pqSearch / ConnectedComponents driver-side-below-threshold
    * pattern. At cluster scale the scan and window distribute; the
    * greedy cost is constant.
    *
    * Float discipline: `rel` comes back from the SAME codegen'd cosine
    * kernel that ranked the pool; pairwise pool sims are the driver
    * mirror of that kernel (identical left-to-right dot loop; IEEE-754
    * sqrt is correctly rounded in the JVM, Spark codegen, and DuckDB
    * alike, so all three agree bitwise). Each step's score is
    * `λ·rel − (1−λ)·maxSim` with shared literals in fixed written
    * order (`maxSim = 0.0` for the first pick), `max` is
    * order-invariant, and argmax ties break to the lowest vec_id — the
    * selection is total and both relevance and mmr_score cross the
    * oracle UNROUNDED (no round() half-boundary exposure at all).
    * Cosine is bitwise symmetric (per-term products and the two norm
    * factors commute), so one stored triangle serves both lookup
    * directions while the oracle's directed pair table matches by
    * value.
    *
    * Output: (sel_rank, neighbor_id, relevance, mmr_score), sel_rank
    * 1..k in selection order (fewer rows if the pool is smaller). */
  /** The distributed stage of [[mmrRerank]]: (vec_id, vec, rel) of the
    * top-`poolN` cosine candidates — one corpus scan against the
    * broadcast query vector; the global rn <= poolN window collapses to
    * TakeOrderedAndProject (per-partition top-N, single merge — never a
    * full corpus sort; PlanSpec-pinned). Exposed so the plan can be
    * regression-guarded; the contract query's own plan is the
    * driver-side LocalRelation the greedy emits. */
  private[graft] def mmrPool(emb: DataFrame, queryId: Long,
                             poolN: Int): DataFrame = {
    val e = emb.select(col("vec_id"), v(col("embedding")).as("vec"))
    val q = e.filter(col("vec_id") === queryId).select(col("vec").as("qvec"))
    val w = Window.orderBy(col("rel").desc, col("vec_id"))
    e.filter(col("vec_id") =!= queryId)
      .join(broadcast(q))
      .select(col("vec_id"), col("vec"),
        cosine(col("qvec"), col("vec")).as("rel"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= poolN)
      .select(col("vec_id"), col("vec"), col("rel"))
  }

  def mmrRerank(emb: DataFrame, queryId: Long, poolN: Int, k: Int,
                lambda: Double): DataFrame = {
    require(poolN >= k && k >= 1, s"need poolN >= k >= 1, got poolN=$poolN k=$k")
    mmrFromPool(emb.sparkSession, mmrPool(emb, queryId, poolN), k, lambda)
  }

  /** MMR over an ANN-proposed candidate pool — the production indexed
    * RAG shape (FAISS propose → exact rerank → MMR de-crowd): the
    * IVF-PQ index nominates the top-`poolR` ADC candidates of
    * `queryId` (compressed-domain scan, nprobe cells only — never the
    * float corpus), the original vectors of just those R rows fetch via
    * a broadcast point-join (the refineExact fetch shape), relevance is
    * their EXACT cosine, and the same driver greedy selects `k`. The
    * candidate SET is the index's (recall < 1 vs [[mmrRerank]]'s exact
    * pool — that is the semantics, not an approximation bug); every
    * float that crosses the oracle is the exact kernel's, so the
    * outputs stay bitwise unrounded. */
  def mmrRerankIndexed(emb: DataFrame, coarseIds: Seq[Long],
                       codebookIds: Seq[Long], m: Int, queryId: Long,
                       nprobe: Int, poolR: Int, k: Int,
                       lambda: Double): DataFrame = {
    require(poolR >= k && k >= 1, s"need poolR >= k >= 1, got poolR=$poolR k=$k")
    val cands = ivfPqSearch(emb, coarseIds, codebookIds, m, Seq(queryId),
        nprobe, poolR)
      .select(col("neighbor_id").as("vec_id"))
    mmrOverCandidates(emb, cands, queryId, k, lambda)
  }

  /** [[mmrRerankIndexed]] over a PERSISTED index frame — the served
    * deployment's tail: the ADC candidates come from [[ivfPqProbe]]
    * against the stored (vec_id, cell_id, codes) rows (so a liveView /
    * deletion-vector store composes forget straight through the MMR
    * ranking: forgotten ids never reach the candidate set, surviving
    * scores are untouched — per-row independence), then the identical
    * exact-cosine rerank + greedy. Bitwise ≡ [[mmrRerankIndexed]] over
    * the corpus the store serves (spec-pinned). */
  def mmrRerankStored(index: DataFrame, q: IvfPqQuantizer, emb: DataFrame,
                      queryId: Long, nprobe: Int, poolR: Int, k: Int,
                      lambda: Double): DataFrame = {
    require(poolR >= k && k >= 1, s"need poolR >= k >= 1, got poolR=$poolR k=$k")
    val cands = ivfPqProbe(index, q, collectVectors(emb, Seq(queryId)),
        nprobe, poolR)
      .select(col("neighbor_id").as("vec_id"))
    mmrOverCandidates(emb, cands, queryId, k, lambda)
  }

  /** MMR over an ARBITRARY candidate frame (one `vec_id` column) — the
    * propose→rerank stage shared by the indexed MMR family and open to
    * any retriever's nominations (a fused hybrid ranking, a filtered
    * search, a business rule): fetch the original vectors of the
    * candidate ids (broadcast point-join — the refineExact shape),
    * exact cosine to `queryId` as relevance, then the greedy. */
  def mmrOverCandidates(emb: DataFrame, cands: DataFrame,
                        queryId: Long, k: Int,
                        lambda: Double): DataFrame =
    mmrFromPool(emb.sparkSession, mmrCandidatePool(emb, cands, queryId),
      k, lambda)

  /** The rerank fetch of [[mmrOverCandidates]]: original vectors of the
    * candidate ids via a broadcast point-join (at cluster scale an
    * id-keyed point fetch — PlanSpec-pinned broadcast, nothing
    * cartesian), exact cosine to the broadcast query vector as rel. */
  private[graft] def mmrCandidatePool(emb: DataFrame, cands: DataFrame,
                                      queryId: Long): DataFrame = {
    val e = emb.select(col("vec_id"), v(col("embedding")).as("vec"))
    val q = e.filter(col("vec_id") === queryId).select(col("vec").as("qvec"))
    e.join(broadcast(cands), Seq("vec_id"))
      .join(broadcast(q))
      .select(col("vec_id"), col("vec"),
        cosine(col("qvec"), col("vec")).as("rel"))
  }

  /** Shared greedy stage of the MMR family: collect the (bounded) pool,
    * mirror the cosine kernel driver-side for pairwise sims, select k.
    * See [[mmrRerank]] for the float-discipline argument.
    *
    * PRECONDITION — nonzero-norm vectors only: a zero-norm embedding
    * makes its cosine NaN, and the driver argmax (strict `>` sweep) and
    * the SQL mirror's ORDER BY order NaN differently (DuckDB sorts NaN
    * first under DESC), so the engines would silently diverge. The pool
    * is guarded here: any non-finite relevance — which is exactly what a
    * zero-norm pool vector or query produces — fails loudly instead. */
  private def mmrFromPool(spark: org.apache.spark.sql.SparkSession,
                          poolDf: DataFrame, k: Int,
                          lambda: Double): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"need lambda in [0,1], got $lambda")
    val pool = poolDf
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    pool.find(p => !java.lang.Double.isFinite(p._3)).foreach { p =>
      throw new IllegalArgumentException(
        s"mmr: non-finite relevance for vec_id=${p._1} — zero-norm " +
          "embeddings are outside the MMR contract (NaN cosine orders " +
          "differently across engines); filter them before reranking")
    }
    // driver mirror of the VectorOps.dot kernel: same n, same
    // left-to-right accumulation — bitwise the codegen'd fold
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var acc = 0.0; var i = 0
      while (i < n) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def cosD(a: Array[Double], b: Array[Double]): Double =
      dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b)))
    val n = pool.length
    val sims = Array.ofDim[Double](n, n)
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val s = cosD(pool(i)._2, pool(j)._2)
        sims(i)(j) = s; sims(j)(i) = s
        j += 1
      }
      i += 1
    }
    val mu = 1.0 - lambda
    val taken = Array.fill(n)(false)
    val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    var t = 1
    while (t <= math.min(k, n)) {
      // ascending-id sweep with strict > keeps the LOWEST id on score
      // ties — the oracle's (score DESC, vec_id) LIMIT 1
      var best = -1; var bestScore = 0.0
      var c = 0
      while (c < n) {
        if (!taken(c)) {
          var ms = 0.0
          if (selected.nonEmpty) {
            ms = Double.NegativeInfinity
            selected.foreach { s => if (sims(c)(s) > ms) ms = sims(c)(s) }
          }
          val score = lambda * pool(c)._3 - mu * ms
          if (best < 0 || score > bestScore) { best = c; bestScore = score }
        }
        c += 1
      }
      taken(best) = true; selected += best
      out += Row(t.toLong, pool(best)._1, pool(best)._3, bestScore)
      t += 1
    }
    spark.createDataFrame(java.util.Arrays.asList(out.toSeq: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sel_rank",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("neighbor_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("relevance",
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("mmr_score",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
  }

  /** Train an [[IvfPqQuantizer]] from corpus vectors selected by id —
    * the deterministic-contract counterpart of per-subspace K-Means
    * iterating `VectorKMeans.step` (the production trainer). The quantizer is a
    * driver-side value (K + ncodes tiny arrays): train once, serialize
    * into every encode/probe/streaming-ingest closure. */
  def trainIvfPqQuantizer(emb: DataFrame, coarseIds: Seq[Long],
                          codebookIds: Seq[Long], m: Int): IvfPqQuantizer = {
    val e = emb.select(col("vec_id"), v(col("embedding")).as("vec"))
    IvfPqQuantizer(coarseIds.zip(pqCodebook(e, coarseIds)),
      pqCodebook(e, codebookIds), m)
  }

  /** The IVF-PQ index rows of a vector set: (vec_id, cell_id, codes) —
    * one coarse cell id + m PQ codes per vector, nothing float. Encode
    * is a pure codegen'd projection (table-literal argmins, the
    * `pqEncode` argument): one scan, no join, no shuffle — so a
    * streaming batch encodes independently of every other batch, which
    * is what makes the appended index exactly-once under replay. */
  def ivfPqIndexRows(emb: DataFrame, q: IvfPqQuantizer): DataFrame =
    ivfPqIndexRowsOf(emb.select(col("vec_id"), v(col("embedding")).as("vec")), q)

  private def ivfPqIndexRowsOf(e: DataFrame, q: IvfPqQuantizer): DataFrame = {
    val cellCol = NearestCentroid.nearestId(col("vec"), q.cells)
    val codeCols = (0 until q.m).map { s =>
      VectorKMeans.cellOf(slice(col("vec"), s * q.dsub + 1, q.dsub),
        q.codebook.map(cv => q.sub(cv, s))).cast("long")
    }
    e.select(col("vec_id"), cellCol.as("cell_id"), array(codeCols: _*).as("codes"))
  }

  /** Probe an IVF-PQ index — the QUERY path over stored (vec_id,
    * cell_id, codes) rows, [[ivfPqSearch]]'s scoring verbatim: per-query
    * probe lists and distance tables are driver-side (K·Q tiny L2²s)
    * and inlined, adist is m literal-table lookups summed left-to-right,
    * rounded to 4 decimals BEFORE ranking, ties to the lowest neighbor
    * id. The union of all probe lists pre-filters `cell_id` so a store
    * partitioned by cell ([[writeIvfPqIndex]]) PARTITION-PRUNES to
    * nprobe·Q directories — the probe never lists, let alone scans, the
    * unprobed (K − nprobe)/K of a 100 TB index. */
  def ivfPqProbe(index: DataFrame, q: IvfPqQuantizer,
                 queries: Seq[(Long, Array[Double])], nprobe: Int,
                 k: Int): DataFrame = {
    require(k >= 1 && nprobe >= 1, s"need k, nprobe >= 1, got k=$k nprobe=$nprobe")
    require(queries.nonEmpty, "ivfPqProbe: empty query set")
    require(queries.length.toLong * q.m * q.codebook.length <= MaxInlineLiterals,
      s"ivfPqProbe: ${queries.length} query tables exceed the codegen budget " +
        s"($MaxInlineLiterals); shard the query set")
    // driver-side probe lists: the nprobe nearest coarse cells per query
    // (K x Q tiny distances; ties to the lowest cell id like assignCells)
    val probes: Map[Long, Seq[Long]] = queries.map { case (qid, qv) =>
      qid -> q.cells
        .map { case (cid, cv) => (q.l2(qv, cv), cid) }
        .sortBy(identity).take(nprobe).map(_._2)
    }.toMap
    val allProbed = probes.valuesIterator.flatten.toSeq.distinct.sorted
    // one scan for all queries: adist only materializes for rows whose
    // cell is probed by that query
    val qStructs = queries.map { case (qid, qv) =>
      val dt = (0 until q.m).map(s => q.codebook.indices.map(c =>
        q.l2(q.sub(qv, s), q.sub(q.codebook(c), s))).toArray)
      val adist = (0 until q.m).map(s =>
        element_at(array(dt(s).map(lit).toSeq: _*),
          (element_at(col("codes"), s + 1) + 1).cast("int")))
        .reduce(_ + _)
      struct(lit(qid).as("query_id"),
        when(col("cell_id").isin(probes(qid): _*), adist).as("adist"))
    }
    val scored = index
      .filter(col("cell_id").isin(allProbed: _*)) // partition-prunes a cell-keyed store
      .select(col("vec_id").as("neighbor_id"), explode(array(qStructs: _*)).as("qa"))
      .filter(col("qa.adist").isNotNull && col("neighbor_id") =!= col("qa.query_id"))
      .select(col("qa.query_id").as("query_id"), col("neighbor_id"),
        round(col("qa.adist"), 4).as("adist"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adist"), col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w).cast("long")).filter(col("rn") <= k)
  }

  /** Persist the IVF-PQ index of a corpus, PARTITIONED BY COARSE CELL —
    * the layout that turns [[ivfPqProbe]]'s cell pre-filter into
    * directory-level partition pruning (the IVF inverted lists as
    * parquet partitions). The stored rows are all integers: the float
    * corpus is encoded once and never read again on the query path. */
  def writeIvfPqIndex(emb: DataFrame, q: IvfPqQuantizer, path: String): Unit =
    ivfPqIndexRows(emb, q).write.mode("overwrite")
      .partitionBy("cell_id").parquet(path)

  /** Read a persisted IVF-PQ index (either [[writeIvfPqIndex]]'s batch
    * layout or `streaming.VectorIndexIngest`'s appended one). `cell_id`
    * comes back as a PARTITION column — restored to BIGINT here (the
    * directory-name round-trip infers int), everything else is stored
    * exactly. */
  def readIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("vec_id"), col("cell_id").cast("long").as("cell_id"),
        col("codes"))

  /** Persist a trained [[IvfPqQuantizer]] as two tiny parquet tables —
    * the model artifact that makes an index store SELF-DESCRIBING: a
    * probe session reads the quantizer back from beside the index
    * instead of retraining from the raw corpus embeddings (which a
    * served deployment does not even have mounted). Doubles round-trip
    * parquet bit-exactly, so a probe through the read-back model is
    * bitwise the probe through the in-memory one (spec-pinned).
    *
    * Layout: `<path>/cells` (cell_id, v) and `<path>/codebook`
    * (code_id ordinal, v, m) — codeword ORDER is load-bearing (index
    * codes are positions into it), so the ordinal column pins it.
    * Commit protocol — SOME artifact stays readable at every instant:
    * both tables write under `<path>.staging`; on overwrite the
    * published dir renames aside to `<path>.prev` before staging
    * renames in, and readers fall back to `.prev` during (or after a
    * torn) swap — a crash at any point leaves either the old or the
    * new model served, never neither (single-writer, the
    * store-lifecycle contract; the next write sweeps leftovers). */
  def writeIvfPqQuantizer(spark: org.apache.spark.sql.SparkSession,
                          q: IvfPqQuantizer, path: String): Unit = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val staging = new org.apache.hadoop.fs.Path(s"$path.staging")
    val prev = new org.apache.hadoop.fs.Path(s"$path.prev")
    val dst = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(staging)) fs.delete(staging, true)
    q.cells.map { case (id, v) => (id, v.toSeq) }
      .toDF("cell_id", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$path.staging/cells")
    q.codebook.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq, q.m) }
      .toDF("code_id", "v", "m").coalesce(1)
      .write.mode("overwrite").parquet(s"$path.staging/codebook")
    if (fs.exists(dst)) {
      if (fs.exists(prev)) fs.delete(prev, true)
      if (!fs.rename(dst, prev))
        throw new java.io.IOException(s"quantizer swap-aside $dst -> $prev failed")
    }
    if (!fs.rename(staging, dst) || !fs.exists(dst))
      throw new java.io.IOException(s"quantizer commit $staging -> $dst failed")
    if (fs.exists(prev)) fs.delete(prev, true)
  }

  /** The readable artifact dir: the published path, or `.prev` when a
    * torn overwrite crashed mid-swap (old model keeps serving). */
  private def quantizerDirOf(spark: org.apache.spark.sql.SparkSession,
                             path: String): Option[String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/codebook"))) Some(path)
    else if (fs.exists(new org.apache.hadoop.fs.Path(s"$path.prev/codebook")))
      Some(s"$path.prev")
    else None
  }

  /** Load a [[writeIvfPqQuantizer]] artifact. Cell set and codeword
    * order restore exactly (the ordinal column; cells re-sort inside the
    * model anyway), every double bit-identical to the trained values. */
  def readIvfPqQuantizer(spark: org.apache.spark.sql.SparkSession,
                         path: String): IvfPqQuantizer = {
    val dir = quantizerDirOf(spark, path).getOrElse(throw new java.io.FileNotFoundException(
      s"no published IVF-PQ quantizer at $path (nor a .prev from a torn swap)"))
    val cells = spark.read.parquet(s"$dir/cells")
      .select(col("cell_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    val cb = spark.read.parquet(s"$dir/codebook")
      .select(col("code_id"), col("v"), col("m")).collect()
      .sortBy(_.getLong(0))
    IvfPqQuantizer(cells, cb.map(_.getSeq[Double](1).toArray).toSeq,
      cb.head.getInt(2))
  }

  /** Whether a readable [[writeIvfPqQuantizer]] artifact exists at
    * `path` (published, or `.prev` surviving a torn swap) — existence
    * checks only, no Spark job (the ingest's write-once guard). */
  def hasIvfPqQuantizer(spark: org.apache.spark.sql.SparkSession,
                        path: String): Boolean =
    quantizerDirOf(spark, path).isDefined

  /** Bitwise equality of two quantizers — the ingest's model-mismatch
    * guard compares against the published artifact with this (raw
    * double bits, order-sensitive on the codebook like the codes that
    * index into it; cells compare as the sorted kernel order). */
  def quantizersMatch(a: IvfPqQuantizer, b: IvfPqQuantizer): Boolean = {
    def bits(x: Array[Double]) = x.map(java.lang.Double.doubleToRawLongBits).toSeq
    a.m == b.m &&
      a.cells.map { case (id, v) => (id, bits(v)) }.sortBy(_._1) ==
        b.cells.map { case (id, v) => (id, bits(v)) }.sortBy(_._1) &&
      a.codebook.map(bits) == b.codebook.map(bits)
  }
}

/** Driver-side IVF-PQ quantizer — the trained model an ANN deployment
  * serializes once and ships into every encode, probe, and streaming-
  * ingest closure: K coarse cells (id, centroid) and a PQ codebook of
  * full-dimension codewords sliced into `m` subspaces. All sizes are
  * driver-K-row by construction. Cell argmin ties break to the LOWEST
  * cell id for any `cells` ordering ([[NearestCentroid.nearestId]]). */
case class IvfPqQuantizer(cells: Seq[(Long, Array[Double])],
                          codebook: Seq[Array[Double]], m: Int) {
  require(m >= 1, s"need m >= 1, got m=$m")
  require(cells.nonEmpty, "IvfPqQuantizer: no coarse cells")
  require(codebook.nonEmpty, "IvfPqQuantizer: empty codebook")
  val d: Int = codebook.head.length
  require(d % m == 0, s"IvfPqQuantizer: dim $d not divisible by m=$m")
  require(cells.forall(_._2.length == d) && codebook.forall(_.length == d),
    "IvfPqQuantizer: cell/codeword dimensions disagree")
  val dsub: Int = d / m
  private[llm] def sub(a: Array[Double], s: Int): Array[Double] =
    a.slice(s * dsub, (s + 1) * dsub)
  private[llm] def l2(a: Array[Double], b: Array[Double]): Double = {
    var i = 0; var acc = 0.0
    while (i < a.length) { val dd = a(i) - b(i); acc += dd * dd; i += 1 }
    acc
  }
}

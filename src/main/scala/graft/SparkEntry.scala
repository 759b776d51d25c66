package graft

import graft.contract.{PointSpace, TextSql}
import graft.eval.Silhouette
import graft.kmeans.KMeansRunner
import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one declaration in `lines` per verified operator:
  * its name, Spark body and DuckDB oracle SQL side by side (`queries`
  * and `oracleSql` are views of that list). Column names/aliases are
  * kept IDENTICAL between the Spark result and the SQL so the driver's
  * sorted-column hash compares. Floating-point outputs are either bit-exact by construction
  * (see PointSpace) or rounded with analyzed safety margins.
  */
object SparkEntry {
  import PointSpace._

  /** l_orderkey cutoff for the O(n²) silhouette oracle query (~590 rows
    * at sf0.01 — 350k pairs, trivial for both engines). */
  private val SilCutoff = 150

  /** Near-dup Jaccard threshold (documents contain planted near-dups at
    * ~0.96; random word-salad pairs sit below 0.15). */
  private val JacThreshold = 0.5

  /** Hot-shingle doc-frequency cap for dedup_jaccard (the 100x guard —
    * Dedup.jaccardPairs scaladoc). 1000 is loss-free headroom on the
    * contract corpora (measured df max: 46 at sf0.01, 338 at sf0.1;
    * true pairs survive any cap >= 400 at sf0.1) while still bounding
    * candidate volume to dfCap*(dfCap-1)/2 per shingle at larger
    * corpora. Mirrored in the oracle, so the gate is part of the
    * contract, not a Spark-side heuristic. */
  private[graft] val JacDfCap = 1000L

  /** Edit-distance budget of the edit-verified near-dup contract query.
    * Band candidates at sf0.01 sit at distances {4 x24, 8, 285}: 20
    * keeps every planted near-dup (a few character edits) while
    * rejecting the one coincidental band collision — exercising the
    * thresholded DP's -1 branch in the shipped contract, not just in a
    * spec fixture. */
  private val EditMaxDist = 20

  /** ANN contract parameters: query vectors + coarse IVF cells are
    * corpus vectors selected by id (deterministic, no literals). */
  private val AnnQueryIds = Seq(0L, 1L, 2L)
  private val IvfCoarseIds = Seq(7L, 123L, 247L, 331L, 433L)
  // recall-audit sweep: 1, 2, all-cells (the last pins recall = 1.0 for
  // IVF — probing every cell IS the exact scan)
  private val RecallProbes = Seq(1, 2, IvfCoarseIds.length)
  private val RecallK = 5

  /** Shared constants of the round-4 pipeline queries (mirrored into the
    * oracle SQL from the same values so the two sides cannot drift). */
  private val SamplePct = 20
  private val MaskTerms = Seq("the", "and", "of", "to", "in", "is")
  private val TfidfK = 3
  /** doc_id % IncrementalMod == 0 plays the "new batch"; the rest is the
    * already-ingested corpus. */
  private val IncrementalMod = 5
  /** Bloom sizing of the triaged membership contract query — generous
    * for the contract corpus (sub-1% fpp); the OUTPUT is provably
    * independent of these (bloomDedup verifies exactly), so they are
    * not mirrored anywhere in the oracle. */
  private val BloomExpectedItems = 100000L
  private val BloomNumBits = 800000L
  /** Uniform per-source token budget for the mixture-sampling contract
    * query (equal-token domain mixing). */
  private val TokenBudget = 500L
  /** Jelinek-Mercer interpolation weight of the bigram-LM score. */
  private val BigramLambda = 0.9
  /** DSIR selection contract: the 'en' slice plays the trusted target
    * corpus; top-N docs by importance score are kept. */
  private val DsirTargetLang = "en"
  private val DsirTopN = 100
  /** Trigram stupid-backoff: even doc_ids play the reference model;
    * theta is Brants et al.'s unnormalized backoff penalty. */
  private val TrigramModelMod = 2
  private val BackoffTheta = 0.4
  /** Decontamination: docs with doc_id % DecontamMod == 0 play the
    * "benchmark/eval set"; overlap key is a word DecontamN-gram. */
  private val DecontamN = 8
  private val DecontamMod = 50
  /** Stratified sample size per language. */
  private val StratPerGroup = 20
  /** Frame-sampling stride (every stride-th 8-byte window is a "frame"). */
  private val FrameStride = 2
  /** Media near-dup: stop-frame df cap (a digest in more media is
    * boilerplate — dropped from index AND similarity space) and the
    * shared-frame floor for a pair to surface. */
  private val MediaDfCap = 16L
  private val MediaMinShared = 2L
  // pHash banding is lossless only for hamming < SimhashWideChunks (4)
  private val PhashMaxHamming = 3
  /** Sequence-packing token budget + shard count. */
  private val PackBudget = 256L
  private val PackShards = 8
  /** Resize target for the decode contract query. */
  private val DecodeMaxDim = 64
  /** Quality-weighted sampling hash-bucket count. */
  private val QualityBuckets = 1000
  /** Round-5 constants: training-shard count of the deterministic
    * shuffle, JL projection output dim, PQ codebook (corpus vector ids;
    * code = position in this list) and subspace count. */
  private val ShuffleShards = 8
  private val RpDim = 8
  private val PqCodebookIds = Seq(11L, 57L, 201L, 401L)
  private val PqSubspaces = 4
  private val PqSearchK = 5
  /** Char-trigram LID contract: profile size per language, per-doc
    * profile size. */
  private val LidProfileK = 64
  private val LidDocK = 32
  /** RRF fusion contract: candidate pool per retriever, the standard
    * kRrf = 60 (Cormack et al. 2009), fused top-k. */
  private val RrfPoolK = 10
  private val RrfConst = 60
  private val RrfTopK = 5
  private val HybridQueryId = 0L
  /** MMR reranking contract: cosine candidate pool, selected k, the
    * classic λ = 0.7 relevance/diversity trade (Carbonell 1998). */
  private val MmrPoolN = 12
  private val MmrK = 5
  private val MmrLambda = 0.7
  // forget fixtures: ids disjoint from the quantizer-training and query
  // ids; one id that never existed (tombstones are idempotent)
  private val ForgetVecIds = Seq(5L, 18L, 42L, 999999L)
  private val ForgetDocIds = Seq(87L, 102L, 999999L)
  // LOAD-BEARING disjointness: the store-served rows (q_refine_served,
  // q_mmr_served, q_rag_served) resolve their query vectors through the
  // post-forget store liveViews while the DuckDB mirrors read the full
  // tables — identical only because no query id is ever forgotten. A
  // forgotten query would silently drop a query on the Spark side (or
  // empty the probe) and surface as an inscrutable hash mismatch, so
  // pin the invariant where the constants live.
  require(!(ForgetVecIds ++ ForgetDocIds)
      .exists((AnnQueryIds :+ HybridQueryId).contains),
    "forget fixtures must stay disjoint from the ANN/hybrid query ids: " +
      "the served rows fetch query vectors from post-forget liveViews " +
      "while their oracles read the full tables")
  // non-uniform target mix for the waterfilling planner (1x/2x/3x bands)
  private val MixWeights: Seq[(String, Long)] =
    (0 until 20).map(i => (s"src$i", 1L + i % 3))
  // deletion-request slice for the forget cascade (10 requests at sf0.01)
  private val ForgetMod = 50
  /** Signature-agreement floor for the estimate-only pairs (8/16 = 0.5). */
  private val MinhashEstMatch = 8
  /** Robust length-outlier gate: flag |len − median| > MadK · MAD. */
  private val MadK = 3
  /** Feature-hashing vector dimensionality (hashing-trick embedding). */
  private val HashDim = 8
  /** Source priority tiers for the tiered dedup policy: src index % 3
    * (0 = curated, 1 = crawl, 2 = scrape) — distinct tiers collide
    * inside near-dup clusters at every SF. */
  private val SourceTiers: Seq[(String, Int)] =
    (0 until 20).map(i => (s"src$i", i % 3))
  /** Round-6 constants: Gopher rule thresholds (word count, mean word
    * length, distinct-stopword floor, alphabetic-word fraction), the
    * substring-match gram length + stop-gram df cap, the SemDeDup cosine
    * threshold, and the source-blocklist duplicate-fraction cutoff. */
  private val GopherMinWords = 30
  private val GopherMaxWords = 100000
  private val GopherMinAvgLen = 4.0
  private val GopherMaxAvgLen = 10.0
  private val GopherMinStop = 2
  private val GopherMinAlphaFrac = 0.8
  private[graft] val SubstrN = 12
  private[graft] val SubstrDfCap = 16L
  private val SemDedupThreshold = 0.4
  private val SourceMaxDupFrac = 0.15
  /** Full-outer customer-side floor (makes both null regions non-empty),
    * NTILE bucket count, BPE merge-step top-k. */
  private val FullOuterCustMin = 100
  private val NtileBuckets = 4
  private val BpeTopK = 8
  /** Merge rounds of the iterated BPE trainer contract queries. */
  private val BpeTrainMerges = 6
  /** BM25 contract: query term set (corpus vocabulary words) + top-k. */
  private val Bm25Terms = Seq("spark", "window", "customer", "filter")
  private val Bm25K = 10
  /** PRF contract: feedback depth and expansion width. */
  private val PrfFbDocs = 5
  private val PrfFbTerms = 3
  // multi-probe sets: query 2 shares "filter" with query 0 so the
  // one-slice fanout's shared-term arm is exercised, not just disjoint
  private val Bm25Queries = Seq(
    0L -> Bm25Terms,
    1L -> Seq("join", "hash", "merge"),
    2L -> Seq("scan", "sort", "stream", "filter"))
  private val RefineR = 20
  private val RefineSweep = Seq(5, 10, 20)
  private val RagChunkTokens = 30
  private val RagChunkOverlap = 10
  /** Farthest-point seeding: number of centroids to pick. */
  private val FpInitK = 5
  /** PCA power-iteration count (contract: equality needs identical
    * iteration counts, not convergence). */
  private val PcaIters = 8
  /** Weighted-sample-without-replacement size. */
  private val WsK = 50
  /** Sparse TF-IDF cosine pairs: rounded-sim threshold + stop-gram cap
    * (64 keeps every bigram at the sf0.01 gate — max df there is 46 —
    * while pruning the dense tail at bench scale). */
  private val TcosThreshold = 0.5
  private[graft] val TcosDfCap = 64L
  /** Contrastive mining: the hard-negative band's lower cosine bound
    * (pairs above it that are NOT near-dups are the hard negatives). */
  private val CtrNegThreshold = 0.2
  /** Winnow-pair contract: shared-fingerprint floor + hot-fp df cap. */
  private val WinnowMinShared = 2L
  private val WinnowDfCap = 64L
  /** TextRank contract: fixed iteration count + keyword top-k
    * (corpus-level and per-document). */
  private val TextrankIters = 3
  private val TextrankK = 20
  private val TextrankDocK = 3
  /** Binned range join: band count / base / width and the bin width. */
  private val RangeBins = 40
  private val RangeBase = 800.0
  private val RangeW = 5.0
  private val RangeBinWidth = 7.0

  /** DuckDB mirror of [[scd2Merged]] as a CTE chain ending in `merged`
    * — shared by the merge oracle and the point-in-time oracle. */
  private val ScdMergedCtes: String =
    "WITH c AS (SELECT c_custkey AS key, c_mktsegment AS seg, " +
      "CAST(c_nationkey AS BIGINT) AS nat FROM customer), " +
      "hist AS (SELECT key, 'OLD_' || seg AS seg, nat, " +
      "CAST(0 AS BIGINT) AS valid_from, CAST(5 AS BIGINT) AS valid_to, " +
      "false AS is_current FROM c WHERE key % 10 = 0 " +
      "UNION ALL SELECT key, seg, nat, " +
      "CAST(CASE WHEN key % 10 = 0 THEN 5 ELSE 0 END AS BIGINT), " +
      "CAST(NULL AS BIGINT), true FROM c), " +
      "chg AS (SELECT CASE WHEN key % 3 = 2 THEN key + 1000000 ELSE key END AS key, " +
      "CASE WHEN key % 3 = 1 THEN seg || '_X' WHEN key % 3 = 2 THEN 'NEW' " +
      "ELSE seg END AS seg, nat FROM c), " +
      "o AS (SELECT * FROM hist WHERE is_current), " +
      "j AS (SELECT o.key AS okey, o.seg AS oseg, o.nat AS onat, " +
      "o.valid_from AS ofrom, g.key AS gkey, g.seg AS gseg, g.nat AS gnat, " +
      "(o.seg IS NOT DISTINCT FROM g.seg AND o.nat IS NOT DISTINCT FROM g.nat) AS same " +
      "FROM o FULL OUTER JOIN chg g ON o.key = g.key), " +
      "merged AS (" +
      "SELECT key, seg, nat, valid_from, valid_to, is_current FROM hist WHERE NOT is_current " +
      "UNION ALL SELECT okey, oseg, onat, ofrom, CAST(NULL AS BIGINT), true " +
      "FROM j WHERE okey IS NOT NULL AND (gkey IS NULL OR same) " +
      "UNION ALL SELECT okey, oseg, onat, ofrom, CAST(10 AS BIGINT), false " +
      "FROM j WHERE okey IS NOT NULL AND gkey IS NOT NULL AND NOT same " +
      "UNION ALL SELECT gkey, gseg, gnat, CAST(10 AS BIGINT), CAST(NULL AS BIGINT), true " +
      "FROM j WHERE gkey IS NOT NULL AND (okey IS NULL OR NOT same))"

  private def scd2Customer(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("key"), col("c_mktsegment").as("seg"),
        col("c_nationkey").cast("long").as("nat"))

  /** Customer-derived SCD2 history: a closed 'OLD_' row per key%10==0
    * plus an open row per key — from ONE scan: a union of a filtered
    * arm and an open arm would read customer twice (Spark reuses no
    * subplans), so each row emits its optional closed row + its open
    * row through one null-slot explode, the ScdMerge generator's own
    * shape. */
  private def scd2History(c: DataFrame): DataFrame = {
    val closedRow = when(col("key") % 10 === 0, struct(
      col("key"), concat(lit("OLD_"), col("seg")).as("seg"), col("nat"),
      lit(0L).as("valid_from"), lit(5L).as("valid_to"),
      lit(false).as("is_current")))
    val openRow = struct(
      col("key"), col("seg"), col("nat"),
      when(col("key") % 10 === 0, lit(5L)).otherwise(lit(0L)).as("valid_from"),
      lit(null).cast("long").as("valid_to"), lit(true).as("is_current"))
    c.select(explode(array(closedRow, openRow)).as("h"))
      .filter(col("h").isNotNull)
      .select(col("h.key").as("key"), col("h.seg").as("seg"),
        col("h.nat").as("nat"), col("h.valid_from").as("valid_from"),
        col("h.valid_to").as("valid_to"), col("h.is_current").as("is_current"))
  }

  /** DuckDB mirror of [[scd2MergedDel]] as a CTE chain ending in
    * `merged` — shared by the tombstone-merge oracle and its
    * point-in-time oracle. The delete arms: an open row whose change is
    * a delete closes (regardless of attr equality); deletes never
    * insert; ghost deletes fall out of the join with no open side. */
  private val ScdDelCtes: String =
    "WITH c AS (SELECT c_custkey AS key, c_mktsegment AS seg, " +
      "CAST(c_nationkey AS BIGINT) AS nat FROM customer), " +
      "hist AS (SELECT key, 'OLD_' || seg AS seg, nat, " +
      "CAST(0 AS BIGINT) AS valid_from, CAST(5 AS BIGINT) AS valid_to, " +
      "false AS is_current FROM c WHERE key % 10 = 0 " +
      "UNION ALL SELECT key, seg, nat, " +
      "CAST(CASE WHEN key % 10 = 0 THEN 5 ELSE 0 END AS BIGINT), " +
      "CAST(NULL AS BIGINT), true FROM c), " +
      "chg AS (SELECT CASE WHEN key % 4 <> 0 AND key % 3 = 2 THEN key + 1000000 ELSE key END AS key, " +
      "CASE WHEN key % 4 = 0 THEN 'D' ELSE 'U' END AS op, " +
      "CASE WHEN key % 3 = 1 THEN seg || '_X' WHEN key % 3 = 2 THEN 'NEW' " +
      "ELSE seg END AS seg, nat FROM c " +
      "UNION ALL SELECT key + 2000000, 'D', seg, nat FROM c WHERE key % 7 = 1), " +
      "o AS (SELECT * FROM hist WHERE is_current), " +
      "j AS (SELECT o.key AS okey, o.seg AS oseg, o.nat AS onat, " +
      "o.valid_from AS ofrom, g.key AS gkey, g.op AS gop, g.seg AS gseg, g.nat AS gnat, " +
      "(o.seg IS NOT DISTINCT FROM g.seg AND o.nat IS NOT DISTINCT FROM g.nat) AS same " +
      "FROM o FULL OUTER JOIN chg g ON o.key = g.key), " +
      "merged AS (" +
      "SELECT key, seg, nat, valid_from, valid_to, is_current FROM hist WHERE NOT is_current " +
      "UNION ALL SELECT okey, oseg, onat, ofrom, CAST(NULL AS BIGINT), true " +
      "FROM j WHERE okey IS NOT NULL AND (gkey IS NULL OR (gop = 'U' AND same)) " +
      "UNION ALL SELECT okey, oseg, onat, ofrom, CAST(10 AS BIGINT), false " +
      "FROM j WHERE okey IS NOT NULL AND gkey IS NOT NULL AND (gop = 'D' OR NOT same) " +
      "UNION ALL SELECT gkey, gseg, gnat, CAST(10 AS BIGINT), CAST(NULL AS BIGINT), true " +
      "FROM j WHERE gkey IS NOT NULL AND gop = 'U' AND (okey IS NULL OR NOT same))"

  /** The SCD2 contract fixture: [[scd2History]] merged at version 10
    * with a no-op / changed-segment / brand-new change batch split by
    * key%3 — shared by the merge query and its point-in-time reader. */
  private def scd2Merged(s: SparkSession, dir: String): DataFrame = {
    val c = scd2Customer(s, dir)
    val changes = c.select(
      when(col("key") % 3 === 2, col("key") + 1000000L)
        .otherwise(col("key")).as("key"),
      when(col("key") % 3 === 1, concat(col("seg"), lit("_X")))
        .when(col("key") % 3 === 2, lit("NEW"))
        .otherwise(col("seg")).as("seg"),
      col("nat"))
    graft.ops.ScdMerge.merge(scd2History(c), changes,
      "key", Seq("seg", "nat"), version = 10L)
  }

  /** The tombstone fixture: [[scd2History]] merged at version 10 with an
    * OP-carrying batch — key%4==0 DELETES (closes the open row, inserts
    * nothing), the rest upsert with the q_scd2 mutation split, plus a
    * ghost-delete arm (key%7==1, key+2000000) proving tombstones on
    * never-existed keys are no-ops. One scan per side: the ghost rides
    * the change projection's null-slot explode. */
  private def scd2MergedDel(s: SparkSession, dir: String): DataFrame = {
    val c = scd2Customer(s, dir)
    val mainRow = struct(
      when(col("key") % 4 =!= 0 && col("key") % 3 === 2, col("key") + 1000000L)
        .otherwise(col("key")).as("key"),
      when(col("key") % 4 === 0, lit("D")).otherwise(lit("U")).as("op"),
      when(col("key") % 3 === 1, concat(col("seg"), lit("_X")))
        .when(col("key") % 3 === 2, lit("NEW"))
        .otherwise(col("seg")).as("seg"),
      col("nat"))
    val ghostRow = when(col("key") % 7 === 1, struct(
      (col("key") + 2000000L).as("key"), lit("D").as("op"),
      col("seg").as("seg"), col("nat")))
    val changes = c.select(explode(array(mainRow, ghostRow)).as("g"))
      .filter(col("g").isNotNull)
      .select(col("g.key").as("key"), col("g.op").as("op"),
        col("g.seg").as("seg"), col("g.nat").as("nat"))
    graft.ops.ScdMerge.mergeOps(scd2History(c), changes,
      "key", Seq("seg", "nat"), "op", version = 10L)
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** The q_mmr_hybrid selection, shared with q_rag_answer (the passage
    * fetch extends THIS row's answer, so the two entries must select
    * identically by construction): BM25 ⊕ exact-cosine ranks fuse via
    * RRF into the candidate set (query doc excluded), MMR de-crowds. */
  private def hybridMmrSelection(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val lex = graft.llm.TextAnalysis
      .bm25TopDocs(docs(s, dir), Bm25Terms, RrfPoolK)
      .select(lit(HybridQueryId).as("query_id"),
        col("doc_id").as("neighbor_id"), col("rn"))
    val sem = graft.llm.Similarity
      .bruteForceTopKRanked(e, Seq(HybridQueryId), RrfPoolK)
    val cands = graft.llm.Similarity.rrfFuse(lex, sem, RrfConst, RrfPoolK)
      .filter(col("neighbor_id") =!= HybridQueryId)
      .select(col("neighbor_id").as("vec_id"))
    graft.llm.Similarity.mmrOverCandidates(e, cands, HybridQueryId,
      MmrK, MmrLambda)
  }

  /** One contract line: its name, its Spark body and the DuckDB SQL that
    * must reproduce the body's rows (column names identical on both
    * sides, so the driver's sorted-column hash compares). The SQL is
    * passed by name and built only when `oracleSql` asks for it. A
    * `store` line's body builds its stores under a temp root the line
    * owns; a `line` body ignores the root. */
  private[graft] final class Line(val name: String,
      body: (SparkSession, String, String) => DataFrame, sql: => String,
      val store: Boolean) {
    def oracle: String = sql

    /** `f` over the frame the body computes, while everything it reads
      * still exists: a store line's root is deleted only after `f`
      * returns, together with the frames cached over it (a cached frame
      * over a deleted root could never be recomputed). */
    def withFrame[A](s: SparkSession, dir: String)(f: DataFrame => A): A =
      if (!store) f(body(s, dir, ""))
      else withTempRoot(s, s"graft_$name") { root =>
        val df = body(s, dir, root)
        try f(df) finally releaseCachedUnder(s, df, root)
      }

    /** The contract result. A store line's (bounded, k-row) result is
      * collected into driver-local rows before its root goes: nothing
      * stays lazy over the deleted store, and collect keeps the row
      * order, so an ORDER BY upstream survives. */
    def run(s: SparkSession, dir: String): DataFrame =
      withFrame(s, dir) { df =>
        if (!store) df
        else s.createDataFrame(java.util.Arrays.asList(df.collect().toSeq: _*), df.schema)
      }
  }

  private[graft] def line(name: String)(
      body: (SparkSession, String) => DataFrame, oracle: => String): Line =
    new Line(name, (s, dir, _) => body(s, dir), oracle, store = false)

  /** A store-lifecycle line: `body(s, dir, root)` builds its stores
    * under `root`, a fresh temp directory deleted when the line ends.
    * These lines are exempt from Bench's warm pass: their cost is job
    * floors, not compilation. */
  private[graft] def store(name: String)(
      body: (SparkSession, String, String) => DataFrame, oracle: => String): Line =
    new Line(name, body, oracle, store = true)

  /** The registry builder: a name declared twice fails here, at first
    * use, instead of one declaration silently replacing the other. */
  private[graft] def declare(ls: Line*): Seq[Line] = {
    val twice = ls.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(twice.isEmpty,
      s"contract lines declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    ls
  }

  /** `f` on a fresh local temp directory, deleted afterwards whatever
    * `f` did (the store lines here, Bench's store extras). */
  private[graft] def withTempRoot[A](s: SparkSession, prefix: String)(f: String => A): A = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    try f(root)
    finally {
      try {
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      } catch { case _: Throwable => () }
    }
  }

  /** Uncaches every frame in `df`'s plan that is cached and reads files
    * under `root`: the eager probe outputs a store body builds on. */
  private def releaseCachedUnder(s: SparkSession, df: DataFrame, root: String): Unit = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val cs = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val cm = cs.sharedState.cacheManager
    df.queryExecution.analyzed.foreach { p =>
      val readsRoot = p.collectLeaves().exists {
        case r: LogicalRelation => r.relation match {
          case h: HadoopFsRelation =>
            h.location.rootPaths.exists(_.toUri.getPath.startsWith(root))
          case _ => false
        }
        case _ => false
      }
      if (readsRoot && cm.lookupCachedData(cs, p).isDefined)
        cm.uncacheQuery(cs, p, cascade = false)
    }
  }

  /** Runs INDEPENDENT store builds as concurrent driver-side tasks —
    * the guide-§2.6 "overlap independent jobs" pattern: Spark's
    * scheduler happily runs several jobs at once inside one
    * application; the multi-store serving rows were only sequential
    * because the driver called their ingests sequentially. Each task
    * here owns a DISJOINT store directory (the single-writer-per-store
    * contract is preserved — parallelism is across stores, never
    * within one store's batch order), so the bytes each store ends up
    * with are identical to the sequential build, and every probe
    * result is bitwise unchanged. Measured on the four-store rows
    * (q_rag_served / q_eval_served): the build phase's tiny-data job
    * floors overlap instead of adding. Exceptions propagate unwrapped
    * (first failure wins), matching the sequential behavior. */
  private def concurrently[T](tasks: (() => T)*): Seq[T] = Par.run(tasks: _*)

  /** Schema-adaptive events reader: every source column plus a canonical
    * `tus` BIGINT epoch-microseconds column in place of the raw `ts`.
    * The generator has shipped events.parquet as both TIMESTAMP(NANOS)
    * and TIMESTAMP(MICROS); both layouts land on the same `tus`:
    *   - NANOS  → read with nanosAsLong (vectorized reader rejects NANOS
    *     otherwise), `ts` arrives as LongType nanos → `ts div 1000`;
    *   - MICROS → `ts` arrives as timestamp/timestamp_ntz →
    *     `unix_micros(cast)` under a UTC session, so the NTZ→TS cast is
    *     the exact identity on the stored micros (matches the DuckDB
    *     oracle's `epoch_us(ts)`, which treats naive timestamps as UTC).
    * Uses a cloned session (shared context, own conf) so the caller's
    * session keeps its own nanosAsLong/timezone settings; the cast's
    * timezone is baked in at analysis (Datasets analyze eagerly), so
    * downstream composition under other sessions stays exact. */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s2.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = s2.read.parquet(s"$dir/events.parquet")
    // Only the two layouts the generator has actually shipped are accepted;
    // anything else (INT96, DECIMAL seconds, STRING, DATE…) fails LOUDLY
    // with the observed type rather than fall-through casting — a silent
    // cast of a third layout would corrupt every event-time oracle at once
    // and surface as 10 inscrutable hash mismatches instead of one error.
    val tus = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.parquet ts column has unsupported type ${other.sql} " +
            "(expected TIMESTAMP(NANOS) read as LongType via nanosAsLong, " +
            "or TIMESTAMP/TIMESTAMP_NTZ micros). The testdata generator has " +
            "shipped a third layout; extend SparkEntry.events deliberately — " +
            "do NOT fall through to a cast.")
    }
    raw.withColumn("tus", tus).drop("ts")
  }

  // DuckDB oracle SQL fragments (generated from the same constants)
  private def aggSql(srcCte: String): String =
    s"SELECT cluster, count(*) AS n, round(avg(x),4) AS cx, round(avg(y),4) AS cy, round(avg(z),4) AS cz " +
      s"FROM $srcCte GROUP BY cluster ORDER BY cluster"

  private lazy val (dCteBody, caseExpr) = caseAssignSql(seeds, "pts")

  private def pairDistSql(a: String, b: String): String =
    s"sqrt(($a.x - $b.x)*($a.x - $b.x) + ($a.y - $b.y)*($a.y - $b.y) + ($a.z - $b.z)*($a.z - $b.z))"

  /** Flagship: converge-loop K-Means over sf0.001 lineitem, returns the
    * final centroids (driver smoke-checks rows > 0). */
  def entry(spark: SparkSession): DataFrame = {
    val pts = points(spark, "/root/testdata/sf0.001")
    val r = KMeansRunner.converge(pts, seeds.map(_._2), maxIter = 10, threshold = 100.0)
    import spark.implicits._
    r.centers.map { case (id, c) => (id, c.x, c.y, c.z) }.toDF("cluster", "x", "y", "z")
  }

  /** Every contract line, declared once. `queries`, `oracleSql` and
    * `storeLines` are views of this list. */
  private[graft] lazy val lines: Seq[Line] = declare(
    // S1/P1/P4: parquet scan + projection + null filter
    line("s1_scan_project")((s, dir) =>
      points(s, dir).orderBy(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"), col("z")),
      oracle = s"WITH pts AS ($pointsSql) SELECT * FROM pts ORDER BY l_orderkey, l_linenumber, x, y, z"),

    // P2: Euclidean distance to a fixed centroid (bit-exact: mult + sqrt)
    line("p2_distance")((s, dir) =>
      points(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          sqrt(distSq(seeds.head._2)).as("dist"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("dist")),
      oracle = s"WITH pts AS ($pointsSql) SELECT l_orderkey, l_linenumber, " +
        s"sqrt(${distSqSql(seeds.head._2)}) AS dist FROM pts ORDER BY l_orderkey, l_linenumber, dist"),

    // P3/J1: nearest-centroid argmin over K=5 literal seeds
    line("p3_assign")((s, dir) =>
      assign(points(s, dir), seeds)
        .select(col("l_orderkey"), col("l_linenumber"), col("cluster"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("cluster")),
      oracle = s"WITH pts AS ($pointsSql), d AS ($dCteBody) " +
        s"SELECT l_orderkey, l_linenumber, $caseExpr AS cluster FROM d " +
        "ORDER BY l_orderkey, l_linenumber, cluster"),

    // A1/A2/X1: assign + per-cluster mean re-centering (one shuffle)
    line("a1_recenter")((s, dir) =>
      assign(points(s, dir), seeds)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          round(avg("x"), 4).as("cx"), round(avg("y"), 4).as("cy"), round(avg("z"), 4).as("cz"))
        .orderBy(col("cluster")),
      oracle = s"WITH pts AS ($pointsSql), d AS ($dCteBody), " +
        s"asg AS (SELECT *, $caseExpr AS cluster FROM d) " + aggSql("asg")),

    // C1/A7: one K-Means step + total centroid displacement vs the seeds
    line("a7_step_displacement")((s, dir) => {
      val cents = assign(points(s, dir), seeds)
        .groupBy(col("cluster"))
        .agg(avg("x").as("cx"), avg("y").as("cy"), avg("z").as("cz"))
        .collect()
        .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(_._1)
      val seedMap = seeds.toMap
      val disp = cents.map { case (id, (cx, cy, cz)) =>
        val sd = seedMap(id)
        math.sqrt((cx - sd.x) * (cx - sd.x) + (cy - sd.y) * (cy - sd.y) + (cz - sd.z) * (cz - sd.z))
      }.sum
      val rounded = BigDecimal(disp).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      import s.implicits._
      Seq((rounded, cents.length.toLong)).toDF("displacement", "k")
    },
      oracle = s"WITH pts AS ($pointsSql), d AS ($dCteBody), " +
        s"asg AS (SELECT *, $caseExpr AS cluster FROM d), " +
        "cent AS (SELECT cluster, avg(x) AS cx, avg(y) AS cy, avg(z) AS cz FROM asg GROUP BY cluster), " +
        s"sd ${seedsValuesSql(seeds, ("cluster", "sx", "sy", "sz"))} " +
        "SELECT round(sum(sqrt((cx-sx)*(cx-sx) + (cy-sy)*(cy-sy) + (cz-sz)*(cz-sz))),4) AS displacement, " +
        "count(*) AS k FROM cent JOIN sd USING (cluster)"),

    // deterministic farthest-point (k-center greedy) seeding: first
    // centroid = lexicographically-largest point, then argmax of the
    // min squared distance to the chosen set, ties lexicographic. All
    // comparisons run on raw doubles derived with identical op order,
    // so no rounding is needed anywhere.
    line("q_fpinit")((s, dir) => {
      import s.implicits._
      val cents = KMeansRunner.farthestPointInit(points(s, dir), FpInitK)
      // the SQL mirror cannot express the exhaustion early-stop (fewer
      // than K distinct points -> Spark returns fewer centroids, the
      // CTE chain would re-pick duplicates): fail loudly on degenerate
      // input instead of silently hash-mismatching. Every contract SF
      // has far more than K distinct points.
      require(cents.length == FpInitK,
        s"q_fpinit: only ${cents.length} distinct points — mirror assumes >= $FpInitK")
      cents.zipWithIndex.map { case (p, i) => ((i + 1).toLong, p.x, p.y, p.z) }
        .toDF("k", "x", "y", "z").orderBy(col("k"))
    },
      // chained 1-row CTEs mirror the greedy loop: each step's argmax is
      // ORDER BY min-d2 DESC, x DESC, y DESC, z DESC LIMIT 1 — the same
      // (d, x, y, z) struct-max comparison the Spark side aggregates.
      // least() is variadic here vs pairwise-reduced in Spark: min over
      // doubles is associative, so the values are identical.
      oracle = {
        def fd2(q: String) =
          s"((p.x - $q.x)*(p.x - $q.x) + (p.y - $q.y)*(p.y - $q.y) + (p.z - $q.z)*(p.z - $q.z))"
        val ctes = (2 to FpInitK).map { i =>
          val prevs = (1 until i).map(j => s"c$j f$j").mkString(" CROSS JOIN ")
          val dists = (1 until i).map(j => fd2(s"f$j"))
          val minD = if (dists.size == 1) dists.head else s"least(${dists.mkString(", ")})"
          s"c$i AS (SELECT p.x AS x, p.y AS y, p.z AS z FROM pts p CROSS JOIN $prevs " +
            s"ORDER BY $minD DESC, p.x DESC, p.y DESC, p.z DESC LIMIT 1)"
        }
        s"WITH pts AS ($pointsSql), " +
          "c1 AS (SELECT x, y, z FROM pts ORDER BY x DESC, y DESC, z DESC LIMIT 1), " +
          ctes.mkString(", ") + " " +
          (1 to FpInitK).map(i => s"SELECT CAST($i AS BIGINT) AS k, x, y, z FROM c$i")
            .mkString(" UNION ALL ") +
          " ORDER BY k"
      }),

    // C2/C3: 3 assignment rounds with 4-decimal centroid rounding between
    // iterations (contract semantics: keeps both engines bit-aligned)
    line("c2_iterate3")((s, dir) => {
      val pts = points(s, dir).cache()
      try {
        var cents = seeds
        for (_ <- 1 to 2) cents = roundedStep(pts, cents)
        // materialize the K-row result BEFORE unpersist so the cache also
        // serves the third (most expensive) assignment pass — a lazily
        // returned plan would re-scan the parquet input uncached
        val rows = assign(pts, cents)
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n"),
            round(avg("x"), 4).as("cx"), round(avg("y"), 4).as("cy"), round(avg("z"), 4).as("cz"))
          .orderBy(col("cluster"))
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        import s.implicits._
        rows.toSeq.toDF("cluster", "n", "cx", "cy", "cz")
      } finally pts.unpersist()
    },
      oracle = {
        val centAgg = (src: String) =>
          s"SELECT cluster, round(avg(x),4) AS cx, round(avg(y),4) AS cy, round(avg(z),4) AS cz FROM $src GROUP BY cluster"
        s"WITH pts AS ($pointsSql), " +
          s"cent0 ${seedsValuesSql(seeds)}, " +
          s"asg1 AS (${correlatedAssignSql("cent0", "pts")}), " +
          s"cent1 AS (${centAgg("asg1")}), " +
          s"asg2 AS (${correlatedAssignSql("cent1", "pts")}), " +
          s"cent2 AS (${centAgg("asg2")}), " +
          s"asg3 AS (${correlatedAssignSql("cent2", "pts")}) " +
          aggSql("asg3")
      }),

    // A4/A5/A6/J2: silhouette metrics (quirk divisor + guards) on a
    // deterministic subset
    line("sil_lineitem")((s, dir) => {
      val assigned = assign(points(s, dir).filter(col("l_orderkey") <= SilCutoff), seeds)
      Silhouette.metrics(assigned, guards = true)
        .select(col("cluster"), col("n"),
          round(col("avg_intra"), 2).as("avg_intra"),
          round(col("avg_inter"), 2).as("avg_inter"),
          round(col("silhouette"), 6).as("silhouette"))
        .orderBy(col("cluster"))
    },
      oracle = s"WITH pts0 AS ($pointsSql), pts AS (SELECT * FROM pts0 WHERE l_orderkey <= $SilCutoff), " +
        s"d AS ($dCteBody), " +
        s"asg AS (SELECT x, y, z, $caseExpr AS cluster FROM d), " +
        "sizes AS (SELECT cluster, count(*) AS n FROM asg GROUP BY cluster), " +
        s"intra AS (SELECT a.cluster AS cluster, sum(${pairDistSql("a", "b")}) AS s " +
        "FROM asg a JOIN asg b ON a.cluster = b.cluster GROUP BY a.cluster), " +
        s"inter AS (SELECT a.cluster AS cluster, sum(${pairDistSql("a", "b")}) AS s, " +
        "count(DISTINCT b.cluster) AS nb FROM asg a JOIN asg b ON a.cluster <> b.cluster GROUP BY a.cluster), " +
        "m AS (SELECT sz.cluster AS cluster, sz.n AS n, " +
        "CASE WHEN sz.n > 1 THEN coalesce(i.s, 0)/(sz.n*(sz.n-1)) ELSE 0 END AS ai, " +
        "CASE WHEN coalesce(e.nb, 0) > 0 THEN e.s/(sz.n*e.nb) ELSE 0 END AS ae " +
        "FROM sizes sz LEFT JOIN intra i ON sz.cluster = i.cluster LEFT JOIN inter e ON sz.cluster = e.cluster) " +
        "SELECT cluster, n, round(ai,2) AS avg_intra, round(ae,2) AS avg_inter, " +
        "round((ae-ai)/greatest(ai,ae),6) AS silhouette " +
        "FROM m WHERE n > 1 AND (ai > 0 OR ae > 0) ORDER BY cluster"),

    // Extra: streaming-shaped tumbling-window aggregation over events.
    // `tus` (canonical micros) round-trips to a timestamp for the hour
    // truncation; the events() frame is UTC-session-bound, so the
    // truncation is in naive/UTC time exactly like DuckDB's.
    line("events_window")((s, dir) => {
      events(s, dir)
        .withColumn("ts", expr("timestamp_micros(tus)"))
        .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))
        .orderBy(col("window_start"), col("event_type"))
    },
      oracle = "SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n, " +
        "round(sum(value),4) AS total_value FROM events GROUP BY 1, 2 ORDER BY 1, 2"),

    // ---- LLM-data-pipeline operators ----

    // text analysis: token/char counts, stopword ratio, quality score
    line("text_stats")((s, dir) => TextAnalysis.stats(docs(s, dir)).orderBy(col("doc_id")),
      oracle = TextSql.textStatsSql),

    // n-gram/stopword-heuristic language ID
    line("lang_id")((s, dir) => TextAnalysis.langId(docs(s, dir)).orderBy(col("doc_id")),
      oracle = TextSql.langIdSql),

    // mixed-language detection: per-chunk LID votes per doc — majority
    // language (ties lex-smaller), non-majority share as one exact-grid
    // division; 'und' chunks vote like a language
    line("q_mixed_lang")((s, dir) =>
      TextAnalysis.mixedLanguageDocs(docs(s, dir), chunkTokens = 20)
        .orderBy(col("doc_id")),
      oracle = TextSql.mixedLangSql(20)),

    // corpus-trained char-trigram rank-order LID (Cavnar-Trenkle) with
    // per-doc verdicts against the labeled lang column — all integers
    line("q_lang_trigram")((s, dir) =>
      TextAnalysis.langIdTrigram(docs(s, dir), LidProfileK, LidDocK)
        .orderBy(col("doc_id")),
      oracle = TextSql.langIdTrigramSql(LidProfileK, LidDocK)),

    // rolling polynomial document fingerprint
    line("fingerprint")((s, dir) => TextAnalysis.fingerprints(docs(s, dir)).orderBy(col("doc_id")),
      oracle = TextSql.fingerprintSql),

    // exact dedup: content digest + kept id + copy count
    line("dedup_exact")((s, dir) => Dedup.exact(docs(s, dir)).orderBy(col("text_md5")),
      oracle = TextSql.dedupExactSql),

    // near-dup pairs by word-bigram Jaccard (inverted-index join)
    line("dedup_jaccard")((s, dir) =>
      Dedup.jaccardPairs(docs(s, dir), JacThreshold, JacDfCap)
        .orderBy(col("da"), col("db")),
      oracle = TextSql.dedupJaccardSql(JacThreshold, JacDfCap)),

    // LSH banding S-curve: the (bands, rows) tuning table — single-band
    // and detection probabilities per Jaccard grid point; left-folded
    // multiplications only (never pow), bitwise by construction
    line("q_lsh_curve")((s, dir) =>
      Dedup.lshCurve(s, Dedup.Bands, Dedup.RowsPerBand, 20)
        .orderBy(col("i")),
      oracle = TextSql.lshCurveSql(Dedup.Bands, Dedup.RowsPerBand, 20)),

    // dedup-signal agreement matrix: which near-dup pairs each signal
    // family finds (MinHash-Jaccard vs wide-SimHash-hamming vs TF-IDF
    // cosine) and how the sets overlap — the evidence for choosing a
    // signal per corpus; joins are pair-table-sized
    line("q_signal_overlap")((s, dir) => {
      val d = docs(s, dir)
      def tag(df: DataFrame, name: String) =
        df.select(col("da"), col("db")).withColumn(name, lit(1L))
      // the three signal operators are EAGER (each materializes its
      // pair table internally) and fully independent — overlap their
      // builds on driver threads (guide-§2.6; outputs are the same
      // materialized tables, so the fold below is bitwise unchanged)
      val Seq(mhP, shP, tcP) = concurrently(
        () => Dedup.minhashPairs(d, JacThreshold),
        () => Dedup.simhashPairsWide(d, maxHamming = 2),
        () => Dedup.tfidfCosinePairs(d, TcosThreshold, TcosDfCap))
      tag(mhP, "mh")
        .join(tag(shP, "sh"),
          Seq("da", "db"), "full_outer")
        .join(tag(tcP, "tc"),
          Seq("da", "db"), "full_outer")
        .select((coalesce(col("mh"), lit(0L)) === 1L).as("in_minhash"),
          (coalesce(col("sh"), lit(0L)) === 1L).as("in_simhash"),
          (coalesce(col("tc"), lit(0L)) === 1L).as("in_tfidf"))
        .groupBy(col("in_minhash"), col("in_simhash"), col("in_tfidf"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("in_minhash"), col("in_simhash"), col("in_tfidf"))
    },
      oracle = s"WITH mh AS (SELECT da, db, 1 AS m FROM (${TextSql.dedupMinhashSql(JacThreshold)}) a), " +
        s"sh AS (SELECT da, db, 1 AS s FROM (${TextSql.simhashPairsWideSql(2)}) b), " +
        s"tc AS (SELECT da, db, 1 AS t FROM (${TextSql.tfidfCosineSql(TcosThreshold, TcosDfCap)}) c), " +
        "j AS (SELECT coalesce(m, 0) = 1 AS in_minhash, coalesce(s, 0) = 1 AS in_simhash, " +
        "coalesce(t, 0) = 1 AS in_tfidf " +
        "FROM mh FULL OUTER JOIN sh USING (da, db) FULL OUTER JOIN tc USING (da, db)) " +
        "SELECT in_minhash, in_simhash, in_tfidf, count(*) AS n_pairs FROM j " +
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),

    // honest LSH recall audit as a first-class query: the banded path's
    // verified pairs are a SUBSET of the exact-Jaccard pairs (same
    // threshold, same verification), so recall = n_banded/n_exact is
    // the banding's true miss rate — measured per round at contract
    // scale, not just argued in SCALING.md. One exact-grid division.
    line("q_lsh_recall")((s, dir) => {
      val d = docs(s, dir)
      // both arms are EAGER and independent — overlap them on driver
      // threads (guide-§2.6); each arm's materialized pair table is
      // bitwise what the sequential build produced
      val Seq(exactP, bandedP) = concurrently(
        () => Dedup.jaccardPairs(d, JacThreshold, JacDfCap),
        () => Dedup.minhashPairs(d, JacThreshold))
      val exact = exactP.select(col("da"), col("db"))
      val banded = bandedP.select(col("da"), col("db"))
      exact.withColumn("x", lit(1L))
        .join(banded.withColumn("b", lit(1L)), Seq("da", "db"), "full_outer")
        .agg(sum(coalesce(col("x"), lit(0L))).as("n_exact"),
          sum(coalesce(col("b"), lit(0L))).as("n_banded"),
          sum(when(col("b").isNull, 1L).otherwise(0L)).as("n_missed"))
        .select(col("n_exact"), col("n_banded"), col("n_missed"),
          (col("n_banded").cast("double") / col("n_exact").cast("double"))
            .as("recall"))
    },
      oracle = s"WITH ex AS (SELECT da, db FROM (${TextSql.dedupJaccardSql(JacThreshold, JacDfCap)}) e), " +
        s"bd AS (SELECT da, db FROM (${TextSql.dedupMinhashSql(JacThreshold)}) b), " +
        "j AS (SELECT ex.da AS xa, bd.da AS ba FROM ex FULL OUTER JOIN bd " +
        "ON ex.da = bd.da AND ex.db = bd.db) " +
        "SELECT CAST(count(xa) AS BIGINT) AS n_exact, " +
        "CAST(count(ba) AS BIGINT) AS n_banded, " +
        "CAST(sum(CASE WHEN ba IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missed, " +
        "CAST(count(ba) AS DOUBLE) / CAST(count(xa) AS DOUBLE) AS recall " +
        "FROM j"),

    // near-dup pairs by MinHash+LSH banding, Jaccard-verified
    line("dedup_minhash")((s, dir) =>
      Dedup.minhashPairs(docs(s, dir), JacThreshold).orderBy(col("da"), col("db")),
      oracle = TextSql.dedupMinhashSql(JacThreshold)),

    // edit-distance-verified near-dup pairs: same LSH band candidates,
    // verified by the thresholded banded levenshtein DP instead of
    // Jaccard — "near duplicate" as "few character edits" (OCR noise,
    // typo farms), order-sensitive where Jaccard is not
    line("q_edit_pairs")((s, dir) =>
      Dedup.editPairs(docs(s, dir), EditMaxDist).orderBy(col("da"), col("db")),
      oracle = TextSql.editPairsSql(EditMaxDist)),

    // 20-bit SimHash signature per document
    line("simhash")((s, dir) => Dedup.simhash(docs(s, dir)).orderBy(col("doc_id")),
      oracle = TextSql.simhashSql),

    // exact cosine top-k over the embedding column
    line("ann_topk")((s, dir) => Similarity.bruteForceTopK(emb(s, dir), AnnQueryIds, 10),
      oracle = TextSql.annTopKSql(AnnQueryIds, 10)),

    // IVF approximate top-k: coarse quantize + probe 2 cells
    line("ann_ivf")((s, dir) =>
      Similarity.ivfTopK(emb(s, dir), IvfCoarseIds, AnnQueryIds, nprobe = 2, k = 5),
      oracle = TextSql.annIvfSql(IvfCoarseIds, AnnQueryIds, nprobe = 2, k = 5)),

    // IVF recall audit: recall@k vs the exact cosine top-k over the
    // nprobe sweep — the probe budget's measured miss rate as a
    // per-round hash-checked fact (q_lsh_recall's ANN counterpart);
    // the all-cells point pins recall = 1.0 by construction
    line("q_ivf_recall")((s, dir) =>
      Similarity.ivfRecall(emb(s, dir), IvfCoarseIds, AnnQueryIds,
        RecallProbes, RecallK)
        .orderBy(col("nprobe")),
      oracle = TextSql.ivfRecallSql(IvfCoarseIds, AnnQueryIds, RecallProbes, RecallK)),

    // PQ / IVF-PQ recall audit vs the exact L2² top-k (PQ ranks by
    // distance, so the distance ranking is the honest reference): the
    // pure-PQ arm isolates quantization error, the nprobe sweep adds
    // cell pruning on top
    line("q_pq_recall")((s, dir) =>
      Similarity.pqRecall(emb(s, dir), IvfCoarseIds, PqCodebookIds,
        PqSubspaces, AnnQueryIds, RecallProbes, RecallK)
        .orderBy(col("method"), col("nprobe")),
      oracle = TextSql.pqRecallSql(IvfCoarseIds, PqCodebookIds, PqSubspaces,
        AnnQueryIds, RecallProbes, RecallK)),

    // binary (Hamming) ANN: 64 float dims collapse to 2 BIGINT sign
    // words — a 32x-narrower candidate scan whose distance is
    // XOR+popcount; every output column an exact integer
    line("q_hamming_ann")((s, dir) =>
      Similarity.hammingTopK(emb(s, dir), AnnQueryIds, 10),
      oracle = TextSql.hammingSql(AnnQueryIds, 10)),

    // recall@k audit of the binary proposer vs the exact cosine top-k —
    // what the sign bits keep, per query (whether Hamming can nominate
    // for an exact refine stage)
    line("q_hamming_recall")((s, dir) =>
      Similarity.hammingRecall(emb(s, dir), AnnQueryIds, RecallK),
      oracle = TextSql.hammingRecallSql(AnnQueryIds, RecallK)),

    // the binary path over the PERSISTED float-vector store: signatures
    // derive from the store's liveView, so forget composes through the
    // Hamming ranking (an erased vector never signs, never ranks)
    store("q_hamming_stored")((s, dir, root) => {
      val e = emb(s, dir)
      for (b <- 0 until 3)
        graft.streaming.VecStoreIngest.ingestBatch(
          e.filter(col("vec_id") % 3 === b), s"$root/vecs", b.toLong)
      graft.streaming.VecStoreIngest.markDeleted(s, s"$root/vecs", ForgetVecIds)
      Similarity.hammingProbe(
        Similarity.signSignature(
          graft.streaming.VecStoreIngest.view(s, s"$root/vecs")),
        AnnQueryIds, 10)
    },
      oracle = TextSql.hammingSql(AnnQueryIds, 10,
        excludeIds = ForgetVecIds)),

    // binary propose -> exact refine: sign bits nominate top-50 in the
    // integer domain, only those originals fetch for the exact-L2²
    // rerank — the refine budget turning sign bits into a usable
    // proposer (measured: top-50 keeps 21/30 exact-top-10 vs 9/30 raw)
    line("q_hamming_refined")((s, dir) =>
      Similarity.hammingRefined(emb(s, dir), AnnQueryIds,
        proposeR = 50, k = 10).orderBy(col("query_id"), col("rn")),
      oracle = TextSql.hammingRefinedSql(AnnQueryIds,
        proposeR = 50, k = 10)),

    // the binary propose/refine pair served STORE-ONLY: the signature
    // store (2 BIGINT words per vector on disk - the 32x narrowing
    // cashed out) nominates in the integer domain, the float-vector
    // store fetches originals for the exact rerank; the same forgotten
    // ids marked on BOTH stores leave every stage
    store("q_hamming_served")((s, dir, root) => {
      val e = emb(s, dir)
      // two INDEPENDENT stores, one driver thread each (`concurrently`)
      concurrently(
        () => {
          for (b <- 0 until 3)
            graft.streaming.SigStoreIngest.ingestBatch(
              e.filter(col("vec_id") % 3 === b), s"$root/sigs", b.toLong)
          graft.streaming.SigStoreIngest.markDeleted(s, s"$root/sigs", ForgetVecIds)
        },
        () => {
          for (b <- 0 until 3)
            graft.streaming.VecStoreIngest.ingestBatch(
              e.filter(col("vec_id") % 3 === b), s"$root/vecs", b.toLong)
          graft.streaming.VecStoreIngest.markDeleted(s, s"$root/vecs", ForgetVecIds)
        })
      Similarity.hammingRefinedStored(
          graft.streaming.SigStoreIngest.view(s, s"$root/sigs"),
          graft.streaming.VecStoreIngest.view(s, s"$root/vecs"),
          AnnQueryIds, proposeR = 50, k = 10)
        .orderBy(col("query_id"), col("rn"))
    },
      oracle = TextSql.hammingRefinedSql(AnnQueryIds,
        proposeR = 50, k = 10, excludeIds = ForgetVecIds)),

    // retrieval-quality evaluation: the exact-cosine ranking graded
    // against label-derived relevance — hits@k, precision@k,
    // reciprocal rank, and average precision on the exact-integer
    // lcm(1..k) grid (ONE final division per metric, never NaN)
    line("q_retrieval_eval")((s, dir) => {
      val e = emb(s, dir)
      Similarity.retrievalEval(
        Similarity.bruteForceTopKRanked(e, AnnQueryIds, 10),
        Similarity.labelQrels(e, AnnQueryIds), 10)
    }, oracle = TextSql.retrievalEvalSql(AnnQueryIds, 10)),

    // retriever COMPARISON: exact cosine vs raw Hamming vs
    // Hamming-propose/exact-refine, each graded by the same label
    // qrels on the same exact-integer grid - what the refine budget
    // buys, in AP terms, as a hash-checked fact
    line("q_eval_compare")((s, dir) => {
      val e = emb(s, dir)
      val qrels = Similarity.labelQrels(e, AnnQueryIds)
      def arm(name: String, ranked: org.apache.spark.sql.DataFrame) =
        Similarity.retrievalEval(
          ranked.select(col("query_id"), col("neighbor_id"), col("rn")),
          qrels, 10).withColumn("method", lit(name))
      arm("exact", Similarity.bruteForceTopKRanked(e, AnnQueryIds, 10))
        .unionByName(arm("hamming", Similarity.hammingTopK(e, AnnQueryIds, 10)))
        .unionByName(arm("hamming_refined",
          Similarity.hammingRefined(e, AnnQueryIds, 50, 10)))
        .unionByName(arm("ivf_pq", Similarity.ivfPqSearch(e, IvfCoarseIds,
          PqCodebookIds, PqSubspaces, AnnQueryIds, nprobe = 2, k = 10)))
        .select(col("method"), col("query_id"), col("n_rel"), col("prec"),
          col("rr"), col("ap"))
        .orderBy(col("method"), col("query_id"))
    },
      oracle = TextSql.evalCompareSql(AnnQueryIds, 10, proposeR = 50,
        IvfCoarseIds, PqCodebookIds, PqSubspaces, nprobe = 2)),

    // CROSS-MODALITY eval — lexical vs semantic vs their RRF fusion
    // under ONE judgment table: the persisted lexical index answers the
    // three term-set queries in one pushed-down slice scan
    // (bm25ProbeMany, bitwise the one-shot scorer), the exact-cosine
    // ranking answers the same three query ids (doc_id ≡ vec_id in this
    // corpus), and rrfFuse merges the two pools per query — each
    // ranking graded by the SAME label qrels through retrievalEval, so
    // "does fusion beat either modality here" is a hash-checked
    // contract fact, not an argument.
    store("q_eval_hybrid")((s, dir, idxDir) => {
      val e = emb(s, dir)
      TextAnalysis.writeLexIndex(docs(s, dir), idxDir)
      val lex = TextAnalysis.bm25ProbeMany(s, idxDir, Bm25Queries, Bm25K)
        .select(col("query_id"), col("doc_id").as("neighbor_id"),
          col("rn").cast("long").as("rn"))
      val sem = Similarity.bruteForceTopKRanked(e, AnnQueryIds, Bm25K)
      val fused = Similarity.rrfFuse(lex, sem, RrfConst, Bm25K)
        .select(col("query_id"), col("neighbor_id"), col("rn"))
      val qrels = Similarity.labelQrels(e, AnnQueryIds)
      def arm(name: String, ranked: org.apache.spark.sql.DataFrame) =
        Similarity.retrievalEval(
          ranked.select(col("query_id"), col("neighbor_id"), col("rn")),
          qrels, Bm25K).withColumn("method", lit(name))
      arm("lexical", lex)
        .unionByName(arm("semantic", sem))
        .unionByName(arm("rrf_fused", fused))
        .select(col("method"), col("query_id"), col("n_rel"), col("prec"),
          col("rr"), col("ap"))
        .orderBy(col("method"), col("query_id"))
    },
      // three modalities, one judgment table: the lexical multi-probe
      // mirror, the exact ranking, and the generalized RRF fusion each
      // nested through the metric fold (doc_id ≡ vec_id in this corpus)
      oracle = TextSql.evalHybridSql(Bm25Queries, Bm25K,
        kRrf = RrfConst, k1 = 1.2, b = 0.75)),

    // EVAL OVER THE SERVED STORES — the measurement loop on the
    // production path, across all three serving modalities: the two
    // persisted propose/refine vector stacks (sig+vec stores; IVF-PQ
    // index with its STORED quantizer + vec store) AND the lexical
    // store's multi-probe, ForgetVecIds marked on ALL of them, each
    // graded by retrievalEval — and the JUDGMENT table is the surviving
    // membership's label qrels, so forgetting an id changes what is
    // judged, exactly what the erasure attestation promises (for the
    // lexical arm the forget also shifts the BM25 corpus constants —
    // the deletion-vector probe semantics, here measured). Labels
    // are catalog metadata beside the stores (the stores hold payloads,
    // not judgments).
    store("q_eval_served")((s, dir, root) => {
      val e = emb(s, dir)
      val quant = Similarity.trainIvfPqQuantizer(
        e, IvfCoarseIds, PqCodebookIds, PqSubspaces)
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      // four INDEPENDENT stores: one driver thread each (batch order
      // sequential within a store; bytes identical — `concurrently`)
      concurrently(
        () => {
          for (b <- 0 until 3)
            graft.streaming.SigStoreIngest.ingestBatch(
              e.filter(col("vec_id") % 3 === b), s"$root/sigs", b.toLong)
          graft.streaming.SigStoreIngest.markDeleted(s, s"$root/sigs", ForgetVecIds)
        },
        () => {
          for (b <- 0 until 3)
            graft.streaming.VectorIndexIngest.ingestBatch(
              e.filter(col("vec_id") % 3 === b), s"$root/idx", quant, b.toLong)
          graft.streaming.StoreCompaction.markDeleted(s, s"$root/idx", ForgetVecIds)
        },
        () => {
          for (b <- 0 until 3)
            graft.streaming.VecStoreIngest.ingestBatch(
              e.filter(col("vec_id") % 3 === b), s"$root/vecs", b.toLong)
          graft.streaming.VecStoreIngest.markDeleted(s, s"$root/vecs", ForgetVecIds)
        },
        () => {
          for (b <- 0 until 3)
            graft.streaming.LexIngest.ingestBatch(
              d.filter(col("doc_id") % 3 === b), s"$root/lex", b.toLong)
          graft.streaming.LexIngest.markDeleted(s, s"$root/lex", ForgetVecIds)
        })
      val vecs = graft.streaming.VecStoreIngest.view(s, s"$root/vecs")
      val qrels = Similarity.labelQrels(
        e.filter(!col("vec_id").isin(ForgetVecIds: _*)), AnnQueryIds)
      def graded(name: String, ranked: org.apache.spark.sql.DataFrame) =
        Similarity.retrievalEval(
          ranked.select(col("query_id"), col("neighbor_id"), col("rn")),
          qrels, PqSearchK).withColumn("method", lit(name))
      // arm CONSTRUCTION runs driver-side jobs (query-vector collects,
      // stored-quantizer reads, corpus-constant folds) — overlap the
      // three independent arms like the store builds above; the
      // returned frames are the same lazy plans either way
      val Seq(ham, rf, lx) = concurrently(
        () => Similarity.hammingRefinedStored(
          graft.streaming.SigStoreIngest.view(s, s"$root/sigs"), vecs,
          AnnQueryIds, proposeR = 50, k = PqSearchK),
        () => Similarity.refineExact(vecs,
          Similarity.ivfPqProbe(
              graft.streaming.VectorIndexIngest.index(s, s"$root/idx"),
              graft.streaming.VectorIndexIngest.quantizer(s, s"$root/idx"),
              Similarity.collectVectors(vecs, AnnQueryIds),
              nprobe = 2, k = RefineR)
            .select(col("query_id"), col("neighbor_id")),
          AnnQueryIds, PqSearchK),
        () => graft.streaming.LexIngest
          .probeMany(s, s"$root/lex", Bm25Queries, PqSearchK)
          .select(col("query_id"), col("doc_id").as("neighbor_id"),
            col("rn").cast("long").as("rn")))
      graded("hamming_served", ham)
        .unionByName(graded("lex_served", lx))
        .unionByName(graded("refine_served", rf))
        .select(col("method"), col("query_id"), col("n_rel"), col("prec"),
          col("rr"), col("ap"))
        .orderBy(col("method"), col("query_id"))
    },
      // served arms graded over the SURVIVING judgment corpus: the two
      // proven refined-serving mirrors nested through the metric fold
      // with the forget set excluded from rankings AND qrels alike
      oracle = TextSql.evalServedSql(AnnQueryIds, PqSearchK,
        proposeR = 50, IvfCoarseIds, PqCodebookIds, PqSubspaces,
        nprobe = 2, rerankR = RefineR, lexQueries = Bm25Queries,
        k1 = 1.2, b = 0.75, excludeIds = ForgetVecIds)),

    // TIME-TRAVEL eval reproducibility — "evaluate on the frozen
    // snapshot": the SAME exact-cosine retriever graded against the
    // vec store AS OF batch 1 and batch 2, from one store that already
    // took all three batches. Ranking, query resolution, and judgment
    // table all restrict to each snapshot's membership — a query
    // vector not yet ingested at the as-of batch has no row at all,
    // and RetrievalEvalSpec pins that later ingests never move an
    // earlier snapshot's metrics (while a later FORGET does,
    // retroactively — erasure beats reproducibility by design).
    store("q_eval_asof")((s, dir, root) => {
      val e = emb(s, dir)
      for (b <- 0 until 3)
        graft.streaming.VecStoreIngest.ingestBatch(
          e.filter(col("vec_id") % 3 === b), s"$root/vecs", b.toLong)
      def arm(b: Long) =
        Similarity.retrievalEval(
          Similarity.bruteForceTopKRanked(
            graft.streaming.VecStoreIngest.viewAsOf(s, s"$root/vecs", b),
            AnnQueryIds, PqSearchK),
          Similarity.labelQrels(
            e.filter(col("vec_id") % 3 <= b), AnnQueryIds), PqSearchK)
          .withColumn("method", lit(s"asof_b$b"))
      arm(1L).unionByName(arm(2L))
        .select(col("method"), col("query_id"), col("n_rel"), col("prec"),
          col("rr"), col("ap"))
        .orderBy(col("method"), col("query_id"))
    },
      // each as-of arm restricts ranking, query resolution, and qrels to
      // the snapshot membership (the vec_id % 3 ingest split)
      oracle = TextSql.evalAsOfSql(AnnQueryIds, PqSearchK,
        nBatches = 3, asOfBatches = Seq(1L, 2L))),

    // hard-negative mining for contrastive training (DPR-style): per
    // query, the top-k most-similar DIFFERENT-label vectors — the
    // negatives the next training round needs; sim crosses unrounded
    line("q_hard_negatives")((s, dir) =>
      Similarity.hardNegatives(emb(s, dir), AnnQueryIds, 10),
      oracle = TextSql.hardNegativesSql(AnnQueryIds, 10)),

    // multimodal: binary payload metadata (no decode needed)
    line("multimodal_meta")((s, dir) =>
      Multimodal.binaryMeta(docs(s, dir), "doc_id", "text").orderBy(col("doc_id")),
      oracle = TextSql.multimodalMetaSql),

    // exact media dedup by content digest (content-addressable storage):
    // identical payloads collapse, keeper = lowest id
    line("q_media_dedup")((s, dir) =>
      Multimodal.mediaDedup(docs(s, dir), "doc_id", "text")
        .orderBy(col("keep_id")),
      oracle = "WITH m AS (SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len, " +
        "md5(text) AS digest FROM documents) " +
        "SELECT digest, byte_len, min(doc_id) AS keep_id, count(*) AS n_copies " +
        "FROM m GROUP BY digest, byte_len ORDER BY keep_id"),

    // media NEAR-dup by shared sampled frames: digest inverted index with
    // a df-capped stop-frame guard, containment = exact-BIGINT division
    line("q_media_neardup")((s, dir) =>
      Multimodal.frameNearDup(docs(s, dir), "doc_id", "text",
        FrameStride, MediaDfCap, MediaMinShared)
        .orderBy(col("ma"), col("mb")),
      oracle = TextSql.frameNearDupSql(FrameStride, MediaDfCap, MediaMinShared)),

    // incremental media near-dup: new uploads vs the ingested library —
    // batch frame set broadcasts into batch×corpus digest collisions,
    // corpus never self-joined; union-wide stop-frame cap
    line("q_incr_media")((s, dir) => {
      val d = docs(s, dir)
      Multimodal.incrementalFrameNearDup(
        d.filter(col("doc_id") % IncrementalMod === 0),
        d.filter(col("doc_id") % IncrementalMod =!= 0),
        "doc_id", "text", FrameStride, MediaDfCap, MediaMinShared)
        .orderBy(col("batch_id"), col("corpus_id"))
    },
      oracle = TextSql.incrFrameNearDupSql(
        FrameStride, MediaDfCap, MediaMinShared, IncrementalMod)),

    // multimodal frame sampling (stub codec): every FrameStride-th 8-byte
    // window of the binary payload digested — the mapPartitions batching
    // and (media_id, frame_idx, digest) shape are the real contract; the
    // integer digest lets DuckDB mirror it bit-for-bit
    line("q_frames")((s, dir) =>
      Multimodal.frameSampleStub(docs(s, dir), "doc_id", "text", FrameStride)
        .orderBy(col("media_id"), col("frame_idx")),
      oracle = TextSql.frameSampleSql(FrameStride)),

    // perceptual-hash media near-dup: 60-bit frame-majority signature
    // per media, 4×15-bit chunk-banded hamming pairs — catches copies
    // with a few perturbed frames that break digest-set containment
    line("q_phash_pairs")((s, dir) =>
      Multimodal.phashPairs(docs(s, dir), "doc_id", "text",
        FrameStride, PhashMaxHamming)
        .orderBy(col("ma"), col("mb")),
      oracle = TextSql.phashPairsSql(FrameStride, PhashMaxHamming)),

    // packing-efficiency report: per shard, packs/docs/tokens plus the
    // padding waste (capacity − tokens) and fill fraction — the metric
    // that prices padding into training cost; aggregates are pack-
    // table-sized, fill_frac one exact-BIGINT division
    line("q_pack_stats")((s, dir) =>
      TextAnalysis.packSequences(docs(s, dir), PackBudget, PackShards)
        .groupBy(col("shard"))
        .agg(countDistinct(col("pack_id")).as("n_packs"),
          count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .select(col("shard"), col("n_packs"), col("n_docs"), col("n_tokens"),
          (col("n_packs") * PackBudget - col("n_tokens")).as("waste"),
          (col("n_tokens").cast("double") /
            (col("n_packs") * PackBudget).cast("double")).as("fill_frac"))
        .orderBy(col("shard")),
      oracle = s"WITH p AS (SELECT * FROM (${TextSql.packSequencesSql(PackBudget, PackShards)}) q) " +
        "SELECT shard, CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs, " +
        "count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens, " +
        s"CAST(count(DISTINCT pack_id) * $PackBudget - sum(n_tokens) AS BIGINT) AS waste, " +
        s"CAST(sum(n_tokens) AS DOUBLE) / CAST(count(DISTINCT pack_id) * $PackBudget AS DOUBLE) AS fill_frac " +
        "FROM p GROUP BY shard ORDER BY shard"),

    // sequence packing: greedy token-budget bin packing into training
    // sequences, sharded for parallelism (per-shard sequential fold)
    line("q_pack")((s, dir) =>
      TextAnalysis.packSequences(docs(s, dir), PackBudget, PackShards)
        .orderBy(col("doc_id")),
      oracle = TextSql.packSequencesSql(PackBudget, PackShards)),

    // multimodal decode + resize (stub codec): header dims, parity
    // format, digest features, aspect-preserving resize — every value
    // integer-derived (one double division / one rounding each), so the
    // oracle matches bitwise
    line("q_decode")((s, dir) => {
      val dec = Multimodal.decodeStub(docs(s, dir), "doc_id", "text")
      Multimodal.resizeMeta(dec, DecodeMaxDim)
        .select(col("media_id"), col("width"), col("height"), col("format"),
          element_at(col("features"), 1).as("f0"),
          element_at(col("features"), 2).as("f1"),
          element_at(col("features"), 3).as("f2"),
          element_at(col("features"), 4).as("f3"),
          col("out_width"), col("out_height"))
        .orderBy(col("media_id"))
    }, oracle = TextSql.decodeSql(DecodeMaxDim)),

    // ---- general analytics over the star schema ----

    // broadcast-dim join + aggregation: order revenue per nation
    line("q_join_agg")((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy(col("n_name"))
    },
      oracle = "SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice),2) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY n_name ORDER BY n_name"),

    // window function: top-3 longest documents per language
    line("q_window_rank")((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang")).orderBy(col("n_chars").desc, col("doc_id"))
      docs(s, dir).withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("lang"), col("doc_id"))
    },
      oracle = "SELECT doc_id, lang, n_chars FROM (SELECT doc_id, lang, n_chars, " +
        "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn " +
        "FROM documents) WHERE rn <= 3 ORDER BY lang, doc_id"),

    // global sort + limit: top-20 orders by price
    line("q_topk_orders")((s, dir) =>
      s.read.parquet(s"$dir/orders.parquet")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("total")),
      oracle = "SELECT o_orderkey, round(o_totalprice,2) AS total FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"),

    // embedding-cosine near-dup pairs, coarse-cell pruned
    line("dedup_embedding")((s, dir) =>
      graft.llm.Similarity.cosineNearDupPairs(emb(s, dir), IvfCoarseIds, 0.4)
        .orderBy(col("va"), col("vb")),
      oracle = TextSql.dedupEmbeddingSql(IvfCoarseIds, 0.4)),

    // incremental semantic dedup: new embedding batch vs the ingested
    // corpus — same-cell candidates only (cell-pruned, corpus never
    // self-joined), batch side broadcast; the paraphrase-ingest path
    line("q_incr_sem")((s, dir) => {
      val e = emb(s, dir)
      graft.llm.Similarity.incrementalCosinePairs(
        e.filter(col("vec_id") % IncrementalMod === 0),
        e.filter(col("vec_id") % IncrementalMod =!= 0),
        IvfCoarseIds, SemDedupThreshold)
        .orderBy(col("batch_id"), col("corpus_id"))
    }, oracle = TextSql.incrementalSemSql(IvfCoarseIds, SemDedupThreshold, IncrementalMod)),

    // gap-based sessionization (lag + running-sum windows)
    line("events_sessionize")((s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("event_id"), col("tus"))
      graft.streaming.EventStream.sessionize(ev)
        .orderBy(col("user_id"), col("session_id"))
    }, oracle = TextSql.eventsSessionizeSql),

    // distinct aggregation: unique users + events per event type
    line("q_distinct_users")((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
        .orderBy(col("event_type")),
      oracle = "SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events " +
        "FROM events GROUP BY event_type ORDER BY event_type"),

    // BPE-ish regex token counting (beyond whitespace tokens)
    line("q_bpe_tokens")((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"))
        .orderBy(col("doc_id")),
      oracle = s"SELECT doc_id, CAST(len(regexp_extract_all(text, '${TextAnalysis.BpePattern}')) AS BIGINT) AS n_bpe " +
        "FROM documents ORDER BY doc_id"),

    // JSON extraction over the events props column + aggregation
    line("q_json_extract")((s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("event_type")),
      // DuckDB sum(BIGINT) widens to HUGEINT (hashes as float64); cast the
      // aggregate back to BIGINT to match Spark's int64 sum.
      oracle = "SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k " +
        "FROM events GROUP BY event_type ORDER BY event_type"),

    // set operations: customers with both F and O orders, minus P
    line("q_set_ops")((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      def custs(status: String) =
        orders.filter(col("o_orderstatus") === status).select(col("o_custkey"))
      custs("F").intersect(custs("O")).except(custs("P")).orderBy(col("o_custkey"))
    },
      oracle = "SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' " +
        "INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' " +
        "EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'P' " +
        "ORDER BY o_custkey"),

    // ---- round 3: pipeline composition + join/window/agg variety ----

    // end-to-end training-data filter: quality + language gate, then
    // exact-dedup keeping the lowest doc_id (one scan + one shuffle)
    line("pipeline_filter")((s, dir) =>
      TextAnalysis.pipelineFilter(docs(s, dir), minQuality = 0.5, lang = "en")
        .orderBy(col("keep_id")),
      oracle = TextSql.pipelineFilterSql(minQuality = 0.5, lang = "en")),

    // deterministic content-hash train/test split, stratified counts
    line("q_train_split")((s, dir) =>
      TextAnalysis.contentSplit(docs(s, dir))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("split")),
      oracle = TextSql.trainSplitSql(trainBuckets = 8, buckets = 10)),

    // interleaved length-curriculum order: easy-first within source,
    // sources round-robin — all-integer ordering keys
    line("q_curriculum")((s, dir) =>
      TextAnalysis.curriculumOrder(docs(s, dir)).orderBy(col("position")),
      oracle = "WITH nt AS (SELECT doc_id, source, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks FROM documents), " +
        "r AS (SELECT doc_id, source, n_toks, CAST(ROW_NUMBER() OVER " +
        "(PARTITION BY source ORDER BY n_toks, doc_id) AS BIGINT) AS src_rank FROM nt) " +
        "SELECT doc_id, source, n_toks, src_rank, CAST(ROW_NUMBER() OVER " +
        "(ORDER BY src_rank, source, doc_id) AS BIGINT) AS position " +
        "FROM r ORDER BY position"),

    // waterfilled mixture weights: largest total honoring the target mix
    // is set by the bottleneck source; accept_frac is one exact-grid
    // division, expected_tokens exact integer
    line("q_mixture")((s, dir) =>
      TextAnalysis.mixtureWeights(docs(s, dir), MixWeights)
        .orderBy(col("source")),
      oracle = TextSql.mixtureSql(MixWeights)),

    // per-source OOV rate under the corpus top-K word vocabulary —
    // tokenizer-coverage metric; rate is one exact-BIGINT division
    line("q_oov")((s, dir) =>
      TextAnalysis.oovRate(docs(s, dir), vocabK = 200).orderBy(col("source")),
      oracle = "WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents), " +
        "vc AS (SELECT w, count(*) AS n FROM tok GROUP BY w), " +
        "vocab AS (SELECT w FROM vc ORDER BY n DESC, w LIMIT 200) " +
        "SELECT source, count(*) AS n_tokens, " +
        "CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
        "CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE) AS oov_rate " +
        "FROM tok LEFT JOIN vocab ON tok.w = vocab.w GROUP BY source ORDER BY source"),

    // PII scrub: deterministic planted PII (email/IP/phone derived from
    // doc_id) redacted by the shared regex chain — the oracle plants and
    // scrubs with the same strings, so the whole text crosses the hash
    line("q_redact")((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7 call +1555"), lpad(col("doc_id").cast("string"), 7, "0")).as("ptext"))
        .select(col("doc_id"), TextAnalysis.redactPii(col("ptext")).as("redacted"))
        .orderBy(col("doc_id")),
      oracle = "WITH p AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 call +1555' || " +
        "lpad(CAST(doc_id AS VARCHAR), 7, '0') AS ptext FROM documents) " +
        "SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(ptext, " +
        s"'${TextAnalysis.EmailRe}', '[EMAIL]', 'g'), " +
        s"'${TextAnalysis.Ipv4Re}', '[IP]', 'g'), " +
        s"'${TextAnalysis.PhoneRe}', '[PHONE]', 'g') AS redacted " +
        "FROM p ORDER BY doc_id"),

    // per-source PII exposure audit: planted PII is SPARSE (email on
    // doc_id%2, IP on %3, phone on %5) so the per-source counts differ
    // per class; same shared regexes as the scrubber
    line("q_pii_stats")((s, dir) => {
      val plant = concat(col("text"),
        when(col("doc_id") % 2 === 0, concat(lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 3 === 0, concat(lit(" from 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".7"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, concat(lit(" call +1555"),
          lpad(col("doc_id").cast("string"), 7, "0"))).otherwise(lit("")))
      TextAnalysis.piiStats(docs(s, dir)
        .select(col("doc_id"), col("source"), plant.as("text")))
        .orderBy(col("source"))
    },
      oracle = "WITH p AS (SELECT doc_id, source, text || " +
        "CASE WHEN doc_id % 2 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END || " +
        "CASE WHEN doc_id % 3 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END || " +
        "CASE WHEN doc_id % 5 = 0 THEN ' call +1555' || lpad(CAST(doc_id AS VARCHAR), 7, '0') ELSE '' END " +
        "AS ptext FROM documents), " +
        "c AS (SELECT source, " +
        s"CAST(len(regexp_extract_all(ptext, '${TextAnalysis.EmailRe}')) AS BIGINT) AS e, " +
        s"CAST(len(regexp_extract_all(ptext, '${TextAnalysis.Ipv4Re}')) AS BIGINT) AS i, " +
        s"CAST(len(regexp_extract_all(ptext, '${TextAnalysis.PhoneRe}')) AS BIGINT) AS ph FROM p) " +
        "SELECT source, CAST(sum(e) AS BIGINT) AS n_emails, CAST(sum(i) AS BIGINT) AS n_ipv4, " +
        "CAST(sum(ph) AS BIGINT) AS n_phones, " +
        "CAST(sum(CASE WHEN e + i + ph > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_pii, " +
        "count(*) AS n_docs FROM c GROUP BY source ORDER BY source"),

    // per-source length-distribution drift: total-variation distance on
    // an exact integer grid — l1 BIGINT, tv one exact-grid division
    line("q_source_drift")((s, dir) =>
      TextAnalysis.sourceLengthDrift(docs(s, dir), binWidth = 20L, nbins = 10)
        .orderBy(col("source")),
      oracle = "WITH b AS (SELECT source, least(CAST(len(string_split(text, ' ')) AS BIGINT) // 20, " +
        "CAST(9 AS BIGINT)) AS bin FROM documents), " +
        "ps AS (SELECT source, bin, count(*) AS c FROM b GROUP BY source, bin), " +
        "co AS (SELECT bin, CAST(sum(c) AS BIGINT) AS cb FROM ps GROUP BY bin), " +
        "ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs FROM ps GROUP BY source), " +
        "na AS (SELECT CAST(sum(cb) AS BIGINT) AS nn FROM co), " +
        "dense AS (SELECT ns.source, ns.n_docs, co.bin, co.cb, coalesce(ps.c, 0) AS c " +
        "FROM ns CROSS JOIN co LEFT JOIN ps ON ps.source = ns.source AND ps.bin = co.bin), " +
        "l AS (SELECT source, n_docs, nn, CAST(sum(abs(c*nn - cb*n_docs)) AS BIGINT) AS l1 " +
        "FROM dense CROSS JOIN na GROUP BY source, n_docs, nn) " +
        "SELECT source, n_docs, l1, CAST(l1 AS DOUBLE) / CAST(2*n_docs*nn AS DOUBLE) AS tv " +
        "FROM l ORDER BY source"),

    // vocabulary coverage curve: ranks covering 50/90/99% of token
    // occurrences — Zipf planning numbers, exact-integer comparisons
    line("q_vocab_coverage")((s, dir) =>
      TextAnalysis.vocabCoverage(docs(s, dir)),
      oracle = "WITH v AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) t GROUP BY w), " +
        "r AS (SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w) AS BIGINT) AS rn, " +
        "CAST(sum(c) OVER (ORDER BY c DESC, w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, " +
        "CAST(sum(c) OVER () AS BIGINT) AS total FROM v) " +
        "SELECT min(CASE WHEN cum * 100 >= 50 * total THEN rn END) AS k50, " +
        "min(CASE WHEN cum * 100 >= 90 * total THEN rn END) AS k90, " +
        "min(CASE WHEN cum * 100 >= 99 * total THEN rn END) AS k99, " +
        "max(rn) AS vocab_size, max(total) AS n_tokens FROM r"),

    // token-share Gini across sources: the mixture-domination number;
    // numerator and denominator exact BIGINTs, ONE division
    line("q_token_gini")((s, dir) =>
      TextAnalysis.tokenGini(docs(s, dir)),
      oracle = "WITH per AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS x " +
        "FROM documents GROUP BY 1), " +
        "c AS (SELECT a.source AS s1, a.x AS xa, b.x AS xb FROM per a CROSS JOIN per b) " +
        "SELECT CAST(count(DISTINCT s1) AS BIGINT) AS n_sources, " +
        "CAST(sum(xa) // count(DISTINCT s1) AS BIGINT) AS total_tokens, " +
        "CAST(sum(abs(xa - xb)) AS BIGINT) AS gini_num, " +
        "CAST(sum(abs(xa - xb)) AS DOUBLE) / CAST(2 * sum(xa) AS DOUBLE) AS gini FROM c"),

    // vocabulary-growth (Heaps) curve over ingestion batches: new-word
    // contribution per batch + cumulative vocabulary — all integers
    line("q_vocab_growth")((s, dir) =>
      TextAnalysis.vocabGrowth(docs(s, dir), batchSize = 50L)
        .orderBy(col("batch")),
      oracle = "WITH bw AS (SELECT doc_id // 50 AS batch, w, CAST(count(*) AS BIGINT) AS c FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) e GROUP BY 1, 2), " +
        "f AS (SELECT *, CAST(min(batch) OVER (PARTITION BY w) AS BIGINT) AS first_batch FROM bw), " +
        "pb AS (SELECT batch, CAST(sum(c) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CASE WHEN first_batch = batch THEN 1 ELSE 0 END) AS BIGINT) AS n_new_words " +
        "FROM f GROUP BY 1) " +
        "SELECT batch, n_tokens, n_new_words, " +
        "CAST(sum(n_new_words) OVER (ORDER BY batch ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab " +
        "FROM pb ORDER BY batch"),

    // bursting terms per ingestion batch: in-batch rate beats the
    // rest-of-corpus rate by factor× with min support — decided by an
    // exact cross-multiplied BIGINT compare; the ratio is one division
    // of two CAST-to-DOUBLE exact products, null for brand-new terms
    line("q_bursts")((s, dir) =>
      TextAnalysis.burstTerms(docs(s, dir), batchSize = 50L,
        minCount = 4L, factor = 1L)
        .orderBy(col("batch"), col("w")),
      oracle = "WITH bw AS (SELECT doc_id // 50 AS batch, w, CAST(count(*) AS BIGINT) AS c FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) e GROUP BY 1, 2), " +
        "ww AS (SELECT batch, w, c, CAST(sum(c) OVER (PARTITION BY w) AS BIGINT) AS cw FROM bw), " +
        "nb AS (SELECT batch, CAST(sum(c) AS BIGINT) AS n_batch FROM bw GROUP BY 1), " +
        "nn AS (SELECT batch, n_batch, CAST(sum(n_batch) OVER () AS BIGINT) AS nt FROM nb) " +
        "SELECT ww.batch, w, c, cw - c AS c_rest, n_batch, nt - n_batch AS n_rest, " +
        "CASE WHEN (cw - c) * n_batch > 0 THEN " +
        "CAST(c * (nt - n_batch) AS DOUBLE) / CAST((cw - c) * n_batch AS DOUBLE) END AS burst_ratio " +
        "FROM ww JOIN nn ON ww.batch = nn.batch " +
        "WHERE c >= 4 AND c * (nt - n_batch) > 1 * (cw - c) * n_batch " +
        "ORDER BY ww.batch, w"),

    // top-k collocations by PMI (Church & Hanks): most frequent bigrams
    // scored ln(one exact-BIGINT-product division) — the bigram-LM ln
    // discipline; k-row side broadcasts into the vocab joins
    line("q_collocations")((s, dir) =>
      TextAnalysis.collocations(docs(s, dir), TextrankK)
        .orderBy(col("n_pairs").desc, col("pair")),
      oracle = s"WITH uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) e GROUP BY 1), " +
        "ut AS (SELECT *, CAST(sum(c) OVER () AS BIGINT) AS t FROM uni), " +
        "bi AS (SELECT pair, CAST(count(*) AS BIGINT) AS n_pairs FROM " +
        "(SELECT unnest(CASE WHEN len(toks) >= 2 THEN " +
        "list_transform(range(1, len(toks)), i -> toks[i::INT] || ' ' || toks[(i+1)::INT]) " +
        "ELSE CAST([] AS VARCHAR[]) END) AS pair FROM " +
        "(SELECT string_split(text, ' ') AS toks FROM documents) tt) bb GROUP BY 1), " +
        "bt AS (SELECT *, CAST(sum(n_pairs) OVER () AS BIGINT) AS b FROM bi), " +
        s"top AS (SELECT * FROM bt ORDER BY n_pairs DESC, pair LIMIT $TextrankK), " +
        "j AS (SELECT top.pair, top.n_pairs, top.b, ua.c AS ca, ub.c AS cb, ua.t " +
        "FROM top JOIN ut ua ON ua.w = string_split(top.pair, ' ')[1] " +
        "JOIN ut ub ON ub.w = string_split(top.pair, ' ')[2]) " +
        "SELECT pair, n_pairs, " +
        // round-4 + sign-of-zero guard, mirroring the Spark side's new
        // rounding (libm ln diverges by 1 ulp cross-engine — hit live
        // at sf0.001 in r19; the LM-scorer round discipline applies)
        "round(ln(CAST(n_pairs * t * t AS DOUBLE) / CAST(b * ca * cb AS DOUBLE)), 4) + 0.0 AS pmi " +
        "FROM j ORDER BY n_pairs DESC, pair"),

    // per-source TOPIC drift on hashing-trick profiles: cosine of each
    // source's bucketed term profile vs the corpus — integer sums,
    // window-derived global, fixed 5-op cosine (labelDrift discipline)
    line("q_hash_drift")((s, dir) =>
      TextAnalysis.hashedSourceDrift(docs(s, dir), HashDim)
        .orderBy(col("source")),
      oracle = s"WITH e AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents), " +
        s"pb AS (SELECT source, ${TextSql.polyHashSql("w")} % $HashDim AS b, " +
        "CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2), " +
        "wg AS (SELECT *, CAST(sum(c) OVER (PARTITION BY b) AS BIGINT) AS g FROM pb), " +
        "wg2 AS (SELECT *, CAST(sum(c * g) OVER () AS BIGINT) AS nb2g FROM wg) " +
        "SELECT source, CAST(sum(c * g) AS BIGINT) AS dot, " +
        "CAST(sum(c * c) AS BIGINT) AS na2, CAST(max(nb2g) AS BIGINT) AS nb2, " +
        "CASE WHEN sum(c * c) = 0 OR max(nb2g) = 0 THEN NULL " +
        "ELSE CAST(sum(c * g) AS DOUBLE) / (sqrt(CAST(sum(c * c) AS DOUBLE)) * sqrt(CAST(max(nb2g) AS DOUBLE))) END AS cos_drift " +
        "FROM wg2 GROUP BY source ORDER BY source"),

    // classifier calibration: score deciles vs Gopher pass rate — the
    // check before trusting a learned filter with a token budget
    line("q_quality_calibration")((s, dir) =>
      TextAnalysis.qualityCalibration(docs(s, dir), NtileBuckets,
        GopherMinWords, GopherMaxWords, GopherMinAvgLen, GopherMaxAvgLen,
        GopherMinStop, GopherMinAlphaFrac)
        .orderBy(col("decile")),
      oracle = s"WITH qc AS (SELECT doc_id, score FROM (${TextSql.qualityClassifierSql}) q), " +
        s"gp AS (SELECT doc_id, passes FROM (${TextSql.gopherSql(GopherMinWords, GopherMaxWords,
          GopherMinAvgLen, GopherMaxAvgLen, GopherMinStop, GopherMinAlphaFrac)}) g), " +
        "j AS (SELECT qc.doc_id, score, passes FROM qc JOIN gp USING (doc_id)), " +
        s"n AS (SELECT *, CAST(NTILE($NtileBuckets) OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS decile FROM j) " +
        "SELECT decile, count(*) AS n_docs, min(score) AS min_score, max(score) AS max_score, " +
        "CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS n_pass, " +
        "CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pass_frac " +
        "FROM n GROUP BY decile ORDER BY decile"),

    // per-source KS drift: max CDF gap vs the corpus — the localized-
    // shift detector beside the TV monitor; ks_num exact BIGINT via
    // cross-multiplication, ks one exact-grid division
    line("q_ks_drift")((s, dir) =>
      TextAnalysis.sourceLengthKs(docs(s, dir), binWidth = 20L, nbins = 10)
        .orderBy(col("source")),
      oracle = "WITH b AS (SELECT source, least(CAST(len(string_split(text, ' ')) AS BIGINT) // 20, " +
        "CAST(9 AS BIGINT)) AS bin FROM documents), " +
        "ps AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2), " +
        "bins AS (SELECT DISTINCT bin FROM ps), " +
        "sn AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs FROM ps GROUP BY 1), " +
        "dense AS (SELECT sn.source, sn.n_docs, bins.bin, CAST(coalesce(ps.c, 0) AS BIGINT) AS cc " +
        "FROM sn CROSS JOIN bins LEFT JOIN ps ON ps.source = sn.source AND ps.bin = bins.bin), " +
        "t AS (SELECT *, CAST(sum(cc) OVER (PARTITION BY source ORDER BY bin) AS BIGINT) AS cum_src, " +
        "CAST(sum(cc) OVER (ORDER BY bin RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_corp, " +
        "CAST(sum(cc) OVER () AS BIGINT) AS nn FROM dense), " +
        "g AS (SELECT source, n_docs, nn, abs(cum_src * nn - cum_corp * n_docs) AS gap FROM t) " +
        "SELECT source, max(n_docs) AS n_docs, CAST(max(gap) AS BIGINT) AS ks_num, " +
        "CAST(max(gap) AS DOUBLE) / CAST(max(n_docs) * max(nn) AS DOUBLE) AS ks " +
        "FROM g GROUP BY source ORDER BY source"),

    // per-source robust length outliers (median/MAD, all exact integers
    // via the doubled-order-statistic trick — no floats anywhere)
    line("q_mad_outliers")((s, dir) =>
      TextAnalysis.madOutliers(docs(s, dir), MadK)
        .orderBy(col("doc_id")),
      oracle = TextSql.madOutliersSql(MadK)),

    // feature-hashing document vectors (hashing trick): fixed-dim
    // bucketed token counts — the model-free embedding bridge into the
    // dense-vector stack; all integers
    line("q_hash_embed")((s, dir) =>
      TextAnalysis.hashedTf(docs(s, dir), HashDim)
        .orderBy(col("doc_id")),
      oracle = TextSql.hashedTfSql(HashDim)),

    // event-rate anomaly monitor: hourly counts per event type gated by
    // the SAME generic exact-integer median/MAD operator — flags traffic
    // spikes/outages robustly (a spike can't inflate the median that
    // judges it)
    line("q_event_anomaly")((s, dir) => {
      val hourly = events(s, dir)
        .select(col("event_type"), expr("tus div 3600000000").as("hour"))
        .groupBy(col("event_type"), col("hour"))
        .agg(count(lit(1)).as("n_events"))
      TextAnalysis.madOutliersOn(hourly, "hour", "event_type", "n_events", MadK)
        .orderBy(col("event_type"), col("hour"))
    }, oracle = TextSql.eventAnomalySql(MadK)),

    // per-label embedding drift: each label's int8 centroid direction vs
    // the corpus mean — integer sums, cosine a fixed 5-IEEE-op sequence
    line("q_label_drift")((s, dir) =>
      Similarity.labelDrift(emb(s, dir)).orderBy(col("label")),
      // int8 grid (q_quantize CTEs) -> integer centroid sums -> cosine as
      // cast/sqrt/sqrt/mul/div over exact integers, bitwise unrounded
      oracle = "WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label, " +
        "CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "m AS (SELECT vec_id, label, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM e), " +
        "s AS (SELECT vec_id, label, v, CASE WHEN ma > 0 THEN 127.0/ma ELSE 0.0 END AS sc FROM m), " +
        "c AS (SELECT vec_id, label, list_transform(v, x -> CAST(round(x*sc) AS BIGINT)) AS codes FROM s), " +
        "x AS (SELECT label, CAST(generate_subscripts(codes, 1) AS BIGINT) AS pos, " +
        "unnest(codes) AS code FROM c), " +
        "pl AS (SELECT label, pos, CAST(sum(code) AS BIGINT) AS ls FROM x GROUP BY label, pos), " +
        "g AS (SELECT pos, CAST(sum(ls) AS BIGINT) AS gs FROM pl GROUP BY pos), " +
        "nv AS (SELECT label, count(*) AS n_vecs FROM c GROUP BY label), " +
        "d AS (SELECT label, CAST(sum(ls*gs) AS BIGINT) AS dot, " +
        "CAST(sum(ls*ls) AS BIGINT) AS na2, CAST(sum(gs*gs) AS BIGINT) AS nb2 " +
        "FROM pl JOIN g USING (pos) GROUP BY label) " +
        "SELECT d.label, n_vecs, dot, na2, nb2, " +
        "CASE WHEN na2 = 0 OR nb2 = 0 THEN NULL ELSE " +
        "CAST(dot AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))) END AS cos_drift " +
        "FROM d JOIN nv USING (label) ORDER BY label"),

    // cell-balanced diversity sampling: at most `quota` vectors per
    // IVF cell survive, drawn by a deterministic multiplicative hash —
    // the topic-balancing companion of SemDeDup
    line("q_cell_sample")((s, dir) =>
      Similarity.cellBalancedSample(emb(s, dir), IvfCoarseIds, quota = 10)
        .orderBy(col("cell_id"), col("rn")),
      oracle = TextSql.cellSampleSql(IvfCoarseIds, quota = 10)),

    // per-cell medoid over FITTED centroids (one vkmeans step on the
    // round-4 grid — with corpus-vector seeds the seed itself is
    // trivially the medoid): each cell's single most central member,
    // argmin d2 ties to lowest id; d2 is ordering-only so the output
    // is all-integer
    line("q_cell_medoids")((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      val cents = e.filter(col("vec_id").isin(PqCodebookIds: _*))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).map(_._2).toSeq
      val coarse = graft.llm.VectorKMeans.step(e, "vec", cents).zipWithIndex
        .map { case (c, cell) => (cell.toLong, c.map(x =>
          BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
            .toDouble).toSeq)
        }.toDF("cell_id", "cvec")
      Similarity.cellMedoids(emb(s, dir), coarse).orderBy(col("cell_id"))
    }, oracle = TextSql.cellMedoidSql(PqCodebookIds)),

    // leakage-safe split: the content split lifted to near-dup clusters
    // (split by the cluster keeper's fingerprint) — cross_pairs counts
    // minhash pairs straddling the boundary and must be 0 by construction
    line("q_safe_split")((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minhashPairs(d, JacThreshold).select(col("da"), col("db"))
      val clusters = graft.ops.ConnectedComponents.dedupClusters(pairs)
      val split = Dedup.leakageSafeSplit(d, clusters, trainBuckets = 8, buckets = 10)
      val sa = split.select(col("doc_id").as("da"), col("split").as("split_a"))
      val sb = split.select(col("doc_id").as("db"), col("split").as("split_b"))
      val cross = pairs.join(sa, Seq("da")).join(sb, Seq("db"))
        .filter(col("split_a") =!= col("split_b"))
        .agg(count(lit(1)).as("cross_pairs"))
      split.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("keep_id")).as("n_clusters"))
        .crossJoin(cross)
        .orderBy(col("split"))
    }, oracle = TextSql.safeSplitSql(JacThreshold, trainBuckets = 8, buckets = 10)),

    // vocabulary extraction: top-5 bigrams per language by doc frequency
    line("q_ngram_topk")((s, dir) =>
      TextAnalysis.topNgrams(docs(s, dir), 5)
        .select(col("lang"), col("ngram"), col("n_docs"), col("rn").cast("long").as("rn"))
        .orderBy(col("lang"), col("rn")),
      oracle = TextSql.ngramTopKSql(5)),

    // as-of join: each click gets the latest strictly-prior view time of
    // the same user (union-window formulation — no range join)
    line("q_asof_join")((s, dir) => {
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"), col("tus"),
          col("event_type"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("tus"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("tus"), col("tus").as("vtus"))
      graft.ops.AsofJoin.lastBefore(clicks, views, keys = Seq("user_id"),
        timeCol = "tus", valueCols = Seq("vtus"))
        .select(col("event_id"), col("user_id"), col("tus").as("click_us"),
          col("asof_vtus").as("prior_view_us"))
        .orderBy(col("event_id"))
    },
      oracle = "WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS tus, event_type FROM events) " +
        "SELECT c.event_id, c.user_id, c.tus AS click_us, " +
        "(SELECT max(v.tus) FROM ev v WHERE v.user_id = c.user_id " +
        "AND v.event_type = 'view' AND v.tus < c.tus) AS prior_view_us " +
        "FROM ev c WHERE c.event_type = 'click' ORDER BY c.event_id"),

    // tolerance-bounded as-of: the prior view counts only within a
    // 1-hour lookback (the attribution horizon) — one lastBefore pass,
    // staleness tested on the very row that matched
    line("q_asof_within")((s, dir) => {
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"), col("tus"),
          col("event_type"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("tus"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("tus"), col("tus").as("vtus"))
      graft.ops.AsofJoin.lastBeforeWithin(clicks, views, keys = Seq("user_id"),
        timeCol = "tus", valueCols = Seq("vtus"), tolerance = 3600L * 1000000L)
        .select(col("event_id"), col("user_id"), col("tus").as("click_us"),
          col("asof_vtus").as("recent_view_us"))
        .orderBy(col("event_id"))
    },
      // the tolerance nulls the match when the LATEST prior view (the row
      // the operator matched) is stale — it does NOT fall back to an older
      // in-horizon view, mirroring lastBeforeWithin's matched-row test
      oracle = "WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS tus, event_type FROM events) " +
        "SELECT c.event_id, c.user_id, c.tus AS click_us, " +
        "CASE WHEN c.tus - (SELECT max(v.tus) FROM ev v WHERE v.user_id = c.user_id " +
        "AND v.event_type = 'view' AND v.tus < c.tus) <= 3600000000 " +
        "THEN (SELECT max(v.tus) FROM ev v WHERE v.user_id = c.user_id " +
        "AND v.event_type = 'view' AND v.tus < c.tus) END AS recent_view_us " +
        "FROM ev c WHERE c.event_type = 'click' ORDER BY c.event_id"),

    // the FORWARD as-of: each click's next view strictly after it —
    // same union-window shape mirrored in time, no range-join blowup
    line("q_asof_next")((s, dir) => {
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"), col("tus"),
          col("event_type"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("tus"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("tus"), col("tus").as("vtus"))
      graft.ops.AsofJoin.firstAfter(clicks, views, keys = Seq("user_id"),
        timeCol = "tus", valueCols = Seq("vtus"))
        .select(col("event_id"), col("user_id"), col("tus").as("click_us"),
          col("asof_vtus").as("next_view_us"))
        .orderBy(col("event_id"))
    },
      oracle = "WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS tus, event_type FROM events) " +
        "SELECT c.event_id, c.user_id, c.tus AS click_us, " +
        "(SELECT min(v.tus) FROM ev v WHERE v.user_id = c.user_id " +
        "AND v.event_type = 'view' AND v.tus > c.tus) AS next_view_us " +
        "FROM ev c WHERE c.event_type = 'click' ORDER BY c.event_id"),

    // SCD2 dimension merge (the MERGE INTO pattern engine-side): history
    // derived from customer — a closed 'OLD_' row for every key%10==0
    // plus an open row per key — merged with a change batch split into
    // no-op / changed-segment / brand-new thirds by key%3, at version 10
    line("q_scd2")((s, dir) =>
      scd2Merged(s, dir).orderBy(col("key"), col("valid_from")),
      oracle = ScdMergedCtes + " SELECT key, seg, nat, valid_from, valid_to, " +
        "is_current FROM merged ORDER BY key, valid_from"),

    // SCD2 backfill from a full change log (the one-shot batch twin of
    // the iterated merge loop): three deterministic versions per key in
    // one scan — v0 base, v1 re-segments odd keys (even keys emit a
    // NO-OP row the consecutive-dedupe must drop), v2 'C' for key%3==0
    line("q_scd2_log")((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("key"), col("c_mktsegment").as("seg"),
          col("c_nationkey").cast("long").as("nat"))
      val v0 = struct(col("key"), col("seg"), col("nat"), lit(0L).as("v"))
      val v1 = struct(col("key"),
        when(col("key") % 2 === 1, concat(col("seg"), lit("_B")))
          .otherwise(col("seg")).as("seg"),
        col("nat"), lit(1L).as("v"))
      val v2 = when(col("key") % 3 === 0,
        struct(col("key"), lit("C").as("seg"), col("nat"), lit(2L).as("v")))
      val log = c.select(explode(array(v0, v1, v2)).as("r"))
        .filter(col("r").isNotNull)
        .select(col("r.key").as("key"), col("r.seg").as("seg"),
          col("r.nat").as("nat"), col("r.v").as("v"))
      graft.ops.ScdMerge.fromChangeLog(log, "key", Seq("seg", "nat"), "v")
        .orderBy(col("key"), col("valid_from"))
    },
      oracle = "WITH c AS (SELECT c_custkey AS key, c_mktsegment AS seg, " +
        "CAST(c_nationkey AS BIGINT) AS nat FROM customer), " +
        "log AS (" +
        "SELECT key, seg, nat, CAST(0 AS BIGINT) AS v FROM c " +
        "UNION ALL SELECT key, CASE WHEN key % 2 = 1 THEN seg || '_B' ELSE seg END, nat, 1 FROM c " +
        "UNION ALL SELECT key, 'C', nat, 2 FROM c WHERE key % 3 = 0), " +
        "d AS (SELECT *, (seg IS NOT DISTINCT FROM lag(seg) OVER w) AND " +
        "(nat IS NOT DISTINCT FROM lag(nat) OVER w) AND " +
        "lag(v) OVER w IS NOT NULL AS same " +
        "FROM log WINDOW w AS (PARTITION BY key ORDER BY v)), " +
        "kept AS (SELECT key, seg, nat, v FROM d WHERE NOT same) " +
        "SELECT key, seg, nat, CAST(v AS BIGINT) AS valid_from, " +
        "CAST(lead(v) OVER w2 AS BIGINT) AS valid_to, " +
        "lead(v) OVER w2 IS NULL AS is_current " +
        "FROM kept WINDOW w2 AS (PARTITION BY key ORDER BY v) " +
        "ORDER BY key, valid_from"),

    // SCD2 merge WITH TOMBSTONES: key%4==0 deletes close open rows and
    // insert nothing; ghost deletes (never-existed keys) are no-ops;
    // the rest upserts with the q_scd2 mutation split
    line("q_scd2_del")((s, dir) =>
      scd2MergedDel(s, dir).orderBy(col("key"), col("valid_from")),
      oracle = ScdDelCtes + " SELECT key, seg, nat, valid_from, valid_to, " +
        "is_current FROM merged ORDER BY key, valid_from"),

    // CDC-archive backfill with ops: v0 base (except key%9==0 — their
    // even members then delete-at-start, a dropped no-op), v1 deletes
    // evens / re-segments odds, v2 re-inserts or changes key%3==0, v3
    // deletes key%4==0 (a second delete after v1 for %12∈{4,8} — the
    // idempotent-tombstone no-op)
    line("q_scd2_log_del")((s, dir) => {
      val c = scd2Customer(s, dir)
      val a0 = when(col("key") % 9 =!= 0,
        struct(lit("U").as("op"), col("seg").as("seg"), col("nat"), lit(0L).as("v")))
      val a1 = struct(
        when(col("key") % 2 === 0, lit("D")).otherwise(lit("U")).as("op"),
        when(col("key") % 2 === 0, col("seg"))
          .otherwise(concat(col("seg"), lit("_B"))).as("seg"),
        col("nat"), lit(1L).as("v"))
      val a2 = when(col("key") % 3 === 0,
        struct(lit("U").as("op"), lit("C").as("seg"), col("nat"), lit(2L).as("v")))
      val a3 = when(col("key") % 4 === 0,
        struct(lit("D").as("op"), col("seg").as("seg"), col("nat"), lit(3L).as("v")))
      val log = c.select(col("key"), explode(array(a0, a1, a2, a3)).as("r"))
        .filter(col("r").isNotNull)
        .select(col("key"), col("r.op").as("op"), col("r.seg").as("seg"),
          col("r.nat").as("nat"), col("r.v").as("v"))
      graft.ops.ScdMerge.fromChangeLogOps(log, "key", Seq("seg", "nat"), "v", "op")
        .orderBy(col("key"), col("valid_from"))
    },
      oracle = "WITH c AS (SELECT c_custkey AS key, c_mktsegment AS seg, " +
        "CAST(c_nationkey AS BIGINT) AS nat FROM customer), " +
        "log AS (" +
        "SELECT key, 'U' AS op, seg, nat, 0 AS v FROM c WHERE key % 9 <> 0 " +
        "UNION ALL SELECT key, CASE WHEN key % 2 = 0 THEN 'D' ELSE 'U' END, " +
        "CASE WHEN key % 2 = 0 THEN seg ELSE seg || '_B' END, nat, 1 FROM c " +
        "UNION ALL SELECT key, 'U', 'C', nat, 2 FROM c WHERE key % 3 = 0 " +
        "UNION ALL SELECT key, 'D', seg, nat, 3 FROM c WHERE key % 4 = 0), " +
        "d AS (SELECT *, CASE WHEN op = 'D' " +
        "THEN lag(op) OVER w IS NULL OR lag(op) OVER w = 'D' " +
        "ELSE lag(op) OVER w = 'U' AND (seg IS NOT DISTINCT FROM lag(seg) OVER w) " +
        "AND (nat IS NOT DISTINCT FROM lag(nat) OVER w) END AS noop " +
        "FROM log WINDOW w AS (PARTITION BY key ORDER BY v)), " +
        "kept AS (SELECT * FROM d WHERE NOT coalesce(noop, false)), " +
        "iv AS (SELECT key, op, seg, nat, CAST(v AS BIGINT) AS valid_from, " +
        "CAST(lead(v) OVER w2 AS BIGINT) AS valid_to FROM kept " +
        "WINDOW w2 AS (PARTITION BY key ORDER BY v)) " +
        "SELECT key, seg, nat, valid_from, valid_to, " +
        "(valid_to IS NULL) AS is_current " +
        "FROM iv WHERE op <> 'D' ORDER BY key, valid_from"),

    // point-in-time against the TOMBSTONED history: probes landing in a
    // post-delete gap (deleted keys, t >= 10) resolve to null attrs —
    // the validity check a gap-free history never needs
    line("q_scd2_pit_del")((s, dir) => {
      val merged = scd2MergedDel(s, dir)
      val facts = merged.select(col("key")).distinct()
        .withColumn("t", col("key") % 15)
      graft.ops.ScdMerge.pointInTime(merged, facts, "key", "t", Seq("seg", "nat"))
        .orderBy(col("key"))
    },
      oracle = ScdDelCtes + ", facts AS (SELECT DISTINCT key, key % 15 AS t FROM merged) " +
        "SELECT key, t, " +
        "(SELECT m.seg FROM merged m WHERE m.key = f.key AND m.valid_from <= f.t " +
        "AND (m.valid_to IS NULL OR m.valid_to > f.t) " +
        "ORDER BY m.valid_from DESC LIMIT 1) AS asof_seg, " +
        "(SELECT m.nat FROM merged m WHERE m.key = f.key AND m.valid_from <= f.t " +
        "AND (m.valid_to IS NULL OR m.valid_to > f.t) " +
        "ORDER BY m.valid_from DESC LIMIT 1) AS asof_nat " +
        "FROM facts f ORDER BY key"),

    // HARD ERASE on dimension history (GDPR on the SCD2 family):
    // tombstones retain attribute history, erase purges it — every row
    // of key%5==0 vanishes from the tombstoned merge, plus a ghost
    // erase (never-existed key) as the idempotent no-op; the broadcast
    // anti-join is the deletion-vector subtraction shape on SCD2
    line("q_scd2_erase")((s, dir) => {
      val merged = scd2MergedDel(s, dir)
      val requests = merged.select(col("key")).distinct()
        .filter(col("key") % 5 === 0)
        .union(s.range(1).select((col("id") + 999999L).as("key")))
      graft.ops.ScdMerge.eraseKeys(merged, requests, "key")
        .orderBy(col("key"), col("valid_from"))
    },
      // hard erase: the purged keys simply never appear — history is
      // key-independent, so the filter over the merged CTE IS the erase
      oracle = ScdDelCtes + " SELECT key, seg, nat, valid_from, valid_to, " +
        "is_current FROM merged WHERE key % 5 <> 0 ORDER BY key, valid_from"),

    // point-in-time lookup against that merged history (the read side):
    // every merged key probes at t = key % 15, spanning the version
    // stamps {0, 5, 10} — new keys with t < 10 get the null
    // before-first-version region; inclusive-boundary facts (t exactly
    // at a valid_from) resolve to that version
    line("q_scd2_pit")((s, dir) => {
      val merged = scd2Merged(s, dir)
      val facts = merged.select(col("key")).distinct()
        .withColumn("t", col("key") % 15)
      graft.ops.ScdMerge.pointInTime(merged, facts, "key", "t", Seq("seg", "nat"))
        .orderBy(col("key"))
    },
      oracle = ScdMergedCtes + ", facts AS (SELECT DISTINCT key, key % 15 AS t FROM merged) " +
        "SELECT key, t, " +
        "(SELECT m.seg FROM merged m WHERE m.key = f.key AND m.valid_from <= f.t " +
        "ORDER BY m.valid_from DESC LIMIT 1) AS asof_seg, " +
        "(SELECT m.nat FROM merged m WHERE m.key = f.key AND m.valid_from <= f.t " +
        "ORDER BY m.valid_from DESC LIMIT 1) AS asof_nat " +
        "FROM facts f ORDER BY key"),

    // exact interpolated percentiles per group (no approx — contract)
    line("q_percentiles")((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(percentile(col("l_extendedprice"), lit(0.5)), 4).as("med"),
          round(percentile(col("l_extendedprice"), lit(0.9)), 4).as("p90"))
        .orderBy(col("l_returnflag")),
      oracle = "SELECT l_returnflag, count(*) AS n, " +
        "round(quantile_cont(l_extendedprice, 0.5), 4) AS med, " +
        "round(quantile_cont(l_extendedprice, 0.9), 4) AS p90 " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    // anti join: customers with no 'P'-status orders, counted per nation
    line("q_anti_join")((s, dir) => {
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      customer
        .join(orders.filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"))
        .orderBy(col("n_name"))
    },
      oracle = "SELECT n_name, count(*) AS n_cust FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P') " +
        "GROUP BY n_name ORDER BY n_name"),

    // sliding-frame window: 4-row moving average of event value per user
    line("q_moving_avg")((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"), col("tus"), col("value"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
        .rowsBetween(-3, 0)
      ev.withColumn("mavg", round(avg(col("value")).over(w), 4))
        .select(col("event_id"), col("user_id"), col("mavg"))
        .orderBy(col("event_id"))
    },
      oracle = "SELECT event_id, user_id, round(avg(value) OVER (PARTITION BY user_id " +
        "ORDER BY epoch_us(ts), event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mavg " +
        "FROM events ORDER BY event_id"),

    // binned range join: 40 price bands resolved by bin equi-join +
    // exact filter (the many-interval regime where the broadcast theta
    // join of q_range_join stops scaling); result = the theta join
    line("q_binned_range")((s, dir) => {
      import s.implicits._
      val bands = Seq.tabulate(RangeBins)(i =>
        (s"b$i", RangeBase + RangeW * i, RangeBase + RangeW * (i + 1)))
        .toDF("band", "lo", "hi")
      val parts = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey"), col("p_retailprice"))
      graft.ops.BinnedRangeJoin.pointInInterval(parts, "p_retailprice",
        bands, "lo", "hi", RangeBinWidth)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_parts"), round(avg(col("p_retailprice")), 4).as("avg_price"))
        .orderBy(col("band"))
    },
      // the binned join's contract IS the theta join over the same
      // generated band table. CAST i to DOUBLE before the decimal
      // literals (the BIGINT×DECIMAL trap of the cross-engine float
      // rules): today's bounds are exact either way, but the rule must
      // hold for any RangeBase/RangeW
      oracle = s"WITH bands AS (SELECT 'b' || CAST(i AS VARCHAR) AS band, " +
        s"$RangeBase + $RangeW*CAST(i AS DOUBLE) AS lo, " +
        s"$RangeBase + $RangeW*(CAST(i AS DOUBLE)+1) AS hi " +
        s"FROM range(0, $RangeBins) t(i)) " +
        "SELECT band, count(*) AS n_parts, round(avg(p_retailprice), 4) AS avg_price " +
        "FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi " +
        "GROUP BY band ORDER BY band"),

    // skew-resistant salted JOIN (fact salts, dim explodes; result =
    // the plain equi join, aggregated for a stable contract shape)
    line("q_salted_join")((s, dir) => {
      val fact = events(s, dir).select(col("user_id").as("key"), col("value"))
      val dim = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("key"), col("c_nationkey"))
      // nation-level sums are the contract's largest float reductions:
      // 2-decimal rounding (CLAUDE.md big-sum discipline) keeps
      // cross-engine summation-order ulps off the grid boundary
      graft.ops.SaltedJoin.inner(fact, dim, "key", salts = 8)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
        .orderBy(col("c_nationkey"))
    },
      // the salted join's contract IS the plain equi join (2-decimal
      // rounding: big-sum grid, matching the Spark side)
      oracle = "SELECT c_nationkey, count(*) AS n, round(sum(value), 2) AS total_value " +
        "FROM events JOIN customer ON user_id = c_custkey " +
        "GROUP BY c_nationkey ORDER BY c_nationkey"),

    // skew-resistant salted aggregation (two-stage; result = plain groupBy)
    line("q_salted_agg")((s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("value"))
      graft.ops.SaltedAgg.sumCount(ev, col("user_id"), col("value"),
        salts = 8, keyName = "user_id")
        .select(col("user_id"), round(col("sum"), 4).as("total"), col("n"))
        .orderBy(col("user_id"))
    },
      oracle = "SELECT user_id, round(sum(value), 4) AS total, count(*) AS n " +
        "FROM events GROUP BY user_id ORDER BY user_id"),

    // Gram matrix of the embedding corpus (join form; scale path =
    // Similarity.gramMatrixAgg, spec-verified equal)
    line("q_gram")((s, dir) =>
      Similarity.gramMatrix(emb(s, dir)).orderBy(col("i"), col("j")),
      // positions are 1-based on both sides and DERIVED FROM THE DATA on
      // both sides (generate_subscripts/unnest expand in lockstep), so the
      // mirror cannot silently drop cells if the embedding dim changes
      oracle = "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "a AS (SELECT vec_id, CAST(generate_subscripts(v, 1) AS BIGINT) AS i, unnest(v) AS x FROM e) " +
        "SELECT a.i AS i, b.i AS j, round(sum(a.x * b.x), 4) AS g " +
        "FROM a JOIN a b ON a.vec_id = b.vec_id GROUP BY a.i, b.i ORDER BY i, j"),

    // HLL sketch distinct count. The sketch value itself has no SQL
    // mirror, but its error BOUND does: the query emits the exact count
    // plus a within-5% boolean, and the oracle asserts the boolean is
    // TRUE — a sketch regression past tolerance flips the flag and the
    // hash check catches it (LlmSpec additionally pins the 5% bound)
    line("q_approx_distinct")((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx"),
          countDistinct(col("user_id")).as("n_exact"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("approx") - col("n_exact")) <= lit(0.05) * col("n_exact"))
            .as("within_tol"))
        .orderBy(col("event_type")),
      // Sketch queries: the oracle mirrors the DETERMINISTIC half of the
      // output (exact counts / rank-based quantiles) and asserts the
      // within-tolerance booleans are TRUE — the sketch value itself never
      // crosses engines, but a sketch drifting past its bound flips a
      // boolean and fails the hash match.
      oracle = "SELECT event_type, count(DISTINCT user_id) AS n_exact, TRUE AS within_tol " +
        "FROM events GROUP BY event_type ORDER BY event_type"),

    // full cube over (nation, order status) — all four grouping sets
    line("q_cube")((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .cube(col("n_name"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy(col("n_name").asc_nulls_first, col("o_orderstatus").asc_nulls_first)
    },
      oracle = "SELECT n_name, o_orderstatus, count(*) AS n_orders, round(sum(o_totalprice),2) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY CUBE (n_name, o_orderstatus) " +
        "ORDER BY n_name NULLS FIRST, o_orderstatus NULLS FIRST"),

    // dedup clusters: connected components (min-label + pointer jumping)
    // over the MinHash near-dup pairs — each doc maps to its cluster's
    // canonical keeper (smallest doc_id)
    line("dedup_components")((s, dir) =>
      graft.ops.ConnectedComponents.dedupClusters(
        Dedup.minhashPairs(docs(s, dir), JacThreshold).select(col("da"), col("db")))
        .orderBy(col("doc_id")),
      // transitive closure over the SAME minhash pair set (recursive CTE);
      // component = least reachable id — integer arithmetic only, so the
      // match with Spark's label propagation is exact by construction
      oracle = s"WITH RECURSIVE pairs AS (SELECT da, db FROM (${TextSql.dedupMinhashSql(JacThreshold)}) mp), " +
        "sym AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db AS a, da AS b FROM pairs), " +
        "reach AS (SELECT a, b FROM sym " +
        "UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a) " +
        "SELECT a AS doc_id, least(a, min(b)) AS keep_id FROM reach GROUP BY a ORDER BY doc_id"),

    // near-dup cluster-size histogram: the shape report dedup policy
    // tuning reads (how much is pairwise mirrors vs big boilerplate
    // families); aggregates are cluster-table-sized, trivia at any scale
    line("q_neardup_sizes")((s, dir) =>
      graft.ops.ConnectedComponents.dedupClusters(
        Dedup.minhashPairs(docs(s, dir), JacThreshold).select(col("da"), col("db")))
        .groupBy(col("keep_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"))
        .orderBy(col("cluster_size")),
      oracle = s"WITH RECURSIVE pairs AS (SELECT da, db FROM (${TextSql.dedupMinhashSql(JacThreshold)}) mp), " +
        "sym AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db AS a, da AS b FROM pairs), " +
        "reach AS (SELECT a, b FROM sym " +
        "UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a), " +
        "comp AS (SELECT a AS doc_id, least(a, min(b)) AS keep_id FROM reach GROUP BY a), " +
        "sz AS (SELECT keep_id, CAST(count(*) AS BIGINT) AS cluster_size FROM comp GROUP BY 1) " +
        "SELECT cluster_size, count(*) AS n_clusters, cluster_size * count(*) AS n_docs " +
        "FROM sz GROUP BY 1 ORDER BY 1"),

    // fixed-window token chunking with overlap (context-window prep)
    line("q_chunks")((s, dir) =>
      TextAnalysis.chunk(docs(s, dir), chunkTokens = 32, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_id")),
      oracle = TextSql.chunksSql(32, 8)),

    // sub-document exact dedup: chunk-level first-occurrence keeper +
    // document reassembly (line/paragraph dedup on a boundary-free corpus)
    line("q_chunk_dedup")((s, dir) =>
      TextAnalysis.chunkDedup(docs(s, dir), chunkTokens = 10)
        .orderBy(col("doc_id")),
      oracle = TextSql.chunkDedupSql(10)),

    // C4-style boilerplate removal: chunks seen in >= 2 distinct docs
    // vanish everywhere (first occurrence included)
    line("q_boilerplate")((s, dir) =>
      TextAnalysis.dropBoilerplateChunks(docs(s, dir), chunkTokens = 10, minDocs = 2)
        .orderBy(col("doc_id")),
      oracle = TextSql.boilerplateSql(10, 2)),

    // pivot: order-status counts as columns per nation (null cells -> 0,
    // matching the oracle's count FILTER semantics)
    line("q_pivot")((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnRenamed("F", "n_f").withColumnRenamed("O", "n_o")
        .withColumnRenamed("P", "n_p")
        .orderBy(col("n_name"))
    },
      oracle = "SELECT n_name, " +
        "count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f, " +
        "count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o, " +
        "count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY n_name ORDER BY n_name"),

    // correlation / covariance per group. Rounded to 4 decimals: both
    // engines stream co-moments with different merge orders, so low bits
    // differ (~1e-12 relative); the 1e-4 grid leaves >1e7 margin
    line("q_corr")((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("cov_qp"),
          round(stddev_samp(col("l_extendedprice")), 2).as("sd_price"))
        .orderBy(col("l_returnflag")),
      oracle = "SELECT l_returnflag, " +
        "round(corr(l_quantity, l_extendedprice), 4) AS corr_qp, " +
        "round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qp, " +
        "round(stddev_samp(l_extendedprice), 2) AS sd_price " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    // fixed-width histogram over price (integer buckets — exact: the
    // bucket division is the same IEEE op on both engines)
    line("q_histogram")((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(floor(col("l_extendedprice") / 5000).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket")),
      oracle = "SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bucket, count(*) AS n " +
        "FROM lineitem GROUP BY 1 ORDER BY 1"),

    // semi join (EXISTS): customers with at least one open order, per nation
    line("q_semi_join")((s, dir) => {
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      customer
        .join(orders.filter(col("o_orderstatus") === "O"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"))
        .orderBy(col("n_name"))
    },
      oracle = "SELECT n_name, count(*) AS n_cust FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE EXISTS (SELECT 1 FROM orders " +
        "WHERE o_custkey = c_custkey AND o_orderstatus = 'O') " +
        "GROUP BY n_name ORDER BY n_name"),

    // range (band) join: parts bucketed into literal price bands — a
    // broadcast nested-loop theta join, the Spark-native band-join shape
    line("q_range_join")((s, dir) => {
      import s.implicits._
      val bands = Seq(("low", 0.0, 933.0), ("mid", 933.0, 967.0),
        ("high", 967.0, 1e9)).toDF("band", "lo", "hi")
      s.read.parquet(s"$dir/part.parquet")
        .join(broadcast(bands),
          col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_parts"), round(avg(col("p_retailprice")), 4).as("avg_price"))
        .orderBy(col("band"))
    },
      oracle = "SELECT band, count(*) AS n_parts, round(avg(p_retailprice), 4) AS avg_price " +
        "FROM part JOIN (VALUES ('low', 0.0, 933.0), ('mid', 933.0, 967.0), " +
        "('high', 967.0, 1000000000.0)) b(band, lo, hi) " +
        "ON p_retailprice >= lo AND p_retailprice < hi " +
        "GROUP BY band ORDER BY band"),

    // KLL-style sketch quantiles. Like q_approx_distinct, the sketch
    // value has no SQL mirror but the contract does: emit the EXACT
    // rank-based quantile (value at 1-based rank ceil(p*n) — a raw data
    // element, so bitwise-stable across engines) plus a boolean pinning
    // the approx within 2x its guaranteed rank error (accuracy 1000 →
    // eps = n/1000; slack = max(1, 0.002n) ranks). The oracle recomputes
    // the exact values and asserts the booleans TRUE.
    line("q_approx_quantile")((s, dir) => {
      import org.apache.spark.sql.Column
      import org.apache.spark.sql.expressions.Window
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_returnflag"), col("l_extendedprice").as("v"))
      val ranked = li
        .withColumn("rn", row_number().over(
          Window.partitionBy("l_returnflag").orderBy("v")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("l_returnflag")))
      // value at 1-based rank r = min(v | rn >= r): ties make row_number
      // order nondeterministic but never change the value at a rank
      def vAt(rank: Column) = min(when(col("rn") >= rank, col("v")))
      val slack = greatest(lit(1L), floor(col("n") * lit(0.002)))
      def bounds(p: Double): (Column, Column, Column) = {
        val r = ceil(lit(p) * col("n"))
        (vAt(r), vAt(greatest(lit(1L), r - slack)), vAt(least(col("n"), r + slack)))
      }
      val (e50, lo50, hi50) = bounds(0.5)
      val (e90, lo90, hi90) = bounds(0.9)
      val exact = ranked.groupBy(col("l_returnflag"))
        .agg(e50.as("p50_exact"), lo50.as("lo50"), hi50.as("hi50"),
          e90.as("p90_exact"), lo90.as("lo90"), hi90.as("hi90"))
      val approx = li.groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("v"), lit(0.5), lit(1000)).as("ap50"),
          percentile_approx(col("v"), lit(0.9), lit(1000)).as("ap90"))
      exact.join(approx, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("p50_exact"), col("p90_exact"),
          (col("ap50") >= col("lo50") && col("ap50") <= col("hi50")).as("p50_ok"),
          (col("ap90") >= col("lo90") && col("ap90") <= col("hi90")).as("p90_ok"))
        .orderBy(col("l_returnflag"))
    },
      oracle = "WITH r AS (SELECT l_returnflag, l_extendedprice AS v, " +
        "row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn, " +
        "count(*) OVER (PARTITION BY l_returnflag) AS n FROM lineitem) " +
        "SELECT l_returnflag, " +
        "min(CASE WHEN rn >= ceil(0.5 * n) THEN v END) AS p50_exact, " +
        "min(CASE WHEN rn >= ceil(0.9 * n) THEN v END) AS p90_exact, " +
        "TRUE AS p50_ok, TRUE AS p90_ok " +
        "FROM r GROUP BY l_returnflag ORDER BY l_returnflag"),

    // JSON-lines sink + source round-trip: write documents as JSON, read
    // back with explicit schema, aggregate — proves string/int fidelity
    // through the format (the oracle aggregates the original parquet)
    line("q_json_roundtrip")((s, dir) => {
      // per-application path: two concurrent gate runs on the same
      // testdata dir must not race on one sink (applicationId is unique
      // per SparkContext); the result is materialized so the sink can be
      // deleted before returning
      val tmp = s"/tmp/graft_json_roundtrip_${s.sparkContext.applicationId}_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      docs(s, dir).select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
        .write.mode("overwrite").json(tmp)
      val agg = s.read.schema("doc_id LONG, text STRING, lang STRING, n_chars LONG").json(tmp)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).as("sum_len"), min(col("doc_id")).as("min_id"))
        .orderBy(col("lang"))
      import s.implicits._
      val rows = agg.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      try {
        val p = new org.apache.hadoop.fs.Path(tmp)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      } catch { case _: Throwable => () }
      rows.toSeq.toDF("lang", "n_docs", "sum_chars", "sum_len", "min_id")
    },
      // sums cast back to BIGINT: DuckDB sum(BIGINT) widens to HUGEINT,
      // which pandas surfaces as float64 and the driver hash rejects
      oracle = "SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "CAST(sum(length(text)) AS BIGINT) AS sum_len, min(doc_id) AS min_id " +
        "FROM documents GROUP BY lang ORDER BY lang"),

    // ---- round 4: pipeline ops — sampling, tf-idf, masking, snapshots ----

    // deterministic content-hash sample (20%), counted per language
    line("q_sample")((s, dir) =>
      TextAnalysis.deterministicSample(docs(s, dir), SamplePct)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_id"))
        .orderBy(col("lang")),
      // sampling bucket = fingerprint % 100 — same polynomial hash both
      // sides (empty text folds to 0, which samples in)
      oracle = s"WITH f AS (SELECT lang, doc_id, " +
        s"(CASE WHEN len(text) = 0 THEN 0 ELSE ${TextSql.polyHashSql("text")} END) % 100 AS b " +
        "FROM documents) " +
        s"SELECT lang, count(*) AS n_docs, min(doc_id) AS min_id FROM f WHERE b < $SamplePct " +
        "GROUP BY lang ORDER BY lang"),

    // TF-IDF top-3 terms per document (score rounded before ranking)
    line("q_tfidf")((s, dir) =>
      TextAnalysis.tfidfTopTerms(docs(s, dir), TfidfK)
        .orderBy(col("doc_id"), col("rn")),
      // score rounded to 4 decimals BEFORE ranking on both sides, so the
      // rank compares the same grid (raw ln may differ in the last ulp)
      oracle = "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "ex AS (SELECT doc_id, unnest(toks) AS term FROM t), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2), " +
        "df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*) AS n FROM documents), " +
        "s AS (SELECT doc_id, term, tf, df, round(tf * ln(n/df), 4) AS tfidf " +
        "FROM tf JOIN df USING (term) CROSS JOIN n), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn FROM s) " +
        s"SELECT doc_id, term, tf, df, tfidf, rn FROM r WHERE rn <= $TfidfK " +
        "ORDER BY doc_id, rn"),

    // PII/boilerplate-style whole-word masking: digest + hit count per doc
    line("q_mask")((s, dir) =>
      TextAnalysis.maskTerms(docs(s, dir), MaskTerms, "[MASKED]")
        .orderBy(col("doc_id")),
      // \b alternation has identical semantics in Java regex and RE2; the
      // pattern string is built from the same MaskTerms constant
      oracle = {
        val pat = "\\b(" + MaskTerms.mkString("|") + ")\\b"
        s"SELECT doc_id, md5(regexp_replace(text, '$pat', '[MASKED]', 'g')) AS redacted_md5, " +
          s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_redactions " +
          "FROM documents ORDER BY doc_id"
      }),

    // incremental snapshot dedup: new batch (doc_id % 5 == 0) anti-joined
    // against the existing corpus by content, deduped within the batch
    line("dedup_incremental")((s, dir) => {
      val d = docs(s, dir)
      Dedup.incremental(
        d.filter(col("doc_id") % IncrementalMod === 0),
        d.filter(col("doc_id") % IncrementalMod =!= 0))
        .orderBy(col("doc_id"))
    },
      oracle = s"SELECT min(doc_id) AS doc_id, md5(text) AS text_md5, count(*) AS n_batch_copies " +
        s"FROM documents d WHERE doc_id % $IncrementalMod = 0 AND NOT EXISTS " +
        s"(SELECT 1 FROM documents c WHERE c.doc_id % $IncrementalMod <> 0 AND c.text = d.text) " +
        "GROUP BY text ORDER BY doc_id"),

    // bloom-triaged corpus-membership verdict per batch doc: the bloom
    // prunes, the by-text verification join makes the answer EXACT, so
    // the oracle is a plain EXISTS with no sketch mirroring at all
    line("q_bloom_dedup")((s, dir) => {
      val d = docs(s, dir)
      Dedup.bloomDedup(
        d.filter(col("doc_id") % IncrementalMod === 0),
        d.filter(col("doc_id") % IncrementalMod =!= 0),
        BloomExpectedItems, BloomNumBits)
        .orderBy(col("doc_id"))
    },
      oracle = s"SELECT doc_id, EXISTS (SELECT 1 FROM documents c " +
        s"WHERE c.doc_id % $IncrementalMod <> 0 AND c.text = d.text) AS is_dup " +
        s"FROM documents d WHERE doc_id % $IncrementalMod = 0 ORDER BY doc_id"),

    // incremental NEAR-dup: new batch LSH-banded against the corpus
    // (batch bands broadcast; corpus never self-joins)
    line("q_incr_minhash")((s, dir) => {
      val d = docs(s, dir)
      Dedup.incrementalMinhash(
        d.filter(col("doc_id") % IncrementalMod === 0),
        d.filter(col("doc_id") % IncrementalMod =!= 0), JacThreshold)
        .orderBy(col("batch_id"), col("corpus_id"))
    }, oracle = TextSql.incrementalMinhashSql(JacThreshold, IncrementalMod)),

    // right-to-be-forgotten cascade: requested ids + every near-dup of
    // requested content (requests broadcast, corpus probed in place)
    line("q_forget")((s, dir) => {
      val d = docs(s, dir)
      Dedup.deleteCascade(d,
        d.filter(col("doc_id") % ForgetMod === 0).select(col("doc_id")),
        JacThreshold)
        .orderBy(col("doc_id"))
    },
      // the cascade's dup discovery IS the incremental probe with batch =
      // the requested slice; requested docs can't be near_dup (disjoint)
      oracle = s"WITH dup AS (SELECT DISTINCT corpus_id AS doc_id " +
        s"FROM (${TextSql.incrementalMinhashSql(JacThreshold, ForgetMod)}) p) " +
        s"SELECT doc_id, 'requested' AS reason FROM documents WHERE doc_id % $ForgetMod = 0 " +
        "UNION ALL SELECT doc_id, 'near_dup' AS reason FROM dup ORDER BY doc_id"),

    // incremental edit-verified dedup: batch bands broadcast against the
    // corpus (never self-joined), candidates verified by the thresholded
    // levenshtein DP — the OCR-noise/typo-farm ingest path
    line("q_incr_edit")((s, dir) => {
      val d = docs(s, dir)
      Dedup.incrementalEditPairs(
        d.filter(col("doc_id") % IncrementalMod === 0),
        d.filter(col("doc_id") % IncrementalMod =!= 0), EditMaxDist)
        .orderBy(col("batch_id"), col("corpus_id"))
    }, oracle = TextSql.incrementalEditPairsSql(EditMaxDist, IncrementalMod)),

    // quality-weighted (importance) sampling: keep probability = quality,
    // content-hash coin; integer aggregates per lang verify the survivors
    line("q_quality_sample")((s, dir) =>
      TextAnalysis.qualityWeightedSample(docs(s, dir), QualityBuckets)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextAnalysis.tokens(col("text"))).cast("long")).as("sum_tokens"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy(col("lang")),
      oracle = TextSql.qualityWeightedSampleSql(QualityBuckets)),

    // end-to-end near-dup dedup APPLIED: minhash pairs -> components ->
    // drop non-keepers -> surviving corpus counted per language
    line("q_dedup_apply")((s, dir) => {
      val d = docs(s, dir)
      val clusters = graft.ops.ConnectedComponents.dedupClusters(
        Dedup.minhashPairs(d, JacThreshold).select(col("da"), col("db")))
      val losers = clusters.filter(col("doc_id") =!= col("keep_id")).select(col("doc_id"))
      d.join(losers, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_id"))
        .orderBy(col("lang"))
    },
      // same recursive-CTE closure as dedup_components, then the dedup
      // policy applied: drop every doc that is not its cluster's keeper
      oracle = s"WITH RECURSIVE pairs AS (SELECT da, db FROM (${TextSql.dedupMinhashSql(JacThreshold)}) mp), " +
        "sym AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db AS a, da AS b FROM pairs), " +
        "reach AS (SELECT a, b FROM sym " +
        "UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a), " +
        "comp AS (SELECT a AS doc_id, least(a, min(b)) AS keep_id FROM reach GROUP BY a) " +
        "SELECT lang, count(*) AS n_docs, min(doc_id) AS min_id FROM documents " +
        "WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> keep_id) " +
        "GROUP BY lang ORDER BY lang"),

    // dedup-aware effective token volume per source: what near-dup
    // dedup actually buys — raw vs keeper-only token counts and the
    // duplicated fraction (one division of two CAST-to-DOUBLE exact
    // BIGINTs); the mixture planner's honest token supply
    line("q_effective_tokens")((s, dir) => {
      val d = docs(s, dir)
      val clusters = graft.ops.ConnectedComponents.dedupClusters(
        Dedup.minhashPairs(d, JacThreshold).select(col("da"), col("db")))
      val losers = clusters.filter(col("doc_id") =!= col("keep_id"))
        .select(col("doc_id"), lit(true).as("_loser"))
      d.select(col("doc_id"), col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"))
        .join(losers, Seq("doc_id"), "left_outer")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("raw_tokens"),
          sum(when(col("_loser").isNull, col("nt")).otherwise(lit(0L)))
            .as("eff_tokens"),
          sum(when(col("_loser").isNull, lit(0L)).otherwise(col("nt")))
            .as("dup_tokens"))
        .withColumn("dup_frac",
          col("dup_tokens").cast("double") / col("raw_tokens").cast("double"))
        .orderBy(col("source"))
    },
      oracle = s"WITH RECURSIVE pairs AS (SELECT da, db FROM (${TextSql.dedupMinhashSql(JacThreshold)}) mp), " +
        "sym AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db AS a, da AS b FROM pairs), " +
        "reach AS (SELECT a, b FROM sym " +
        "UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a), " +
        "comp AS (SELECT a AS doc_id, least(a, min(b)) AS keep_id FROM reach GROUP BY a), " +
        "losers AS (SELECT doc_id FROM comp WHERE doc_id <> keep_id), " +
        "tokc AS (SELECT d.doc_id, d.source, " +
        "CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nt, " +
        "d.doc_id IN (SELECT doc_id FROM losers) AS is_loser FROM documents d) " +
        "SELECT source, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS raw_tokens, " +
        "CAST(sum(CASE WHEN is_loser THEN 0 ELSE nt END) AS BIGINT) AS eff_tokens, " +
        "CAST(sum(CASE WHEN is_loser THEN nt ELSE 0 END) AS BIGINT) AS dup_tokens, " +
        "CAST(CAST(sum(CASE WHEN is_loser THEN nt ELSE 0 END) AS BIGINT) AS DOUBLE) / " +
        "CAST(CAST(sum(nt) AS BIGINT) AS DOUBLE) AS dup_frac " +
        "FROM tokc GROUP BY source ORDER BY source"),

    // the keep-BEST policy applied to the same clusters: keep the
    // longest doc per near-dup cluster (ties to lowest id) instead of
    // keep-first — integer token counts keep the keeper argmax exact
    line("q_dedup_best")((s, dir) => {
      val d = docs(s, dir)
      val clusters = graft.ops.ConnectedComponents.dedupClusters(
        Dedup.minhashPairs(d, JacThreshold).select(col("da"), col("db")))
      Dedup.keepLongest(d, clusters)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_id"),
          sum(size(TextAnalysis.tokens(col("text"))).cast("long")).as("n_tokens"))
        .orderBy(col("lang"))
    },
      oracle = s"WITH RECURSIVE pairs AS (SELECT da, db FROM (${TextSql.dedupMinhashSql(JacThreshold)}) mp), " +
        "sym AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db AS a, da AS b FROM pairs), " +
        "reach AS (SELECT a, b FROM sym " +
        "UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a), " +
        "comp AS (SELECT a AS doc_id, least(a, min(b)) AS keep_id FROM reach GROUP BY a), " +
        "tokc AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents), " +
        "best AS (SELECT doc_id FROM (SELECT c.doc_id, " +
        "row_number() OVER (PARTITION BY c.keep_id ORDER BY t.nt DESC, c.doc_id) AS rn " +
        "FROM comp c JOIN tokc t ON c.doc_id = t.doc_id) WHERE rn = 1) " +
        "SELECT lang, count(*) AS n_docs, min(d.doc_id) AS min_id, " +
        "CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens " +
        "FROM documents d WHERE d.doc_id NOT IN " +
        "(SELECT c.doc_id FROM comp c WHERE c.doc_id NOT IN (SELECT doc_id FROM best)) " +
        "GROUP BY lang ORDER BY lang"),

    // source-tiered keep-best: survivor = highest-priority source in
    // the cluster (licensed beats crawl), length tiebreaks within a
    // tier; tiers are a literal lookup chain, ranking all-integer
    line("q_dedup_priority")((s, dir) => {
      val d = docs(s, dir)
      val clusters = graft.ops.ConnectedComponents.dedupClusters(
        Dedup.minhashPairs(d, JacThreshold).select(col("da"), col("db")))
      Dedup.keepByPriority(d, clusters, SourceTiers, defaultTier = 2)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_id"))
        .orderBy(col("source"))
    },
      oracle = {
        val tierCase = "CASE source " +
          SourceTiers.map { case (s, t) => s"WHEN '$s' THEN $t" }.mkString(" ") +
          " ELSE 2 END"
        s"WITH RECURSIVE pairs AS (SELECT da, db FROM (${TextSql.dedupMinhashSql(JacThreshold)}) mp), " +
          "sym AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db AS a, da AS b FROM pairs), " +
          "reach AS (SELECT a, b FROM sym " +
          "UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a), " +
          "comp AS (SELECT a AS doc_id, least(a, min(b)) AS keep_id FROM reach GROUP BY a), " +
          s"tokc AS (SELECT doc_id, CAST($tierCase AS BIGINT) AS tier, " +
          "CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents), " +
          "best AS (SELECT doc_id FROM (SELECT c.doc_id, " +
          "row_number() OVER (PARTITION BY c.keep_id ORDER BY t.tier, t.nt DESC, c.doc_id) AS rn " +
          "FROM comp c JOIN tokc t ON c.doc_id = t.doc_id) WHERE rn = 1) " +
          "SELECT source, count(*) AS n_docs, min(d.doc_id) AS min_id " +
          "FROM documents d WHERE d.doc_id NOT IN " +
          "(SELECT c.doc_id FROM comp c WHERE c.doc_id NOT IN (SELECT doc_id FROM best)) " +
          "GROUP BY source ORDER BY source"
      }),

    // Morton (Z-order) clustering key over (user, hour) — the data-
    // skipping sort key; signed BIGINT order IS Morton order because
    // 31-bit operands keep the top occupied bit at position 62
    line("q_zorder")((s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), expr("tus div 3600000000").as("hour"))
        .distinct()
      ev.select(col("user_id"), col("hour"),
          graft.ops.ZOrder.key(col("user_id"), col("hour")).as("zkey"))
        .orderBy(col("zkey"), col("user_id"))
    },
      oracle = "WITH ev AS (SELECT DISTINCT user_id, epoch_us(ts) // 3600000000 AS hour FROM events) " +
        s"SELECT user_id, hour, ${graft.ops.ZOrder.keySql("user_id", "hour")} AS zkey " +
        "FROM ev ORDER BY zkey, user_id"),

    // 4-dim Morton key over (user, hour-of-day, event-type code, value
    // bucket) — the realistic layout shape (identity + time + categorical
    // + metric); every dim fits inputBits(4)=15 so the key is a bijection
    // and zkey alone is a total order. vbucket clamps at 0 BEFORE the
    // divide: a negative value would otherwise split the engines (Spark
    // `div` truncates toward zero, DuckDB `//` floors) and wrap through
    // the 15-bit mask, breaking the bijection — the clamp makes the
    // non-negative assumption explicit instead of data-dependent
    line("q_zorder4")((s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), expr("(tus div 3600000000) % 24").as("hod"),
          expr("CAST(CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1 " +
            "WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS BIGINT)").as("etype"),
          expr("greatest(floor(value), 0L) div 10").as("vbucket"))
        .distinct()
      ev.select(col("user_id"), col("hod"), col("etype"), col("vbucket"),
          graft.ops.ZOrder.keyN(Seq(col("user_id"), col("hod"), col("etype"),
            col("vbucket"))).as("zkey"))
        .orderBy(col("zkey"))
    },
      oracle = "WITH ev AS (SELECT DISTINCT user_id, (epoch_us(ts) // 3600000000) % 24 AS hod, " +
        "CAST(CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1 " +
        "WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS BIGINT) AS etype, " +
        "greatest(CAST(floor(value) AS BIGINT), 0) // 10 AS vbucket FROM events) " +
        "SELECT user_id, hod, etype, vbucket, " +
        s"${graft.ops.ZOrder.keyNSql(Seq("user_id", "hod", "etype", "vbucket"))} AS zkey " +
        "FROM ev ORDER BY zkey"),

    // native session_window aggregation (streaming-capable sessionize twin)
    line("q_session_window")((s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("tus"))
      graft.streaming.EventStream.sessionWindowStats(ev)
        .orderBy(col("user_id"), col("start_us"))
    },
      // lag/running-sum formulation of the SAME session boundaries —
      // session_window merges an exact-gap event (end-inclusive), i.e.
      // the identical > rule as events_sessionize
      oracle = "WITH ev AS (SELECT user_id, epoch_us(ts) AS tus FROM events), " +
        "l AS (SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY tus) AS prev FROM ev), " +
        "s AS (SELECT *, CAST(sum(CASE WHEN prev IS NULL OR tus - prev > 1800000000 " +
        "THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY tus " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM l) " +
        "SELECT user_id, min(tus) AS start_us, max(tus) AS end_us, count(*) AS n_events " +
        "FROM s GROUP BY user_id, sid ORDER BY user_id, start_us"),

    // event debounce: telemetry burst-dedup — keep the first event of
    // each (user, type) burst chain at a 24h gap; a chain-opening row
    // is one lag comparison, one keyed exchange, all integers
    line("q_event_debounce")((s, dir) => {
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("tus"))
      graft.analytics.Analytics.debounceEvents(ev, gapUs = 86400L * 1000000L)
        .orderBy(col("event_id"))
    },
      oracle = "WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tus FROM events), " +
        "d AS (SELECT *, lag(tus) OVER (PARTITION BY user_id, event_type " +
        "ORDER BY tus, event_id) AS prev FROM ev) " +
        "SELECT event_id, user_id, event_type, tus FROM d " +
        "WHERE prev IS NULL OR tus - prev > CAST(86400 AS BIGINT) * 1000000 " +
        "ORDER BY event_id"),

    // ordered funnel: users reaching view -> click -> purchase in order
    line("q_funnel")((s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("event_type"), col("tus"))
      graft.analytics.Analytics.funnel(ev, Seq("view", "click", "purchase"))
        .orderBy(col("stage"))
    },
      oracle = "WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events), " +
        "f AS (SELECT user_id, " +
        "min(CASE WHEN event_type = 'view' THEN tus END) AS t0, " +
        "min(CASE WHEN event_type = 'click' THEN tus END) AS t1, " +
        "min(CASE WHEN event_type = 'purchase' THEN tus END) AS t2 " +
        "FROM ev GROUP BY user_id) " +
        "SELECT stage, event_type, n_users FROM (" +
        "SELECT CAST(0 AS BIGINT) AS stage, 'view' AS event_type, " +
        "count(CASE WHEN t0 IS NOT NULL THEN 1 END) AS n_users FROM f " +
        "UNION ALL SELECT 1, 'click', " +
        "count(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t0 < t1 THEN 1 END) FROM f " +
        "UNION ALL SELECT 2, 'purchase', " +
        "count(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t2 IS NOT NULL " +
        "AND t0 < t1 AND t1 < t2 THEN 1 END) FROM f) ORDER BY stage"),

    // hour-cohort retention matrix (first-seen hour x comeback offset)
    line("q_retention")((s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("tus"))
      graft.analytics.Analytics.retention(ev)
        .orderBy(col("cohort_hour"), col("offset_hours"))
    },
      oracle = "WITH ev AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hour FROM events), " +
        "a AS (SELECT DISTINCT user_id, hour FROM ev), " +
        "c AS (SELECT user_id, min(hour) AS cohort_hour FROM ev GROUP BY user_id) " +
        "SELECT cohort_hour, hour - cohort_hour AS offset_hours, " +
        "count(DISTINCT a.user_id) AS n_users " +
        "FROM a JOIN c USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2"),

    // event-type transition matrix: first-order Markov journey counts +
    // per-prev probabilities (one lag window + types²-sized aggregate)
    line("q_transitions")((s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"), col("tus"))
      graft.analytics.Analytics.transitionMatrix(ev)
        .orderBy(col("prev_type"), col("next_type"))
    },
      oracle = "WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events), " +
        "l AS (SELECT event_type AS next_type, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev_type FROM ev), " +
        "p AS (SELECT prev_type, next_type, count(*) AS n_transitions FROM l " +
        "WHERE prev_type IS NOT NULL GROUP BY 1, 2), " +
        "t AS (SELECT *, CAST(sum(n_transitions) OVER (PARTITION BY prev_type) AS BIGINT) AS pt FROM p) " +
        "SELECT prev_type, next_type, n_transitions, " +
        "CAST(n_transitions AS DOUBLE) / CAST(pt AS DOUBLE) AS prob " +
        "FROM t ORDER BY prev_type, next_type"),

    // sparse TF-IDF cosine near-dup pairs (weighted lexical overlap;
    // df-capped inverted index, weights on the round-4 grid)
    line("dedup_tfidf_cosine")((s, dir) =>
      Dedup.tfidfCosinePairs(docs(s, dir), TcosThreshold, TcosDfCap)
        .orderBy(col("da"), col("db")),
      oracle = TextSql.tfidfCosineSql(TcosThreshold, TcosDfCap)),

    // contrastive training pairs: MinHash near-dups as positives, the
    // lower-threshold tf-idf cosine band minus positives as hard
    // negatives (the embedding-model data-mining recipe)
    line("q_contrastive")((s, dir) => {
      val d = docs(s, dir)
      // both pair generators are EAGER (each materializes its pair
      // table internally) and independent — overlap their builds on
      // driver threads (guide-§2.6, the q_signal_overlap pattern; the
      // composition below reads the same materialized tables, so the
      // output is bitwise unchanged)
      val Seq(pos, neg) = concurrently(
        () => Dedup.minhashPairs(d, JacThreshold),
        () => Dedup.tfidfCosinePairs(d, CtrNegThreshold, TcosDfCap))
      Dedup.contrastivePairs(pos, neg)
        .orderBy(col("label").desc, col("da"), col("db"))
    },
      oracle = s"WITH pos AS (SELECT da, db FROM (${TextSql.dedupMinhashSql(JacThreshold)}) m), " +
        s"cand AS (SELECT da, db FROM (${TextSql.tfidfCosineSql(CtrNegThreshold, TcosDfCap)}) t), " +
        "neg AS (SELECT da, db FROM cand WHERE NOT EXISTS " +
        "(SELECT 1 FROM pos WHERE pos.da = cand.da AND pos.db = cand.db)) " +
        "SELECT * FROM (SELECT da, db, CAST(1 AS BIGINT) AS label FROM pos " +
        "UNION ALL SELECT da, db, CAST(0 AS BIGINT) AS label FROM neg) " +
        "ORDER BY label DESC, da, db"),

    // near-dup pairs by SimHash hamming distance (chunk-banded, lossless)
    line("dedup_simhash")((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), maxHamming = 1)
        .orderBy(col("da"), col("db")),
      oracle = TextSql.simhashPairsSql(maxHamming = 1)),

    // the 60-bit wide-signature scale twin (4x15-bit chunks): the
    // saturation fix for the 20-bit layout's 128-bucket chunk space
    // (SCALING.md §2); hamming <= 2 stays bucket-collision lossless
    line("q_simhash_wide")((s, dir) =>
      Dedup.simhashPairsWide(docs(s, dir), maxHamming = 2)
        .orderBy(col("da"), col("db")),
      oracle = TextSql.simhashPairsWideSql(maxHamming = 2)),

    // TextRank keyword extraction: integer-grid PageRank over the
    // symmetrized word-adjacency graph, 3 fixed iterations, top-20
    line("q_textrank")((s, dir) =>
      TextAnalysis.textrank(docs(s, dir), TextrankIters, TextrankK)
        .orderBy(col("rn")),
      oracle = TextSql.textrankSql(TextrankIters, TextrankK)),

    // per-document TextRank keywords: every key carries doc_id, so the
    // walk shards by document end-to-end (the product form)
    line("q_textrank_doc")((s, dir) =>
      TextAnalysis.textrankPerDoc(docs(s, dir), TextrankIters, TextrankDocK)
        .orderBy(col("doc_id"), col("rn")),
      oracle = TextSql.textrankPerDocSql(TextrankIters, TextrankDocK)),

    // winnowing fingerprints (MOSS): token-3-gram hashes, window-4 minima
    line("q_winnow")((s, dir) =>
      TextAnalysis.winnow(docs(s, dir), k = 3, w = 4)
        .orderBy(col("doc_id"), col("fp")),
      oracle = TextSql.winnowSql(k = 3, w = 4)),

    // winnowing near-dup pairs: the MOSS fingerprint sets joined on a
    // df-capped inverted index — substringPairs' guarantee at ~2/(w+1)
    // of the index volume
    line("q_winnow_pairs")((s, dir) =>
      Dedup.winnowPairs(docs(s, dir), k = 3, w = 4, WinnowMinShared, WinnowDfCap)
        .orderBy(col("da"), col("db")),
      oracle = TextSql.winnowPairsSql(3, 4, WinnowMinShared, WinnowDfCap)),

    // per-vector symmetric int8 quantization — integer aggregates of the
    // codes match the oracle exactly (no float tolerance anywhere)
    line("q_quantize")((s, dir) =>
      Similarity.quantizeInt8(emb(s, dir))
        .select(col("vec_id"),
          aggregate(col("codes"), lit(0L), (a, x) => a + x).as("sum_codes"),
          array_max(col("codes")).as("max_code"),
          array_min(col("codes")).as("min_code"),
          size(col("codes")).cast("long").as("n_dims"),
          aggregate(zip_with(col("codes"), sequence(lit(1), size(col("codes"))),
            (c, i) => c * i.cast("long")), lit(0L), (a, x) => a + x).as("checksum"))
        .orderBy(col("vec_id")),
      oracle = "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM e), " +
        "s AS (SELECT vec_id, v, CASE WHEN ma > 0 THEN 127.0/ma ELSE 0.0 END AS sc FROM m), " +
        "c AS (SELECT vec_id, list_transform(v, x -> CAST(round(x*sc) AS BIGINT)) AS codes FROM s) " +
        "SELECT vec_id, CAST(list_sum(codes) AS BIGINT) AS sum_codes, " +
        "list_max(codes) AS max_code, list_min(codes) AS min_code, " +
        "CAST(len(codes) AS BIGINT) AS n_dims, " +
        "CAST(list_sum(list_transform(range(1, len(codes)+1), i -> codes[i::INT]*i)) AS BIGINT) AS checksum " +
        "FROM c ORDER BY vec_id"),

    // benchmark decontamination: drop docs sharing a word 8-gram with
    // the "eval set" (docs with doc_id % 50 == 0)
    line("q_decontaminate")((s, dir) => {
      val d = docs(s, dir)
      Dedup.decontaminate(d, d.filter(col("doc_id") % DecontamMod === 0), DecontamN)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }, oracle = TextSql.decontaminateSql(DecontamN, DecontamMod)),

    // learned quality classifier: DCLM/FineWeb-Edu-style linear scorer
    // with fixed literal weights over cheap per-doc features — one
    // codegen'd scan, keep threshold on the rounded score grid
    line("q_quality_classifier")((s, dir) =>
      TextAnalysis.qualityClassifier(docs(s, dir)).orderBy(col("doc_id")),
      oracle = TextSql.qualityClassifierSql),

    // per-source quality-quantile gate: keep the top QqKeep fraction of
    // each source by classifier score (the budgeted FineWeb-style form
    // of the fixed-threshold q_quality_classifier)
    line("q_quality_quantile")((s, dir) =>
      TextAnalysis.qualityQuantileFilter(docs(s, dir), TextAnalysis.QqKeep)
        .orderBy(col("doc_id")),
      oracle = TextSql.qualityQuantileSql(TextAnalysis.QqKeep)),

    // scored decontamination audit: per-doc eval-set n-gram hit counts
    // + contaminated fraction (the view a pipeline inspects before
    // choosing its drop policy; q_decontaminate applies n_hit > 0)
    line("q_contamination")((s, dir) => {
      val d = docs(s, dir)
      Dedup.contaminationScore(d, d.filter(col("doc_id") % DecontamMod === 0), DecontamN)
        .orderBy(col("doc_id"))
    }, oracle = TextSql.contaminationScoreSql(DecontamN, DecontamMod)),

    // Gopher-style intra-document repetition quality signals
    line("q_repetition")((s, dir) =>
      TextAnalysis.repetition(docs(s, dir))
        .orderBy(col("doc_id")),
      oracle = TextSql.repetitionSql),

    // deterministic per-language stratified sample (content-hash keyed)
    line("q_stratified_sample")((s, dir) =>
      TextAnalysis.stratifiedSample(docs(s, dir), StratPerGroup)
        .orderBy(col("lang"), col("doc_id")),
      oracle = TextSql.stratifiedSampleSql(StratPerGroup)),

    // token-budget mixture sampling: greedy per-source prefix in
    // content-hash order, uniform budget (equal-token domain mixing),
    // reported per source
    line("q_token_budget")((s, dir) =>
      TextAnalysis.tokenBudgetSample(docs(s, dir), Map.empty, TokenBudget)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("kept"), 1)).as("n_kept"),
          sum(col("n_toks")).as("tok_total"),
          coalesce(sum(when(col("kept"), col("n_toks"))), lit(0L)).as("tok_kept"),
          min(when(col("kept"), col("doc_id"))).as("first_kept"))
        .orderBy(col("source")),
      oracle = TextSql.tokenBudgetSql(TokenBudget)),

    // temperature-flattened mixture sampling (mT5 alpha-sampling at
    // alpha = 0.5, the sqrt-exact exponent): per-source keep rates
    // from token shares, applied as the content-hash coin
    line("q_temperature_sample")((s, dir) =>
      TextAnalysis.temperatureSample(docs(s, dir))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("keep"), 1)).as("n_kept"),
          coalesce(sum(when(col("keep"),
            coalesce(size(TextAnalysis.tokens(col("text"))), lit(0)))), lit(0))
            .cast("long").as("tok_kept"))
        .orderBy(col("source")),
      oracle = TextSql.temperatureSampleSql),

    // hot-source pre-trimmed token-budget twin: the coarse bucket bound
    // discards only provably-over-budget rows, so the kept set — and
    // this kept-only report — is IDENTICAL to q_token_budget's by
    // construction (the oracle re-derives it from the exact window)
    line("q_token_budget_trim")((s, dir) =>
      TextAnalysis.tokenBudgetSampleTrimmed(docs(s, dir), Map.empty, TokenBudget)
        .filter(col("kept"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_toks")).as("tok_kept"),
          min(col("doc_id")).as("first_kept"))
        .orderBy(col("source")),
      oracle = TextSql.tokenBudgetTrimSql(TokenBudget)),

    // curation funnel: the full pipeline composed END-TO-END — quality
    // gate (Gopher rules) → exact dedup (keep lowest id per text) →
    // benchmark decontamination → token-budget mixture — reported as
    // per-stage survivor counts + token volumes against ONE oracle
    // that re-derives every stage (the q_curate_chunks pattern, wider)
    line("q_curation_funnel")((s, dir) => {
      val d = docs(s, dir)
      def stage(df: DataFrame, id: Int, name: String): DataFrame =
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(size(TextAnalysis.tokens(col("text")))), lit(0L))
              .cast("long").as("n_tokens"))
          .select(lit(id.toLong).as("stage"), lit(name).as("name"),
            col("n_docs"), col("n_tokens"))
      val s1 = d.join(
        TextAnalysis.gopherRules(d, GopherMinWords, GopherMaxWords,
          GopherMinAvgLen, GopherMaxAvgLen, GopherMinStop, GopherMinAlphaFrac)
          .filter(col("passes")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val s2 = s1.join(
        s1.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val s3 = Dedup.decontaminate(
        s2, d.filter(col("doc_id") % DecontamMod === 0), DecontamN)
      val s4 = TextAnalysis.tokenBudgetSample(s3, Map.empty, TokenBudget)
        .filter(col("kept"))
        .select(col("doc_id"), col("n_toks"))
      stage(d, 0, "all")
        .unionAll(stage(s1, 1, "quality"))
        .unionAll(stage(s2, 2, "dedup"))
        .unionAll(stage(s3, 3, "decontaminated"))
        .unionAll(s4.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("n_toks")), lit(0L)).as("n_tokens"))
          .select(lit(4L).as("stage"), lit("budgeted").as("name"),
            col("n_docs"), col("n_tokens")))
        .orderBy(col("stage"))
    },
      oracle = TextSql.funnelSql(GopherMinWords, GopherMaxWords,
        GopherMinAvgLen, GopherMaxAvgLen, GopherMinStop, GopherMinAlphaFrac,
        DecontamN, DecontamMod, TokenBudget)),

    // grouping sets: revenue rollup over (nation, order status)
    line("q_rollup")((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .rollup(col("n_name"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy(col("n_name").asc_nulls_first, col("o_orderstatus").asc_nulls_first)
    },
      oracle = "SELECT n_name, o_orderstatus, count(*) AS n_orders, round(sum(o_totalprice),2) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY ROLLUP (n_name, o_orderstatus) " +
        "ORDER BY n_name NULLS FIRST, o_orderstatus NULLS FIRST"),

    // ---- round 5: normalization, corpus report, training order, RP, PQ ----

    // per-source vocabulary report (Heaps/TTR diagnostic) with the HLL
    // scale twin flag: exact distincts verify the mergeable sketch
    line("q_vocab")((s, dir) =>
      TextAnalysis.vocabStats(docs(s, dir)).orderBy(col("source")),
      // sketch pattern: the oracle checks the exact counts and expects
      // the HLL guarantee flag TRUE; the estimate never crosses engines
      oracle = "WITH tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w " +
        "FROM documents) " +
        "SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
        "CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(count(DISTINCT w) AS BIGINT) AS n_types, " +
        "CAST(count(DISTINCT w) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS type_token_ratio, " +
        "TRUE AS hll_ok " +
        "FROM tok GROUP BY source ORDER BY source"),

    // pre-dedup text normalization: digest + sizes per document
    line("q_normalize")((s, dir) =>
      TextAnalysis.normalize(docs(s, dir)).orderBy(col("doc_id")),
      oracle = TextSql.normalizeSql),

    // duplication-rate report: histogram of exact-duplicate group sizes
    line("q_dup_stats")((s, dir) =>
      Dedup.dupStats(docs(s, dir)).orderBy(col("group_size")),
      oracle = TextSql.dupStatsSql),

    // deterministic training-order shuffle: MINSTD key + shard, no RNG
    line("q_shuffle")((s, dir) =>
      TextAnalysis.shuffleOrder(docs(s, dir), ShuffleShards)
        .orderBy(col("doc_id")),
      oracle = TextSql.shuffleOrderSql(ShuffleShards)),

    // Johnson–Lindenstrauss ±1 random projection to 8 dims
    line("q_rp")((s, dir) =>
      Similarity.randomProject(emb(s, dir), RpDim)
        .orderBy(col("vec_id"), col("j")),
      oracle = TextSql.rpProjectSql(RpDim)),

    // product quantization: 4 subspaces, codebook = corpus vectors by id
    line("q_pq")((s, dir) =>
      Similarity.pqEncode(emb(s, dir), PqCodebookIds, PqSubspaces)
        .orderBy(col("vec_id"), col("s")),
      oracle = TextSql.pqEncodeSql(PqCodebookIds, PqSubspaces)),

    // PQ asymmetric-distance top-5: codes-only scan + per-query tables
    line("q_pq_search")((s, dir) =>
      Similarity.pqSearch(emb(s, dir), PqCodebookIds, PqSubspaces, AnnQueryIds, PqSearchK)
        .orderBy(col("query_id"), col("rn")),
      oracle = TextSql.pqSearchSql(PqCodebookIds, PqSubspaces, AnnQueryIds, PqSearchK)),

    // reciprocal-rank fusion of the exact-cosine and PQ-ADC rankings:
    // the hybrid-search ensemble combiner (rank-only, no score
    // calibration between retrievers)
    line("q_rrf_fusion")((s, dir) => {
      val e = emb(s, dir)
      Similarity.rrfFuse(
        Similarity.bruteForceTopKRanked(e, AnnQueryIds, RrfPoolK),
        Similarity.pqSearch(e, PqCodebookIds, PqSubspaces, AnnQueryIds, RrfPoolK)
          .select(col("query_id"), col("neighbor_id"), col("rn")),
        RrfConst, RrfTopK)
        .orderBy(col("query_id"), col("rn"))
    },
      oracle = TextSql.rrfFusionSql(
        PqCodebookIds, PqSubspaces, AnnQueryIds, RrfPoolK, RrfConst, RrfTopK)),

    // HYBRID lexical + semantic retrieval — the RAG hybrid-search shape
    // (BM25 keyword ranks fused with exact-cosine embedding ranks via
    // RRF; doc_id and vec_id share the id space by corpus construction,
    // so the fusion is a real cross-modality ensemble, not two disjoint
    // pools). The lexical side ranks the whole corpus for the contract
    // term set; the semantic side ranks neighbors of query doc 0.
    line("q_hybrid_retrieval")((s, dir) => {
      val lex = TextAnalysis.bm25TopDocs(docs(s, dir), Bm25Terms, RrfPoolK)
        .select(lit(HybridQueryId).as("query_id"),
          col("doc_id").as("neighbor_id"), col("rn"))
      val sem = Similarity.bruteForceTopKRanked(
        emb(s, dir), Seq(HybridQueryId), RrfPoolK)
      Similarity.rrfFuse(lex, sem, RrfConst, RrfTopK)
        .orderBy(col("rn"))
    },
      oracle = TextSql.hybridRrfSql(Bm25Terms, 1.2, 0.75,
        HybridQueryId, RrfPoolK, RrfConst, RrfTopK)),

    // the PRODUCTION RAG path end-to-end: both retrievers probe their
    // PERSISTED stores (streamed lexical postings + IVF-PQ vector index)
    // with forget composed through BOTH — the same ids marked deleted on
    // each store serve through the deletion-vector liveView subtraction
    // (the logical-delete path; ann_forget/q_bm25_forget pin the
    // physical apply). Each probe is bitwise its one-shot scorer over
    // the surviving corpus, so the oracle is the one-shot hybrid SQL
    // with the ids excluded.
    store("q_hybrid_indexed")((s, dir, root) => {
      val e = emb(s, dir)
      val quant = Similarity.trainIvfPqQuantizer(
        e, IvfCoarseIds, PqCodebookIds, PqSubspaces)
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      // two INDEPENDENT stores, one driver thread each (`concurrently`)
      concurrently(
        () => {
          for (b <- 0 until 3)
            graft.streaming.LexIngest.ingestBatch(
              d.filter(col("doc_id") % 3 === b), s"$root/lex", b.toLong)
          graft.streaming.LexIngest.markDeleted(s, s"$root/lex", ForgetDocIds)
        },
        () => {
          for (b <- 0 until 3)
            graft.streaming.VectorIndexIngest.ingestBatch(
              e.filter(col("vec_id") % 3 === b), s"$root/vec", quant, b.toLong)
          graft.streaming.StoreCompaction.markDeleted(s, s"$root/vec", ForgetDocIds)
        })
      // probe-arm construction overlaps (the q_rag_served rationale)
      val Seq(lex, sem) = concurrently(
        () => graft.streaming.LexIngest
          .probe(s, s"$root/lex", Bm25Terms, RrfPoolK)
          .select(lit(HybridQueryId).as("query_id"),
            col("doc_id").as("neighbor_id"), col("rn")),
        () => Similarity.ivfPqProbe(
            graft.streaming.VectorIndexIngest.index(s, s"$root/vec"),
            graft.streaming.VectorIndexIngest.quantizer(s, s"$root/vec"),
            Similarity.collectVectors(e, Seq(HybridQueryId)),
            nprobe = 3, k = RrfPoolK)
          .select(col("query_id"), col("neighbor_id"), col("rn")))
      Similarity.rrfFuse(lex, sem, RrfConst, RrfTopK)
        .orderBy(col("rn"))
    },
      // both persisted stores serve through deletion vectors, each probe
      // bitwise its one-shot scorer over the surviving corpus — so the
      // oracle is the one-shot hybrid with the forgotten ids excluded
      oracle = TextSql.hybridIndexedRrfSql(Bm25Terms, 1.2, 0.75,
        HybridQueryId, IvfCoarseIds, PqCodebookIds, PqSubspaces, nprobe = 3,
        RrfPoolK, RrfConst, RrfTopK, excludeIds = ForgetDocIds)),

    // MMR diversity reranking (Carbonell & Goldstein 1998): greedy
    // λ-tradeoff between query relevance and max-similarity to the
    // already-selected set, over the top-poolN cosine pool — the
    // standard de-crowding final stage of a RAG retrieval stack (near-
    // duplicate passages can't fill the context window)
    line("q_mmr")((s, dir) =>
      Similarity.mmrRerank(emb(s, dir), HybridQueryId, MmrPoolN, MmrK, MmrLambda)
        .orderBy(col("sel_rank")),
      oracle = TextSql.mmrSql(HybridQueryId, MmrPoolN, MmrK, MmrLambda)),

    // the INDEXED MMR composition — propose (IVF-PQ ADC top-poolR) →
    // exact-cosine rerank of just those rows → greedy MMR de-crowding:
    // the full production retrieval tail, nothing corpus-sized past the
    // compressed-domain candidate scan
    line("q_mmr_indexed")((s, dir) =>
      Similarity.mmrRerankIndexed(emb(s, dir), IvfCoarseIds, PqCodebookIds,
        PqSubspaces, HybridQueryId, nprobe = 2, MmrPoolN, MmrK, MmrLambda)
        .orderBy(col("sel_rank")),
      oracle = TextSql.mmrIndexedSql(IvfCoarseIds, PqCodebookIds,
        PqSubspaces, HybridQueryId, nprobe = 2, MmrPoolN, MmrK, MmrLambda)),

    // MMR over the PERSISTED store with forget composed through it —
    // the served deployment's tail: ingest the index in batches, mark
    // ids deleted (deletion-vector liveView), probe candidates from the
    // store, exact-rerank + greedy. Forgotten ids never reach the
    // candidate set; surviving scores untouched (per-row independence).
    store("q_mmr_stored")((s, dir, root) => {
      val e = emb(s, dir)
      val quant = Similarity.trainIvfPqQuantizer(
        e, IvfCoarseIds, PqCodebookIds, PqSubspaces)
      for (b <- 0 until 3)
        graft.streaming.VectorIndexIngest.ingestBatch(
          e.filter(col("vec_id") % 3 === b), s"$root/vec", quant, b.toLong)
      graft.streaming.StoreCompaction.markDeleted(s, s"$root/vec", ForgetDocIds)
      // the probe loads the store's OWN published model — no
      // trainIvfPqQuantizer on the query path (doubles round-trip
      // parquet exactly, so the probe is bitwise the in-memory one)
      Similarity.mmrRerankStored(
          graft.streaming.VectorIndexIngest.index(s, s"$root/vec"),
          graft.streaming.VectorIndexIngest.quantizer(s, s"$root/vec"),
          e, HybridQueryId, nprobe = 2, MmrPoolN, MmrK, MmrLambda)
        .orderBy(col("sel_rank"))
    },
      // the store serves the forgotten ids through the deletion-vector
      // liveView, so the oracle is the one-shot indexed MMR with the ids
      // excluded from the candidate set
      oracle = TextSql.mmrIndexedSql(IvfCoarseIds, PqCodebookIds,
        PqSubspaces, HybridQueryId, nprobe = 2, MmrPoolN, MmrK, MmrLambda,
        excludeIds = ForgetDocIds)),

    // the STORE-COMPLETE served tail — zero raw-corpus access at probe
    // time: the quantizer loads from beside the index (_quantizer), the
    // ADC candidates come from the index store's liveView, and the
    // exact-rerank vectors (query included) fetch from the persisted
    // FLOAT-VECTOR store's liveView — forget marked on BOTH stores, so
    // an erased id can't even be fetched as a rerank candidate. The
    // raw embeddings frame is touched only to BUILD the stores.
    store("q_mmr_served")((s, dir, root) => {
      val e = emb(s, dir)
      val quant = Similarity.trainIvfPqQuantizer(
        e, IvfCoarseIds, PqCodebookIds, PqSubspaces)
      // two INDEPENDENT stores, one driver thread each (`concurrently`)
      concurrently(
        () => {
          for (b <- 0 until 3)
            graft.streaming.VectorIndexIngest.ingestBatch(
              e.filter(col("vec_id") % 3 === b), s"$root/idx", quant, b.toLong)
          graft.streaming.StoreCompaction.markDeleted(s, s"$root/idx", ForgetDocIds)
        },
        () => {
          for (b <- 0 until 3)
            graft.streaming.VecStoreIngest.ingestBatch(
              e.filter(col("vec_id") % 3 === b), s"$root/vecs", b.toLong)
          graft.streaming.VecStoreIngest.markDeleted(s, s"$root/vecs", ForgetDocIds)
        })
      Similarity.mmrRerankStored(
          graft.streaming.VectorIndexIngest.index(s, s"$root/idx"),
          graft.streaming.VectorIndexIngest.quantizer(s, s"$root/idx"),
          graft.streaming.VecStoreIngest.view(s, s"$root/vecs"),
          HybridQueryId, nprobe = 2, MmrPoolN, MmrK, MmrLambda)
        .orderBy(col("sel_rank"))
    },
      // the STORE-COMPLETE tail computes the same quantity as q_mmr_stored
      // (the quantizer and vectors round-trip parquet bit-exactly, the
      // forget set is identical on both stores) — same one-shot oracle
      oracle = TextSql.mmrIndexedSql(IvfCoarseIds, PqCodebookIds,
        PqSubspaces, HybridQueryId, nprobe = 2, MmrPoolN, MmrK, MmrLambda,
        excludeIds = ForgetDocIds)),

    // the FAISS refine stage served STORE-ONLY: ADC proposal from the
    // index store (stored quantizer, liveView), exact-L2² rerank
    // vectors AND query vectors from the float-vector store's liveView
    // — forget composed through proposal and fetch alike. Bitwise the
    // one-shot refined search over the surviving corpus (stores hold
    // exact bits).
    store("q_refine_served")((s, dir, root) => {
      val e = emb(s, dir)
      val quant = Similarity.trainIvfPqQuantizer(
        e, IvfCoarseIds, PqCodebookIds, PqSubspaces)
      // two INDEPENDENT stores, one driver thread each (`concurrently`)
      concurrently(
        () => {
          for (b <- 0 until 3)
            graft.streaming.VectorIndexIngest.ingestBatch(
              e.filter(col("vec_id") % 3 === b), s"$root/idx", quant, b.toLong)
          graft.streaming.StoreCompaction.markDeleted(s, s"$root/idx", ForgetVecIds)
        },
        () => {
          for (b <- 0 until 3)
            graft.streaming.VecStoreIngest.ingestBatch(
              e.filter(col("vec_id") % 3 === b), s"$root/vecs", b.toLong)
          graft.streaming.VecStoreIngest.markDeleted(s, s"$root/vecs", ForgetVecIds)
        })
      val vecs = graft.streaming.VecStoreIngest.view(s, s"$root/vecs")
      val cands = Similarity.ivfPqProbe(
          graft.streaming.VectorIndexIngest.index(s, s"$root/idx"),
          graft.streaming.VectorIndexIngest.quantizer(s, s"$root/idx"),
          Similarity.collectVectors(vecs, AnnQueryIds),
          nprobe = 2, k = RefineR)
        .select(col("query_id"), col("neighbor_id"))
      Similarity.refineExact(vecs, cands, AnnQueryIds, PqSearchK)
          .orderBy(col("query_id"), col("rn"))
    },
      // store-only refined search = the one-shot refined search over the
      // surviving corpus: forgotten ids leave the ADC candidate set before
      // ranking (index liveView), and could not be fetched anyway (vector
      // store liveView)
      oracle = TextSql.ivfPqRefinedSql(IvfCoarseIds, PqCodebookIds,
        PqSubspaces, AnnQueryIds, nprobe = 2, rerankR = RefineR, k = PqSearchK,
        excludeNeighbors = ForgetVecIds, excludeIds = ForgetVecIds)),

    // the FULL RAG pipeline in one row — hybrid nomination, semantic
    // de-crowding: BM25 ⊕ cosine ranks fuse via RRF into the candidate
    // set (query doc excluded — a retrieval context never returns the
    // query itself), then MMR greedily picks the final k by exact
    // cosine relevance vs max-similarity-to-selected
    line("q_mmr_hybrid")((s, dir) =>
      hybridMmrSelection(s, dir).orderBy(col("sel_rank")),
      oracle = TextSql.mmrHybridSql(Bm25Terms, 1.2, 0.75,
        HybridQueryId, RrfPoolK, RrfConst, fusedK = RrfPoolK, MmrK, MmrLambda)),

    // PASSAGE FETCH — the final serving stage: the q_mmr_hybrid
    // selection (the SHARED helper, so the two rows can never compute
    // different selections; a k-row LocalRelation) broadcast-point-
    // joins back to the documents table to return the text a served
    // answer actually hands the generator. At 100 TB the fetch is an
    // id-keyed point lookup against the doc store; here the k-row side
    // broadcasts so the corpus never shuffles.
    line("q_rag_answer")((s, dir) => {
      val sel = hybridMmrSelection(s, dir)
      docs(s, dir).join(broadcast(sel),
          col("doc_id") === col("neighbor_id"))
        .select(col("sel_rank"), col("neighbor_id"), col("relevance"),
          col("mmr_score"), col("text"))
        .orderBy(col("sel_rank"))
    },
      // passage fetch: the proven q_mmr_hybrid mirror nested whole, each
      // selected id joined to its document text — raw data elements, no
      // new float surface
      oracle = "SELECT m.sel_rank, m.neighbor_id, m.relevance, m.mmr_score, d.text " +
        s"FROM (${TextSql.mmrHybridSql(Bm25Terms, 1.2, 0.75, HybridQueryId,
          RrfPoolK, RrfConst, RrfPoolK, MmrK, MmrLambda)}) m " +
        "JOIN documents d ON d.doc_id = m.neighbor_id ORDER BY m.sel_rank"),

    // TIME-TRAVEL read (Delta-style VERSION AS OF on the ingest-batch
    // axis): the doc store as a reader saw it right after batch 1 —
    // batch 2's documents are invisible however long ago they landed —
    // MINUS everything erased since (retroactive forget: no snapshot
    // may resurrect erased text). The reproducible-training-snapshot
    // primitive; the as-of filter stays on the partition column, so the
    // snapshot read prunes directories.
    store("q_store_asof")((s, dir, root) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      for (b <- 0 until 3)
        graft.streaming.DocStoreIngest.ingestBatch(
          d.filter(col("doc_id") % 3 === b), s"$root/docs", b.toLong)
      graft.streaming.DocStoreIngest.markDeleted(s, s"$root/docs", ForgetDocIds)
      graft.streaming.DocStoreIngest.viewAsOf(s, s"$root/docs", maxBatch = 1L)
          .orderBy(col("doc_id"))
    },
      // as-of batch 1 = the batches whose docs arrived by then (doc_id %
      // 3 <= 1), minus the retroactive forget set
      oracle = "SELECT doc_id, text FROM documents WHERE doc_id % 3 <= 1 " +
        s"AND doc_id NOT IN (${ForgetDocIds.mkString(", ")}) " +
        "ORDER BY doc_id"),

    // snapshot EXPORT: the as-of view materialized as a standalone
    // immutable store (atomic staging-rename publish) — and then the
    // SOURCE moves on (compact past the snapshot batch + vacuum, which
    // destroys the source's own ability to reconstruct batch 1), while
    // the clone keeps serving the frozen bits: the reproducible-
    // training-corpus story beyond the retention boundary
    store("q_store_export")((s, dir, root) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      for (b <- 0 until 3)
        graft.streaming.DocStoreIngest.ingestBatch(
          d.filter(col("doc_id") % 3 === b), s"$root/docs", b.toLong)
      graft.streaming.DocStoreIngest.markDeleted(s, s"$root/docs", ForgetDocIds)
      graft.streaming.StoreCompaction.exportAsOf(
        s, s"$root/docs", "doc_id", maxBatch = 1L, dest = s"$root/snap")
      graft.streaming.DocStoreIngest.compact(s, s"$root/docs")
      graft.streaming.StoreCompaction.vacuum(s, s"$root/docs")
      graft.streaming.StoreCompaction.committedView(s, s"$root/snap")
          .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
    },
      // the exported snapshot serves exactly the as-of view's rows — even
      // after the source compacts past the snapshot batch and vacuums
      oracle = "SELECT doc_id, text FROM documents WHERE doc_id % 3 <= 1 " +
        s"AND doc_id NOT IN (${ForgetDocIds.mkString(", ")}) " +
        "ORDER BY doc_id"),

    // DESCRIBE DETAIL for an ingest-built store, before and after the
    // compact+vacuum maintenance pass: commit state, partition pressure
    // (the compactIfNeeded trigger quantity), forget backlog, and the
    // committed/live row counts whose gap is what a compact physically
    // drops — the operational summary as a hash-checked fact. describe
    // is fully eager (driver-side listing + counted aggregates), so the
    // 'before' row is immune to the mutation that follows it.
    store("q_store_describe")((s, dir, root) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      for (b <- 0 until 3)
        graft.streaming.DocStoreIngest.ingestBatch(
          d.filter(col("doc_id") % 3 === b), s"$root/docs", b.toLong)
      graft.streaming.DocStoreIngest.markDeleted(s, s"$root/docs", ForgetDocIds)
      val before = graft.streaming.StoreCompaction
        .describe(s, s"$root/docs", "doc_id").withColumn("stage", lit("before"))
      graft.streaming.DocStoreIngest.compact(s, s"$root/docs")
      graft.streaming.StoreCompaction.vacuum(s, s"$root/docs")
      val after = graft.streaming.StoreCompaction
        .describe(s, s"$root/docs", "doc_id").withColumn("stage", lit("after"))
      before.unionByName(after).orderBy(col("stage"))
    },
      // before: 3 batch partitions, 3 live, forget backlog = the distinct
      // REQUESTED ids (ghost included — the deletes file is a set of
      // demands, not an inner join), committed 500 / live 498; after
      // compact+vacuum: one generation partition, backlog applied, the
      // counts converge on the survivors
      oracle = "SELECT 'before' AS stage, CAST(0 AS BIGINT) AS generation, " +
        "CAST(-1 AS BIGINT) AS covered_through, " +
        "CAST(3 AS BIGINT) AS n_batch_parts, " +
        "CAST(3 AS BIGINT) AS n_live_batches, " +
        s"CAST(${ForgetDocIds.size} AS BIGINT) AS n_pending_delete_ids, " +
        "(SELECT count(*) FROM documents) AS n_committed, " +
        "(SELECT count(*) FROM documents WHERE doc_id NOT IN " +
        s"(${ForgetDocIds.mkString(", ")})) AS n_live " +
        "UNION ALL SELECT 'after', CAST(1 AS BIGINT), CAST(2 AS BIGINT), " +
        "CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), " +
        "(SELECT count(*) FROM documents WHERE doc_id NOT IN " +
        s"(${ForgetDocIds.mkString(", ")})), " +
        "(SELECT count(*) FROM documents WHERE doc_id NOT IN " +
        s"(${ForgetDocIds.mkString(", ")})) " +
        "ORDER BY stage"),

    // forget-COMPLIANCE audit: the attestation a deployment runs after
    // a right-to-be-forgotten request — the doc store has the forget
    // marked (serves 0 requested ids), the vec store was deliberately
    // skipped and still serves the content: the classic hole this
    // audit exists to catch, as a hash-checked fact
    store("q_forget_compliance")((s, dir, root) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val e = emb(s, dir)
      // two INDEPENDENT stores, one driver thread each (`concurrently`)
      concurrently(
        () => {
          for (b <- 0 until 3)
            graft.streaming.DocStoreIngest.ingestBatch(
              d.filter(col("doc_id") % 3 === b), s"$root/docs", b.toLong)
          graft.streaming.DocStoreIngest.markDeleted(s, s"$root/docs", ForgetDocIds)
        },
        () => {
          for (b <- 0 until 3)
            graft.streaming.VecStoreIngest.ingestBatch(
              e.filter(col("vec_id") % 3 === b), s"$root/vecs", b.toLong)
        })
      graft.ops.StoreAudit.forgetCompliance(ForgetDocIds, Seq(
        "doc" -> graft.streaming.DocStoreIngest.view(s, s"$root/docs"),
        "vec" -> graft.streaming.VecStoreIngest.view(s, s"$root/vecs")
          .withColumnRenamed("vec_id", "doc_id")), "doc_id")
    },
      // the doc store (forget marked) serves 0 requested ids; the vec
      // store (deliberately skipped) still serves the present ones — the
      // ghost id counts nowhere
      oracle = "SELECT 'doc' AS store, CAST(0 AS BIGINT) AS n_serving " +
        "UNION ALL SELECT 'vec', (SELECT count(*) FROM documents " +
        s"WHERE doc_id IN (${ForgetDocIds.mkString(", ")}))"),

    // cross-store consistency audit over the serving family: the
    // doc-text store (forget marked), the float-vector store (one batch
    // BEHIND — the planted divergence), and the source corpus, reduced
    // to id membership and counted per presence combination. Divergence
    // between independently-ingested stores is silent by construction —
    // this row makes it a hash-checked fact (candidates whose text
    // can't be fetched, docs invisible to the vector arm, forget holes)
    store("q_store_consistency")((s, dir, root) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val e = emb(s, dir)
      // two INDEPENDENT stores, one driver thread each (`concurrently`)
      concurrently(
        () => {
          for (b <- 0 until 3)
            graft.streaming.DocStoreIngest.ingestBatch(
              d.filter(col("doc_id") % 3 === b), s"$root/docs", b.toLong)
          graft.streaming.DocStoreIngest.markDeleted(s, s"$root/docs", ForgetDocIds)
        },
        () => {
          for (b <- 0 until 2) // vec store never receives batch 2
            graft.streaming.VecStoreIngest.ingestBatch(
              e.filter(col("vec_id") % 3 === b), s"$root/vecs", b.toLong)
        })
      graft.ops.StoreAudit.presence(Seq(
        "doc" -> graft.streaming.DocStoreIngest.view(s, s"$root/docs"),
        "vec" -> graft.streaming.VecStoreIngest.view(s, s"$root/vecs")
          .withColumnRenamed("vec_id", "doc_id"),
        "corpus" -> d), "doc_id")
    },
      // membership combos derive straight from the construction: the doc
      // store misses the forgotten ids, the vec store misses batch 2, the
      // corpus holds everything
      oracle = "WITH d AS (SELECT doc_id, " +
        s"doc_id NOT IN (${ForgetDocIds.mkString(", ")}) AS in_doc, " +
        "doc_id % 3 <= 1 AS in_vec, TRUE AS in_corpus FROM documents) " +
        "SELECT in_doc, in_vec, in_corpus, CAST(count(*) AS BIGINT) AS n " +
        "FROM d GROUP BY in_doc, in_vec, in_corpus " +
        "ORDER BY in_doc, in_vec, in_corpus"),

    // the COMPLETE served RAG query, every stage store-only with forget
    // composed end-to-end: lexical postings × IVF-PQ index (stored
    // quantizer) nominate via RRF, the float-vector store reranks and
    // de-crowds, and the DOC-TEXT store assembles the answer — four
    // persisted stores, the same forgotten ids marked on ALL of them,
    // so an erased document leaves the rankings AND its words become
    // unreturnable (the deletion-vector liveView at the fetch). The
    // raw corpus frames are touched only to BUILD the stores.
    store("q_rag_served")((s, dir, root) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val e = emb(s, dir)
      val quant = Similarity.trainIvfPqQuantizer(
        e, IvfCoarseIds, PqCodebookIds, PqSubspaces)
      // four INDEPENDENT stores: build each on its own driver thread
      // (batch order stays sequential inside a store; bytes identical
      // to the sequential build — see `concurrently`)
      concurrently(
        () => {
          for (b <- 0 until 3)
            graft.streaming.LexIngest.ingestBatch(
              d.filter(col("doc_id") % 3 === b), s"$root/lex", b.toLong)
          graft.streaming.LexIngest.markDeleted(s, s"$root/lex", ForgetDocIds)
        },
        () => {
          for (b <- 0 until 3)
            graft.streaming.VectorIndexIngest.ingestBatch(
              e.filter(col("vec_id") % 3 === b), s"$root/idx", quant, b.toLong)
          graft.streaming.StoreCompaction.markDeleted(s, s"$root/idx", ForgetDocIds)
        },
        () => {
          for (b <- 0 until 3)
            graft.streaming.VecStoreIngest.ingestBatch(
              e.filter(col("vec_id") % 3 === b), s"$root/vecs", b.toLong)
          graft.streaming.VecStoreIngest.markDeleted(s, s"$root/vecs", ForgetDocIds)
        },
        () => {
          for (b <- 0 until 3)
            graft.streaming.DocStoreIngest.ingestBatch(
              d.filter(col("doc_id") % 3 === b), s"$root/docs", b.toLong)
          graft.streaming.DocStoreIngest.markDeleted(s, s"$root/docs", ForgetDocIds)
        })
      val vecs = graft.streaming.VecStoreIngest.view(s, s"$root/vecs")
      // probe-arm construction overlaps too (corpus-constant folds on
      // the lex side, query-vector collect + stored-quantizer read on
      // the semantic side — independent driver-side jobs)
      val Seq(lex, sem) = concurrently(
        () => graft.streaming.LexIngest
          .probe(s, s"$root/lex", Bm25Terms, RrfPoolK)
          .select(lit(HybridQueryId).as("query_id"),
            col("doc_id").as("neighbor_id"), col("rn")),
        () => Similarity.ivfPqProbe(
            graft.streaming.VectorIndexIngest.index(s, s"$root/idx"),
            graft.streaming.VectorIndexIngest.quantizer(s, s"$root/idx"),
            Similarity.collectVectors(vecs, Seq(HybridQueryId)),
            nprobe = 3, k = RrfPoolK)
          .select(col("query_id"), col("neighbor_id"), col("rn")))
      val cands = Similarity.rrfFuse(lex, sem, RrfConst, RrfPoolK)
        .filter(col("neighbor_id") =!= HybridQueryId)
        .select(col("neighbor_id").as("vec_id"))
      val sel = Similarity.mmrOverCandidates(vecs, cands, HybridQueryId,
        MmrK, MmrLambda)
      // the greedy collected the pool: the eager probes under it are spent
      releaseCachedUnder(s, cands, root)
      graft.streaming.DocStoreIngest.view(s, s"$root/docs")
        .join(broadcast(sel), col("doc_id") === col("neighbor_id"))
        .select(col("sel_rank"), col("neighbor_id"), col("relevance"),
          col("mmr_score"), col("text"))
        .orderBy(col("sel_rank"))
    },
      // every store serves through deletion vectors, so the oracle is the
      // one-shot indexed-hybrid MMR with the forgotten ids excluded, each
      // selected id joined to its text (an excluded id can never be
      // selected, so the full documents table is safe on the SQL side)
      oracle = "SELECT m.sel_rank, m.neighbor_id, m.relevance, m.mmr_score, d.text " +
        s"FROM (${TextSql.mmrHybridIndexedSql(Bm25Terms, 1.2, 0.75,
          HybridQueryId, IvfCoarseIds, PqCodebookIds, PqSubspaces, nprobe = 3,
          RrfPoolK, RrfConst, RrfPoolK, MmrK, MmrLambda,
          excludeIds = ForgetDocIds)}) m " +
        "JOIN documents d ON d.doc_id = m.neighbor_id ORDER BY m.sel_rank"),

    // three-retriever RRF ensemble: exact cosine + IVF + PQ-ADC fused by
    // the n-ary fold (rrfFuseN) — the realistic hybrid-search shape;
    // score is a fixed-order three-term sum of exact-integer divisions
    line("q_rrf3")((s, dir) => {
      val e = emb(s, dir)
      Similarity.rrfFuseN(Seq(
        Similarity.bruteForceTopKRanked(e, AnnQueryIds, RrfPoolK),
        Similarity.ivfTopKRanked(e, IvfCoarseIds, AnnQueryIds, nprobe = 2, RrfPoolK),
        Similarity.pqSearch(e, PqCodebookIds, PqSubspaces, AnnQueryIds, RrfPoolK)
          .select(col("query_id"), col("neighbor_id"), col("rn"))),
        RrfConst, RrfTopK)
        .orderBy(col("query_id"), col("rn"))
    },
      oracle = TextSql.rrfFusion3Sql(IvfCoarseIds, 2, PqCodebookIds,
        PqSubspaces, AnnQueryIds, RrfPoolK, RrfConst, RrfTopK)),

    // unigram-LM quality score: avg token log-prob under the corpus
    line("q_unigram_lp")((s, dir) =>
      TextAnalysis.unigramLogProb(docs(s, dir)).orderBy(col("doc_id")),
      oracle = TextSql.unigramLogProbSql),

    // DSIR importance resampling (Xie et al. 2023): per-doc target-vs-
    // raw log-likelihood ratio on the unigram table, top-N selection
    line("q_dsir")((s, dir) =>
      TextAnalysis.dsirScores(docs(s, dir), DsirTargetLang, DsirTopN)
        .orderBy(col("doc_id")),
      oracle = TextSql.dsirSql(DsirTargetLang, DsirTopN)),

    // interpolated bigram-LM score (Jelinek-Mercer λ=0.9): avg
    // transition log-prob under corpus bigram/unigram statistics
    line("q_bigram_lp")((s, dir) =>
      TextAnalysis.bigramLogProb(docs(s, dir), lambda = BigramLambda)
        .orderBy(col("doc_id")),
      oracle = TextSql.bigramLogProbSql(BigramLambda)),

    // cross-doc novelty: fraction of a doc's distinct bigrams unique
    // to it (the diversity signal; boilerplate scores 0)
    line("q_novelty")((s, dir) =>
      TextAnalysis.novelty(docs(s, dir)).orderBy(col("doc_id")),
      oracle = TextSql.noveltySql),

    // trigram stupid-backoff LM (Brants 2007): score ALL docs against
    // the even-doc_id half as the reference model — the held-out split
    // makes every backoff branch reachable
    line("q_trigram_lp")((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.trigramBackoffScore(
        d, d.filter(col("doc_id") % TrigramModelMod === 0), BackoffTheta)
        .orderBy(col("doc_id"))
    }, oracle = TextSql.trigramBackoffSql(TrigramModelMod, BackoffTheta)),

    // heavy hitters: exact top-10 tokens + count-min-sketch guarantee
    // flags (the mergeable-sketch scale path, seeded deterministic)
    line("q_heavy_hitters")((s, dir) =>
      TextAnalysis.heavyHitters(docs(s, dir), k = 10, eps = 0.001,
        confidence = 0.99, seed = 42),
      // sketch pattern (q_approx_distinct precedent): the oracle checks
      // the exact counts and expects the guarantee flags TRUE; the
      // sketch value itself never crosses engines. Regeneration hazard,
      // for the record: within_eps is a confidence-0.99 guarantee that is
      // deterministic for THIS seed+corpus — a testdata regeneration
      // could legitimately flip it and surface as a bitwise hash mismatch
      // here rather than a sketch-quality signal; if that ever fires,
      // read it as "CMS estimate left the eps band", not a logic bug.
      oracle = "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents), " +
        "cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS n_exact FROM tok GROUP BY w) " +
        "SELECT w, n_exact, TRUE AS overestimates, TRUE AS within_eps " +
        "FROM cnt ORDER BY n_exact DESC, w LIMIT 10"),

    // composed curation: chunk dedup -> drop emptied docs -> token
    // budget over the CLEANED corpus, per-source report (three
    // operators chained against one recursive oracle)
    line("q_curate_chunks")((s, dir) => {
      val d = docs(s, dir)
      val cleaned = TextAnalysis.chunkDedup(d, chunkTokens = 10)
        .filter(col("n_kept") > 0)
        .select(col("doc_id"), col("text"))
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
      TextAnalysis.tokenBudgetSample(cleaned, Map.empty, TokenBudget)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("kept"), 1)).as("n_kept"),
          coalesce(sum(when(col("kept"), col("n_toks"))), lit(0L)).as("tok_kept"))
        .orderBy(col("source"))
    }, oracle = TextSql.curateChunksSql(10, TokenBudget)),

    // IVF-PQ: coarse cells prune to nprobe=2, PQ codes score the rest
    line("q_ivf_pq")((s, dir) =>
      Similarity.ivfPqSearch(emb(s, dir), IvfCoarseIds, PqCodebookIds,
        PqSubspaces, AnnQueryIds, nprobe = 2, k = PqSearchK)
        .orderBy(col("query_id"), col("rn")),
      oracle = TextSql.ivfPqSearchSql(IvfCoarseIds, PqCodebookIds, PqSubspaces,
        AnnQueryIds, nprobe = 2, k = PqSearchK)),

    // the FAISS refine stage: ADC proposes top-20 per query, the
    // original vectors of just those rows re-score with EXACT L2² —
    // quantization error bought back for R·Q exact distances
    line("q_ann_refined")((s, dir) =>
      Similarity.ivfPqSearchRefined(emb(s, dir), IvfCoarseIds, PqCodebookIds,
        PqSubspaces, AnnQueryIds, nprobe = 2, rerankR = RefineR, k = PqSearchK)
        .orderBy(col("query_id"), col("rn")),
      // ADC candidates at R=20 re-scored with the exact l2sq kernel both
      // engines already cross bitwise; rounded to 4 before ranking
      oracle = TextSql.ivfPqRefinedSql(IvfCoarseIds, PqCodebookIds,
        PqSubspaces, AnnQueryIds, nprobe = 2, rerankR = RefineR, k = PqSearchK)),

    // the refine budget's measured value: recall@k vs the exact L2 top-k
    // over the rerank sweep — R = k is the plain ADC candidate set,
    // recall climbs monotonically toward the probed cells' ceiling
    line("q_refine_recall")((s, dir) =>
      Similarity.refineRecall(emb(s, dir), IvfCoarseIds, PqCodebookIds,
        PqSubspaces, AnnQueryIds, nprobe = 2, RefineSweep, k = PqSearchK)
        .orderBy(col("rerank_r")),
      oracle = TextSql.refineRecallSql(IvfCoarseIds, PqCodebookIds,
        PqSubspaces, AnnQueryIds, nprobe = 2, RefineSweep, k = PqSearchK)),

    // FILTERED vector search (the metadata-predicate production shape):
    // the predicate applies to the INDEX FRAME itself — candidates drop
    // before ranking, the deletion-vector subtraction generalized to an
    // arbitrary filter; ranking is over the allowed set only.
    store("q_ann_filtered")((s, dir, idxDir) => {
      val e = emb(s, dir)
      val quant = Similarity.trainIvfPqQuantizer(
        e, IvfCoarseIds, PqCodebookIds, PqSubspaces)
      Similarity.writeIvfPqIndex(e, quant, idxDir)
      Similarity.ivfPqProbe(
          Similarity.readIvfPqIndex(s, idxDir)
            .filter(col("vec_id") % 3 === 0),
          quant, Similarity.collectVectors(e, AnnQueryIds),
          nprobe = 2, k = PqSearchK)
        .orderBy(col("query_id"), col("rn"))
    },
      // the stored-index probe with a candidate predicate: the oracle is
      // the one-shot search SQL with the same predicate on the candidates
      oracle = TextSql.ivfPqSearchSql(IvfCoarseIds, PqCodebookIds,
        PqSubspaces, AnnQueryIds, nprobe = 2, k = PqSearchK,
        candidatePred = Some("a.vec_id % 3 = 0"))),

    // the PERSISTED-index path end-to-end: train the quantizer, write the
    // cell-partitioned integer index, probe the STORED rows (nprobe=3 to
    // exercise a different probe set than q_ivf_pq) — must equal the
    // one-shot search's oracle because the parquet round-trip is exact.
    store("ann_indexed")((s, dir, idxDir) => {
      val e = emb(s, dir)
      val quant = Similarity.trainIvfPqQuantizer(
        e, IvfCoarseIds, PqCodebookIds, PqSubspaces)
      Similarity.writeIvfPqIndex(e, quant, idxDir)
      Similarity.ivfPqProbe(Similarity.readIvfPqIndex(s, idxDir),
          quant, Similarity.collectVectors(e, AnnQueryIds),
          nprobe = 3, k = PqSearchK)
        .orderBy(col("query_id"), col("rn"))
    },
      // the stored-index probe computes the same quantity as the one-shot
      // search (integers round-trip parquet exactly), so the oracle is the
      // search SQL at the probe's nprobe
      oracle = TextSql.ivfPqSearchSql(IvfCoarseIds, PqCodebookIds, PqSubspaces,
        AnnQueryIds, nprobe = 3, k = PqSearchK)),

    // the OPTIMIZE lifecycle end-to-end: the embeddings arrive as FOUR
    // ingest batches, the store compacts (per-cell consolidation) and
    // vacuums, and the probe over the compacted generation must still
    // equal the one-shot search — compaction preserves results exactly
    // because the stored rows are integers and the partition schema
    // survives.
    store("ann_compacted")((s, dir, idxDir) => {
      val e = emb(s, dir)
      val quant = Similarity.trainIvfPqQuantizer(
        e, IvfCoarseIds, PqCodebookIds, PqSubspaces)
      for (b <- 0 until 4)
        graft.streaming.VectorIndexIngest.ingestBatch(
          e.filter(col("vec_id") % 4 === b), idxDir, quant, b.toLong)
      graft.streaming.StoreCompaction.compact(s, idxDir, Seq("cell_id"))
      graft.streaming.StoreCompaction.vacuum(s, idxDir)
      Similarity.ivfPqProbe(
          graft.streaming.VectorIndexIngest.index(s, idxDir), quant,
          Similarity.collectVectors(e, AnnQueryIds), nprobe = 2, k = PqSearchK)
        .orderBy(col("query_id"), col("rn"))
    },
      // OPTIMIZE preserves probe results exactly: the compacted store's
      // probe answers to the same one-shot search SQL (nprobe=2 — a third
      // distinct probe set across the persisted-index family)
      oracle = TextSql.ivfPqSearchSql(IvfCoarseIds, PqCodebookIds, PqSubspaces,
        AnnQueryIds, nprobe = 2, k = PqSearchK)),

    // ---- round 6: quality rules, substring dedup, semantic dedup,
    //      retrieval, source blocklist, subquery/window breadth ----

    // RIGHT-TO-BE-FORGOTTEN on the persisted vector index (deletion
    // vectors, physically applied at OPTIMIZE): ingest in batches, mark
    // ids deleted, compact with the id column, vacuum, probe — the
    // surviving scores are unchanged (per-row adist is independent) and
    // the forgotten ids are gone from disk, so the oracle is the
    // one-shot search SQL with the ids excluded from the candidate set
    store("ann_forget")((s, dir, idxDir) => {
      val e = emb(s, dir)
      val quant = Similarity.trainIvfPqQuantizer(
        e, IvfCoarseIds, PqCodebookIds, PqSubspaces)
      for (b <- 0 until 3)
        graft.streaming.VectorIndexIngest.ingestBatch(
          e.filter(col("vec_id") % 3 === b), idxDir, quant, b.toLong)
      graft.streaming.StoreCompaction.markDeleted(s, idxDir, ForgetVecIds)
      graft.streaming.StoreCompaction.compact(s, idxDir, Seq("cell_id"),
        deleteIdCol = Some("vec_id"))
      graft.streaming.StoreCompaction.vacuum(s, idxDir)
      Similarity.ivfPqProbe(
          graft.streaming.VectorIndexIngest.index(s, idxDir), quant,
          Similarity.collectVectors(e, AnnQueryIds), nprobe = 3, k = PqSearchK)
        .orderBy(col("query_id"), col("rn"))
    },
      // deletion vectors: forgotten ids leave the candidate set, every
      // surviving score unchanged (per-row adist independence)
      oracle = TextSql.ivfPqSearchSql(IvfCoarseIds, PqCodebookIds, PqSubspaces,
        AnnQueryIds, nprobe = 3, k = PqSearchK, excludeNeighbors = ForgetVecIds)),

    // the lexical twin: forgotten docs leave the RANKING MODEL entirely
    // (tf, df, N, Σdl all shift via the per-doc stats subtraction), so
    // the oracle is the one-shot BM25 SQL over the surviving corpus
    store("q_bm25_forget")((s, dir, idxDir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      for (b <- 0 until 3)
        graft.streaming.LexIngest.ingestBatch(
          d.filter(col("doc_id") % 3 === b), idxDir, b.toLong)
      graft.streaming.LexIngest.markDeleted(s, idxDir, ForgetDocIds)
      // whole-store OPTIMIZE: term-sorted postings, physical delete
      // apply, and the stats_agg generation rebuild — the probe's
      // corpus constants then read O(1) aggregate rows, not per-doc
      graft.streaming.LexIngest.compact(s, idxDir)
      graft.streaming.LexIngest.vacuum(s, idxDir)
      graft.streaming.LexIngest.probe(s, idxDir, Bm25Terms, Bm25K)
        .orderBy(col("rn"))
    },
      // post-forget ranking = the one-shot scorer over the SURVIVING corpus
      oracle = TextSql.bm25Sql(Bm25Terms, Bm25K, k1 = 1.2, b = 0.75,
        excludeIds = ForgetDocIds)),

    // FROZEN-CORPUS BM25 SNAPSHOT — the composite-store export: a
    // 3-batch lex store forgets ForgetDocIds, exports "as of batch 1"
    // (postings + per-doc stats + rebuilt stats_agg as one standalone
    // store), and then the SOURCE moves on — compacts past the
    // snapshot batch, vacuums, forgets MORE ids. The clone's ranking
    // must be bitwise the one-shot scorer over exactly the snapshot
    // membership (batches 0-1 minus the ORIGINAL forget set): batch
    // 2's documents never entered it, the post-export forget never
    // reaches it, and the source can no longer even reconstruct the
    // batch (retention).
    store("q_lex_export")((s, dir, root) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      for (b <- 0 until 3)
        graft.streaming.LexIngest.ingestBatch(
          d.filter(col("doc_id") % 3 === b), s"$root/lex", b.toLong)
      graft.streaming.LexIngest.markDeleted(s, s"$root/lex", ForgetDocIds)
      graft.streaming.LexIngest.exportAsOf(s, s"$root/lex", 1L, s"$root/snap")
      graft.streaming.LexIngest.compact(s, s"$root/lex")
      graft.streaming.LexIngest.vacuum(s, s"$root/lex")
      graft.streaming.LexIngest.markDeleted(s, s"$root/lex", Seq(3L, 10L))
      graft.streaming.LexIngest
        .probe(s, s"$root/snap", Bm25Terms, Bm25K)
        .orderBy(col("rn"))
    },
      oracle = TextSql.bm25SqlFrom(
        s"SELECT * FROM (${TextSql.toksCte}) m WHERE doc_id % 3 <= 1",
        Bm25Terms, Bm25K, k1 = 1.2, b = 0.75, excludeIds = ForgetDocIds)),

    // FROZEN ANN SNAPSHOT — the composite-index export: a 3-batch
    // IVF-PQ index store (codes + its published _quantizer) forgets
    // ForgetVecIds, exports "as of batch 1" as one standalone clone,
    // and then the SOURCE moves on — compacts past the snapshot batch,
    // vacuums, forgets MORE ids. The clone is probed through ITS OWN
    // stored quantizer (no raw-corpus retraining, no source access):
    // the ranking must be the ADC search over exactly the snapshot
    // membership (batches 0-1, vec_id % 3 <= 1, minus the ORIGINAL
    // forget set) — batch 2's codes never entered it, the post-export
    // forget never reaches it.
    store("q_vec_export")((s, dir, root) => {
      val e = emb(s, dir)
      val quant = Similarity.trainIvfPqQuantizer(
        e, IvfCoarseIds, PqCodebookIds, PqSubspaces)
      for (b <- 0 until 3)
        graft.streaming.VectorIndexIngest.ingestBatch(
          e.filter(col("vec_id") % 3 === b), s"$root/idx", quant, b.toLong)
      graft.streaming.StoreCompaction.markDeleted(s, s"$root/idx", ForgetVecIds)
      graft.streaming.VectorIndexIngest.exportAsOf(
        s, s"$root/idx", 1L, s"$root/snap")
      graft.streaming.StoreCompaction.compact(s, s"$root/idx",
        Seq("cell_id"), deleteIdCol = Some("vec_id"))
      graft.streaming.StoreCompaction.vacuum(s, s"$root/idx")
      graft.streaming.StoreCompaction.markDeleted(s, s"$root/idx", Seq(7L))
      Similarity.ivfPqProbe(
          graft.streaming.VectorIndexIngest.index(s, s"$root/snap"),
          graft.streaming.VectorIndexIngest.quantizer(s, s"$root/snap"),
          Similarity.collectVectors(e, AnnQueryIds),
          nprobe = 2, k = PqSearchK)
        .orderBy(col("query_id"), col("rn"))
    },
      // frozen snapshot = the one-shot scorer over EXACTLY the snapshot
      // membership: batches 0-1 (doc_id % 3 <= 1, the ingest split) minus
      // the pre-export forget set; the source's later compaction/vacuum/
      // forgets are invisible by construction
      // frozen ANN snapshot = the ADC search over EXACTLY the snapshot
      // membership (batches 0-1 via the candidate predicate) minus the
      // pre-export forget set; the source's later maintenance invisible
      oracle = TextSql.ivfPqSearchSql(IvfCoarseIds, PqCodebookIds,
        PqSubspaces, AnnQueryIds, nprobe = 2, k = PqSearchK,
        excludeNeighbors = ForgetVecIds,
        candidatePred = Some("a.vec_id % 3 <= 1"))),

    // DESCRIBE DETAIL for the COMPOSITE lexical store, before and after
    // maintenance: one row per physical component (postings, stats)
    // with commit state, partition pressure, forget backlog, committed
    // vs live counts, PLUS the served corpus constants on every row —
    // corpus_n ≡ the stats row's n_live is the cache-coherence
    // invariant surfaced as data. The 'before' frame is eager by
    // construction (describe counts driver-side), so it is immune to
    // the compact/vacuum that follows. Oracle = the construction's
    // literals plus membership counts over documents (the postings
    // row counts are distinct (doc, token) pairs of the mirrored
    // tokenizer).
    store("q_lex_describe")((s, dir, root) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      for (b <- 0 until 3)
        graft.streaming.LexIngest.ingestBatch(
          d.filter(col("doc_id") % 3 === b), s"$root/lex", b.toLong)
      graft.streaming.LexIngest.markDeleted(s, s"$root/lex", ForgetDocIds)
      val before = graft.streaming.LexIngest.describe(s, s"$root/lex")
        .withColumn("stage", lit("before"))
      graft.streaming.LexIngest.compact(s, s"$root/lex")
      graft.streaming.LexIngest.vacuum(s, s"$root/lex")
      val after = graft.streaming.LexIngest.describe(s, s"$root/lex")
        .withColumn("stage", lit("after"))
      // pin column ORDER to the oracle's (stage first) — the checker
      // canonicalizes by name, but the sibling queries all match
      // positionally too and a stricter harness shouldn't break this
      before.unionByName(after)
        .select(col("stage"), col("component"), col("generation"),
          col("covered_through"), col("n_batch_parts"),
          col("n_live_batches"), col("n_pending_delete_ids"),
          col("n_committed"), col("n_live"),
          col("corpus_n"), col("corpus_sumdl"))
        .orderBy(col("stage"), col("component"))
    },
      // the composite describe: construction literals + membership counts
      // (distinct (doc, token) pairs for postings, documents for stats,
      // surviving (n, sum-dl) as the corpus constants on every row)
      oracle = TextSql.lexDescribeSql(ForgetDocIds)),

    // Gopher-style quality rule gate: per-doc rule inputs + pass bit
    line("q_gopher")((s, dir) =>
      TextAnalysis.gopherRules(docs(s, dir), GopherMinWords, GopherMaxWords,
        GopherMinAvgLen, GopherMaxAvgLen, GopherMinStop, GopherMinAlphaFrac)
        .orderBy(col("doc_id")),
      oracle = TextSql.gopherSql(GopherMinWords, GopherMaxWords,
        GopherMinAvgLen, GopherMaxAvgLen, GopherMinStop, GopherMinAlphaFrac)),

    // per-source dataset datasheet: volume, language makeup, Gopher pass
    // rate (same thresholds as the gate), corpus-wide exact-dup exposure
    // — one scan, one text-keyed window, two tiny aggregates
    line("q_datasheet")((s, dir) =>
      TextAnalysis.datasheet(docs(s, dir), GopherMinWords, GopherMaxWords,
        GopherMinAvgLen, GopherMaxAvgLen, GopherMinStop, GopherMinAlphaFrac)
        .orderBy(col("source")),
      oracle = TextSql.datasheetSql(GopherMinWords, GopherMaxWords,
        GopherMinAvgLen, GopherMaxAvgLen, GopherMinStop, GopherMinAlphaFrac)),

    // exact substring-match pairs: shared word 12-grams, df-capped index
    line("q_substring_pairs")((s, dir) =>
      Dedup.substringPairs(docs(s, dir), SubstrN, SubstrDfCap)
        .orderBy(col("da"), col("db")),
      oracle = TextSql.substringPairsSql(SubstrN, SubstrDfCap)),

    // the pair signal COMPLETED (Lee et al. 2022 remove the matched
    // spans): tokens covered by a 12-gram first seen in a lower doc_id
    // are dropped, docs reassembled from the survivors
    line("q_span_removal")((s, dir) =>
      Dedup.removeDuplicateSpans(docs(s, dir), SubstrN)
        .orderBy(col("doc_id")),
      oracle = TextSql.spanRemovalSql(SubstrN)),

    // the incremental twin at ingest time: arriving docs (doc_id%5==0)
    // clean themselves against the settled corpus's gram index — corpus
    // text is never read on the batch path, only its one-column index
    line("q_span_removal_incr")((s, dir) => {
      val d = docs(s, dir)
      Dedup.removeCorpusSpans(
        d.filter(col("doc_id") % 5 === 0),
        Dedup.spanIndexRows(d.filter(col("doc_id") % 5 =!= 0), SubstrN),
        SubstrN).orderBy(col("doc_id"))
    },
      oracle = TextSql.spanRemovalIncrSql(SubstrN,
        corpusCte = "SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0",
        batchCte = "SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0")),

    // SemDeDup: embedding-space dedup policy (cell-pruned pairs, keep
    // the lowest vec_id of every near-dup group) — surviving ids
    line("q_semdedup")((s, dir) =>
      Similarity.semDedup(emb(s, dir), IvfCoarseIds, SemDedupThreshold)
        .orderBy(col("vec_id")),
      oracle = TextSql.semDedupSql(IvfCoarseIds, SemDedupThreshold)),

    // RAG-shaped retrieval: IVF top-k neighbors joined back to the
    // documents table (the tiny top-k side broadcasts; at scale this is
    // the doc-id-keyed join a vector store runs per query batch)
    line("q_retrieval")((s, dir) => {
      val topk = Similarity.ivfTopK(emb(s, dir), IvfCoarseIds, AnnQueryIds,
        nprobe = 2, k = 5)
      docs(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .join(broadcast(topk), col("doc_id") === col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("lang"), col("source"), col("n_chars"))
        .orderBy(col("query_id"), col("neighbor_id"))
    }, oracle = TextSql.retrievalSql(IvfCoarseIds, AnnQueryIds, nprobe = 2, k = 5)),

    // per-source duplication report + blocklist bit, fed by the MinHash
    // near-dup pair set (the composable sourceStats policy input)
    line("q_source_stats")((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minhashPairs(d, JacThreshold)
      val ids = pairs.select(explode(array(col("da"), col("db"))).as("doc_id"))
      Dedup.sourceStats(d, ids, SourceMaxDupFrac).orderBy(col("source"))
    }, oracle = TextSql.sourceStatsSql(JacThreshold, SourceMaxDupFrac)),

    // which sources duplicate which: the MinHash pair signal rolled up
    // into an unordered source-pair matrix (mirror-dump / crawl-overlap
    // audit)
    line("q_dup_matrix")((s, dir) => {
      val d = docs(s, dir)
      Dedup.crossSourceDupMatrix(Dedup.minhashPairs(d, JacThreshold), d)
        .orderBy(col("src_a"), col("src_b"))
    }, oracle = TextSql.dupMatrixSql(JacThreshold)),

    // correlated scalar subqueries (SELECT-clause, one per column):
    // Catalyst decorrelates both into aggregated left joins — including
    // the COUNT-over-empty-group case ("count bug"), which must yield 0,
    // not NULL. max is a raw data element, so round(max, 2) is bitwise
    // stable cross-engine. Cloned session: temp view names can't race a
    // concurrent gate run on the caller's session.
    line("q_scalar_subquery")((s, dir) => {
      val s2 = s.newSession()
      s2.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("orders")
      s2.read.parquet(s"$dir/customer.parquet").createOrReplaceTempView("customer")
      s2.sql(
        """SELECT c_custkey,
          |  (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders,
          |  (SELECT round(max(o_totalprice), 2) FROM orders WHERE o_custkey = c_custkey) AS max_price
          |FROM customer ORDER BY c_custkey""".stripMargin)
    },
      oracle = "SELECT c_custkey, " +
        "(SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders, " +
        "(SELECT round(max(o_totalprice), 2) FROM orders WHERE o_custkey = c_custkey) AS max_price " +
        "FROM customer ORDER BY c_custkey"),

    // RANGE-frame window: events within the trailing hour per user —
    // the frame is value-based (microseconds), not row-based, so ties
    // and gaps are handled identically in both engines
    line("q_range_frame")((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"), col("tus"), col("value"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
        .rangeBetween(-3600000000L, 0)
      ev.select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          round(sum(col("value")).over(w), 4).as("sum_1h"))
        .orderBy(col("event_id"))
    },
      oracle = "SELECT event_id, user_id, " +
        "count(*) OVER w AS n_1h, " +
        "round(sum(value) OVER w, 4) AS sum_1h " +
        "FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) " +
        "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) " +
        "ORDER BY event_id"),

    // column profile: nulls + exact cardinality per column, one pass
    // (Expand carries the N distinct aggregates); the pre-publish
    // data-observability report
    line("q_profile_orders")((s, dir) =>
      graft.analytics.DataQuality.profile(
        s.read.parquet(s"$dir/orders.parquet"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))
        .orderBy(col("col_name")),
      oracle = {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority")
        val aggs = cols.zipWithIndex.map { case (c, i) =>
          s"count($c) AS nn$i, count(DISTINCT $c) AS nd$i"
        }.mkString(", ")
        val rows = cols.zipWithIndex.map { case (c, i) =>
          s"SELECT '$c' AS col_name, n_rows, n_rows - nn$i AS n_nulls, nd$i AS n_distinct FROM a"
        }.mkString(" UNION ALL ")
        s"WITH a AS (SELECT count(*) AS n_rows, $aggs FROM orders) " +
          s"SELECT * FROM ($rows) ORDER BY col_name"
      }),

    // snapshot diff: per-source added/removed/changed/unchanged counts
    // between two corpus versions — the "old" snapshot is derived
    // deterministically (drop doc_id%11 ids → added; suffix text on
    // %13 → changed; shifted extra ids from %17 → removed)
    line("q_snapshot_diff")((s, dir) => {
      val d = docs(s, dir)
      val old = d.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v1")))
            .otherwise(col("text")).as("text"), col("source"))
        .unionByName(d.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("source")))
      graft.analytics.DataQuality.snapshotDiff(old, d)
        .orderBy(col("source"), col("status"))
    },
      oracle = "WITH old AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' v1' ELSE text END AS text, source " +
        "FROM documents WHERE doc_id % 11 <> 0 " +
        "UNION ALL SELECT doc_id + 1000000, text, source FROM documents WHERE doc_id % 17 = 0), " +
        "o AS (SELECT doc_id, md5(text) AS oh, source AS osrc FROM old), " +
        "n AS (SELECT doc_id, md5(text) AS nh, source AS nsrc FROM documents), " +
        "j AS (SELECT coalesce(nsrc, osrc) AS source, " +
        "CASE WHEN oh IS NULL THEN 'added' WHEN nh IS NULL THEN 'removed' " +
        "WHEN oh <> nh THEN 'changed' ELSE 'unchanged' END AS status " +
        "FROM o FULL OUTER JOIN n USING (doc_id)) " +
        "SELECT source, status, count(*) AS n_docs FROM j " +
        "GROUP BY 1, 2 ORDER BY source, status"),

    // versioned corpus-card diff: the publish-gate change report — the
    // snapshot-diff bands wide, each release's datasheet integers, and
    // the token delta, per source. Same deterministic old-snapshot
    // derivation as q_snapshot_diff, carrying lang for the cards.
    line("q_corpus_card_diff")((s, dir) => {
      val d = docs(s, dir)
      val old = d.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v1")))
            .otherwise(col("text")).as("text"), col("source"), col("lang"))
        .unionByName(d.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
            col("source"), col("lang")))
      graft.analytics.DataQuality.corpusCardDiff(old, d,
          GopherMinWords, GopherMaxWords, GopherMinAvgLen, GopherMaxAvgLen,
          GopherMinStop, GopherMinAlphaFrac)
        .orderBy(col("source"))
    },
      oracle = TextSql.corpusCardDiffSql(
        GopherMinWords, GopherMaxWords, GopherMinAvgLen, GopherMaxAvgLen,
        GopherMinStop, GopherMinAlphaFrac,
        oldCte = "SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' v1' ELSE text END AS text, source, lang " +
          "FROM documents WHERE doc_id % 11 <> 0 " +
          "UNION ALL SELECT doc_id + 1000000, text, source, lang FROM documents WHERE doc_id % 17 = 0",
        newCte = "SELECT doc_id, text, source, lang FROM documents")),

    // declarative constraint suite: per-row domain rules fold into ONE
    // aggregate on one scan; PK uniqueness = count - countDistinct;
    // FK integrity = one broadcast anti-join count. The publish gate.
    line("q_dq_checks")((s, dir) => {
      val dq = graft.analytics.DataQuality
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      dq.suite(Seq(
        dq.ruleViolations(orders, Seq(
          "nonneg_totalprice" -> (col("o_totalprice") < 0),
          "status_domain" -> !col("o_orderstatus").isin("F", "O", "P"),
          "not_null_orderdate" -> col("o_orderdate").isNull,
          "not_null_custkey" -> col("o_custkey").isNull)),
        dq.uniqueViolations(orders, "o_orderkey", "pk_unique_o_orderkey"),
        dq.fkViolations(orders, "o_custkey", cust, "c_custkey",
          "fk_orders_customer")))
        .orderBy(col("check_name"))
    },
      oracle = "WITH r AS (SELECT " +
        "CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_neg, " +
        "CAST(sum(CASE WHEN NOT (o_orderstatus IN ('F', 'O', 'P')) THEN 1 ELSE 0 END) AS BIGINT) AS v_status, " +
        "CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_ndate, " +
        "CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_ncust, " +
        "count(*) - count(DISTINCT o_orderkey) AS v_pk FROM orders), " +
        "fk AS (SELECT count(*) AS v_fk FROM orders o WHERE NOT EXISTS " +
        "(SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)), " +
        "u AS (SELECT 'nonneg_totalprice' AS check_name, v_neg AS n_violations FROM r " +
        "UNION ALL SELECT 'status_domain', v_status FROM r " +
        "UNION ALL SELECT 'not_null_orderdate', v_ndate FROM r " +
        "UNION ALL SELECT 'not_null_custkey', v_ncust FROM r " +
        "UNION ALL SELECT 'pk_unique_o_orderkey', v_pk FROM r " +
        "UNION ALL SELECT 'fk_orders_customer', v_fk FROM fk) " +
        "SELECT check_name, n_violations, n_violations = 0 AS passed " +
        "FROM u ORDER BY check_name"),

    // full outer join: per-user event activity reconciled against the
    // customer dimension — matched, activity-only, and customer-only
    // rows all survive (customer side restricted so both null regions
    // are non-empty at every SF)
    line("q_full_outer")((s, dir) => {
      val ev = events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("total_value"))
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_custkey") >= FullOuterCustMin)
        .select(col("c_custkey"), col("c_nationkey"))
      ev.join(cust, col("user_id") === col("c_custkey"), "full_outer")
        .select(coalesce(col("user_id"), col("c_custkey")).as("id"),
          col("n_events"), col("total_value"), col("c_nationkey"))
        .orderBy(col("id"))
    },
      oracle = s"WITH ev AS (SELECT user_id, count(*) AS n_events, round(sum(value),4) AS total_value " +
        "FROM events GROUP BY user_id), " +
        s"c AS (SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey >= $FullOuterCustMin) " +
        "SELECT coalesce(user_id, c_custkey) AS id, n_events, total_value, c_nationkey " +
        "FROM ev FULL OUTER JOIN c ON user_id = c_custkey ORDER BY id"),

    // distribution-rank windows: percent_rank + cume_dist of each
    // order's price within its status group. Both are pure rank
    // arithmetic over a total (price, key) order — (rank-1)/(n-1) and
    // rank'/n are single integer divisions, bitwise cross-engine
    line("q_percent_rank")((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("o_orderstatus"),
          percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
        .orderBy(col("o_orderkey"))
    },
      oracle = "SELECT o_orderkey, o_orderstatus, " +
        "percent_rank() OVER w AS pr, cume_dist() OVER w AS cd " +
        "FROM orders WHERE o_orderkey <= 2000 " +
        "WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) " +
        "ORDER BY o_orderkey"),

    // NTILE quartiles of customer spend within each nation, aggregated
    line("q_ntile")((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      val spend = orders.groupBy(col("o_custkey"))
        .agg(round(sum("o_totalprice"), 2).as("spend"))
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      val w = Window.partitionBy(col("n_name"))
        .orderBy(col("spend").desc, col("o_custkey"))
      spend.withColumn("q", ntile(NtileBuckets).over(w).cast("long"))
        .groupBy(col("n_name"), col("q"))
        .agg(count(lit(1)).as("n_cust"), round(sum("spend"), 2).as("total_spend"))
        .orderBy(col("n_name"), col("q"))
    },
      oracle = "WITH spend AS (SELECT o_custkey, round(sum(o_totalprice),2) AS spend " +
        "FROM orders GROUP BY o_custkey), " +
        "j AS (SELECT n_name, o_custkey, spend FROM spend " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey), " +
        s"qt AS (SELECT n_name, spend, CAST(ntile($NtileBuckets) OVER " +
        "(PARTITION BY n_name ORDER BY spend DESC, o_custkey) AS BIGINT) AS q FROM j) " +
        "SELECT n_name, q, count(*) AS n_cust, round(sum(spend),2) AS total_spend " +
        "FROM qt GROUP BY 1, 2 ORDER BY 1, 2"),

    // one BPE merge-selection step: corpus-weighted adjacent char-pair
    // counts over the distinct-word table, top-k
    line("q_bpe_merge")((s, dir) =>
      TextAnalysis.bpeMergeStep(docs(s, dir), BpeTopK)
        .orderBy(col("rn")),
      oracle = TextSql.bpeMergeSql(BpeTopK)),

    // iterated BPE trainer: BpeTrainMerges rounds of count -> argmax ->
    // merge-everywhere over the vocab's symbol strings; oracle = the
    // same chain unrolled as MATERIALIZED CTEs
    line("q_bpe_train")((s, dir) =>
      TextAnalysis.bpeTrain(docs(s, dir), BpeTrainMerges)
        .orderBy(col("rn")),
      oracle = TextSql.bpeTrainSql(BpeTrainMerges)),

    // the trained tokenizer applied: per-doc subword counts under the
    // BpeTrainMerges merge table
    line("q_bpe_encode")((s, dir) =>
      TextAnalysis.bpeEncode(docs(s, dir), BpeTrainMerges)
        .orderBy(col("doc_id")),
      oracle = TextSql.bpeEncodeSql(BpeTrainMerges)),

    // tokenizer fertility per source (subtokens per word — the metric
    // a tokenizer choice is judged by per domain/language); one
    // exact-integer division, the qualityClassifier pattern
    line("q_bpe_fertility")((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.bpeEncode(d, BpeTrainMerges)
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_subtokens")).as("n_subtokens"))
        .select(col("source"), col("n_words"), col("n_subtokens"),
          (col("n_subtokens").cast("double") / col("n_words").cast("double"))
            .as("fertility"))
        .orderBy(col("source"))
    },
      oracle = s"SELECT d.source, CAST(sum(e.n_words) AS BIGINT) AS n_words, " +
        "CAST(sum(e.n_subtokens) AS BIGINT) AS n_subtokens, " +
        "CAST(sum(e.n_subtokens) AS DOUBLE) / CAST(sum(e.n_words) AS DOUBLE) AS fertility " +
        s"FROM (${TextSql.bpeEncodeSql(BpeTrainMerges)}) e " +
        "JOIN documents d ON e.doc_id = d.doc_id " +
        "GROUP BY d.source ORDER BY d.source"),

    // end-to-end curation composition: Gopher rule gate -> exact dedup
    // (keep lowest id) -> per-language corpus report. The operator
    // chain a curation run actually executes, oracle-checked as ONE
    // query so the composition itself is contract-pinned.
    line("q_curate")((s, dir) => {
      val d = docs(s, dir)
      val passed = TextAnalysis.gopherRules(d, GopherMinWords, GopherMaxWords,
        GopherMinAvgLen, GopherMaxAvgLen, GopherMinStop, GopherMinAlphaFrac)
        .filter(col("passes")).select(col("doc_id"))
      // the keeper's LANG rides a struct-min keyed by doc_id (arg_min in
      // the oracle) — `first` would be partition-order nondeterministic
      d.join(passed, Seq("doc_id"))
        .groupBy(col("text"))
        .agg(min(struct(col("doc_id"), col("lang"))).as("m"))
        .select(col("m.doc_id").as("keep_id"), col("m.lang").as("lang"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
          min(col("keep_id")).as("min_id"))
        .orderBy(col("lang"))
    },
      oracle = s"WITH gp AS (SELECT doc_id FROM (${TextSql.gopherSql(GopherMinWords, GopherMaxWords,
        GopherMinAvgLen, GopherMaxAvgLen, GopherMinStop, GopherMinAlphaFrac)}) g WHERE passes), " +
        "k AS (SELECT text, min(d.doc_id) AS keep_id, arg_min(d.lang, d.doc_id) AS lang " +
        "FROM documents d JOIN gp USING (doc_id) GROUP BY text) " +
        "SELECT lang, count(*) AS n_docs, " +
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens, " +
        "min(keep_id) AS min_id FROM k GROUP BY lang ORDER BY lang"),

    // weighted sampling without replacement (derandomized A-ES):
    // fixed-size token-weighted draw, reproducible, dup-affine
    line("q_weighted_sample")((s, dir) =>
      TextAnalysis.weightedSampleTopK(docs(s, dir), WsK)
        .orderBy(col("rn")),
      oracle = TextSql.weightedSampleSql(WsK)),

    // BM25 lexical retrieval: top-10 docs for a fixed query term set
    line("q_bm25")((s, dir) =>
      TextAnalysis.bm25TopDocs(docs(s, dir), Bm25Terms, Bm25K)
        .orderBy(col("rn")),
      oracle = TextSql.bm25Sql(Bm25Terms, Bm25K, k1 = 1.2, b = 0.75)),

    // pseudo-relevance feedback (RM3 mechanism): the data-dependent
    // expansion term set — the seed query's top-fbDocs docs vote terms
    // by the exact-integer weight (ftf·10⁶) div df (feedback frequency
    // up, corpus ubiquity down), seeds and in-every-doc terms excluded;
    // no float anywhere, selection order total
    line("q_prf_terms")((s, dir) =>
      TextAnalysis.prfExpansionTerms(docs(s, dir), Bm25Terms,
        PrfFbDocs, PrfFbTerms)
        .orderBy(col("w").desc, col("term")),
      oracle = TextSql.prfTermsSql(Bm25Terms, PrfFbDocs, PrfFbTerms,
        k1 = 1.2, b = 0.75)),

    // the expanded re-query: BM25 over seed ∪ expansion through the
    // terms-as-frame variant — the second pass inherits the proven
    // scoring discipline verbatim
    line("q_bm25_prf")((s, dir) =>
      TextAnalysis.bm25Prf(docs(s, dir), Bm25Terms, PrfFbDocs, PrfFbTerms,
        Bm25K)
        .orderBy(col("rn")),
      oracle = TextSql.bm25PrfSql(Bm25Terms, PrfFbDocs, PrfFbTerms,
        Bm25K, k1 = 1.2, b = 0.75)),

    // the PRF loop served ENTIRELY from the persisted inverted index
    // with forget composed end-to-end: feedback ranking, term vote
    // (postings tf), candidate df (pushed term slice), and corpus N all
    // come from the store's liveView — deleted docs leave every stage,
    // so the oracle is the one-shot PRF with the ids excluded.
    store("q_prf_indexed")((s, dir, root) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      for (b <- 0 until 3)
        graft.streaming.LexIngest.ingestBatch(
          d.filter(col("doc_id") % 3 === b), s"$root/lex", b.toLong)
      graft.streaming.LexIngest.markDeleted(s, s"$root/lex", ForgetDocIds)
      graft.streaming.LexIngest.prfProbe(
          s, s"$root/lex", Bm25Terms, PrfFbDocs, PrfFbTerms, Bm25K)
        .orderBy(col("rn"))
    },
      // the store serves the forgotten docs through every PRF stage, so
      // the oracle is the one-shot PRF over the surviving corpus
      oracle = TextSql.bm25PrfSql(Bm25Terms, PrfFbDocs, PrfFbTerms,
        Bm25K, k1 = 1.2, b = 0.75, excludeIds = ForgetDocIds)),

    // RAG chunking: overlapping token windows (30 tokens, 10 overlap) —
    // the retrieval-unit generator in front of any chunk-level index
    line("q_rag_chunks")((s, dir) =>
      TextAnalysis.ragChunks(docs(s, dir), RagChunkTokens, RagChunkOverlap)
        .orderBy(col("doc_id"), col("chunk_id")),
      oracle = TextSql.ragChunksSql(RagChunkTokens, RagChunkOverlap)),

    // chunk-LEVEL retrieval: the chunks become the BM25 units (synthetic
    // key = doc_id*100000 + chunk_id, split back after ranking) — what a
    // RAG pipeline actually indexes and retrieves; hits point INTO the
    // document, not just at it
    line("q_chunk_retrieval")((s, dir) => {
      val chunks = TextAnalysis
        .ragChunks(docs(s, dir), RagChunkTokens, RagChunkOverlap)
        .select((col("doc_id") * 100000L + col("chunk_id")).as("doc_id"),
          col("chunk").as("text"))
      TextAnalysis.bm25TopDocs(chunks, Bm25Terms, Bm25K)
        .select(expr("doc_id div 100000").as("doc_id"),
          (col("doc_id") % 100000L).as("chunk_id"), col("score"), col("rn"))
        .orderBy(col("rn"))
    },
      oracle = TextSql.chunkRetrievalSql(RagChunkTokens,
        RagChunkOverlap, Bm25Terms, Bm25K, k1 = 1.2, b = 0.75)),

    // chunk-level PERSISTED index with CASCADE forget: the LexIngest
    // lifecycle over ragChunks units (synthetic key = doc_id·100000 +
    // chunk_id), batched by PARENT doc so a document's chunks land
    // together; forgetting a doc marks EVERY stored chunk of it
    // (markDeletedCascade — the deleteCascade composition at the
    // retrieval-unit level), and the probe recomputes the surviving
    // CHUNK corpus constants.
    store("q_chunk_indexed")((s, dir, root) => {
      val chunks = TextAnalysis
        .ragChunks(docs(s, dir), RagChunkTokens, RagChunkOverlap)
        .select(col("doc_id").as("parent_id"),
          (col("doc_id") * 100000L + col("chunk_id")).as("doc_id"),
          col("chunk").as("text"))
      for (b <- 0 until 3)
        graft.streaming.LexIngest.ingestBatch(
          chunks.filter(col("parent_id") % 3 === b)
            .select(col("doc_id"), col("text")),
          s"$root/lex", b.toLong)
      graft.streaming.LexIngest.markDeletedCascade(
        s, s"$root/lex", ForgetDocIds, keyDiv = 100000L)
      graft.streaming.LexIngest
        .probe(s, s"$root/lex", Bm25Terms, Bm25K)
        .select(expr("doc_id div 100000").as("doc_id"),
          (col("doc_id") % 100000L).as("chunk_id"), col("score"), col("rn"))
        .orderBy(col("rn"))
    },
      // the chunk store's cascade forget drops EVERY chunk of a forgotten
      // doc, and the probe recomputes the surviving CHUNK corpus — so the
      // oracle is the one-shot chunk retrieval with the parent ids
      // excluded before the constants derive
      oracle = TextSql.chunkRetrievalSql(RagChunkTokens,
        RagChunkOverlap, Bm25Terms, Bm25K, k1 = 1.2, b = 0.75,
        excludeDocIds = ForgetDocIds)),

    // MULTI-QUERY probe over the persisted store: three term sets (one
    // sharing a term with another) answered from ONE pushed-down slice
    // scan — per query bitwise the single probe, so the oracle is the
    // UNION ALL of the single-query SQLs.
    store("q_bm25_multi")((s, dir, idxDir) => {
      TextAnalysis.writeLexIndex(docs(s, dir), idxDir)
      TextAnalysis.bm25ProbeMany(s, idxDir, Bm25Queries, Bm25K)
        .orderBy(col("query_id"), col("rn"))
    },
      // per query bitwise the single probe → the oracle is the UNION ALL
      // of the proven single-query mirrors
      oracle = TextSql.bm25MultiSql(Bm25Queries, Bm25K, k1 = 1.2, b = 0.75)),

    // the PERSISTED lexical index end-to-end (the writeIvfPqIndex
    // pattern for retrieval): write the term-clustered integer postings
    // + stats store, probe the STORED rows — bitwise the one-shot
    // scorer, so the oracle is q_bm25's SQL.
    store("q_bm25_indexed")((s, dir, idxDir) => {
      TextAnalysis.writeLexIndex(docs(s, dir), idxDir)
      TextAnalysis.bm25Probe(s, idxDir, Bm25Terms, Bm25K)
        .orderBy(col("rn"))
    },
      // the stored-index probe replays the one-shot scorer's expression
      // tree over exactly-round-tripped integers — same oracle
      oracle = TextSql.bm25Sql(Bm25Terms, Bm25K, k1 = 1.2, b = 0.75)),

    // forward fill (last observation carried forward): every event
    // carries the user's most recent CLICK value; IGNORE NULLS over a
    // running frame — null until the first click, then sticky. The
    // carried value is a raw data element, so no rounding is needed.
    line("q_ffill")((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"), col("tus"),
          col("event_type"), col("value"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      ev.select(col("event_id"), col("user_id"),
          last(when(col("event_type") === "click", col("value")), ignoreNulls = true)
            .over(w).as("last_click_value"))
        .orderBy(col("event_id"))
    },
      oracle = "SELECT event_id, user_id, " +
        "last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_value " +
        "FROM events ORDER BY event_id"),

    // hourly resample with explicit zero rows on the dense spine
    line("q_resample")((s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type"), col("tus"), col("value"))
      graft.analytics.Analytics.resampleHourly(ev)
        .orderBy(col("event_type"), col("hour"))
    },
      oracle = "WITH ev AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour, value FROM events), " +
        "bh AS (SELECT event_type, hour, count(*) AS n, round(sum(value),4) AS total_value " +
        "FROM ev GROUP BY 1, 2), " +
        "bounds AS (SELECT min(hour) AS lo, max(hour) AS hi FROM ev), " +
        "types AS (SELECT DISTINCT event_type FROM ev), " +
        "spine AS (SELECT event_type, unnest(generate_series(lo, hi)) AS hour " +
        "FROM types CROSS JOIN bounds) " +
        "SELECT s.event_type, s.hour, coalesce(n, 0) AS n, " +
        "coalesce(total_value, 0.0) AS total_value " +
        "FROM spine s LEFT JOIN bh ON s.event_type = bh.event_type AND s.hour = bh.hour " +
        "ORDER BY 1, 2"),

    // signature-only near-dup estimate (no verification; n/16 exact)
    line("q_minhash_est")((s, dir) =>
      Dedup.minhashEstimatePairs(docs(s, dir), MinhashEstMatch)
        .orderBy(col("da"), col("db")),
      oracle = TextSql.minhashEstimateSql(MinhashEstMatch)),

    // one vector-K-Means step over the embedding corpus — the engine's
    // iterative core generalized to arbitrary dimension (seeds = corpus
    // vectors by id, ascending; cell = list position). Cells are
    // provably non-empty (each seed IS a corpus vector, self-assigned
    // at distance 0), so step's keep-previous-centroid branch — which
    // the SQL mirror cannot express — never fires here
    // principal component by power iteration on the (treeAggregate'd)
    // gram matrix — G rounds to 6 decimals first, every iteration
    // re-rounds, so both engines run the identical recurrence
    line("q_pca_power")((s, dir) =>
      Similarity.pcaPowerDirection(emb(s, dir), PcaIters).orderBy(col("dim")),
      oracle = TextSql.pcaPowerSql(PcaIters)),

    // second component via Hotelling deflation — same round-6 grid at
    // every stage (chain -> Rayleigh -> deflate -> chain)
    line("q_pca2")((s, dir) =>
      Similarity.pcaSecondDirection(emb(s, dir), PcaIters).orderBy(col("dim")),
      oracle = TextSql.pcaSecondSql(PcaIters)),

    // fit-then-apply: the fitted principal direction inlines as literals
    // and the corpus projection is a pure shuffle-free scan (the IVF
    // literal-centroid pattern applied to PCA)
    line("q_pca_project")((s, dir) => {
      val dirV = Similarity.pcaPowerDirection(emb(s, dir), PcaIters).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1).map(_._2)
      val e = emb(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      e.select(col("vec_id"),
          round(graft.functions.VectorOps.dotCol(col("vec"),
            array(dirV.map(lit).toSeq: _*)), 4).as("proj"))
        .orderBy(col("vec_id"))
    }, oracle = TextSql.pcaProjectSql(PcaIters)),

    // the ITERATED engine core in embedding space: two Lloyd iterations
    // with 4-decimal centroid rounding between them (the c2_iterate3
    // contract at arbitrary dimension; emptied cells keep their previous
    // centroid, mirrored in SQL as round(coalesce(new, prev), 4))
    line("q_vkmeans_iterate2")((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      val c0 = e.filter(col("vec_id").isin(PqCodebookIds: _*))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).map(_._2).toSeq
      require(c0.map(_.toSeq).distinct.length == c0.length,
        "q_vkmeans_iterate2: duplicate seed vectors")
      def r4(x: Double): Double =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val cached = e.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        var cents = c0
        for (_ <- 1 to 2)
          cents = graft.llm.VectorKMeans.step(cached, "vec", cents).map(_.map(r4))
        cents.zipWithIndex.flatMap { case (c, cell) =>
          c.zipWithIndex.map { case (v, d) => (cell.toLong, (d + 1).toLong, v) }
        }.toDF("cell", "dim", "m").orderBy(col("cell"), col("dim"))
      } finally { cached.unpersist(); () }
    }, oracle = TextSql.vkmeansIterateSql(PqCodebookIds, 2)),

    line("q_vkmeans_step")((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      val cents = e.filter(col("vec_id").isin(PqCodebookIds: _*))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).map(_._2).toSeq
      // the non-empty-cells proof needs DISTINCT seed vectors: two
      // identical seeds would both tie-break to the lower cell, empty
      // the higher one, and fire step's keep-previous branch that the
      // SQL mirror cannot express — fail loudly instead
      require(cents.map(_.toSeq).distinct.length == cents.length,
        "q_vkmeans_step: duplicate seed vectors would empty a cell")
      graft.llm.VectorKMeans.step(e, "vec", cents).zipWithIndex.flatMap {
        case (c, cell) => c.zipWithIndex.map { case (v, d) =>
          (cell.toLong, (d + 1).toLong,
            BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }.toDF("cell", "dim", "m").orderBy(col("cell"), col("dim"))
    }, oracle = TextSql.vkmeansStepSql(PqCodebookIds))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    lines.map(l => l.name -> (l.run _)).toMap

  def oracleSql: Map[String, String] = lines.map(l => l.name -> l.oracle).toMap

  /** The names declared through `store`. */
  private[graft] def storeLines: Set[String] = lines.filter(_.store).map(_.name).toSet
}

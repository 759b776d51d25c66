package graft.tools

import graft.Cached
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Dedup

/** The per-round scale tripwire: `scalejson` synthesizes the second
  * decade (10 deterministic near-copies of sf0.1, SCALING.md §3) and
  * writes one JSON line of exact counts, the `SCALE_r{N}.json`
  * artifact. Candidate volume — the number of pair rows a generator's
  * join emits before any verification — is what decides whether a
  * dedup operator survives 100 TB, and unlike CPU timings it is an
  * exact row count: immune to the host-throttling noise the
  * measurement notes document. The counts are computed with the
  * operators' OWN building blocks (`Dedup.shingles`/`signatures`/
  * `simhash`/`simhashWide` and the contract caps from SparkEntry), so
  * a refactor of the banding layout shows up here as a changed number.
  *
  * Run: spark-submit --driver-memory 8g --class graft.tools.ScalingAudit \
  *        <jar> scalejson <sf0.1Dir> SCALE_r{N}.json
  *
  * `--driver-memory 8g` is needed: spark-submit's default 1 GB driver
  * heap (a spark.driver.memory set in the session config is too late to
  * grow a local-mode JVM) OOMs in the round-18 decade-chunk ingest — 32
  * concurrent hash-aggregate tasks over the ~10x chunk postings.
  *
  * The one-off measurement modes that answered a question once
  * (`candidates`, `sf1ish`, `hotsource`, `annprobe`, `bigram`,
  * `trigram`, `compactab`, `probeab`, `quantab`, `noveltyab`) are
  * retired; SCALING.md keeps each answer and names the commit that
  * still has its mode.
  */
object ScalingAudit {

  // the contract queries' own parameter
  import graft.SparkEntry.JacDfCap

  /** Temp-store registry + JVM shutdown-hook backstop: the fingerprint
    * section's hard `require`s (snapshot-moved, membership) and the
    * export refusals can throw BETWEEN store creation and the in-line
    * cleanup loop — without a backstop that aborts the audit leaving
    * multi-GB decade stores under /tmp (r19 review finding). Local
    * java.nio deletion, not Hadoop FS: Spark's own shutdown hooks may
    * have closed the FileSystem by the time this runs. The success path
    * still deletes promptly in-line; the hook is idempotent. */
  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tmpDirs.forEach { d =>
        try {
          val root = java.nio.file.Paths.get(d)
          if (java.nio.file.Files.exists(root)) {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(root).iterator().asScala.toSeq
              .sortBy(-_.getNameCount)
              .foreach(p => try java.nio.file.Files.deleteIfExists(p)
                catch { case _: Throwable => () })
          }
        } catch { case _: Throwable => () }
      }))
  }
  private def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    tmpDirs.add(d)
    d
  }

  private def pairsOf(groupSizes: DataFrame): Long =
    groupSizes.agg(coalesce(sum(col("g") * (col("g") - 1)), lit(0L)))
      .head.getLong(0) / 2

  /** Join rows Σ C(df, 2) the jaccard inverted index emits for hashes
    * with df in [2, cap] (df = 1 rows can't pair; the cap is the
    * hot-hash guard). */
  private def jaccardCandidates(docs: DataFrame, cap: Long): Long =
    pairsOf(docs
      .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("s"))
      .select(col("doc_id"), Dedup.shingleHash(col("s")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("g"))
      .filter(col("g") <= cap))


  /** LSH band-bucket collision rows: Σ over (band, key) buckets of
    * C(g, 2) — the join volume behind minhashPairs' candidates. */
  private def minhashCandidates(docs: DataFrame): Long = {
    val bandStructs = (0 until Dedup.Bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until Dedup.RowsPerBand).map(r =>
          col(s"m${b * Dedup.RowsPerBand + r}")): _*).as("key"))
    }
    pairsOf(Dedup.signatures(docs)
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .groupBy(col("bk.band"), col("bk.key")).agg(count(lit(1)).as("g")))
  }

  /** Chunk-bucket collision rows for a simhash signature table. */
  private def simhashCandidates(sigs: DataFrame, chunks: Int, chunkBits: Int): Long = {
    val mask = (1L << chunkBits) - 1
    val chunkStructs = (0 until chunks).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), c * chunkBits).bitwiseAND(lit(mask)).as("key"))
    }
    pairsOf(sigs
      .select(col("doc_id"), explode(array(chunkStructs: _*)).as("b"))
      .groupBy(col("b.chunk"), col("b.key")).agg(count(lit(1)).as("g")))
  }

  /** Winnow-fingerprint collision rows with df in [2, cap] — the join
    * volume behind winnowPairs (round 10). */
  private def winnowCandidates(docs: DataFrame, cap: Long): Long =
    pairsOf(graft.llm.TextAnalysis.winnow(docs, 3, 4)
      .groupBy(col("fp")).agg(count(lit(1)).as("g"))
      .filter(col("g") >= 2 && col("g") <= cap))

  /** Duplicate chunk occurrences (rows minus distinct chunk texts) —
    * the work chunkDedup's keeper join removes; grows with content
    * duplication, not n². */
  private def dupChunks(docs: DataFrame, k: Int): Long = {
    val ch = graft.llm.TextAnalysis.chunk(docs, k, overlap = 0)
      .select(col("chunk_text"))
    val row = ch.agg(count(lit(1)).as("n"),
      countDistinct(col("chunk_text")).as("u")).head
    row.getLong(0) - row.getLong(1)
  }

  /** §3 synthetic second decade: 10 copies of the given corpus, copy
    * r > 0 perturbed at every token position p with
    * (p + doc_id + r) mod 17 == 0 (replaced by a copy-specific token —
    * no RNG), giving each doc ~9 true near-dups at bigram-Jaccard
    * ≈ 0.75. Copy r's doc ids shift by r * 1_000_000 so ids stay
    * unique and packable. */
  def synthesize10x(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val copies = spark.range(0, 10).select(col("id").cast("int").as("r"))
    docs.crossJoin(broadcast(copies))
      .select(
        (col("doc_id") + col("r") * lit(1000000L)).as("doc_id"),
        when(col("r") === 0, col("text")).otherwise(
          concat_ws(" ",
            zip_with(
              split(col("text"), " "),
              sequence(lit(0), size(split(col("text"), " ")) - 1),
              (tok, p) => when((p + col("doc_id") + col("r")) % 17 === 0,
                concat(lit("zq"), col("r").cast("string"), lit("x"), p.cast("string")))
                .otherwise(tok)))).as("text"))
  }

  /** Per-round scale artifact (SCALE_r{N}.json): the §3 second-decade
    * evidence as ONE machine-readable JSON line, produced by this
    * committed tool so every round can re-pin the scale paths above
    * sf0.1 (r9 verdict: the one-shot §3 numbers had no tripwire — a
    * regression in minhash/wide-simhash/chunk banding above contract
    * scale would go unnoticed until a manual re-audit). Candidate and
    * pair COUNTS are the durable signal (exact rows, immune to host
    * throttling); walls ride along for context only. Diff the counts
    * against the previous round's artifact — any drift means a banding
    * or cap change and must be explained in SCALING.md. */
  private def scaleJson(spark: SparkSession, dir: String, outFile: String): Unit = {
    import graft.llm.TextAnalysis
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val big = Cached.keep(synthesize10x(base).repartition(64))
    val n = big.count()
    def timedCount(mk: => org.apache.spark.sql.DataFrame)(cnt: org.apache.spark.sql.DataFrame => Long): (Long, Double) = {
      val t0 = System.nanoTime()
      val df = mk
      val c = cnt(df)
      val w = (System.nanoTime() - t0) / 1e9
      df.unpersist(false)
      (c, w)
    }
    val candJac = jaccardCandidates(big, JacDfCap)
    val candMh = minhashCandidates(big)
    val candSw = simhashCandidates(Dedup.simhashWide(big), 4, 15)
    val candWn = winnowCandidates(big, 64L)
    val dup10 = dupChunks(big, 10)
    val (mhPairs, mhW) = timedCount(Dedup.minhashPairs(big, 0.5))(_.count())
    val (swPairs, swW) = timedCount(Dedup.simhashPairsWide(big, 2))(_.count())
    val (jacPairs, jacW) = timedCount(Dedup.jaccardPairs(big, 0.5, JacDfCap))(_.count())
    val (chunkKept, ckW) = timedCount(TextAnalysis.chunkDedup(big, 10))(
      _.agg(coalesce(sum(col("n_kept")), lit(0L))).head.getLong(0))
    // round-11 scale paths. BPE trainer: vocab-bounded rounds at the
    // second decade; the MERGE TABLE is the durable signal — any drift
    // means the pair counting or the greedy apply changed semantics.
    val bpeT0 = System.nanoTime()
    val bpeSig = TextAnalysis.bpeTrain(big, 6).orderBy(col("rn")).collect()
      .map(r => s"${r.getString(1)}+${r.getString(2)}=${r.getLong(3)}").mkString(",")
    val bpeW = (System.nanoTime() - bpeT0) / 1e9
    // bloom membership: exact dup-verdict count is layout/sizing-free
    val blT0 = System.nanoTime()
    val bloomDups = Dedup.bloomDedup(
      big.filter(col("doc_id") % 5 === 0), big.filter(col("doc_id") % 5 =!= 0),
      200000L, 1600000L).filter(col("is_dup")).count()
    val bloomW = (System.nanoTime() - blT0) / 1e9
    // round-12 edit family: candidates are the SAME band collisions as
    // cand_minhash (tripwired above); the edit-specific durable signal
    // is the verified-pair count at a fixed distance budget — drift
    // means the thresholded-DP verification or the probe changed. The
    // budget 100 bounds the banded DP's per-candidate cost at the
    // second decade (the cost claim under audit), and the synthetic
    // perturbation (~1/17 tokens swapped for ~6-char markers) puts the
    // planted copies' distances astride it, so BOTH the accept and the
    // -1-reject branch carry weight in the count.
    val (edPairs, edW) = timedCount(Dedup.editPairs(big, 100))(_.count())
    val incrT0 = System.nanoTime()
    val incrEdPairs = Dedup.incrementalEditPairs(
      big.filter(col("doc_id") % 5 === 0), big.filter(col("doc_id") % 5 =!= 0),
      100).count()
    val incrEdW = (System.nanoTime() - incrT0) / 1e9
    // round-12 tripwires. Forget cascade: the sweep size for a fixed
    // 10-request slice — drift means the probe or the verify moved.
    val fgT0 = System.nanoTime()
    val forgetRows = Dedup.deleteCascade(big,
      big.filter(col("doc_id") % (n / 10) === 0).select(col("doc_id")), 0.5).count()
    val fgW = (System.nanoTime() - fgT0) / 1e9
    // Leakage-safe split: straddling minhash pairs MUST be 0 at every
    // scale — counted, not asserted, so the invariant is a bit in the
    // artifact diff rather than an exception.
    val ssT0 = System.nanoTime()
    val ssPairs = Cached.keep(Dedup.minhashPairs(big, 0.5).select(col("da"), col("db")))
    val ssSplit = Dedup.leakageSafeSplit(big,
      graft.ops.ConnectedComponents.dedupClusters(ssPairs))
    val ssA = ssSplit.select(col("doc_id").as("da"), col("split").as("sa"))
    val ssB = ssSplit.select(col("doc_id").as("db"), col("split").as("sb"))
    val ssCross = ssPairs.join(ssA, Seq("da")).join(ssB, Seq("db"))
      .filter(col("sa") =!= col("sb")).count()
    ssPairs.unpersist()
    val ssW = (System.nanoTime() - ssT0) / 1e9
    // Length-TV fingerprint: Σ per-source l1 is an exact BIGINT summary
    // of the synthesized corpus's per-source length distributions.
    val tvT0 = System.nanoTime()
    val bigSrc = big.withColumn("source", concat(lit("s"), col("doc_id") % 16))
    val tvL1 = TextAnalysis.sourceLengthDrift(bigSrc, 20L, 10)
      .agg(coalesce(sum(col("l1")), lit(0L))).head.getLong(0)
    val tvW = (System.nanoTime() - tvT0) / 1e9
    // Media frame near-dup: shared-frame verified pairs under the
    // df-capped digest index (payload = text, the contract's stub
    // world). Drift means the frame digesting, the stop-frame cap, or
    // the pair aggregation changed; the candidate space is bounded by
    // the cap, the cost claim under audit.
    val (fnPairs, fnW) = timedCount(
      graft.llm.Multimodal.frameNearDup(big, "doc_id", "text", 2, 16L, 2L))(_.count())
    // Incremental semantic dedup at the synthesized embedding decade:
    // batch (vec_id % 5 == 0) vs corpus, 32 corpus-seeded coarse cells.
    // The pair count tripwires the cell assignment + same-cell pruning.
    val embBase = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val embBig = Cached.result(synthesizeEmb10x(embBase))
    val semCoarse = embBase.select(col("vec_id")).orderBy(col("vec_id"))
      .collect().map(_.getLong(0)).filter(_ % 5 != 0).take(32).toSeq
    val isT0 = System.nanoTime()
    val semPairs = graft.llm.Similarity.incrementalCosinePairs(
      embBig.filter(col("vec_id") % 5 === 0), embBig.filter(col("vec_id") % 5 =!= 0),
      semCoarse, 0.4).count()
    val isW = (System.nanoTime() - isT0) / 1e9
    // Round-15 vector families at the embedding decade. Persisted
    // IVF-PQ index: encode the decade against base-corpus quantizers,
    // write the cell-partitioned store, probe 3 queries — Σ neighbor_id
    // fingerprints the whole encode/store/probe chain (integers only,
    // so the store round-trip cannot move it). Medoids: Σ medoid vec_id
    // over base-seeded cells fingerprints the shuffle-free argmin.
    val aiT0 = System.nanoTime()
    val aiQuant = graft.llm.Similarity.trainIvfPqQuantizer(
      embBig, Seq(7L, 123L, 247L, 331L, 433L), Seq(11L, 57L, 201L, 401L), 4)
    val aiDir = tmpDir("graft_scale_annidx")
    graft.llm.Similarity.writeIvfPqIndex(embBig, aiQuant, aiDir)
    val aiHits = graft.llm.Similarity.ivfPqProbe(
        graft.llm.Similarity.readIvfPqIndex(spark, aiDir), aiQuant,
        graft.llm.Similarity.collectVectors(embBig, Seq(0L, 1L, 2L)),
        nprobe = 2, k = 10)
      .agg(coalesce(sum(col("neighbor_id")), lit(0L))).head.getLong(0)
    val aiW = (System.nanoTime() - aiT0) / 1e9
    // Round-17 MMR at the embedding decade: pool 64 / k 16 (4-5x the
    // contract depth, so the greedy runs 16 penalty rounds over a
    // 64-candidate pool). Σ sel_rank·neighbor_id fingerprints the pool
    // RANKING and the selection ORDER in one BIGINT — a drift in the
    // cosine kernel, the TakeOrderedAndProject pool cut, or the greedy
    // tie-break all move it.
    val mmT0 = System.nanoTime()
    val mmrOrderSum = graft.llm.Similarity
      .mmrRerank(embBig, 0L, poolN = 64, k = 16, lambda = 0.7)
      .select(col("sel_rank"), col("neighbor_id")).collect()
      .map(r => r.getLong(0) * r.getLong(1)).sum
    val mmW = (System.nanoTime() - mmT0) / 1e9
    // Round-17 PRF at the document decade: the expansion term signature
    // (term=w pairs — exact integers) and the Σ doc_id of the expanded
    // re-query's top-10 fingerprint the feedback loop, the integer
    // weight, and the second-pass scoring in two durable values.
    val prT0 = System.nanoTime()
    val prfSeed = Seq("spark", "window", "customer", "filter")
    val prfSig = TextAnalysis.prfExpansionTerms(big, prfSeed, 5, 3)
      .orderBy(col("w").desc, col("term")).collect()
      .map(r => s"${r.getString(0)}=${r.getLong(2)}").mkString(",")
    val prfDocsum = TextAnalysis.bm25Prf(big, prfSeed, 5, 3, 10)
      .agg(coalesce(sum(col("doc_id")), lit(0L))).head.getLong(0)
    val prW = (System.nanoTime() - prT0) / 1e9
    val mdT0 = System.nanoTime()
    val mdCoarse = embBase.filter(col("vec_id").isin(11L, 57L, 201L, 401L))
      .select(col("vec_id").as("cell_id"),
        col("embedding").cast("array<double>").as("cvec"))
    val medoidSum = graft.llm.Similarity.cellMedoids(embBig, mdCoarse)
      .agg(coalesce(sum(col("medoid_id")), lit(0L))).head.getLong(0)
    val mdW = (System.nanoTime() - mdT0) / 1e9
    // Round-18 binary ANN at the embedding decade: Σ rn·neighbor_id
    // over the Hamming top-10 of 3 queries fingerprints the sign-bit
    // packing, the XOR-popcount kernel, and the (hamming, id) tie-break
    // in one BIGINT (integers end to end — the store round-trip cannot
    // move it). Hard negatives ride the same corpus with synthesized
    // labels (vec_id % 7): Σ neighbor_id fingerprints the label-
    // inequality ranking. The recall fingerprint Σ n_found pins how
    // many exact-cosine neighbors the sign bits keep at the decade.
    val hmT0 = System.nanoTime()
    val hamRankSum = graft.llm.Similarity.hammingTopK(embBig, Seq(0L, 1L, 2L), 10)
      .agg(coalesce(sum(col("rn") * col("neighbor_id")), lit(0L))).head.getLong(0)
    val hamFound = graft.llm.Similarity.hammingRecall(embBig, Seq(0L, 1L, 2L), 10)
      .agg(coalesce(sum(col("n_found")), lit(0L))).head.getLong(0)
    val hnSum = graft.llm.Similarity.hardNegatives(
        embBig.withColumn("label", (col("vec_id") % 7).cast("int")),
        Seq(0L, 1L, 2L), 10)
      .agg(coalesce(sum(col("neighbor_id")), lit(0L))).head.getLong(0)
    val hmW = (System.nanoTime() - hmT0) / 1e9
    // Retrieval-eval fingerprints at the decade (labels vec_id % 7):
    // Σ n_rel over the 3 queries for the exact-cosine and the Hamming
    // rankings — exact BIGINTs pinning ranking membership against the
    // label qrels through the whole metric fold.
    val evT0 = System.nanoTime()
    val evLabeled = embBig.withColumn("label", (col("vec_id") % 7).cast("int"))
    val evQrels = graft.llm.Similarity.labelQrels(evLabeled, Seq(0L, 1L, 2L))
    def relSum(ranked: DataFrame): Long =
      graft.llm.Similarity.retrievalEval(
          ranked.select(col("query_id"), col("neighbor_id"), col("rn")),
          evQrels, 10)
        .agg(coalesce(sum(col("n_rel")), lit(0L))).head.getLong(0)
    val evalRelExact = relSum(
      graft.llm.Similarity.bruteForceTopKRanked(embBig, Seq(0L, 1L, 2L), 10))
    val evalRelHamming = relSum(
      graft.llm.Similarity.hammingTopK(embBig, Seq(0L, 1L, 2L), 10))
    val evW = (System.nanoTime() - evT0) / 1e9
    // Cross-store presence audit at the decade: two synthetic membership
    // slices (ids % 3 <= 1 vs % 5 != 0) — Σ n·(2·in_a + in_b) is an
    // exact weighted fingerprint of every combination count.
    val psT0 = System.nanoTime()
    val presenceSum = graft.ops.StoreAudit.presence(Seq(
        "a" -> embBig.filter(col("vec_id") % 3 <= 1),
        "b" -> embBig.filter(col("vec_id") % 5 =!= 0)), "vec_id")
      .collect().map { r =>
        r.getLong(2) * ((if (r.getBoolean(0)) 2L else 0L) +
          (if (r.getBoolean(1)) 1L else 0L))
      }.sum
    val psW = (System.nanoTime() - psT0) / 1e9
    // Round-17 families. Lexical index LIFECYCLE at the decade: 8 ingest
    // batches, probe, OPTIMIZE (compact + vacuum), probe again — Σ doc_id
    // of the ranked top-10 fingerprints the postings/stats round-trip and
    // is emitted from BOTH sides of the compaction so the artifact diff
    // itself carries the bitwise-lifecycle invariant; postings file
    // counts collapse is the OPTIMIZE claim (walls for context).
    def pqFileCount(p: String): Long = {
      val root = new org.apache.hadoop.fs.Path(p)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(root, true)
      var c = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) c += 1 }
      c
    }
    val lxTerms = Seq("spark", "window", "customer", "filter")
    val lxDir = tmpDir("graft_scale_lex")
    val lxIngT0 = System.nanoTime()
    for (b <- 0 until 8)
      graft.streaming.LexIngest.ingestBatch(
        big.filter(col("doc_id") % 8 === b), lxDir, b.toLong)
    val lxIngW = (System.nanoTime() - lxIngT0) / 1e9
    val lxFilesBefore = pqFileCount(s"$lxDir/postings")
    def lxProbeSum(): Long = graft.streaming.LexIngest
      .probe(spark, lxDir, lxTerms, 10)
      .agg(coalesce(sum(col("doc_id")), lit(0L))).head.getLong(0)
    val lxPreT0 = System.nanoTime()
    val lxPre = lxProbeSum()
    val lxPreW = (System.nanoTime() - lxPreT0) / 1e9
    val lxCmpT0 = System.nanoTime()
    graft.streaming.LexIngest.compact(spark, lxDir)
    graft.streaming.LexIngest.vacuum(spark, lxDir)
    val lxCmpW = (System.nanoTime() - lxCmpT0) / 1e9
    val lxFilesAfter = pqFileCount(s"$lxDir/postings")
    val lxPostT0 = System.nanoTime()
    val lxPost = lxProbeSum()
    val lxPostW = (System.nanoTime() - lxPostT0) / 1e9
    // Hybrid retrieval at the decade: the decade BM25 ranking fused with
    // the persisted IVF-PQ index's ADC ranking for query 0 — Σ
    // neighbor_id over the fused top-5 fingerprints the cross-modality
    // RRF composition end-to-end (rank joins + integer-division score).
    val hyT0 = System.nanoTime()
    val hyLex = TextAnalysis.bm25TopDocs(big, lxTerms, 10)
      .select(lit(0L).as("query_id"), col("doc_id").as("neighbor_id"), col("rn"))
    val hySem = graft.llm.Similarity.ivfPqProbe(
        graft.llm.Similarity.readIvfPqIndex(spark, aiDir), aiQuant,
        graft.llm.Similarity.collectVectors(embBig, Seq(0L)), nprobe = 2, k = 10)
      .select(col("query_id"), col("neighbor_id"), col("rn"))
    val hySum = graft.llm.Similarity.rrfFuse(hyLex, hySem, 60, 5)
      .agg(coalesce(sum(col("neighbor_id")), lit(0L))).head.getLong(0)
    val hyW = (System.nanoTime() - hyT0) / 1e9
    // Round-18 families — the STORE-COMPLETE served tail at the decade.
    // Quantizer round-trip: the decade index probed THROUGH the
    // read-back model; the docsum must EQUAL ann_indexed_hits, so the
    // artifact diff itself carries the read∘write identity.
    val qtT0 = System.nanoTime()
    val qtDir = tmpDir("graft_scale_quant")
    graft.llm.Similarity.writeIvfPqQuantizer(spark, aiQuant, qtDir)
    val qtBack = graft.llm.Similarity.readIvfPqQuantizer(spark, qtDir)
    val qtHits = graft.llm.Similarity.ivfPqProbe(
        graft.llm.Similarity.readIvfPqIndex(spark, aiDir), qtBack,
        graft.llm.Similarity.collectVectors(embBig, Seq(0L, 1L, 2L)),
        nprobe = 2, k = 10)
      .agg(coalesce(sum(col("neighbor_id")), lit(0L))).head.getLong(0)
    val qtW = (System.nanoTime() - qtT0) / 1e9
    // Refine-store fetch: ADC top-20 per query re-ranked EXACTLY with
    // vectors fetched from a persisted float-vector store's liveView —
    // Σ rn·neighbor_id fingerprints the exact ranking AND the store
    // fetch in one BIGINT (store bits ≡ corpus bits, so a drift means
    // the lifecycle moved a vector).
    val rsT0 = System.nanoTime()
    val rsDir = tmpDir("graft_scale_vecs")
    for (b <- 0 until 4)
      graft.streaming.VecStoreIngest.ingestBatch(
        embBig.filter(col("vec_id") % 4 === b), rsDir, b.toLong)
    val rsVecs = graft.streaming.VecStoreIngest.view(spark, rsDir)
    val rsCands = graft.llm.Similarity.ivfPqProbe(
        graft.llm.Similarity.readIvfPqIndex(spark, aiDir), qtBack,
        graft.llm.Similarity.collectVectors(rsVecs, Seq(0L, 1L, 2L)),
        nprobe = 2, k = 20)
      .select(col("query_id"), col("neighbor_id"))
    val rsSum = graft.llm.Similarity.refineExact(rsVecs, rsCands, Seq(0L, 1L, 2L), 5)
      .agg(coalesce(sum(col("rn") * col("neighbor_id")), lit(0L))).head.getLong(0)
    val rsW = (System.nanoTime() - rsT0) / 1e9
    // Chunk-level index with CASCADE forget at the decade: the decade's
    // ~10x chunk corpus ingests in 4 parent-keyed batches, two parents
    // cascade-forget (every chunk of each must mark), and the post-
    // forget probe docsum tripwires the surviving-chunk constants.
    val ciT0 = System.nanoTime()
    val ciDir = tmpDir("graft_scale_chunk")
    val bigChunks = TextAnalysis.ragChunks(big, 30, 10)
      .select(col("doc_id").as("parent_id"),
        (col("doc_id") * 100000L + col("chunk_id")).as("doc_id"),
        col("chunk").as("text"))
    for (b <- 0 until 4)
      graft.streaming.LexIngest.ingestBatch(
        bigChunks.filter(col("parent_id") % 4 === b)
          .select(col("doc_id"), col("text")),
        ciDir, b.toLong)
    graft.streaming.LexIngest.markDeletedCascade(
      spark, ciDir, Seq(87L, 102L), keyDiv = 100000L)
    val ciMarked = graft.streaming.StoreCompaction
      .deletedIds(spark, s"$ciDir/stats").count()
    val ciSum = graft.streaming.LexIngest.probe(spark, ciDir, lxTerms, 10)
      .agg(coalesce(sum(col("doc_id")), lit(0L))).head.getLong(0)
    val ciW = (System.nanoTime() - ciT0) / 1e9
    // Round-19 families. Frozen-corpus lex snapshot at the decade: the
    // chunk store (4 parent-keyed batches, cascade forget already
    // marked) exports "as of batch 1" as a standalone clone. The
    // clone's probe docsum fingerprints the postings/stats/stats_agg
    // snapshot rewrite AND the retroactive cascade subtraction in one
    // BIGINT — note it may legitimately EQUAL chunk_probe_docsum: the
    // copy-id shift is ≡ 0 mod 4, so every near-copy of a base doc
    // shares its batch, the top-10 set can survive the halving intact,
    // and the docsum is order-invariant over the set. The membership
    // restriction itself is pinned by the clone's EXACT corpus
    // constants (n, Σdl) from the rebuilt stats_agg cache — an as-of
    // that silently stopped restricting would double them. The source
    // then compacts past the snapshot and the clone is re-probed:
    // equality is asserted HERE, so the emitted values also carry the
    // immune-to-source-maintenance invariant.
    val lxExpT0 = System.nanoTime()
    val ceDir = tmpDir("graft_scale_lexsnap")
    graft.streaming.LexIngest.exportAsOf(spark, ciDir, 1L, s"$ceDir/snap")
    def ceProbeSum(): Long = graft.streaming.LexIngest
      .probe(spark, s"$ceDir/snap", lxTerms, 10)
      .agg(coalesce(sum(col("doc_id")), lit(0L))).head.getLong(0)
    val lexExportSum = ceProbeSum()
    graft.streaming.LexIngest.compact(spark, ciDir)
    graft.streaming.LexIngest.vacuum(spark, ciDir)
    val lexExportAfter = ceProbeSum()
    require(lexExportSum == lexExportAfter,
      s"lex snapshot moved under source compaction: $lexExportSum -> $lexExportAfter")
    val (ceN, ceSumdl) = graft.streaming.LexIngest.corpusStats(spark, s"$ceDir/snap")
    val lxExpW = (System.nanoTime() - lxExpT0) / 1e9
    // Served + as-of eval at the decade, extending the eval_relsum
    // tripwires to the production path: the refine-store ranking (ADC
    // propose through the READ-BACK quantizer, exact refine fetching
    // from the persisted vec store) graded against the same decade
    // label qrels; and the same grader against the vec store AS OF
    // batch 2, ranking and qrels both restricted to the snapshot
    // membership (vec_id % 4 <= 2, the rsDir ingest split).
    val evSvT0 = System.nanoTime()
    val evalRelServed = relSum(
      graft.llm.Similarity.refineExact(rsVecs, rsCands, Seq(0L, 1L, 2L), 10))
    val evalRelAsof = graft.llm.Similarity.retrievalEval(
        graft.llm.Similarity.bruteForceTopKRanked(
            graft.streaming.VecStoreIngest.viewAsOf(spark, rsDir, 2L),
            Seq(0L, 1L, 2L), 10)
          .select(col("query_id"), col("neighbor_id"), col("rn")),
        graft.llm.Similarity.labelQrels(
          evLabeled.filter(col("vec_id") % 4 <= 2), Seq(0L, 1L, 2L)), 10)
      .agg(coalesce(sum(col("n_rel")), lit(0L))).head.getLong(0)
    val evSvW = (System.nanoTime() - evSvT0) / 1e9
    // Composite ANN snapshot at the decade: a 4-batch INGEST-built
    // IVF-PQ store (same frozen quantizer) forgets two ids, exports
    // "as of batch 2" (codes rewritten cell-partitioned + the model
    // artifact, one root rename), and the clone is probed through ITS
    // OWN stored quantizer — Σ rn·neighbor_id over the top-10 of 3
    // queries fingerprints the snapshot membership AND the model
    // round-trip in one BIGINT; the clone's committed row count pins
    // membership size directly (3/4 of the decade corpus minus the two
    // erased — a non-restricting as-of would inflate it by a third).
    // The immune-to-source-compaction invariant is hard-asserted.
    val aeT0 = System.nanoTime()
    val aeDir = tmpDir("graft_scale_annexp")
    for (b <- 0 until 4)
      graft.streaming.VectorIndexIngest.ingestBatch(
        embBig.filter(col("vec_id") % 4 === b), s"$aeDir/idx", aiQuant, b.toLong)
    graft.streaming.StoreCompaction.markDeleted(spark, s"$aeDir/idx", Seq(5L, 18L))
    graft.streaming.VectorIndexIngest.exportAsOf(
      spark, s"$aeDir/idx", 2L, s"$aeDir/snap")
    def aeProbeSum(): Long = graft.llm.Similarity.ivfPqProbe(
        graft.streaming.VectorIndexIngest.index(spark, s"$aeDir/snap"),
        graft.streaming.VectorIndexIngest.quantizer(spark, s"$aeDir/snap"),
        graft.llm.Similarity.collectVectors(embBig, Seq(0L, 1L, 2L)),
        nprobe = 2, k = 10)
      .agg(coalesce(sum(col("rn") * col("neighbor_id")), lit(0L))).head.getLong(0)
    val annExportSum = aeProbeSum()
    val annExportRows = graft.streaming.StoreCompaction
      .committedView(spark, s"$aeDir/snap").count()
    graft.streaming.StoreCompaction.compact(
      spark, s"$aeDir/idx", Seq("cell_id"), deleteIdCol = Some("vec_id"))
    graft.streaming.StoreCompaction.vacuum(spark, s"$aeDir/idx")
    val annExportAfter = aeProbeSum()
    require(annExportSum == annExportAfter,
      s"ANN snapshot moved under source compaction: $annExportSum -> $annExportAfter")
    val aeW = (System.nanoTime() - aeT0) / 1e9
    for (tmp <- Seq(lxDir, aiDir, qtDir, rsDir, ciDir, ceDir, aeDir)) {
      try {
        val p = new org.apache.hadoop.fs.Path(tmp)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      } catch { case _: Throwable => () }
    }
    embBig.unpersist()
    // Dedup-aware effective token volume: Σ keeper-only tokens at the
    // decade — fingerprints the cluster closure + token arithmetic
    // stacked on the pairs_minhash tripwire above.
    val etT0 = System.nanoTime()
    val etClusters = graft.ops.ConnectedComponents.dedupClusters(
      Dedup.minhashPairs(big, 0.5).select(col("da"), col("db")))
    val effTokens = big
      .join(etClusters.filter(col("doc_id") =!= col("keep_id"))
        .select(col("doc_id")), Seq("doc_id"), "left_anti")
      .agg(coalesce(sum(size(split(col("text"), " ")).cast("long")), lit(0L)))
      .head.getLong(0)
    val etW = (System.nanoTime() - etT0) / 1e9
    // Round-13 families. Perceptual-hash media near-dup: banded pHash
    // verified-pair count at the decade (payload = text, the contract's
    // stub world) — drift means the majority-vote signature, the
    // 4×15-bit chunk banding, or the hamming verification changed.
    val (phPairs, phW) = timedCount(
      graft.llm.Multimodal.phashPairs(big, "doc_id", "text", 2, 3))(_.count())
    // Hashed-profile topic drift: Σ dot and Σ na2 across the 16
    // synthetic sources are exact partition-order-invariant BIGINTs
    // (the cosine is derived from them) — the drift-profile tripwire.
    val hdT0 = System.nanoTime()
    val hd = TextAnalysis.hashedSourceDrift(bigSrc, 8)
      .agg(coalesce(sum(col("dot")), lit(0L)).as("d"),
        coalesce(sum(col("na2")), lit(0L)).as("a")).head
    val (hdDot, hdNa2) = (hd.getLong(0), hd.getLong(1))
    val hdW = (System.nanoTime() - hdT0) / 1e9
    // KS beside TV from the same histograms: Σ per-source ks_num, the
    // exact cross-multiplied worst-CDF-gap summary.
    val ksT0 = System.nanoTime()
    val ksNumSum = TextAnalysis.sourceLengthKs(bigSrc, 20L, 10)
      .agg(coalesce(sum(col("ks_num")), lit(0L))).head.getLong(0)
    val ksW = (System.nanoTime() - ksT0) / 1e9
    // Round-14 families. Bursting terms with the batch spine scaled to
    // the decade (10 batches of 5000 docs): burst-row count fingerprints
    // the cross-multiplied rate test end-to-end.
    val (burstRows, buW) = timedCount(
      TextAnalysis.burstTerms(big, 5000L, 4L, 1L))(_.count())
    // SCD2 merge over a synthesized decade-sized dimension (key = doc,
    // change batch = no-op/changed/new thirds): the output row count
    // fingerprints the close/insert/pass arithmetic at scale.
    val scT0 = System.nanoTime()
    val dim0 = big.select(col("doc_id").as("key"),
      substring(col("text"), 1, 8).as("seg"),
      (col("doc_id") % 97).cast("long").as("nat"))
    val scHist = dim0.select(col("key"), col("seg"), col("nat"),
      lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"),
      lit(true).as("is_current"))
    val scChg = dim0.select(
      when(col("key") % 3 === 2, col("key") + 10000000L)
        .otherwise(col("key")).as("key"),
      when(col("key") % 3 === 1, concat(col("seg"), lit("_X")))
        .when(col("key") % 3 === 2, lit("NEW"))
        .otherwise(col("seg")).as("seg"),
      col("nat"))
    val scdRows = graft.ops.ScdMerge.merge(
      scHist, scChg, "key", Seq("seg", "nat"), 1L).count()
    val scW = (System.nanoTime() - scT0) / 1e9
    // Round-15 text families. Span removal: Σ n_dropped at the decade
    // fingerprints the gram-min aggregate + coverage-union arithmetic
    // (the synthesized copies share most 12-grams, so this exercises the
    // dense-duplication regime the operator exists for).
    val srT0 = System.nanoTime()
    val spanOut = Dedup.removeDuplicateSpans(big, 12)
    val spanDropped = spanOut
      .agg(coalesce(sum(col("n_dropped")), lit(0L))).head.getLong(0)
    spanOut.unpersist(false)
    val srW = (System.nanoTime() - srT0) / 1e9
    // ... and its incremental twin against the settled 4/5 of the decade:
    // the batch side grams only itself, the corpus side is the one-column
    // gram index — the ingest-path cost claim under audit.
    val siT0 = System.nanoTime()
    val spanIncrOut = Dedup.removeCorpusSpans(
      big.filter(col("doc_id") % 5 === 0),
      Dedup.spanIndexRows(big.filter(col("doc_id") % 5 =!= 0), 12), 12)
    val spanIncrDropped = spanIncrOut
      .agg(coalesce(sum(col("n_dropped")), lit(0L))).head.getLong(0)
    spanIncrOut.unpersist(false)
    val siW = (System.nanoTime() - siT0) / 1e9
    // Mixed-language detection: the count of docs whose 20-token chunks
    // disagree on language fingerprints the chunk-vote + window fold.
    val mlT0 = System.nanoTime()
    val mixedRows = TextAnalysis.mixedLanguageDocs(big, 20)
      .filter(col("n_major") < col("n_chunks")).count()
    val mlW = (System.nanoTime() - mlT0) / 1e9
    // Unigram-LM trainer at the decade (contract params: vocab 500,
    // pieces <= 4 chars, 2 hard-EM rounds): the vocab row count, the
    // Σn over the trained table, and the top-6 (piece=n) signature
    // fingerprint the seed-prune + EM + Viterbi composition — a drift
    // in any of them means the segmentation changed above contract
    // scale. Encode rides along: Σ subtokens over the corpus.
    val ugT0 = System.nanoTime()
    val ugVocab = TextAnalysis.unigramLmTrain(big, 500, 4, 2)
      .orderBy(col("rn")).collect().map(r => (r.getString(1), r.getLong(2)))
    val ugSig = ugVocab.take(6)
      .map { case (p, c) => s"$p=$c" }.mkString(",")
    val ugNSum = ugVocab.map(_._2).sum
    val ugEnc = TextAnalysis.unigramLmEncode(big, 500, 4, 2)
    val ugSubtok = ugEnc.agg(coalesce(sum(col("n_subtokens")), lit(0L)))
      .head.getLong(0)
    ugEnc.unpersist(false)
    val ugW = (System.nanoTime() - ugT0) / 1e9
    // Corpus-card diff over a derived release pair at the decade: the
    // per-source report row count and Σ token_delta fingerprint the
    // band + card + delta composition (all exact BIGINTs).
    val ccT0 = System.nanoTime()
    val bigCard = bigSrc.withColumn("lang", concat(lit("l"), col("doc_id") % 3))
    val ccOld = bigCard.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v1")))
          .otherwise(col("text")).as("text"), col("source"), col("lang"))
    val ccDiff = graft.analytics.DataQuality.corpusCardDiff(ccOld, bigCard,
      30, 100000, 4.0, 10.0, 2, 0.8)
      .agg(count(lit(1)).as("rows"),
        coalesce(sum(col("token_delta")), lit(0L)).as("td")).head
    val (cardRows, cardTokenDelta) = (ccDiff.getLong(0), ccDiff.getLong(1))
    val ccW = (System.nanoTime() - ccT0) / 1e9
    big.unpersist()
    def d2(x: Double) = String.format(java.util.Locale.ROOT, "%.2f", x: java.lang.Double)
    val json =
      s"""{"artifact":"scale","docs":$n,"src":"$dir",""" +
        s""""cand_jaccard_cap$JacDfCap":$candJac,"cand_minhash":$candMh,""" +
        s""""cand_simhash_wide":$candSw,"cand_winnow_cap64":$candWn,""" +
        s""""dup_chunk10_occurrences":$dup10,""" +
        s""""pairs_minhash":$mhPairs,"pairs_simhash_wide":$swPairs,""" +
        s""""pairs_jaccard_capped":$jacPairs,"chunk10_kept":$chunkKept,""" +
        s""""bpe_merges6":"$bpeSig","bloom_dup_verdicts":$bloomDups,""" +
        s""""pairs_edit100":$edPairs,"pairs_incr_edit100":$incrEdPairs,""" +
        s""""forget_rows10":$forgetRows,"safe_split_cross":$ssCross,""" +
        s""""tv_l1_s16":$tvL1,""" +
        s""""pairs_frame_neardup":$fnPairs,"pairs_incr_sem":$semPairs,""" +
        s""""pairs_phash":$phPairs,"hash_drift_dot":$hdDot,""" +
        s""""hash_drift_na2":$hdNa2,"ks_num_s16":$ksNumSum,""" +
        s""""burst_rows":$burstRows,"scd2_rows":$scdRows,""" +
        s""""eff_tokens":$effTokens,""" +
        s""""ann_indexed_hits":$aiHits,"medoid_vecid_sum":$medoidSum,""" +
        s""""mmr_order_sum":$mmrOrderSum,""" +
        s""""prf_terms":"$prfSig","prf_docsum":$prfDocsum,""" +
        s""""span_drop_tokens":$spanDropped,"span_incr_drop":$spanIncrDropped,""" +
        s""""mixed_lang_rows":$mixedRows,""" +
        s""""card_rows":$cardRows,"card_token_delta":$cardTokenDelta,""" +
        s""""unigram_vocab_rows":${ugVocab.length},"unigram_n_sum":$ugNSum,""" +
        s""""unigram_top6":"$ugSig","unigram_subtokens":$ugSubtok,""" +
        s""""lex_probe_docsum":$lxPre,"lex_probe_docsum_compacted":$lxPost,""" +
        s""""lex_files_before":$lxFilesBefore,"lex_files_after":$lxFilesAfter,""" +
        s""""hybrid_fused_docsum":$hySum,""" +
        s""""quant_probe_docsum":$qtHits,"refine_store_ranksum":$rsSum,""" +
        s""""chunk_cascade_marked":$ciMarked,"chunk_probe_docsum":$ciSum,""" +
        s""""hamming_ranksum":$hamRankSum,"hamming_found10":$hamFound,""" +
        s""""hard_neg_docsum":$hnSum,"presence_weighted":$presenceSum,""" +
        s""""eval_relsum_exact":$evalRelExact,"eval_relsum_hamming":$evalRelHamming,""" +
        s""""lex_export_docsum":$lexExportSum,""" +
        s""""lex_export_n":$ceN,"lex_export_sumdl":$ceSumdl,""" +
        s""""eval_relsum_served":$evalRelServed,"eval_relsum_asof":$evalRelAsof,""" +
        s""""ann_export_ranksum":$annExportSum,"ann_export_rows":$annExportRows,""" +
        s""""walls_s":{"minhash":${d2(mhW)},"simhash_wide":${d2(swW)},""" +
        s""""jaccard":${d2(jacW)},"chunk_dedup":${d2(ckW)},""" +
        s""""bpe_train6":${d2(bpeW)},"bloom_dedup":${d2(bloomW)},""" +
        s""""edit_pairs":${d2(edW)},"incr_edit":${d2(incrEdW)},""" +
        s""""forget":${d2(fgW)},"safe_split":${d2(ssW)},"tv_drift":${d2(tvW)},""" +
        s""""frame_neardup":${d2(fnW)},"incr_sem":${d2(isW)},""" +
        s""""phash":${d2(phW)},"hash_drift":${d2(hdW)},"ks_drift":${d2(ksW)},""" +
        s""""bursts":${d2(buW)},"scd2":${d2(scW)},"eff_tokens":${d2(etW)},""" +
        s""""ann_indexed":${d2(aiW)},"medoids":${d2(mdW)},"mmr":${d2(mmW)},"prf":${d2(prW)},""" +
        s""""span_removal":${d2(srW)},"span_incr":${d2(siW)},"mixed_lang":${d2(mlW)},""" +
        s""""card_diff":${d2(ccW)},"unigram":${d2(ugW)},""" +
        s""""lex_ingest":${d2(lxIngW)},"lex_probe":${d2(lxPreW)},""" +
        s""""lex_compact":${d2(lxCmpW)},"lex_probe_compacted":${d2(lxPostW)},""" +
        s""""hybrid":${d2(hyW)},"quant_roundtrip":${d2(qtW)},""" +
        s""""refine_store":${d2(rsW)},"chunk_index":${d2(ciW)},""" +
        s""""hamming":${d2(hmW)},"presence":${d2(psW)},"eval":${d2(evW)},""" +
        s""""lex_export":${d2(lxExpW)},"eval_served_asof":${d2(evSvW)},""" +
        s""""ann_export":${d2(aeW)}}}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    ()
  }

  /** 10 deterministic near-copies of an embeddings frame (copy r > 0
    * shifts element j by a small id-and-dimension-keyed offset — no
    * RNG): the embedding decade of the scaleJson vector tripwires. */
  private def synthesizeEmb10x(base: DataFrame): DataFrame = {
    val spark = base.sparkSession
    val copies = spark.range(0, 10).select(col("id").cast("int").as("r"))
    base.crossJoin(broadcast(copies))
      .select(
        (col("vec_id") + col("r") * lit(1000000L)).as("vec_id"),
        zip_with(
          col("embedding").cast("array<double>"),
          sequence(lit(0), size(col("embedding")) - 1),
          (x, j) => x + col("r") * ((j + col("vec_id")) % 7 - lit(3)) * lit(0.002))
          .as("embedding"))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && args(0) == "scalejson",
      "usage: ScalingAudit scalejson <sf0.1Dir> <outFile>")
    val spark = SparkSession.builder()
      .appName("graft-scaling-audit")
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.driver.memory", "16g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    scaleJson(spark, args(1), args(2))
    spark.stop()
  }
}

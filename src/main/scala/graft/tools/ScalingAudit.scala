package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Dedup

/** Durable repro for SCALING.md's deterministic candidate-count
  * evidence (§2a, §3). Candidate volume — the number of pair rows a
  * generator's join emits before any verification — is what decides
  * whether a dedup operator survives 100 TB, and unlike CPU timings it
  * is an exact row count: immune to the host-throttling noise this
  * box's measurement notes document. The counts are computed with the
  * operators' OWN building blocks (`Dedup.shingles`/`signatures`/
  * `simhash`/`simhashWide` and the contract caps from SparkEntry), so
  * a refactor of the banding layout shows up here as a changed number.
  *
  * Modes:
  *   candidates <sfDir> [<sfDir>...]   — SCALING.md §2a table per SF
  *   sf1ish <sf0.1Dir>                 — §3: synthesize the 50k-doc
  *     corpus (10 deterministic near-copies of sf0.1's 5000 docs) and
  *     print candidate volumes + found-pair counts for the paths that
  *     survive that decade
  *   annprobe <sfDir>                  — §5: IVF probed-fraction /
  *     recall / crossover probe on a 10x synthetic embedding corpus
  *
  * Run: spark-submit --class graft.tools.ScalingAudit <jar> candidates \
  *        /root/testdata/sf0.01 /root/testdata/sf0.1
  *
  * `scalejson` needs `--driver-memory 8g`: spark-submit's default 1 GB
  * driver heap (the builder's spark.driver.memory is too late to grow
  * a local-mode JVM) OOMs in the round-18 decade-chunk ingest — 32
  * concurrent hash-aggregate tasks over the ~10x chunk postings.
  */
object ScalingAudit {

  // Contract parameters, mirrored from SparkEntry's contract queries.
  private val JacDfCap = 1000L
  private val SubstrN = 12
  private val SubstrDfCap = 16L
  private val TcosDfCap = 64L

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

  /** Word n-gram occurrence rows with 2 <= df <= cap (substringPairs'
    * keep set), paired per gram. */
  private def substringCandidates(docs: DataFrame, n: Int, cap: Long): Long =
    pairsOf(docs
      .select(col("doc_id"), explode(Dedup.ngramShingles(col("text"), n)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("g"))
      .filter(col("g") >= 2 && col("g") <= cap))

  /** tfidfCosinePairs' pair terms: distinct (doc, bigram) rows whose
    * term df is in [2, cap]. */
  private def tfidfCandidates(docs: DataFrame, cap: Long): Long =
    pairsOf(docs
      .select(col("doc_id"),
        explode(coalesce(graft.functions.WordNGrams(col("text"), 2, distinct = false),
          array().cast("array<string>"))).as("tm"))
      .groupBy(col("doc_id"), col("tm")).agg(count(lit(1)).as("tf"))
      .groupBy(col("tm")).agg(count(lit(1)).as("g"))
      .filter(col("g") >= 2 && col("g") <= cap)
      .select(col("g")))

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

  private def candidateTable(spark: SparkSession, dir: String): Unit = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .persist()
    val n = docs.count()
    println(s"== $dir ($n docs) ==")
    println(f"jaccard exact (df cap $JacDfCap):        ${jaccardCandidates(docs, JacDfCap)}%,d")
    println(f"substring n=$SubstrN (df cap $SubstrDfCap):       ${substringCandidates(docs, SubstrN, SubstrDfCap)}%,d")
    println(f"tfidf cosine (df cap $TcosDfCap):          ${tfidfCandidates(docs, TcosDfCap)}%,d")
    println(f"minhash LSH (4x4 bands):          ${minhashCandidates(docs)}%,d")
    println(f"simhash 20-bit (4x5-bit chunks):  ${simhashCandidates(Dedup.simhash(docs), 4, 5)}%,d")
    println(f"simhash wide 60-bit (4x15-bit):   ${simhashCandidates(Dedup.simhashWide(docs), 4, 15)}%,d")
    println(f"dup 10-token chunk occurrences:   ${dupChunks(docs, 10)}%,d")
    println(f"winnow k=3 w=4 (df cap 64):       ${winnowCandidates(docs, 64L)}%,d")
    docs.unpersist()
  }

  /** §3 synthetic second decade: 10 copies of the given corpus, copy
    * r > 0 perturbed at every token position p with
    * (p + doc_id + r) mod 17 == 0 (replaced by a copy-specific token —
    * no RNG), giving each doc ~9 true near-dups at bigram-Jaccard
    * ≈ 0.75. Copy r's doc ids shift by r * 1_000_000 so ids stay
    * unique and packable. */
  def synthesize10x(docs: DataFrame): DataFrame = synthesizeNx(docs, 10)

  /** General form of [[synthesize10x]] — `n` deterministic perturbed
    * copies (the hotsource probe uses larger factors to locate the
    * trim crossover). */
  def synthesizeNx(docs: DataFrame, n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val copies = spark.range(0, n).select(col("id").cast("int").as("r"))
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

  private def sf1ish(spark: SparkSession, dir: String): Unit = {
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val big = synthesize10x(base).persist()
    val n = big.count()
    println(s"== sf1ish: $n docs synthesized from $dir ==")
    println(f"jaccard exact UNCAPPED:           ${jaccardCandidates(big, Long.MaxValue)}%,d")
    println(f"jaccard exact (df cap $JacDfCap):        ${jaccardCandidates(big, JacDfCap)}%,d")
    println(f"minhash LSH (4x4 bands):          ${minhashCandidates(big)}%,d")
    println(f"simhash 20-bit (4x5-bit chunks):  ${simhashCandidates(Dedup.simhash(big), 4, 5)}%,d")
    println(f"simhash wide 60-bit (4x15-bit):   ${simhashCandidates(Dedup.simhashWide(big), 4, 15)}%,d")
    def timed(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"$label: $rows%,d rows in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    timed("minhashPairs >= 0.5 end-to-end") {
      Dedup.minhashPairs(big, 0.5).count()
    }
    timed("simhashPairsWide <= 2 end-to-end") {
      Dedup.simhashPairsWide(big, 2).count()
    }
    timed("jaccardPairs cap 1000 end-to-end") {
      Dedup.jaccardPairs(big, 0.5, JacDfCap).count()
    }
    big.unpersist()
  }

  /** §7 hot-source probe: the tokenBudgetSample vs
    * tokenBudgetSampleTrimmed interleaved A/B on the corpus shape the
    * trim exists for — EVERY document in one source (a pathologically
    * hot crawl domain), so the exact operator's per-source window
    * serializes over the full corpus while the trimmed twin's coarse
    * bucket bound discards all but ≈ budget worth of documents before
    * the serial pass. Interleaved rounds (the box's only trustworthy
    * timing method), kept-set identity checked every round. */
  private def hotsource(spark: SparkSession, dir: String, factor: Int): Unit = {
    import graft.llm.TextAnalysis
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // repartition BEFORE persist: the synthesized frame inherits the
    // base table's few file partitions, which would serialize BOTH
    // pipelines' scans and mask the thing this probe measures (the
    // exact operator's single-partition window pass)
    val hot = synthesizeNx(base, factor).withColumn("source", lit("hot"))
      .repartition(64).persist()
    val n = hot.count()
    val budget = 100000L
    println(s"== hotsource: $n docs (factor $factor), ONE source, budget $budget tokens ==")
    def keptIds(df: org.apache.spark.sql.DataFrame): (Double, Set[Long]) = {
      val t0 = System.nanoTime()
      val ids = df.filter(col("kept")).select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      ((System.nanoTime() - t0) / 1e9, ids)
    }
    var exactWalls = List.empty[Double]
    var trimWalls = List.empty[Double]
    var identical = true
    for (r <- 1 to 3) {
      val (we, ide) = keptIds(TextAnalysis.tokenBudgetSample(hot, Map.empty, budget))
      val (wt, idt) = keptIds(TextAnalysis.tokenBudgetSampleTrimmed(hot, Map.empty, budget))
      exactWalls :+= we; trimWalls :+= wt
      identical &&= (ide == idt)
      println(f"round $r: exact $we%.2f s, trimmed $wt%.2f s, kept ${idt.size}%,d, identical=${ide == idt}")
    }
    val rowsExact = hot.count()
    val rowsTrim = TextAnalysis.tokenBudgetSampleTrimmed(hot, Map.empty, budget).count()
    println(f"window rows: exact $rowsExact%,d vs trimmed $rowsTrim%,d " +
      f"(${rowsExact.toDouble / rowsTrim}%.0fx fewer through the serial pass)")
    println(f"min wall: exact ${exactWalls.min}%.2f s vs trimmed ${trimWalls.min}%.2f s; " +
      s"kept sets identical every round: $identical")
    hot.unpersist()
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
    val big = synthesize10x(base).repartition(64).persist()
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
    val ssPairs = Dedup.minhashPairs(big, 0.5).select(col("da"), col("db")).persist()
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
    val embBig = synthesizeEmb10x(embBase).persist()
    embBig.count()
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

  /** §8 bigram-LM persist/pre-agg A/B: the one persist decision in the
    * codebase that shipped without a measured note (r9 verdict nit #2).
    * Three variants of `bigramLogProbImpl`, interleaved 3 rounds:
    * current (bg persisted), no-persist (bg recomputed by both
    * consumers), pre-agg ((doc_id, prev, cur) counts collapse before
    * the vocab joins; different float-sum shape — adopting it would be
    * a contract change). Output equality is checked every round
    * (rounded grid for pre-agg). */
  private def bigram(spark: SparkSession, dir: String): Unit = {
    import graft.llm.TextAnalysis
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def run(persistBg: Boolean, preAgg: Boolean): (Double, Map[Long, (Long, Option[Double])]) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val out = TextAnalysis.bigramLogProbImpl(docs, 0.9, persistBg, preAgg)
      val m = out.collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      out.unpersist(false)
      ((System.nanoTime() - t0) / 1e9, m)
    }
    var walls = Map("persist" -> List.empty[Double], "nopersist" -> List.empty[Double],
      "preagg" -> List.empty[Double])
    var equalNoPersist = true
    var equalPreAgg = true
    for (r <- 1 to 3) {
      val (wP, mP) = run(persistBg = true, preAgg = false)
      val (wN, mN) = run(persistBg = false, preAgg = false)
      val (wA, mA) = run(persistBg = true, preAgg = true)
      walls = walls.map { case (k, v) => k -> (v :+ (k match {
        case "persist" => wP; case "nopersist" => wN; case _ => wA })) }
      equalNoPersist &&= (mP == mN)
      equalPreAgg &&= (mP == mA)
      println(f"round $r: persist $wP%.2f s, no-persist $wN%.2f s, pre-agg $wA%.2f s " +
        s"(no-persist identical=${mP == mN}, pre-agg grid-identical=${mP == mA})")
    }
    println(f"min wall: persist ${walls("persist").min}%.2f s, " +
      f"no-persist ${walls("nopersist").min}%.2f s, pre-agg ${walls("preagg").min}%.2f s; " +
      s"no-persist identical every round: $equalNoPersist, " +
      s"pre-agg rounded-grid identical every round: $equalPreAgg")
  }

  /** §9 trigram-LM join-shape A/B: rate-tables (3 joins, vocab-side
    * divisions) vs the direct 5-join form, interleaved 3 rounds,
    * outputs compared bitwise every round. */
  private def trigram(spark: SparkSession, dir: String): Unit = {
    import graft.llm.TextAnalysis
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val model = docs.filter(col("doc_id") % 2 === 0)
    // task CPU is the load-invariant discriminator on this box (wall
    // swings 3x; see Bench.scala's listener rationale)
    val cpuNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) { cpuNanos.addAndGet(m.executorCpuTime); () }
      }
    })
    def cpuSnap(): Long = { Thread.sleep(300); cpuNanos.get() }
    def run(rateTables: Boolean): (Double, Double, Map[Long, (Long, Option[Double])]) = {
      spark.catalog.clearCache()
      val c0 = cpuSnap()
      val t0 = System.nanoTime()
      val out = TextAnalysis.trigramBackoffScoreImpl(docs, model, 0.4, rateTables)
      val m = out.collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      out.unpersist(false)
      ((System.nanoTime() - t0) / 1e9, (cpuSnap() - c0) / 1e9, m)
    }
    var rw = List.empty[(Double, Double)]; var dw = List.empty[(Double, Double)]
    var same = true
    for (r <- 1 to 3) {
      val (wr, cr, mr) = run(rateTables = true)
      val (wd, cd, md) = run(rateTables = false)
      rw :+= ((wr, cr)); dw :+= ((wd, cd)); same &&= (mr == md)
      println(f"round $r: rate-tables $wr%.2f s / $cr%.1f cpu-s, " +
        f"direct $wd%.2f s / $cd%.1f cpu-s, identical=${mr == md}")
    }
    println(f"min: rate-tables ${rw.map(_._1).min}%.2f s / ${rw.map(_._2).min}%.1f cpu-s " +
      f"vs direct ${dw.map(_._1).min}%.2f s / ${dw.map(_._2).min}%.1f cpu-s; " +
      s"outputs identical every round: $same")
  }

  /** §5 ANN probe: 10 deterministic near-copies of the SF's embeddings
    * (copy r > 0 shifts element j by a small id-and-dimension-keyed
    * offset — no RNG), 32 coarse cells seeded from the 32 lowest base
    * ids, nprobe 4, k 10, 3 queries. Reports the probed corpus
    * fraction per query, recall@10 vs brute force, and end-to-end
    * wall for both paths. */
  /** 10 deterministic near-copies of an embeddings frame (copy r > 0
    * shifts element j by a small id-and-dimension-keyed offset — no
    * RNG). Shared by annprobe and the scaleJson semantic tripwire. */
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

  private def annprobe(spark: SparkSession, dir: String): Unit = {
    import graft.llm.Similarity
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val big = synthesizeEmb10x(base).persist()
    val n = big.count()
    println(s"== annprobe: $n vectors synthesized from $dir ==")
    val coarseIds = base.select(col("vec_id")).orderBy(col("vec_id")).limit(32)
      .collect().map(_.getLong(0)).toSeq
    val queryIds = coarseIds.take(3).map(_ + 3000000L) // copy-3 twins, not seeds
    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val out = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      out
    }
    val brute = timed("brute-force top-10 (3 queries) end-to-end") {
      Similarity.bruteForceTopK(big, queryIds, 10)
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val ivf = timed("IVF top-10 (32 cells, nprobe 4) end-to-end") {
      Similarity.ivfTopK(big, coarseIds, queryIds, nprobe = 4, k = 10)
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    println(s"recall@10: ${(brute intersect ivf).size}/${brute.size}")
    // probed fraction: corpus share of each query's nprobe nearest cells
    val e = big.select(col("vec_id"), col("embedding").as("vec"))
    val coarse = e.filter(col("vec_id").isin(coarseIds: _*))
      .select(col("vec_id").as("cell_id"), col("vec").as("cvec"))
    val assigned = Similarity.assignCells(e, coarse)
      .groupBy(col("cell_id")).agg(count(lit(1)).as("csize"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val cvecs = coarse.collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1).toArray))
    val qvecs = e.filter(col("vec_id").isin(queryIds: _*)).collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1).toArray))
    qvecs.foreach { case (qid, qv) =>
      val probed = cvecs.map { case (cid, cv) =>
        val d2 = qv.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum
        (d2, cid)
      }.sorted.take(4).map(_._2)
      val frac = probed.map(assigned.getOrElse(_, 0L)).sum.toDouble / n
      println(f"query $qid probed fraction: ${frac * 100}%.1f%%")
    }
    big.unpersist()
  }

  /** Interleaved A/B of probe cost on a fragmented vs compacted
    * streaming-built IVF-PQ store (the StoreCompaction existence
    * measurement): two identical 64-batch ingests, one compacted +
    * vacuumed, probes alternated A,B per round so host throttling hits
    * both sides equally (the §1 lesson — never trust one-sided walls).
    * File counts are the deterministic signal; walls are context. */
  private def compactAb(spark: SparkSession, dir: String): Unit = {
    import graft.llm.Similarity
    import graft.streaming.{StoreCompaction, VectorIndexIngest}
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val quant = Similarity.trainIvfPqQuantizer(
      e, Seq(7L, 123L, 247L, 331L, 433L), Seq(11L, 57L, 201L, 401L), 4)
    val queries = Similarity.collectVectors(e, Seq(0L, 1L, 2L))
    val tmp = java.nio.file.Files.createTempDirectory("graft_compactab").toString
    try {
      for (s <- Seq("a", "b"); b <- 0 until 64)
        VectorIndexIngest.ingestBatch(
          e.filter(col("vec_id") % 64 === b), s"$tmp/$s", quant, b.toLong)
      StoreCompaction.compact(spark, s"$tmp/b", Seq("cell_id"))
      StoreCompaction.vacuum(spark, s"$tmp/b")
      def files(p: String): Int = {
        val root = new org.apache.hadoop.fs.Path(p)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(root, true)
        var n = 0
        while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
        n
      }
      def probe(p: String): (Long, Double) = {
        val t0 = System.nanoTime()
        val hits = Similarity.ivfPqProbe(VectorIndexIngest.index(spark, p),
          quant, queries, nprobe = 2, k = 10).count()
        (hits, (System.nanoTime() - t0) / 1e9)
      }
      probe(s"$tmp/a"); probe(s"$tmp/b") // warm both code paths
      val (wa, wb) = (Seq.newBuilder[Double], Seq.newBuilder[Double])
      var (ha, hb) = (0L, 0L)
      for (_ <- 1 to 5) {
        val (h1, w1) = probe(s"$tmp/a"); ha = h1; wa += w1
        val (h2, w2) = probe(s"$tmp/b"); hb = h2; wb += w2
      }
      require(ha == hb, s"probe results diverged: $ha vs $hb")
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      def d2(x: Double) = String.format(java.util.Locale.ROOT, "%.2f", x: java.lang.Double)
      println(s"""{"artifact":"compactab","files_fragmented":${files(s"$tmp/a")},""" +
        s""""files_compacted":${files(s"$tmp/b")},"probe_hits":$ha,""" +
        s""""probe_med_fragmented_s":${d2(med(wa.result()))},""" +
        s""""probe_med_compacted_s":${d2(med(wb.result()))},""" +
        s""""probe_walls_fragmented":[${wa.result().map(d2).mkString(",")}],""" +
        s""""probe_walls_compacted":[${wb.result().map(d2).mkString(",")}]}""")
    } finally {
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Multi-probe A/B (committed mode `probeab`): over an 8-batch
    * compacted lexical store at the second decade, alternate ONE
    * `bm25ProbeMany` for three query term sets against the THREE
    * single-query probes it replaces, interleaved per round so host
    * throttling hits both sides equally; rankings are checked equal
    * (per query bitwise, the spec-pinned contract) every round. The
    * claim under audit: N queries = one slice scan + one window, not N
    * of each — at the job-floor-dominated local scale the win is the
    * job count itself. */
  private def probeAb(spark: SparkSession, dir: String): Unit = {
    import graft.llm.TextAnalysis
    import graft.streaming.LexIngest
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val big = synthesize10x(base).repartition(64).persist()
    big.count()
    val queries = Seq(
      0L -> Seq("spark", "window", "customer", "filter"),
      1L -> Seq("join", "hash", "merge"),
      2L -> Seq("scan", "sort", "stream", "filter"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_probeab").toString
    try {
      for (b <- 0 until 8)
        LexIngest.ingestBatch(big.filter(col("doc_id") % 8 === b), tmp, b.toLong)
      LexIngest.compact(spark, tmp)
      LexIngest.vacuum(spark, tmp)
      def multi(): (Seq[(Long, Long, Long)], Double) = {
        val t0 = System.nanoTime()
        val rows = LexIngest.probeMany(spark, tmp, queries, 10)
          .orderBy("query_id", "rn").collect()
          .map(r => (r.getLong(0), r.getLong(1),
            java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq
        (rows.map(t => (t._1, t._2, t._3)), (System.nanoTime() - t0) / 1e9)
      }
      def singles(): (Seq[(Long, Long, Long)], Double) = {
        val t0 = System.nanoTime()
        val rows = queries.flatMap { case (qid, ts) =>
          LexIngest.probe(spark, tmp, ts, 10).orderBy("rn").collect()
            .map(r => (qid, r.getLong(0),
              java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
        }
        (rows, (System.nanoTime() - t0) / 1e9)
      }
      multi(); singles() // warm both code paths
      val (wm, ws) = (Seq.newBuilder[Double], Seq.newBuilder[Double])
      for (_ <- 1 to 5) {
        val (rm, w1) = multi(); wm += w1
        val (rs, w2) = singles(); ws += w2
        require(rm == rs, "multi-probe ranking diverged from the single probes")
      }
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      def d2(x: Double) = String.format(java.util.Locale.ROOT, "%.2f", x: java.lang.Double)
      println(s"""{"artifact":"probeab","queries":${queries.size},""" +
        s""""probe_med_multi_s":${d2(med(wm.result()))},""" +
        s""""probe_med_singles_s":${d2(med(ws.result()))},""" +
        s""""probe_walls_multi":[${wm.result().map(d2).mkString(",")}],""" +
        s""""probe_walls_singles":[${ws.result().map(d2).mkString(",")}]}""")
    } finally {
      big.unpersist()
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** §17 quantizer-store A/B: what loading the PUBLISHED model buys a
    * probe session over retraining from raw embeddings — interleaved 5
    * rounds (the repo's A/B discipline), probe results checked
    * bit-identical every round (they must be: the round-trip is exact).
    * The structural point is bigger than the wall delta: the retrain
    * arm needs the raw embeddings table MOUNTED at probe time (at
    * 100 TB, a second copy of the corpus on the serving path); the
    * stored arm reads two K-row parquet tables. */
  private def quantAb(spark: SparkSession, dir: String): Unit = {
    import graft.llm.Similarity
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val coarseIds = Seq(7L, 123L, 247L, 331L, 433L)
    val cbIds = Seq(11L, 57L, 201L, 401L)
    val tmp = java.nio.file.Files.createTempDirectory("graft_quantab").toString
    try {
      val trained = Similarity.trainIvfPqQuantizer(emb, coarseIds, cbIds, 4)
      Similarity.writeIvfPqIndex(emb, trained, s"$tmp/idx")
      Similarity.writeIvfPqQuantizer(spark, trained, s"$tmp/q")
      // query vectors arrive with the request in a served deployment —
      // collected once outside every timed arm
      val queries = Similarity.collectVectors(emb, Seq(0L, 1L, 2L))
      def probeSum(q: graft.llm.IvfPqQuantizer): Long =
        Similarity.ivfPqProbe(Similarity.readIvfPqIndex(spark, s"$tmp/idx"),
            q, queries, nprobe = 2, k = 10)
          .agg(coalesce(sum(col("neighbor_id")), lit(0L))).head.getLong(0)
      val wr = Seq.newBuilder[Double]; val ws = Seq.newBuilder[Double]
      var equal = true
      for (_ <- 1 to 5) {
        val t0 = System.nanoTime()
        val hr = probeSum(Similarity.trainIvfPqQuantizer(emb, coarseIds, cbIds, 4))
        wr += (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val hs = probeSum(Similarity.readIvfPqQuantizer(spark, s"$tmp/q"))
        ws += (System.nanoTime() - t1) / 1e9
        equal &&= (hr == hs)
      }
      def d2(x: Double) = String.format(java.util.Locale.ROOT, "%.2f", x: java.lang.Double)
      println(s"""{"artifact":"quantab","identical_every_round":$equal,""" +
        s""""probe_min_retrain_s":${d2(wr.result().min)},""" +
        s""""probe_min_stored_s":${d2(ws.result().min)},""" +
        s""""walls_retrain":[${wr.result().map(d2).mkString(",")}],""" +
        s""""walls_stored":[${ws.result().map(d2).mkString(",")}]}""")
    } finally {
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** §10 novelty window-vs-join-back skew probe (the r19 ADVICE item):
    * the shipped `novelty` computes shingle df as a count WINDOW over
    * the shingle key, which forgoes map-side partial aggregation and
    * AQE skew splitting — a corpus-universal shingle is ONE unsplittable
    * window partition. This measures that straggler shape where it
    * would bite: the synthesized decade corpus with a boilerplate
    * sentence APPENDED to every document (every one of its bigrams has
    * df = n_docs). Interleaved 3 rounds vs the agg+join-back twin (the
    * pre-r19 shape, rebuilt here tool-side), outputs compared exactly
    * every round; the hot-group size (max df) is printed so the
    * straggler claim is quantified, not asserted. */
  private def noveltyAb(spark: SparkSession, dir: String): Unit = {
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val boiler = "click here to subscribe to our newsletter terms apply"
    val big = synthesize10x(base)
      .select(col("doc_id"), concat(col("text"), lit(" " + boiler)).as("text"))
      .repartition(64).persist()
    val n = big.count()
    val parts = big.sparkSession.sessionState.conf.numShufflePartitions
    // the agg+join-back twin (pre-r19 shape): df aggregated then joined
    // back onto the shingle stream — partial agg + AQE-splittable join
    def joinBackNovelty(docs: DataFrame): DataFrame = {
      val sh = docs.repartition(parts)
        .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("s"))
      val dfr = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      val per = sh.join(dfr, Seq("s"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          count(when(col("df") === 1, 1)).as("n_unique"))
        .select(col("doc_id"), col("n_shingles"), col("n_unique"),
          round(col("n_unique").cast("double") / col("n_shingles"), 4).as("novelty"))
      docs.select(col("doc_id"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
          coalesce(col("n_unique"), lit(0L)).as("n_unique"), col("novelty"))
    }
    val maxDf = big
      .select(explode(Dedup.shingles(col("text"))).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .agg(max(col("df"))).head.getLong(0)
    println(s"== noveltyAb: $n docs, hottest shingle df = $maxDf " +
      s"(one window group spanning ${100.0 * maxDf / n} pct of the corpus) ==")
    // each arm releases only what it cached (`out`): the persisted
    // corpus `big` stays cached across every timed arm
    def run(df: => DataFrame): (Double, Map[Long, (Long, Long)]) = {
      val t0 = System.nanoTime()
      val out = df
      val m = out.select(col("doc_id"), col("n_shingles"), col("n_unique"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      out.unpersist(false)
      ((System.nanoTime() - t0) / 1e9, m)
    }
    var winWalls = List.empty[Double]
    var jbWalls = List.empty[Double]
    var identical = true
    for (r <- 1 to 3) {
      val (ww, mw) = run(graft.llm.TextAnalysis.novelty(big))
      val (wj, mj) = run(joinBackNovelty(big))
      winWalls :+= ww; jbWalls :+= wj
      identical &&= (mw == mj)
      println(f"round $r: window $ww%.2f s, join-back $wj%.2f s, identical=${mw == mj}")
    }
    println(f"min wall: window ${winWalls.min}%.2f s vs join-back ${jbWalls.min}%.2f s; " +
      s"outputs identical every round: $identical")
    big.unpersist()
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScalingAudit " +
      "candidates|sf1ish|annprobe|hotsource|bigram|trigram|scalejson|" +
      "noveltyab|compactab|probeab|quantab <sfDir>... " +
      "(hotsource takes an optional factor, scalejson an <outFile>)")
    val spark = SparkSession.builder()
      .appName("graft-scaling-audit")
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.driver.memory", "16g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args(0) match {
      case "candidates" => args.drop(1).foreach(candidateTable(spark, _))
      case "sf1ish"     => sf1ish(spark, args(1))
      case "annprobe"   => annprobe(spark, args(1))
      case "hotsource"  =>
        hotsource(spark, args(1),
          if (args.length > 2) args(2).toInt else 10)
      case "bigram"     => bigram(spark, args(1))
      case "trigram"    => trigram(spark, args(1))
      case "scalejson"  =>
        require(args.length >= 3, "usage: ScalingAudit scalejson <sf0.1Dir> <outFile>")
        scaleJson(spark, args(1), args(2))
      case "noveltyab"  => noveltyAb(spark, args(1))
      case "compactab"  => compactAb(spark, args(1))
      case "probeab"    => probeAb(spark, args(1))
      case "quantab"    => quantAb(spark, args(1))
      case other        => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}

package graft.llm

import graft.Cached
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, n-gram-heuristic language ID, and
  * document fingerprinting — all pure codegen'd column expressions (no
  * UDFs), so they run inside whole-stage codegen and scale linearly
  * with a single scan of the documents table.
  *
  * Every operator has an exact ANSI-SQL mirror (see SparkEntry.oracleSql):
  * the arithmetic is integer or same-order double, so the DuckDB oracle
  * matches bitwise.
  */
object TextAnalysis {

  /** Whitespace tokens (documents are single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** English stopword list used for the quality score. */
  val Stopwords: Seq[String] = Seq("the", "and", "of", "to", "a", "in", "is", "it", "you", "that")

  /** Per-language stopword lists for the n-gram/stopword-hit language ID.
    * Precedence order (ties -> earlier entry) is part of the contract. */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit"),
    "es" -> Seq("el", "los", "de", "que", "y", "una", "por"),
    "fr" -> Seq("le", "la", "les", "et", "est", "dans", "pour"))

  /** Count of tokens contained in `words`. */
  def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(array(words.map(lit): _*), t)))

  /** doc_id + (n_chars, n_tokens, avg_token_len, stop_ratio, quality).
    * quality = capped-length term + stopword term + word-shape term; the
    * exact formula is arbitrary but contractual (mirrored in SQL). */
  def stats(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val sumLen = aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x)
    val stopRatio = hitCount(toks, Stopwords) / nTok
    val avgLen = sumLen / nTok
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      nTok.cast("long").as("n_tokens"),
      avgLen.as("avg_token_len"),
      stopRatio.as("stop_ratio"),
      (least(lit(1.0), nTok / 100.0) * 0.5 + stopRatio * 0.3 +
        least(lit(1.0), avgLen / 8.0) * 0.2).as("quality"))
  }

  /** The language-ID expression over a text column: argmax of
    * per-language stopword-hit counts with fixed precedence; "und"
    * (undetermined) when no list scores a hit. */
  def langPred(text: Column): Column = {
    val toks = tokens(text)
    val hits = LangStopwords.map { case (lang, words) => lang -> hitCount(toks, words) }
    val anyHit = hits.map(_._2).reduce(_ + _) > 0
    val langs = hits.map(_._1)
    val argmax = hits.zipWithIndex.foldRight(lit("und")) { case (((lang, h), i), els) =>
      val winsAll = langs.zipWithIndex.filter(_._2 != i)
        .map { case (_, j) => h >= hits(j)._2 }
        .reduceOption(_ && _).getOrElse(lit(true))
      when(winsAll, lang).otherwise(els)
    }
    when(anyHit, argmax).otherwise("und")
  }

  /** Stopword-hit language ID per document. */
  def langId(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), langPred(col("text")).as("lang_pred"))

  /** Mixed-language document detection — the curation signal LID per
    * document cannot give: a doc whose CHUNKS disagree about their
    * language (scraped boilerplate wrapping foreign content, parallel-
    * text pages, code-switched forums) trains noisier than either pure
    * language. Each disjoint `chunkTokens`-token chunk votes with the
    * stopword LID ([[langPred]] — 'und' votes like a language: a run of
    * stopword-free chunks inside an otherwise-identified doc IS mixture
    * evidence); the majority language takes ties to the
    * lexicographically smaller vote, and `mixed_frac` = the non-majority
    * chunk share as ONE division of two CAST-to-DOUBLE exact BIGINTs.
    *
    * Shape: the [[chunk]] explode → a (doc, lang) count aggregate
    * (≤ |langs|+1 rows per doc) → ONE doc-keyed exchange shared by the
    * total-sum window and the majority rank window. Output: (doc_id,
    * major_lang, n_major, n_chunks, mixed_frac). */
  def mixedLanguageDocs(docs: DataFrame, chunkTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ch = chunk(docs, chunkTokens, overlap = 0)
      .select(col("doc_id"), langPred(col("chunk_text")).as("clang"))
    val counts = ch.groupBy(col("doc_id"), col("clang")).agg(count(lit(1)).as("c"))
    val byDoc = Window.partitionBy(col("doc_id"))
    counts
      .withColumn("n_chunks", sum(col("c")).over(byDoc))
      .withColumn("rn", row_number().over(
        byDoc.orderBy(col("c").desc, col("clang"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("clang").as("major_lang"),
        col("c").as("n_major"), col("n_chunks"),
        ((col("n_chunks") - col("c")).cast("double") /
          col("n_chunks").cast("double")).as("mixed_frac"))
  }

  /** Char-trigram rank-order language ID (Cavnar & Trenkle 1994 — the
    * n-gram-profile classifier fastText-style LID descends from), the
    * corpus-trained upgrade of the fixed-stopword [[langId]]: per-
    * language profiles are the top `profileK` character trigrams of
    * that language's labeled text ranked by frequency; a document is
    * scored against every profile by OUT-OF-PLACE distance (Σ over the
    * doc's own top-`docK` trigrams of |doc rank − profile rank|, with
    * trigrams absent from a profile paying the max penalty
    * `profileK`); predicted language = argmin distance, ties to the
    * lexicographically smaller language. Everything is an integer
    * (counts, ranks, penalties) over total (count DESC, trigram)
    * orders — bitwise cross-engine with no float discipline.
    *
    * Scale shape: ONE char-trigram explode (persisted — it feeds both
    * the profile and the document aggregates) → two hash aggregates +
    * two rank windows whose per-key top-k trims map-side; scoring is
    * docs·docK·|langs| rows — the language set is a constant, so the
    * join fans out by a constant factor and the profile side
    * broadcasts. Training and inference ride the same corpus pass
    * here; a production run would persist `langProfiles` and score new
    * corpora against the frozen table. Documents shorter than 3 chars
    * have no trigrams and predict NULL. Output: (doc_id, lang,
    * pred_lang, dist, correct). */
  def langIdTrigram(docs: DataFrame, profileK: Int, docK: Int): DataFrame = {
    require(profileK >= 1 && docK >= 1,
      s"need profileK, docK >= 1, got $profileK, $docK")
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    // ONE corpus pass: native char-trigram explode (graft.functions
    // .CharNGrams — the HOF transform/substr form it replaces is
    // interpreted, and r19 measured it at ~12-16 executor-CPU-s per
    // pass) folded immediately into the (doc, lang, gram) count table.
    // Persisting the AGGREGATE instead of the raw gram stream means
    // every downstream consumer (both profile windows AND the
    // duplicated broadcast builds — Spark reuses no DataFrame
    // subplans) re-reads a table of distinct per-doc grams, never the
    // corpus; forced before the fan-out so the concurrent broadcast
    // builds can't race the cold cache back to parquet (the
    // jaccardPairs forceAndCheckPackable lesson — r19 measured three
    // full re-computations without it).
    // A per-row native count pass (the WordCounts shape) was MEASURED
    // AND REJECTED here (r20): char trigrams repeat heavily within a
    // doc but the per-row linked-map counting still lost to the codegen
    // hash aggregate — interleaved A/B stage-CPU min 12.0 -> 25.6 with
    // the whole distribution up (vs the clear win on TOKEN counts in
    // lexPostings/tfidfTopTerms, where key bytes are shorter and the
    // explode+agg exchange was the dominant cost). The explode +
    // groupBy aggregate stands.
    val dg = Cached.result(docs
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), col("lang"),
        explode(coalesce(graft.functions.CharNGrams(col("text"), 3),
          array().cast("array<string>"))).as("g"))
      .groupBy(col("doc_id"), col("lang"), col("g")).agg(count(lit(1)).as("n")))
    // per-language counts are the SUM of per-doc counts (exact BIGINT
    // addition — bit-identical to counting the raw gram stream)
    val wl = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("g"))
    val langProf = dg.groupBy(col("lang"), col("g")).agg(sum(col("n")).as("n"))
      .withColumn("rl", row_number().over(wl).cast("long"))
      .filter(col("rl") <= profileK)
      .select(col("lang").as("plang"), col("g"), col("rl"))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("n").desc, col("g"))
    val docProf = dg
      .withColumn("rd", row_number().over(wd).cast("long"))
      .filter(col("rd") <= docK)
      .select(col("doc_id"), col("g"), col("rd"))
    val langs = langProf.select(col("plang")).distinct()
    val dist = docProf.crossJoin(broadcast(langs))
      .join(broadcast(langProf), Seq("plang", "g"), "left")
      .groupBy(col("doc_id"), col("plang"))
      .agg(sum(coalesce(abs(col("rd") - col("rl")), lit(profileK.toLong))).as("dist"))
    val best = dist.groupBy(col("doc_id"))
      .agg(min(struct(col("dist"), col("plang"))).as("m"))
      .select(col("doc_id"), col("m.plang").as("pred_lang"), col("m.dist").as("dist"))
    val out = docs.select(col("doc_id"), col("lang"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("pred_lang"), col("dist"),
        (col("pred_lang") === col("lang")).as("correct"))
    Cached.result(out, dg)
  }

  /** BPE-ish tokenization regex (letters / digits / punctuation runs,
    * optionally space-prefixed, GPT-2-style shape). Kept to constructs
    * with identical semantics in Java regex and RE2 so the DuckDB oracle
    * counts the same tokens. */
  val BpePattern: String = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  /** Count of BPE-ish tokens (regexp scan, codegen'd — no UDF). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0))).cast("long")

  /** Modulus for the rolling polynomial fingerprint: keeps every
    * intermediate < 2^63 under acc*31+c, so BIGINT arithmetic is exact in
    * both engines (Java Long wraps, DuckDB errors — neither happens). */
  val FpMod = 1000003L

  /** Rolling polynomial hash of the full text: fold (acc*31 + code) % M
    * over the character codes, acc0 = 0 (empty text folds to 0). Native
    * codegen'd Expression; mirrors DuckDB's
    * list_reduce(list_prepend(0, ords), ...). */
  def fingerprint(text: Column): Column = graft.functions.PolyHash(text, FpMod)

  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprint(col("text")).as("fp"))

  /** End-to-end training-data filter — the composition a real pipeline
    * runs before tokenization: quality score >= `minQuality`, predicted
    * language == `lang`, then exact-dedup keeping the lowest doc_id per
    * surviving text. Everything stays one scan + one hash aggregate: the
    * quality/language expressions are codegen'd columns computed inline
    * (no join between stats and langId — both derive from the same token
    * array), and the dedup groupBy is the only shuffle.
    * Output: (keep_id, n_copies, n_tokens, quality). */
  def pipelineFilter(docs: DataFrame, minQuality: Double, lang: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val sumLen = aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x)
    val stopRatio = hitCount(toks, Stopwords) / nTok
    val quality = least(lit(1.0), nTok / 100.0) * 0.5 + stopRatio * 0.3 +
      least(lit(1.0), (sumLen / nTok) / 8.0) * 0.2
    docs
      .withColumn("q", quality)
      .withColumn("n_tokens", nTok.cast("long"))
      .filter(langPred(col("text")) === lang && col("q") >= minQuality)
      .groupBy(col("text"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"),
        first("n_tokens").as("n_tokens"), first("q").as("quality"))
      .select(col("keep_id"), col("n_copies"), col("n_tokens"), col("quality"))
  }

  /** Deterministic content-hash train/test split: bucket =
    * fingerprint(text) mod `buckets`; buckets < `trainBuckets` are
    * "train". Hashing the CONTENT (not the id) keeps exact duplicates on
    * the same side of the split — the property a training pipeline needs
    * to avoid test-set leakage. Pure integer arithmetic, one scan. */
  def contentSplit(docs: DataFrame, trainBuckets: Int = 8, buckets: Int = 10): DataFrame =
    docs.withColumn("split",
      when(fingerprint(col("text")) % buckets < trainBuckets, "train").otherwise("test"))

  /** Vocabulary extraction: top-`k` word bigrams per language by document
    * frequency (each document counts a bigram once). One explode + one
    * hash aggregate on (lang, bigram) + a K-row-per-group window — the
    * aggregate output is |vocab|·|langs| rows, so the window sort never
    * sees the corpus itself. Ties break to the lexicographically-smaller
    * bigram. */
  def topNgrams(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // repartition the narrow input BEFORE exploding: the documents table
    // arrives in few file partitions, which would pin the shingle compute
    // and the aggregate probe to that width
    val counts = docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("lang"), explode(Dedup.shingles(col("text"))).as("ngram"))
      .groupBy(col("lang"), col("ngram"))
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n_docs").desc, col("ngram"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("lang"), col("ngram"), col("n_docs"), col("rn"))
  }

  /** Winnowing document fingerprints (the MOSS scheme: Schleimer,
    * Wilkerson & Aiken, SIGMOD'03): hash every token `k`-gram, slide a
    * window of `w` consecutive gram hashes, keep each window's minimum,
    * dedupe. The guarantee: any shared run of w+k-1 tokens between two
    * documents yields at least one shared fingerprint, while storage is
    * ~2/(w+1) of the gram count — the local-edit-robust fingerprint set
    * a plagiarism/near-dup index wants, vs the single whole-doc hash of
    * `fingerprint`.
    *
    * Spark-first: grams explode to (doc, pos, hash) rows (each gram
    * hashed ONCE), the per-window minimum is a frame window function
    * (rows between 0 and w-1 following) over one doc-keyed shuffle, and
    * the final distinct is a hash aggregate — no per-row O(n·w) lambda
    * rescans. Documents with fewer than w grams emit nothing (contract:
    * both sides guard identically). Output: (doc_id, fp) distinct rows. */
  def winnow(docs: DataFrame, k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1, got k=$k w=$w")
    import org.apache.spark.sql.expressions.Window
    // positional (non-distinct) k-grams: element i IS the gram at token
    // position i — native single-pass expression (see WordNGrams)
    val grams = coalesce(graft.functions.WordNGrams(col("text"), k, distinct = false),
      array().cast("array<string>"))
    val g = docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), posexplode(grams).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"), fingerprint(col("gram")).as("h"))
    val perDoc = Window.partitionBy(col("doc_id"))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, w - 1)
    g.withColumn("ng", count(lit(1)).over(perDoc))
      .withColumn("fp", min(col("h")).over(frame))
      .filter(col("pos") <= col("ng") - w) // only full windows (pos 0-based)
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  /** Deterministic content-hash sampling: keep documents whose text
    * fingerprint lands in the first `pct` of `buckets` hash buckets.
    * Content-keyed (not id-keyed or random), so the sample is
    * reproducible across runs/engines, exact duplicates sample
    * together (a dedup-affine property), and at 100 TB it needs no
    * coordination — each row decides locally from its own bytes, one
    * scan, no shuffle, no RNG state. */
  def deterministicSample(docs: DataFrame, pct: Int, buckets: Int = 100): DataFrame = {
    require(pct >= 0 && pct <= buckets, s"need 0 <= pct <= $buckets, got $pct")
    docs.filter(fingerprint(col("text")) % buckets < pct)
  }

  /** The contract quality score of a token array — the same expression
    * `stats` and `pipelineFilter` compute (identical operation order, so
    * all three agree bitwise and the SQL mirror stays single-sourced). */
  def qualityScore(toks: Column): Column = {
    val nTok = size(toks)
    val sumLen = aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x)
    val stopRatio = hitCount(toks, Stopwords) / nTok
    least(lit(1.0), nTok / 100.0) * 0.5 + stopRatio * 0.3 +
      least(lit(1.0), (sumLen / nTok) / 8.0) * 0.2
  }

  /** Quality-weighted deterministic sampling: keep each document with
    * probability equal to its quality score — high-quality documents
    * survive more often, junk is downsampled but not zeroed (the
    * importance-resampling step quality-curated training sets use,
    * rather than a hard threshold cut). The coin flip is the content
    * hash: keep iff fingerprint(text) % buckets < quality * buckets —
    * reproducible across runs and engines, duplicate-affine, no RNG
    * state, one scan, no shuffle; each row decides locally from its own
    * bytes (the `deterministicSample` scale argument, with a per-row
    * acceptance rate). */
  def qualityWeightedSample(docs: DataFrame, buckets: Int = 1000): DataFrame = {
    require(buckets >= 1, s"need buckets >= 1, got $buckets")
    val q = qualityScore(tokens(col("text")))
    docs.withColumn("quality", q)
      .filter((fingerprint(col("text")) % buckets).cast("double") <
        col("quality") * buckets)
  }

  /** Intra-document repetition metrics (the Gopher-paper quality
    * signals: Rae et al. 2021 §A1.1): per document, the fraction of
    * word occurrences that are repeats, the fraction claimed by the
    * single most frequent word, and the fraction of bigram occurrences
    * that are repeats. High values flag boilerplate/spam that
    * whole-document dedup never catches (the repetition is INSIDE one
    * document).
    *
    * Shape: one repartitioned scan feeding two explode+double-aggregate
    * branches (words, bigrams) that reuse the same exchange; every
    * aggregate partial-aggregates map-side, and the final join is K=doc
    * keyed. Fractions are rounded to 4 decimals (cross-engine contract:
    * long/long division then one subtraction, identical order both
    * sides). Documents with <2 tokens have no bigrams -> dup_bigram_frac
    * is 0 by contract.
    * Output: (doc_id, n_tokens, dup_word_frac, top_word_frac,
    * dup_bigram_frac). */
  def repetition(docs: DataFrame): DataFrame = {
    // ZERO-shuffle form (r20): every statistic here is a function of
    // ONE document's tokens, so the whole operator is a per-row
    // projection over the native WordCounts passes — the old shape
    // exploded the corpus twice and ran four hash aggregates to
    // recombine what was never split. Row-set equality with the old
    // shape: docs with NULL text vanished there via the words inner
    // aggregate (explode of null emits nothing) — mirrored by the
    // filter; n_tokens = Σ tf = size(split); n_distinct/top_cnt are
    // the size/max over the count structs; n_bi = max(t-1, 0) exactly
    // (non-distinct bigram occurrences), with the n_bi = 0 docs taking
    // the literal-0.0 branch the old left-join-miss coalesce produced.
    // All divisions see the same exact-long inputs, same literals,
    // same order => bitwise-identical doubles.
    val toks = tokens(col("text"))
    val wc = graft.functions.WordCounts(col("text"), 1)
    val bc = graft.functions.WordCounts(col("text"), 2)
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(wc).cast("long").as("n_distinct"),
        array_max(wc.getField("tf")).as("top_cnt"),
        greatest(size(toks).cast("long") - 1L, lit(0L)).as("n_bi"),
        size(bc).cast("long").as("n_bi_distinct"))
      .select(col("doc_id"), col("n_tokens"),
        round(lit(1.0) - col("n_distinct") / col("n_tokens"), 4).as("dup_word_frac"),
        round(col("top_cnt") / col("n_tokens"), 4).as("top_word_frac"),
        when(col("n_bi") > 0,
          round(lit(1.0) - col("n_bi_distinct") / col("n_bi"), 4))
          .otherwise(lit(0.0)).as("dup_bigram_frac"))
  }

  /** Deterministic stratified sample: the `perGroup` documents of each
    * language with the smallest (content fingerprint, doc_id) key — a
    * fixed-size per-stratum sample that is reproducible across runs and
    * engines (no RNG) and, being content-keyed, stable under corpus
    * reordering. The rank filter compiles to WindowGroupLimit, so each
    * map task keeps only its local top-`perGroup` per language BEFORE
    * the shuffle — the window sort never sees the corpus, which is what
    * makes per-stratum sampling viable at 100 TB.
    * Output: (lang, doc_id, rn), rn = 1..perGroup within the stratum. */
  def stratifiedSample(docs: DataFrame, perGroup: Int): DataFrame = {
    require(perGroup >= 1, s"need perGroup >= 1, got $perGroup")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(fingerprint(col("text")).asc, col("doc_id").asc)
    docs.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= perGroup)
      .select(col("lang"), col("doc_id"), col("rn"))
  }

  /** Token-budget mixture sampling — the "take N tokens from each
    * source" step of corpus mixing (The Pile, DoReMi-style recipes
    * express the training mixture as per-domain token budgets, not doc
    * counts): per source, documents are drawn in deterministic
    * (content fingerprint, doc_id) order and kept while the running
    * token total stays within the source's budget — the greedy prefix
    * rule, exact and RNG-free, so the same corpus always yields the
    * same mixture and duplicate texts draw at the same position.
    * `budgets` overrides per source; every other source gets
    * `defaultBudget` (uniform budgets = equal-token domain mixing, the
    * small-domain upweighting case).
    *
    * Scale shape: one scan computes (n_toks, fp) inline (codegen'd),
    * one source-keyed exchange feeds the running-sum window — per
    * source the prefix sum is a linear pass, and sources are the
    * natural partition key of a crawl corpus (thousands of domains →
    * even spread). A pathologically hot source serializes its own
    * window pass only; [[tokenBudgetSampleTrimmed]] is the twin that
    * pre-trims it with a coarse per-bucket bound before the exact
    * prefix sum. The budgets map rides the closure as a literal map
    * lookup — no join.
    * Output: (doc_id, source, n_toks, cum_toks, kept) — kept is the
    * budget decision; callers filter or report. */
  /** PII redaction patterns — shared verbatim by the DuckDB oracle
    * (Java regex vs RE2: these are alternation-free greedy patterns
    * over explicit ASCII classes, where leftmost-first and
    * leftmost-longest matching coincide; `\b` is the ASCII word
    * boundary in both engines). Conservative by design: high-precision
    * shapes (explicit user@domain.tld, dotted-quad, international
    * +digits), not a PII sweep — recall belongs to a dedicated NER
    * pass, THIS is the cheap scrub every crawl pipeline runs first. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\+[0-9]{7,15}"

  /** Redacts emails, dotted-quad IPs and international phone numbers
    * (FIXED replace order: email first — an address contains dots and
    * digits that the later patterns could bite into — then IP, then
    * phone). Pure codegen'd `regexp_replace` chain: one projection, no
    * shuffle, no UDF. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "[EMAIL]"),
        Ipv4Re, "[IP]"),
      PhoneRe, "[PHONE]")

  /** Feature-hashing (hashing-trick, Weinberger et al. 2009) document
    * vectors — an EMBEDDING for corpora that have no model: every token
    * hashes to one of `dim` buckets with the shared polynomial
    * fingerprint, and the bucketed term counts ARE the vector. The
    * bridge between the text tables and the dense-vector stack: hashed
    * vectors feed the existing cosine/ANN/quantizer operators unchanged
    * (a spec drives bruteForceTopK over them), at a memory cost that is
    * FIXED per document regardless of vocabulary — the property that
    * makes the trick the classic 100 TB-scale featurizer (no vocabulary
    * table, no fit pass, no OOV).
    *
    * Shape: one explode + one doc-keyed aggregate of `dim` conditional
    * sums. ALL integers (deliberately the unsigned-count variant — the
    * sign-hash debiasing of the paper trades exactness for an unbiased
    * inner product; counts keep the cross-engine contract float-free).
    * Output: (doc_id, d0..d{dim-1}) BIGINT columns. */
  def hashedTf(docs: DataFrame, dim: Int): DataFrame = {
    require(dim >= 2 && dim <= 64, s"need 2 <= dim <= 64, got $dim")
    val h = graft.functions.PolyHash(col("w"), FpMod) % dim
    val dims = (0 until dim).map(j =>
      sum(when(col("h") === j, lit(1L)).otherwise(lit(0L))).as(s"d$j"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .select(col("doc_id"), h.as("h"))
      .groupBy(col("doc_id"))
      .agg(dims.head, dims.tail: _*)
  }

  /** Per-source robust length-outlier gate — median/MAD instead of
    * mean/stddev, because crawl length distributions are exactly where
    * mean/stddev breaks: one 10 MB concatenation dump inflates the mean
    * AND the stddev enough to hide itself (masking), while the median
    * and the median-absolute-deviation ignore it. Flags every doc with
    * |len − median_src| > k · MAD_src.
    *
    * The whole operator lives in EXACT INTEGER space — the classic
    * median/MAD float hazards (even-count midpoint = x.5, the 1.4826
    * normal-consistency factor) are sidestepped by DOUBLING instead of
    * halving: med2 = x_lo + x_hi (the two middle order statistics; equal
    * for odd n), dev2 = |2·len − med2| = 2|len − med|, mad2 = dev2_lo +
    * dev2_hi = 4·MAD, and the gate 2·dev2 > k·mad2 is algebraically
    * exactly |len − med| > k·MAD. No division, no rounding, no float
    * anywhere — bitwise cross-engine by type.
    *
    * Shape: one scan; all four windows share the source partition key,
    * so ONE exchange with re-sorts (rank by length, rank by deviation) —
    * PlanSpec pins scan and exchange counts. Output: the OUTLIER rows
    * (doc_id, source, n_chars, med2, dev2, mad2). */
  def madOutliers(docs: DataFrame, k: Int): DataFrame =
    madOutliersOn(docs, "doc_id", "source", "n_chars", k)

  /** The generic median/MAD gate behind [[madOutliers]]: flag rows of
    * `df` whose BIGINT `valueCol` deviates from its `groupCol`-median
    * by more than k·MAD. `idCol` must be unique within a group (it
    * breaks ranking ties deterministically). Same exact-integer
    * doubled-order-statistic construction; reused by the event-rate
    * anomaly monitor (hourly counts per event type) and any other
    * robust-threshold consumer. */
  def madOutliersOn(df: DataFrame, idCol: String, groupCol: String,
                    valueCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"need k >= 1, got $k")
    val byGrp = Window.partitionBy(col(groupCol))
    def med2Of(valueC: Column, rnCol: Column) =
      sum(when(rnCol === expr("(n + 1) div 2"), valueC).otherwise(lit(0L))).over(byGrp) +
        sum(when(rnCol === expr("(n + 2) div 2"), valueC).otherwise(lit(0L))).over(byGrp)
    df.select(col(idCol), col(groupCol), col(valueCol))
      .withColumn("rn", row_number().over(byGrp.orderBy(col(valueCol), col(idCol))))
      .withColumn("n", count(lit(1)).over(byGrp))
      .withColumn("med2", med2Of(col(valueCol), col("rn")))
      .withColumn("dev2", abs(lit(2L) * col(valueCol) - col("med2")))
      .withColumn("rn2", row_number().over(byGrp.orderBy(col("dev2"), col(idCol))))
      .withColumn("mad2", med2Of(col("dev2"), col("rn2")))
      .filter(lit(2L) * col("dev2") > lit(k.toLong) * col("mad2"))
      .select(col(idCol), col(groupCol), col(valueCol),
        col("med2"), col("dev2"), col("mad2"))
  }

  /** Per-source PII exposure report — the audit that runs BEFORE
    * [[redactPii]] is trusted: match counts per PII class per source
    * plus how many documents carry any PII at all. The compliance
    * question it answers ("which crawl sources leak contact data, and
    * how much") decides whether a source gets scrubbed, dropped, or
    * renegotiated. Same three regexes as the scrubber (one shared
    * constant each — the counter and the scrubber cannot drift), pure
    * codegen'd `regexp_count` projection + one sources-sized aggregate:
    * one scan, one tiny exchange, counts are exact integers with no
    * float discipline. Output: (source, n_emails, n_ipv4, n_phones,
    * n_docs_pii, n_docs). */
  def piiStats(docs: DataFrame): DataFrame =
    docs.select(col("source"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("e"),
      regexp_count(col("text"), lit(Ipv4Re)).cast("long").as("i"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("p"))
      .select(col("source"), col("e"), col("i"), col("p"),
        ((col("e") + col("i") + col("p")) > 0).cast("long").as("f"))
      .groupBy(col("source"))
      .agg(sum(col("e")).as("n_emails"), sum(col("i")).as("n_ipv4"),
        sum(col("p")).as("n_phones"), sum(col("f")).as("n_docs_pii"),
        count(lit(1)).as("n_docs"))

  /** Per-source out-of-vocabulary rate — the tokenizer-coverage metric
    * of a data mix: which sources will fragment into byte-fallback
    * garbage under a top-`vocabK` word vocabulary? The vocabulary is
    * the corpus's `vocabK` most frequent words (ties to the
    * lexicographically-smaller word — a total order); each source then
    * reports how many of its token OCCURRENCES fall outside it.
    * oov_rate is ONE division of two exact BIGINTs — no rounding.
    *
    * Shape: two passes over the exploded tokens — one corpus-wide
    * aggregate to build the vocabulary (a TakeOrdered of the
    * vocab-sized count table, then BROADCAST — the production shape:
    * the vocab is an artifact computed once and shipped to every
    * scorer), one per-source membership aggregate. Output: (source,
    * n_tokens, n_oov, oov_rate). */
  def oovRate(docs: DataFrame, vocabK: Int): DataFrame = {
    require(vocabK >= 1, s"need vocabK >= 1, got $vocabK")
    val tok = docs.select(col("source"), explode(tokens(col("text"))).as("w"))
    val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(vocabK)
      .select(col("w"), lit(1L).as("iv"))
    tok.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double")).as("oov_rate"))
  }

  /** Per-source length-distribution drift — the distribution-shift
    * monitor of a crawl pipeline: a source whose document-length
    * histogram diverges from the corpus (truncation bug, boilerplate
    * flood, template change) surfaces as a large total-variation
    * distance. TV is computed on an EXACT INTEGER grid: with c_b the
    * source's count in length-bin b (bin = min(n_toks div binWidth,
    * nbins−1)), C_b the corpus count, n the source total and N the
    * corpus total,
    *
    *   l1 = Σ_b |c_b·N − C_b·n|          (exact BIGINT)
    *   tv = l1 / (2·n·N)                 (ONE division of exact ints)
    *
    * so the only float is a single exact-grid division — no rounding
    * discipline. The reference distribution is the whole corpus
    * (including the source itself — the PSI convention; a
    * leave-one-out reference just rescales the comparison).
    *
    * Shape: one scan + one (source, bin) integer aggregate; the corpus
    * histogram derives from the per-source one; the dense
    * (source × corpus-bin) frame (zero-count bins still contribute
    * C_b·n) is a tiny cross of two aggregate outputs. Output:
    * (source, n_docs, l1, tv). */
  def sourceLengthDrift(docs: DataFrame, binWidth: Long, nbins: Int): DataFrame = {
    require(binWidth >= 1 && nbins >= 1, s"need binWidth/nbins >= 1, got $binWidth/$nbins")
    val binned = docs.select(col("source"),
      expr(s"least(CAST(size(split(text, ' ')) AS BIGINT) div $binWidth, " +
        s"CAST(${nbins - 1} AS BIGINT))").as("bin"))
    // cb / n / N all derive from perSrc via windows (a join back to
    // re-aggregations would triple the corpus scan in the plan tree);
    // zero-count bins never materialize — algebraically, an absent bin
    // contributes C_b·n, so l1 = Σ_present(|c·N − C_b·n| − C_b·n) + n·N.
    // The windows run on the sources × bins aggregate, not the corpus;
    // the empty-partition window is |sources·bins| rows by construction.
    import org.apache.spark.sql.expressions.Window
    val perSrc = binned.groupBy(col("source"), col("bin")).agg(count(lit(1)).as("c"))
    val t = perSrc
      .withColumn("cb", sum(col("c")).over(Window.partitionBy(col("bin"))))
      .withColumn("n_docs", sum(col("c")).over(Window.partitionBy(col("source"))))
      .withColumn("nn", sum(col("c")).over(Window.partitionBy()))
      .withColumn("term",
        abs(col("c") * col("nn") - col("cb") * col("n_docs")) - col("cb") * col("n_docs"))
    t.groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"), max(col("nn")).as("nn"),
        sum(col("term")).as("s"))
      .select(col("source"), col("n_docs"),
        (col("s") + col("n_docs") * col("nn")).as("l1"),
        ((col("s") + col("n_docs") * col("nn")).cast("double") /
          (lit(2L) * col("n_docs") * col("nn")).cast("double")).as("tv"))
  }

  /** Per-source TOPIC drift over hashed-tf vectors — the labelDrift
    * monitor for corpora with NO embedding model: each source's summed
    * [[hashedTf]] vector (its bucketed term-frequency profile) is
    * compared by cosine against the corpus-wide profile. A source whose
    * vocabulary distribution wanders (a crawl domain drifting into spam,
    * a wiki dump switching language) drops its cosine long before any
    * length-based monitor moves — and the whole thing runs on hashing-
    * trick integers, no model, no vocabulary table.
    *
    * Cross-engine (the labelDrift discipline): bucket sums are exact
    * BIGINTs (commutative integer aggregation — partition-order
    * invariant), the corpus profile is a bucket-keyed WINDOW over the
    * per-source sums (no join back, no second scan), and the cosine is
    * the fixed cast/sqrt/sqrt/mul/div sequence over exact integers —
    * bitwise unrounded. Output: (source, dot, na2, nb2, cos_drift). */
  def hashedSourceDrift(docs: DataFrame, dim: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dim >= 2 && dim <= 64, s"need 2 <= dim <= 64, got $dim")
    val h = graft.functions.PolyHash(col("w"), FpMod) % dim
    val perBucket = docs
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .select(col("source"), h.as("b"))
      .groupBy(col("source"), col("b"))
      .agg(count(lit(1)).as("c"))
    // the bucket frame is SPARSE (a source has no row for a bucket it
    // never hits), so the corpus norm cannot be summed per source —
    // Σ_b g² instead rides a whole-frame window via the identity
    // Σ_rows c·g = Σ_b g·Σ_s c = Σ_b g² (each row contributes its
    // bucket's share exactly once)
    val withGlobal = perBucket
      .withColumn("g", sum(col("c")).over(Window.partitionBy(col("b"))))
      .withColumn("nb2g", sum(col("c") * col("g")).over(Window.partitionBy()))
    withGlobal.groupBy(col("source"))
      .agg(sum(col("c") * col("g")).as("dot"),
        sum(col("c") * col("c")).as("na2"),
        max(col("nb2g")).as("nb2"))
      .select(col("source"), col("dot"), col("na2"), col("nb2"),
        when(col("na2") === 0 || col("nb2") === 0, lit(null).cast("double"))
          .otherwise(col("dot").cast("double") /
            (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))))
          .as("cos_drift"))
  }

  /** Quality-classifier calibration curve — "does the learned score
    * agree with the rule gate": documents bucket into score deciles
    * (NTILE over the total (score DESC, doc_id) order) and each decile
    * reports its Gopher-rule pass rate. A well-calibrated scorer shows
    * pass_frac falling monotonically across deciles; a flat curve says
    * the score ranks noise — the check run before trusting a learned
    * filter with a token budget.
    *
    * One scan: the shared classifier scorer carries `text` through, and
    * `gopherRules(carry = score)` stacks its flags on the same
    * projection chain — no doc_id self-join. The global NTILE is a
    * sort of the (doc_id, score) projection (the q_ntile/curriculum
    * precedent: the contract-scale convenience; at 100 TB the decile
    * boundary comes from approx_percentile and the bucket is a scan-side
    * compare, the qualityQuantileFilterSketched shape). min/max score
    * are order-insensitive picks of exact-grid values; pass_frac ONE
    * exact-BIGINT division. */
  def qualityCalibration(docs: DataFrame, buckets: Int,
                         minWords: Int, maxWords: Int,
                         minAvgLen: Double, maxAvgLen: Double,
                         minStopHits: Int, minAlphaFrac: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2, s"need buckets >= 2, got $buckets")
    val scored = qualityScored(docs, carry = Seq("text"))
      .select(col("doc_id"), col("text"), col("score"))
    val flagged = gopherRules(scored, minWords, maxWords, minAvgLen, maxAvgLen,
      minStopHits, minAlphaFrac, carry = Seq("score"))
    flagged
      .withColumn("decile",
        ntile(buckets).over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("score")).as("min_score"), max(col("score")).as("max_score"),
        sum(col("passes").cast("long")).as("n_pass"))
      .select(col("decile"), col("n_docs"), col("min_score"), col("max_score"),
        col("n_pass"),
        (col("n_pass").cast("double") / col("n_docs").cast("double")).as("pass_frac"))
  }

  /** Top-k collocations by PMI — the corpus-analysis staple (Church &
    * Hanks 1990): the k most frequent word bigrams, each scored by
    * pointwise mutual information ln(p(ab) / (p(a)·p(b))) — how much
    * more often the pair co-occurs than its words' frequencies predict.
    * High-count/high-PMI pairs are multiword expressions ("new york");
    * high-count/low-PMI pairs are stopword noise. Candidates restrict
    * to the top-k by count BEFORE the unigram joins, so the join side
    * is k rows broadcast against the vocab table.
    *
    * Cross-engine: counts are exact; pmi = ln(ONE division of two exact
    * BIGINT products) — the bigramLogProb ln discipline (identical IEEE
    * input ⇒ identical ln). The integer products bound: c_ab·T² and
    * B·c_a·c_b stay under 2^63 through bench scale; a 100 TB run
    * reorders into two divisions before the ln (a one-line change,
    * different grid — deliberately NOT done here to keep the exact
    * product form). Output: (pair, n_pairs, pmi), ordered by
    * (n_pairs DESC, pair). */
  def collocations(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"need k >= 1, got $k")
    val uni = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .withColumn("t", sum(col("c")).over(Window.partitionBy()))
    val bi = docs.select(explode(coalesce(
        graft.functions.WordNGrams(col("text"), 2, distinct = false),
        array().cast("array<string>"))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n_pairs"))
      .withColumn("bt", sum(col("n_pairs")).over(Window.partitionBy()))
    val top = bi.orderBy(col("n_pairs").desc, col("pair")).limit(k)
      .withColumn("wa", split(col("pair"), " ").getItem(0))
      .withColumn("wb", split(col("pair"), " ").getItem(1))
    // the K-row side broadcasts; the vocab table is scanned, never shipped
    val j1 = uni.select(col("w").as("wa"), col("c").as("ca"), col("t"))
      .join(broadcast(top), Seq("wa"))
    uni.select(col("w").as("wb"), col("c").as("cb"))
      .join(broadcast(j1), Seq("wb"))
      // round-4 like every other ln output (the LM-scorer discipline):
      // the ln ARGUMENT is one division of two exact BIGINT products
      // (bitwise identical cross-engine), but ln itself is libm — Java
      // Math.log and DuckDB/glibc ln diverge by 1 ulp on real corpus
      // values (hit LIVE at sf0.001 in r19: x = 0x1.6601ba28dca33p+0
      // -> ...786 vs ...787). Raw pmi was the one LM-family float
      // emitted unrounded; round-4 absorbs the last-bit divergence
      // exactly as it does for the bigram/trigram scorers.
      .select(col("pair"), col("n_pairs"),
        round(log((col("n_pairs") * col("t") * col("t")).cast("double") /
          (col("bt") * col("ca") * col("cb")).cast("double")), 4).as("pmi"))
  }

  /** Vocabulary-growth (Heaps) curve over ingestion order — the
    * saturation diagnostic behind "do we need more of this source":
    * documents bucket into fixed-size ingestion batches (doc_id ranges —
    * the deterministic stand-in for arrival order), and each batch
    * reports how many NEVER-SEEN-BEFORE words it contributes. A healthy
    * diverse corpus keeps adding vocabulary (Heaps' law); a saturated or
    * templated source flatlines.
    *
    * Shape: one explode → per-word min-batch aggregate (a word's first
    * appearance — vocab-sized) → batch aggregate; tokens-per-batch rides
    * a SECOND aggregate of the same explode... which would double the
    * scan, so instead the token counts aggregate per (batch, word) first
    * and both facts derive from that one table. Cumulative vocabulary is
    * a window over the batches-sized output. ALL integers. Output:
    * (batch, n_tokens, n_new_words, cum_vocab). */
  def vocabGrowth(docs: DataFrame, batchSize: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(batchSize >= 1, s"need batchSize >= 1, got $batchSize")
    val bw = docs
      .select(expr(s"doc_id div $batchSize").as("batch"),
        explode(tokens(col("text"))).as("w"))
      .groupBy(col("batch"), col("w")).agg(count(lit(1)).as("c"))
    // first appearance batch per word, via a window over the (batch,
    // word) aggregate — no second scan
    val withFirst = bw.withColumn("first_batch",
      min(col("batch")).over(Window.partitionBy(col("w"))))
    val perBatch = withFirst.groupBy(col("batch"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(when(col("first_batch") === col("batch"), lit(1L)).otherwise(lit(0L)))
          .as("n_new_words"))
    perBatch.withColumn("cum_vocab",
      sum(col("n_new_words")).over(Window.orderBy(col("batch"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** 100 TB scale twin of [[vocabGrowth]]: the exact curve needs the
    * (batch, word) table — vocab × batches rows, the one big object in
    * that plan — just to find each word's first batch. This twin never
    * builds it: ONE corpus scan folds each batch's word set into a
    * Datasketches HLL sketch (mergeable — register-wise max, so partials
    * combine on executors in any order, deterministically), cumulative
    * vocabulary is `hll_union_agg` over a batches² prefix self-join of
    * the BATCHES-sized sketch table (trivia — sketches are KBs), and
    * per-batch new words fall out as the lag difference of cumulative
    * estimates. Register maxes only grow under union, so the cumulative
    * estimate is monotone by construction — a saturation curve that
    * cannot jitter downward.
    *
    * No contract query: DuckDB has no Datasketches HLL to mirror — the
    * established sketched-twin split (`q_vocab_growth` pins the exact
    * semantics; the spec pins this twin within the sketch's error of it
    * and bitwise-deterministic across layouts). The per-batch sketch
    * table persists across the prefix join's two references (the burst
    * spine discipline); EAGER, cache released at return. Output:
    * (batch, n_tokens, n_new_est, cum_vocab_est). */
  def vocabGrowthSketched(docs: DataFrame, batchSize: Long,
                          lgConfigK: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(batchSize >= 1, s"need batchSize >= 1, got $batchSize")
    require(lgConfigK >= 4 && lgConfigK <= 21,
      s"need 4 <= lgConfigK <= 21 (Datasketches HLL bounds), got $lgConfigK")
    val perBatch = Cached.keep(docs
      .select(expr(s"doc_id div $batchSize").as("batch"),
        explode(tokens(col("text"))).as("w"))
      .groupBy(col("batch"))
      .agg(hll_sketch_agg(col("w"), lit(lgConfigK)).as("sk"),
        count(lit(1)).as("n_tokens")))
    val cum = perBatch.as("a")
      .join(perBatch.as("b"), col("b.batch") <= col("a.batch"))
      .groupBy(col("a.batch").as("batch"))
      .agg(max(col("a.n_tokens")).as("n_tokens"),
        hll_sketch_estimate(hll_union_agg(col("b.sk"))).as("cum_vocab_est"))
    val out = cum
      .withColumn("n_new_est",
        col("cum_vocab_est") -
          coalesce(lag(col("cum_vocab_est"), 1).over(Window.orderBy(col("batch"))),
            lit(0L)))
      .select(col("batch"), col("n_tokens"), col("n_new_est"), col("cum_vocab_est"))
    Cached.result(out, perBatch)
  }

  /** Bursting terms per ingestion batch — the freshness/contamination
    * alarm beside [[vocabGrowth]]'s saturation curve: a term whose
    * in-batch occurrence RATE beats its rate in the rest of the corpus
    * by `factor`× (with `minCount` support) marks a topical spike — a
    * news event entering the crawl, or a template/spam flood localized
    * to one ingestion window (the dup monitors catch verbatim floods;
    * this catches VOCABULARY floods that never repeat a document).
    *
    * Exact construction: the [[vocabGrowth]] (batch, word) count spine,
    * PERSISTED across its two consumers (Spark reuses no DataFrame
    * subplans — without the persist the corpus explode+aggregate runs
    * twice, PlanSpec-pinned to one scan); per-word corpus totals ride a
    * word-keyed WINDOW over that aggregate (parallel — partitioned by
    * w), per-batch token totals a batches-sized second aggregate whose
    * corpus total rides an unpartitioned window over THAT tiny table
    * (never over the vocab table), broadcast back. EAGER: the burst
    * table materializes so the spine cache releases at return. The
    * burst test is the cross-multiplied
    * integer compare c·n_rest > factor·c_rest·n_batch — no division
    * decides anything; burst_ratio is ONE division of the same two
    * CAST-to-DOUBLE exact BIGINT products (the qualityClassifier
    * pattern, no rounding), null when the term never occurs outside
    * the batch (a genuinely NEW term — infinite ratio). Product bound:
    * c·n_rest < 2^63 holds to ~3·10^9 corpus tokens (the collocations
    * bound); past that, divide before comparing — different grid,
    * deliberately not done here. Output: (batch, w, c, c_rest,
    * n_batch, n_rest, burst_ratio), burst rows only. */
  def burstTerms(docs: DataFrame, batchSize: Long, minCount: Long,
                 factor: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(batchSize >= 1, s"need batchSize >= 1, got $batchSize")
    require(minCount >= 1, s"need minCount >= 1, got $minCount")
    require(factor >= 1, s"need factor >= 1, got $factor")
    val bw = Cached.keep(docs
      .select(expr(s"doc_id div $batchSize").as("batch"),
        explode(tokens(col("text"))).as("w"))
      .groupBy(col("batch"), col("w")).agg(count(lit(1)).as("c")))
    val ww = bw.withColumn("cw", sum(col("c")).over(Window.partitionBy(col("w"))))
    val nb = bw.groupBy(col("batch")).agg(sum(col("c")).as("n_batch"))
      .withColumn("nt", sum(col("n_batch")).over(Window.partitionBy()))
    val out = ww.join(broadcast(nb), Seq("batch"))
      .select(col("batch"), col("w"), col("c"),
        (col("cw") - col("c")).as("c_rest"),
        col("n_batch"), (col("nt") - col("n_batch")).as("n_rest"))
      .filter(col("c") >= minCount &&
        col("c") * col("n_rest") > lit(factor) * col("c_rest") * col("n_batch"))
      .withColumn("burst_ratio",
        when(col("c_rest") * col("n_batch") > 0,
          (col("c") * col("n_rest")).cast("double") /
            (col("c_rest") * col("n_batch")).cast("double")))
    Cached.result(out, bw)
  }

  /** Token-share Gini across sources — the one-number answer to "is my
    * training mixture dominated by a single source": 0 = every source
    * contributes equal tokens, →1 = one source is the corpus. The
    * mixture-planning red flag read BEFORE reaching for
    * [[mixtureWeights]].
    *
    * Exact construction: Gini = Σᵢⱼ|xᵢ−xⱼ| / (2·n·Σx) over the
    * per-source token totals. The pairwise sum runs on the SOURCES-sized
    * aggregate (n² rows for n sources — trivia; the corpus scan happens
    * once, persisted across the cross join's two references), and the
    * denominator needs no separate n·total pass: Σᵢⱼ xᵢ over the cross
    * join IS n·total. gini_num and 2·n·total are exact BIGINTs; gini is
    * ONE division. Output: one row (n_sources, total_tokens, gini_num,
    * gini). */
  def tokenGini(docs: DataFrame): DataFrame = {
    val per = Cached.result(docs.select(col("source"), size(tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("x")))
    val out = per.as("a").crossJoin(per.as("b"))
      .agg(countDistinct(col("a.source")).as("n_sources"),
        sum(abs(col("a.x") - col("b.x"))).as("gini_num"),
        sum(col("a.x")).as("nt_total")) // = n · Σx
      .select(col("n_sources"),
        expr("nt_total div n_sources").as("total_tokens"),
        col("gini_num"),
        (col("gini_num").cast("double") /
          (lit(2L) * col("nt_total")).cast("double")).as("gini"))
    Cached.result(out, per)
  }

  /** Vocabulary coverage curve — the Zipf planning numbers behind every
    * vocab-size decision: how many distinct words (ranked by corpus
    * frequency) cover 50% / 90% / 99% of all token occurrences. A
    * corpus where k99 ≈ vocab_size is word-salad; one where k90 is a
    * few thousand tokenizes cheaply. All comparisons are exact-integer
    * cross-multiplications (cum·100 ≥ p·total — no percentage floats);
    * ranking ties break to the lexicographically smaller word.
    *
    * Shape: one explode + one vocab-sized count aggregate; the ranked
    * cumulative runs on the VOCAB table (a global ordered window over
    * |vocab| rows — at 100 TB this is the classic two-stage: the corpus
    * aggregates down to the vocabulary first, and only that aggregate
    * is globally sorted). Output: ONE row (k50, k90, k99, vocab_size,
    * n_tokens). */
  def vocabCoverage(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val ord = Window.orderBy(col("c").desc, col("w"))
    val ranked = vocab
      .withColumn("rn", row_number().over(ord).cast("long"))
      .withColumn("cum", sum(col("c")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("c")).over(Window.partitionBy()))
    def kAt(p: Int) =
      min(when(col("cum") * 100 >= lit(p.toLong) * col("total"), col("rn")))
    ranked.agg(kAt(50).as("k50"), kAt(90).as("k90"), kAt(99).as("k99"),
      max(col("rn")).as("vocab_size"), max(col("total")).as("n_tokens"))
  }

  /** Per-source Kolmogorov–Smirnov drift — the max-CDF-gap companion to
    * [[sourceLengthDrift]]'s total variation: TV sums per-bin
    * disagreement (sensitive to everywhere-a-little drift), KS takes
    * the worst single CDF gap (sensitive to a localized shift — the
    * truncation bug that clips every long doc moves KS hard while
    * diluting TV across bins). Same length-bin histogram, same
    * source-vs-corpus comparison.
    *
    * Cross-engine: ks_num = max_b |CumSrc(b)·N − CumCorp(b)·n| is an
    * exact BIGINT via cross-multiplication; ks = ks_num/(n·N) is ONE
    * division of two CAST-to-DOUBLE exact integers — no rounding
    * anywhere (the sourceLengthDrift discipline).
    *
    * Shape: one corpus scan into the (source, bin) aggregate; the gap
    * must be evaluated at EVERY corpus bin (a source's CDF is flat
    * where it has no mass, but the corpus CDF keeps moving — the max
    * can sit at a bin the source never hits), so the tiny aggregate is
    * densified against its own bin set (sources × bins rows by
    * construction). The aggregate is persisted across its three uses —
    * without it each reference replans the corpus scan. */
  def sourceLengthKs(docs: DataFrame, binWidth: Long, nbins: Int): DataFrame = {
    require(binWidth >= 1 && nbins >= 1, s"need binWidth/nbins >= 1, got $binWidth/$nbins")
    import org.apache.spark.sql.expressions.Window
    val binned = docs.select(col("source"),
      expr(s"least(CAST(size(split(text, ' ')) AS BIGINT) div $binWidth, " +
        s"CAST(${nbins - 1} AS BIGINT))").as("bin"))
    val perSrc = Cached.result(binned.groupBy(col("source"), col("bin")).agg(count(lit(1)).as("c")))
    val bins = perSrc.select(col("bin")).distinct()
    val srcN = perSrc.groupBy(col("source")).agg(sum(col("c")).as("n_docs"))
    val dense = srcN.crossJoin(bins)
      .join(perSrc, Seq("source", "bin"), "left")
      .withColumn("cc", coalesce(col("c"), lit(0L)))
    val wSrc = Window.partitionBy(col("source")).orderBy(col("bin"))
    // RANGE frame over the global bin order: all rows with bin' <= bin
    // sum to the CORPUS cumulative at this bin (every source's rows
    // exist at every bin in the dense frame)
    val wCorp = Window.orderBy(col("bin"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val t = dense
      .withColumn("cum_src", sum(col("cc")).over(wSrc))
      .withColumn("cum_corp", sum(col("cc")).over(wCorp))
      .withColumn("nn", sum(col("cc")).over(Window.partitionBy()))
      .withColumn("gap",
        abs(col("cum_src") * col("nn") - col("cum_corp") * col("n_docs")))
    val out = t.groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"), max(col("nn")).as("nn"),
        max(col("gap")).as("ks_num"))
      .select(col("source"), col("n_docs"), col("ks_num"),
        (col("ks_num").cast("double") /
          (col("n_docs") * col("nn")).cast("double")).as("ks"))
    Cached.result(out, perSrc)
  }

  /** Interleaved curriculum order — the deterministic sequencing step
    * between curation and tokenization: docs are ranked easy-first
    * WITHIN each source (fewer tokens = easier, the classic length
    * curriculum; ties to doc_id) and sources are interleaved
    * round-robin (global order = (src_rank, source)), so early
    * training sees every source instead of a run of one. All-integer
    * ordering keys — no float discipline.
    *
    * Scale note: the total ORDER is the deliverable — at 100 TB you
    * materialize it by writing range-partition-sorted on
    * (src_rank, source, doc_id) and never assign explicit sequence
    * numbers; the contract's `position` column (one global
    * row_number, a single-partition sort of the already-tiny rank
    * tuple projection) exists so the order itself crosses the oracle
    * hash. Output: (doc_id, source, n_toks, src_rank, position). */
  def curriculumOrder(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nt = docs.select(col("doc_id"), col("source"),
      size(tokens(col("text"))).cast("long").as("n_toks"))
    val wSrc = Window.partitionBy(col("source")).orderBy(col("n_toks"), col("doc_id"))
    val ranked = nt.withColumn("src_rank", row_number().over(wSrc).cast("long"))
    val wAll = Window.orderBy(col("src_rank"), col("source"), col("doc_id"))
    ranked.withColumn("position", row_number().over(wAll).cast("long"))
  }

  /** Waterfilled mixture weights — the source-composition planner of a
    * training run (The Pile / DoReMi shape: "we WANT the mix w, we HAVE
    * avail_i tokens per source; how much of each source can a single
    * epoch use?"). The largest total T respecting the target ratios is
    * set by the BOTTLENECK source b = argmin(avail_i / w_i) (the first
    * source to run dry if the mix is honored; ratio is one IEEE
    * division of exact BIGINTs — identical in any engine — with ties
    * to the lexicographically-smallest source). Then per source:
    *
    *   expected_tokens_i = w_i · avail_b div w_b     (exact integer)
    *   accept_frac_i     = (w_i · avail_b) / (w_b · avail_i)
    *
    * accept_frac is ONE division of two exact-integer products — the
    * exact-grid pattern, no rounding discipline; the bottleneck's own
    * fraction is exactly 1.0. Products stay in BIGINT while
    * avail · weight < 2^63 (a 10^13-token corpus with 10^5 weights is
    * still 10^5 away from the edge).
    *
    * Shape: one scan + one |sources|-row aggregate; the bottleneck is a
    * 1-row agg cross-joined back — no window, no second scan. Sources
    * without a weight are excluded (weight 0 means "not in the mix").
    * Output: (source, avail_tokens, weight, expected_tokens,
    * accept_frac) per weighted source. */
  def mixtureWeights(docs: DataFrame, weights: Seq[(String, Long)]): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      s"need positive weights, got $weights")
    val spark = docs.sparkSession
    import spark.implicits._
    val w = weights.toDF("source", "weight")
    val avail = docs.groupBy(col("source"))
      .agg(sum(size(tokens(col("text"))).cast("long")).as("avail_tokens"))
      .join(broadcast(w), Seq("source"))
    val bottleneck = avail
      .agg(min(struct(
        (col("avail_tokens").cast("double") / col("weight").cast("double")).as("ratio"),
        col("source").as("bsource"), col("avail_tokens").as("ab"),
        col("weight").as("wb"))).as("b"))
      .select(col("b.ab").as("ab"), col("b.wb").as("wb"))
    avail.crossJoin(bottleneck)
      .select(col("source"), col("avail_tokens"), col("weight"),
        expr("(weight * ab) div wb").as("expected_tokens"),
        ((col("weight") * col("ab")).cast("double") /
          (col("wb") * col("avail_tokens")).cast("double")).as("accept_frac"))
  }

  def tokenBudgetSample(docs: DataFrame, budgets: Map[String, Long],
                        defaultBudget: Long): DataFrame = {
    require(defaultBudget >= 0, s"need defaultBudget >= 0, got $defaultBudget")
    require(budgets.values.forall(_ >= 0), s"budgets must be >= 0, got $budgets")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("fp").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokenBudgetBase(docs)
      .withColumn("cum_toks", sum(col("n_toks")).over(w))
      .select(col("doc_id"), col("source"), col("n_toks"), col("cum_toks"),
        (col("cum_toks") <= budgetColOf(budgets, defaultBudget)).as("kept"))
  }

  /** Shared draw-order base of the token-budget twins: (doc_id, source,
    * n_toks, fp). Null text draws as a zero-token doc with fp 0 rather
    * than poisoning the running sum with NULL (a NULL cum would make
    * every later doc in the source undecidable). */
  private def tokenBudgetBase(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      coalesce(size(tokens(col("text"))).cast("long"), lit(0L)).as("n_toks"),
      coalesce(fingerprint(col("text")), lit(0L)).as("fp"))

  /** Per-source budget as a literal-map column (no join). */
  private def budgetColOf(budgets: Map[String, Long], defaultBudget: Long): Column =
    if (budgets.isEmpty) lit(defaultBudget)
    else coalesce(element_at(typedLit(budgets), col("source")), lit(defaultBudget))

  /** Hot-source pre-trimmed twin of [[tokenBudgetSample]] — the escape
    * hatch for a pathologically hot source (one domain owning most of a
    * crawl), whose exact per-source prefix sum otherwise serializes on
    * a single window partition: a coarse per-bucket cumulative bound
    * discards every document PROVABLY past budget before the exact
    * window runs, so the serial pass only ever sees ≈ budget worth of
    * documents plus one partial bucket, independent of how hot the
    * source is.
    *
    * Buckets are fp >> 12 (~245 of them over PolyHash's [0, FpMod)
    * range) — a prefix of the (fp, doc_id) draw order, so the running
    * bucket total is monotone along it. A bucket whose STRICTLY-PRIOR
    * bucket total already exceeds the budget can hold no kept document
    * (every doc's cum_toks ≥ that prior total), and since the prior
    * total is monotone, surviving buckets are a per-source prefix —
    * which makes the exact window over survivors equal the full
    * window on every surviving row, not just approximately. The bound
    * pass is a (source, bucket) aggregate (map-side partial, ≤
    * sources·245 rows) plus a window over that tiny table; the
    * survivor join broadcasts it. The input is scanned twice (bound
    * pass + survivor pass) — at scale the extra aggregate-only scan is
    * cheap next to serializing a hot source through one window
    * partition. Measured (SCALING.md §7, interleaved A/B on a
    * one-source corpus): the exact form grows linearly with source
    * heat (0.25 → 1.10 → 4.23 s at 50k/500k/2M docs) while this twin
    * stays flat (0.76 → 0.76 → 1.07 s); crossover on the bench box
    * lands between 50k and 500k docs per source, so the exact form
    * stays the default and this is the skewed-domain escape hatch.
    *
    * Output: exactly [[tokenBudgetSample]]'s rows RESTRICTED to
    * surviving buckets — every kept row is present with identical
    * cum_toks/kept, plus the unkept remainder of the first over-budget
    * bucket; rows provably past budget are absent. The kept set is
    * identical by construction (LlmSpec pins it row-for-row). */
  def tokenBudgetSampleTrimmed(docs: DataFrame, budgets: Map[String, Long],
                               defaultBudget: Long): DataFrame = {
    require(defaultBudget >= 0, s"need defaultBudget >= 0, got $defaultBudget")
    require(budgets.values.forall(_ >= 0), s"budgets must be >= 0, got $budgets")
    import org.apache.spark.sql.expressions.Window
    val bucketed = tokenBudgetBase(docs)
      .withColumn("bucket", shiftright(col("fp"), 12))
    val priorW = Window.partitionBy(col("source")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val surviving = bucketed
      .groupBy(col("source"), col("bucket"))
      .agg(sum(col("n_toks")).as("btoks"))
      .withColumn("prior", coalesce(sum(col("btoks")).over(priorW), lit(0L)))
      .filter(col("prior") <= budgetColOf(budgets, defaultBudget))
      .select(col("source"), col("bucket"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("fp").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .join(broadcast(surviving), Seq("source", "bucket"), "left_semi")
      .withColumn("cum_toks", sum(col("n_toks")).over(w))
      .select(col("doc_id"), col("source"), col("n_toks"), col("cum_toks"),
        (col("cum_toks") <= budgetColOf(budgets, defaultBudget)).as("kept"))
  }

  /** TF-IDF top-`k` terms per document: tf = term occurrences in the
    * doc, df = documents containing the term, score = tf · ln(N/df),
    * rounded to 4 decimals BEFORE ranking so both engines order the
    * same quantity (raw libm ln may differ in the last ulp; the rounded
    * grid is the contract). Ties break to the lexicographically smaller
    * term. One native per-row count pass (WordCounts, r20) + one
    * vocabulary hash aggregate + a vocabulary-sized join;
    * the per-doc window sorts k·docs rows, never the corpus. `n` is the
    * corpus document count (driver-side K-row boundary: one count).
    *
    * The returned frame is persisted + materialized (so the internal tf
    * cache can be released before returning); callers holding it
    * long-term may `unpersist()` it themselves — same contract as the
    * Dedup pair operators. */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = docs.count()
    // within-doc term counts in one native per-row pass (r20, the
    // lexPostings rationale — WordCounts): same (doc_id, term, tf)
    // rows as the old explode + corpus-wide groupBy(doc_id, term)
    // hash aggregate (WordCountsSpec pins row equality)
    val tf = Cached.keep(docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"),
        explode(graft.functions.WordCounts(col("text"), 1)).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, Seq("term"))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tf") * log(lit(n.toDouble) / col("df")), 4).as("tfidf"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    val out = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"),
        col("rn").cast("long").as("rn"))
    Cached.result(out, tf)
  }

  /** Masks every whole-word occurrence of `terms` with `mask` — the
    * shape of a PII/boilerplate scrub pass (the real thing swaps the
    * term list for entity patterns). Word-boundary alternation keeps
    * Java-regex and RE2 semantics identical, so the oracle mirrors
    * exactly. Output: (doc_id, redacted_md5, n_redactions) — the digest
    * rather than the full text keeps the contract row narrow. One scan,
    * codegen'd regexp, no shuffle. */
  def maskTerms(docs: DataFrame, terms: Seq[String], mask: String): DataFrame = {
    require(terms.nonEmpty, "maskTerms: empty term list")
    // terms are LITERAL WORDS, not patterns: word characters only, so no
    // regex metacharacter can change meaning (Java's \Q..\E quoting is
    // not portable to the oracle's RE2, and '.'/'+'/'(' in a term would
    // silently alter the match or desync the engines)
    terms.foreach(t => require(t.matches("[A-Za-z0-9_]+"),
      s"maskTerms: term '$t' must be word characters only"))
    val pattern = "\\b(" + terms.mkString("|") + ")\\b"
    docs.select(
      col("doc_id"),
      md5(regexp_replace(col("text"), pattern, mask).cast("binary")).as("redacted_md5"),
      size(regexp_extract_all(col("text"), lit(pattern), lit(0))).cast("long").as("n_redactions"))
  }

  /** Fixed-window token chunking with overlap — the context-window prep
    * step of a training pipeline (long documents become chunkTokens-sized
    * training sequences; consecutive chunks share `overlap` tokens so no
    * boundary context is lost). Chunk starts are every
    * stride = chunkTokens − overlap tokens; the final chunk is whatever
    * remains (possibly short — downstream filters drop it if unwanted).
    * One narrow-input repartition + one explode, no shuffle after: rows
    * scale as tokens/stride, never quadratic. */
  def chunk(docs: DataFrame, chunkTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got overlap=$overlap chunk=$chunkTokens")
    val stride = chunkTokens - overlap
    docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 1, lit(stride))).as("start"))
      .select(col("doc_id"),
        // start is a multiple of stride, so the double division is exact
        (col("start") / stride).cast("long").as("chunk_id"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(chunkTokens))).as("chunk_text"),
        least(size(col("toks")) - col("start"), lit(chunkTokens)).cast("long").as("n_tokens"))
  }

  /** Disjoint chunk table shared by the sub-document dedup operators:
    * `chunk(docs, chunkTokens, overlap = 0)` minus the token-count
    * column. (doc_id, chunk_id) is the primary key.
    *
    * Rejected alternative (measured): a posexplode + per-chunk regroup
    * build avoids slice's per-chunk copy of the token array (tokens²/k
    * char traffic) but pays a full token-stream exchange plus a
    * collect_list aggregate — interleaved A/B at sf0.1, 3 rounds,
    * min-of-samples: slice 0.69 s wall / 6.0 CPU-s vs regroup 1.03 /
    * 11.9 through the whole chunkDedup pipeline. The array copies stay
    * in one codegen stage and never shuffle; the regroup shuffles
    * every token. Idea closed. */
  private def chunkTable(docs: DataFrame, chunkTokens: Int): DataFrame =
    chunk(docs, chunkTokens, overlap = 0)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"))

  /** Reassembles documents from surviving chunk rows: per doc, the kept
    * chunks concatenated in chunk order, plus the pre/post counts. The
    * left joins run FROM the source documents, so a document whose
    * every chunk was dropped — or whose text is null and produced no
    * chunks at all — survives with n_chunks/n_kept 0 and text = ''.
    * Field extraction over the sorted struct array (`arr.chunk_text`)
    * is a native GetArrayStructFields, not a HOF, so the reassembly
    * stays in codegen. Output: (doc_id, n_chunks, n_kept, text). */
  private def reassemble(docs: DataFrame, all: DataFrame, kept: DataFrame): DataFrame = {
    val totals = all.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
    val re = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("k"),
        sort_array(collect_list(struct(col("chunk_id"), col("chunk_text")))).as("arr"))
      .select(col("doc_id"), col("k"), array_join(col("arr.chunk_text"), " ").as("t"))
    docs.select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(re, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("k"), lit(0L)).as("n_kept"),
        coalesce(col("t"), lit("")).as("text"))
  }

  /** Sub-document EXACT deduplication at fixed chunk granularity — the
    * line/paragraph-level dedup pass of C4/RefinedWeb-style pipelines
    * (Raffel et al. 2020 dedup three-sentence spans; this corpus has no
    * sentence or line boundaries, so the deterministic chunkTokens-token
    * window is the unit). A chunk survives only at its FIRST global
    * occurrence — lowest (doc_id, chunk_id) — and every later
    * occurrence, in other documents or later in the same document, is
    * removed; each document is then reassembled from its surviving
    * chunks in order.
    *
    * Scale shape: rows = tokens/chunkTokens after one explode; one
    * chunk-keyed aggregate picks keepers (min struct — partial-agg
    * friendly, no window over the full chunk table), one (doc_id,
    * chunk_id) equi-join back (keeper set <= chunk table, hash join on
    * the primary key), one doc-keyed aggregate reassembles. Nothing is
    * quadratic and every shuffle key is evenly distributed (chunk texts
    * repeat only as often as content repeats; a pathological corpus of
    * one repeated chunk is exactly the boilerplate case, where the
    * keeper aggregate's map-side partial collapses each partition to
    * one row). All arithmetic is integer/string — the oracle mirrors
    * bitwise with no float discipline needed.
    *
    * The returned frame is persisted + materialized (internal chunk
    * cache released before returning); callers holding it long-term may
    * `unpersist()` it themselves — same contract as tfidfTopTerms.
    * Output: (doc_id, n_chunks, n_kept, text). */
  def chunkDedup(docs: DataFrame, chunkTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"need chunkTokens >= 1, got $chunkTokens")
    // force before the fan-out: keepers' broadcast build, the semi-join
    // probe and the reassembly branches start concurrently, and on a
    // cold cache each recomputes the chunk explode from parquet
    // (measured r19: three ~8-10 CPU-s stages re-reading the source)
    val ch = Cached.result(chunkTable(docs, chunkTokens))
    val keepers = ch.groupBy(col("chunk_text"))
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("m"))
      .select(col("m.doc_id").as("doc_id"), col("m.chunk_id").as("chunk_id"))
    val kept = ch.join(keepers, Seq("doc_id", "chunk_id"), "left_semi")
    Cached.result(reassemble(docs, ch, kept), ch)
  }

  /** Boilerplate-chunk removal — the C4 "discard any line seen more
    * than once" rule at chunk granularity: a chunk appearing in at
    * least `minDocs` DISTINCT documents is boilerplate (header, footer,
    * license block) and is removed from EVERY document, including its
    * first occurrence — unlike [[chunkDedup]], which keeps one copy.
    * Same chunk table, one countDistinct aggregate for the blocklist,
    * one left-anti join, same reassembly; the blocklist is at most
    * vocabulary-sized and usually tiny, so the anti join broadcasts.
    * Persisted + materialized like [[chunkDedup]].
    * Output: (doc_id, n_chunks, n_kept, text). */
  def dropBoilerplateChunks(docs: DataFrame, chunkTokens: Int, minDocs: Long): DataFrame = {
    require(chunkTokens >= 1, s"need chunkTokens >= 1, got $chunkTokens")
    require(minDocs >= 2, s"need minDocs >= 2, got $minDocs")
    // force before the fan-out (the chunkDedup rationale: three cold-
    // cache consumers re-ran the chunk explode — measured ~14-16 CPU-s
    // per duplicate stage on q_boilerplate at sf0.1)
    val ch = Cached.result(chunkTable(docs, chunkTokens))
    val boiler = ch.groupBy(col("chunk_text"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("chunk_text"))
    val kept = ch.join(boiler, Seq("chunk_text"), "left_anti")
    Cached.result(reassemble(docs, ch, kept), ch)
  }

  /** Unigram language-model quality score: each document's average
    * token log-probability under the CORPUS unigram distribution,
    * avg_lp = (Σ_t ln(count(t)/N)) / n_tokens — the cheap stand-in for
    * the "perplexity filter" step of CCNet-style pipelines (real ones
    * swap the unigram table for a KenLM model; the Spark shape — score
    * every doc against a corpus-wide statistic — is identical).
    * Boilerplate made of common words scores high, gibberish and rare-
    * token noise score very low; filter on a threshold.
    *
    * Shape: one explode feeding the vocabulary aggregate, then a
    * token↔vocab equi-join and a per-doc aggregate — the tfidf cost
    * profile (the vocab side broadcasts when small, shuffles when not;
    * both sides partial-aggregate map-side). N is one driver count on
    * the persisted token table, released before returning. The output
    * rounds to 4 decimals: ln values agree cross-engine to the last
    * ulp and the per-doc sum order is the gram-matrix margin argument.
    * Output: (doc_id, n_tokens, avg_logprob). */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val toks = Cached.keep(docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w")))
    val total = toks.count()
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val out = toks.join(vocab, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(log(col("c").cast("double") / total.toDouble)).as("lp"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("lp") / col("n_tokens"), 4).as("avg_logprob"))
    Cached.result(out, toks)
  }

  /** Interpolated bigram language-model score — the next step up from
    * [[unigramLogProb]] toward the CCNet perplexity filter (real
    * pipelines use a KenLM n-gram model; the Spark shape — score every
    * token transition against corpus-wide statistics — is the same,
    * and Jelinek-Mercer interpolation is the standard smoothing):
    * per transition, p = λ·c(prev,cur)/c(prev) + (1−λ)·c(cur)/N, score
    * = Σ ln p / n_bigrams. Context counts c(prev) are plain unigram
    * counts (the usual simplification; the engines agree because both
    * use the same convention). Gibberish scores low under both terms;
    * boilerplate scores high — threshold downstream.
    *
    * Shape: one token explode feeds the unigram aggregate; one
    * native positional-struct explode ([[graft.functions
    * .WordNGramStructs]], whole-stage codegen) feeds the bigram
    * aggregate and the scoring rows; two
    * vocabulary equi-joins (broadcast when small) and one per-doc
    * aggregate. The per-term double is built with identical literals
    * and operation order in the oracle, so both engines ln the same
    * IEEE value; the per-doc sum is order-sensitive but round-4
    * absorbs the ulp like unigramLogProb. (Accepted risk, shared with
    * every round-4 float contract here: a per-doc sum landing within
    * an ulp of a .00005 rounding boundary would break bitwise parity;
    * if that ever surfaces, pin the order on both engines by summing
    * sort_array(collect_list(lp)) left-to-right.) Docs with < 2 tokens
    * emit n_bigrams = 0 with NULL score via the final left join.
    * Output: (doc_id, n_bigrams, avg_logprob).
    *
    * Persist decision, measured (SCALING.md §8: interleaved 3 rounds
    * at sf0.1, min-of-samples wall): bg persisted 2.06 s vs
    * recomputed-by-both-consumers 2.24 s vs pre-aggregated (doc_id,
    * prev, cur) counts before the vocab joins 2.46 s — the cache keeps
    * its small edge (the tokens-sized write is cheaper than a second
    * explode pass), and pre-agg LOSES on this corpus: documents repeat
    * few bigrams internally, so the extra aggregate outweighs the join
    * rows it saves (adopting it would also be a contract change: k·lp
    * in one multiply is a different float-sum shape from lp added k
    * times). */
  def bigramLogProb(docs: DataFrame, lambda: Double): DataFrame = {
    require(lambda > 0 && lambda < 1, s"need 0 < lambda < 1, got $lambda")
    val spread = docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
    val toks = Cached.keep(spread
      .select(col("doc_id"), explode(tokens(col("text"))).as("w")))
    val total = toks.count()
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("cu"))
    // one native positional-struct pass (r20, the CharNGrams
    // discipline): same (prev, cur) token pairs as the zip-shifted
    // slices, without materializing the token array plus two sliced
    // copies plus the zipped structs per row — WordNGramStructsSpec
    // pins equality with the arrays_zip form
    val bg = Cached.keep(spread
      .select(col("doc_id"),
        explode(graft.functions.WordNGramStructs(col("text"), 2)).as("b"))
      .select(col("doc_id"), col("b.w1").as("prev"), col("b.w2").as("cur")))
    val bc = bg.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("cb"))
    val lp = log(
      lit(lambda) * (col("cb").cast("double") / col("cup").cast("double")) +
        lit(1.0 - lambda) * (col("cuc").cast("double") / lit(total.toDouble)))
    val scored = bg
      .join(bc, Seq("prev", "cur"))
      .join(uni.select(col("w").as("prev"), col("cu").as("cup")), Seq("prev"))
      .join(uni.select(col("w").as("cur"), col("cu").as("cuc")), Seq("cur"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(lp).as("lp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("lp") / col("n_bigrams"), 4).as("avg_logprob"))
    val out = docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_logprob"))
    Cached.result(out, toks, bg)
  }

  /** Trigram stupid-backoff LM score (Brants et al., EMNLP 2007 —
    * "Large Language Models in Machine Translation", the smoothing
    * designed FOR distributed MapReduce-era LMs: no discount mass to
    * normalize across shards, just count ratios with a fixed backoff
    * penalty) — the top of the scorer ladder above [[unigramLogProb]]
    * and [[bigramLogProb]], and unlike them it scores against a
    * SEPARATE reference corpus `model` (the CCNet shape: score the
    * crawl against a trusted-domain LM), which is what makes backoff
    * meaningful — a corpus scored against itself never sees an unseen
    * trigram. Per transition (w1,w2,w3):
    *   S = ct(w1w2w3)/cb(w1w2)            if the trigram is in the model
    *     | θ·(cb(w2w3)/cu(w2))            else if the bigram is
    *     | θ·(θ·(cu(w3)/N))               else if the unigram is
    *     | θ·(θ·(1/N))                    else (out-of-vocabulary)
    * score = round(Σ ln S / n_trigrams, 4); docs with < 3 tokens emit
    * n_trigrams = 0 with NULL score.
    *
    * Shape: model-side token/bigram/trigram aggregates (vocab-sized,
    * broadcast when small — the bigramLogProb caveat applies), the doc
    * trigram stream built by one native positional-struct explode
    * ([[graft.functions.WordNGramStructs]]), LEFT equi-joins whose
    * null pattern IS the backoff ladder (a model trigram implies its
    * prefix bigram, a model bigram implies its unigrams — so each
    * branch's denominator is non-null by construction), one per-doc
    * aggregate. Float discipline: every branch builds its double with
    * identical literals and nesting (θ·(θ·x), never (θ·θ)·x) in both
    * engines, ln inside the branch; round-4 absorbs per-doc sum order
    * (the bigramLogProb argument). Output: (doc_id, n_trigrams,
    * avg_logprob).
    *
    * Join shape: each backoff branch's value is pre-divided on the
    * VOCAB-side table — S1 = ct/cb12 per distinct model trigram,
    * S2 = θ·cb/cu per model bigram, S3 = θ²·cu/N per unigram — so the
    * doc trigram stream takes THREE left joins instead of the oracle's
    * five and the divisions run once per distinct n-gram instead of
    * once per occurrence. Bit-identical by construction: each branch
    * divides the SAME integer pair with the same nesting, so the
    * per-row double (and its ln) is the same IEEE value the five-join
    * oracle (`TextSql.trigramBackoffSql`) computes. Measured (SCALING.md §9: 3 interleaved rounds at
    * sf0.1, min-of-samples): rate tables 19.7 CPU-s vs the direct
    * five-join form 23.9 CPU-s, outputs bitwise identical every round. */
  def trigramBackoffScore(docs: DataFrame, model: DataFrame,
                          theta: Double = 0.4): DataFrame = {
    require(theta > 0 && theta < 1, s"need 0 < theta < 1, got $theta")
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val mSpread = model.repartition(parts)
    val mToks = Cached.keep(mSpread
      .select(explode(tokens(col("text"))).as("w")))
    val total = mToks.count()
    val uni = mToks.groupBy(col("w")).agg(count(lit(1)).as("cu"))
    // one native positional-struct pass per gram stream (r20): same
    // (w1..wn) token tuples as the zip-shifted slices, one boundary
    // scan per row instead of n+2 array materializations —
    // WordNGramStructsSpec pins equality with the arrays_zip form
    def gramRows(src: DataFrame, keep: Seq[org.apache.spark.sql.Column], n: Int): DataFrame =
      src.select((keep :+
        explode(graft.functions.WordNGramStructs(col("text"), n)).as("g")): _*)
        .select((keep ++ (1 to n).map(i => col(s"g.w$i").as(s"w$i"))): _*)
    val mBg = gramRows(mSpread, Seq.empty, 2)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val mTg = gramRows(mSpread, Seq.empty, 3)
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("ct"))
    val dTg = gramRows(
      docs.repartition(parts), Seq(col("doc_id")), 3)
    // OOV floor: same literals and nesting as every branch's SQL mirror
    val defaultLp = log(lit(theta) * (lit(theta) * (lit(1.0) / lit(total.toDouble))))
    // vocab-side rate tables: one double per distinct n-gram; a model
    // trigram always finds its prefix bigram (same corpus), so the
    // inner join on (w1, w2) loses nothing
    val s1 = mTg
      .join(mBg.select(col("w1"), col("w2"), col("cb")), Seq("w1", "w2"))
      .select(col("w1"), col("w2"), col("w3"),
        (col("ct").cast("double") / col("cb").cast("double")).as("s1"))
    val s2 = mBg
      .join(uni.select(col("w").as("w1"), col("cu")), Seq("w1"))
      .select(col("w1").as("w2"), col("w2").as("w3"),
        (lit(theta) * (col("cb").cast("double") / col("cu").cast("double"))).as("s2"))
    val s3 = uni.select(col("w").as("w3"),
      (lit(theta) * (lit(theta) * (col("cu").cast("double") / lit(total.toDouble))))
        .as("s3"))
    val scored = dTg
      .join(s1, Seq("w1", "w2", "w3"), "left")
      .join(s2, Seq("w2", "w3"), "left")
      .join(s3, Seq("w3"), "left")
      .withColumn("lp",
        when(col("s1").isNotNull, log(col("s1")))
          .when(col("s2").isNotNull, log(col("s2")))
          .when(col("s3").isNotNull, log(col("s3")))
          .otherwise(defaultLp))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("lp")).as("lp"))
      .select(col("doc_id"), col("n_trigrams"),
        round(col("lp") / col("n_trigrams"), 4).as("avg_logprob"))
    val out = docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        col("avg_logprob"))
    Cached.result(out, mToks)
  }

  /** Cross-document novelty score — the diversity signal curation runs
    * rank with (near-boilerplate documents share every n-gram with the
    * rest of the corpus; genuinely new content doesn't): per document,
    * the fraction of its DISTINCT word bigrams that appear in no other
    * document. novelty = round(n_unique / n_shingles, 4); documents
    * with < 2 tokens have no bigrams and score NULL via the left join.
    *
    * Shape: one shingle explode, then df as a count WINDOW over the
    * shingle key — one exchange of the shingle stream instead of the
    * aggregate + join-back's two, and the stream has one consumer so
    * nothing persists (r19; the removeDuplicateSpans rationale — local
    * CPU a wash because the explode dominates, the removed exchange is
    * the scale lever). Integer counts + one rounded division: bitwise
    * cross-engine.
    * Output: (doc_id, n_shingles, n_unique, novelty). */
  def novelty(docs: DataFrame): DataFrame = {
    // df via a count WINDOW over the shingle key (r19, the
    // removeDuplicateSpans rationale): aggregate + join-back shuffled
    // the full shingle stream twice — the window needs one exchange,
    // and a hot boilerplate shingle's rows were already co-located by
    // the old sort-merge join, so the skew shape is unchanged. Counts
    // are exact longs; the output is bitwise identical. The window
    // leaves the shingle stream with ONE consumer, so the old persist
    // is gone too (single-consumer caches are the measured regression,
    // see the substringPairs scaladoc).
    //
    // Broadcast-regime caveat (r20, the ADVICE item — mirroring the
    // substringPairs rejection rationale): when the old dfreq aggregate
    // was small enough to BROADCAST back, the shingle stream never
    // shuffled by key at all, and the window additionally forgoes
    // map-side partial aggregation and AQE skew-join splitting — a
    // corpus-universal shingle becomes one unsplittable window
    // partition. Local CPU measured a wash (the explode dominates); the
    // rewrite is kept for the removed full-stream exchange on the
    // non-broadcast (large-corpus) regime. The hot-shingle straggler
    // shape (decade corpus with a corpus-universal boilerplate shingle)
    // was measured: the window still wins there (SCALING.md §6).
    val per = docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("s"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("s"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("df") === 1, 1)).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_shingles"), 4).as("novelty"))
    val out = docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        col("novelty"))
    Cached.result(out)
  }

  /** Heavy hitters by count-min sketch — completes the sketch triad
    * (HLL distinct, KLL quantiles, CMS frequencies): the exact top-`k`
    * tokens with their counts, each annotated with whether the
    * MERGEABLE sketch honors its guarantees (estimate >= exact always;
    * estimate <= exact + ceil(eps·N) with probability `confidence` —
    * deterministic here because the seed is fixed). The sketch is what
    * scales: partitions build local sketches and MERGE (Spark's
    * stat.countMinSketch aggregates tree-wise), so corpus-wide token
    * frequencies need constant memory per executor while the exact
    * aggregate exists to verify it at contract scale. Driver traffic:
    * one sketch + k rows.
    * Output: (w, n_exact, overestimates, within_eps). */
  def heavyHitters(docs: DataFrame, k: Int, eps: Double,
                   confidence: Double, seed: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = Cached.keep(docs
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(explode(tokens(col("text"))).as("w")))
    val n = toks.count()
    val cms = toks.stat.countMinSketch("w", eps, confidence, seed)
    val top = toks.groupBy(col("w")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("w")).limit(k)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    toks.unpersist(false)
    val bound = math.ceil(eps * n).toLong
    top.toSeq.map { case (w, exact) =>
      val est = cms.estimateCount(w)
      (w, exact, est >= exact, est <= exact + bound)
    }.toDF("w", "n_exact", "overestimates", "within_eps")
  }

  /** Fixed "learned" weights of [[qualityClassifier]], in TENTHS — the
    * linear model a DCLM/FineWeb-Edu-style curation pass ships after
    * training offline (fastText / logistic head distilled to a handful
    * of features), quantized to 0.1 resolution so the whole score is
    * exact integer arithmetic (see the operator scaladoc). Literals,
    * not config: they're part of the contract and the oracle SQL is
    * generated from these same constants. Model: score = (−1.2
    * + 2.1·stop_ratio + 0.8·alpha_frac − 1.5·digit_frac
    * + 0.9·distinct_ratio + 0.4·min(1, n/200) − 0.6·min(1, avglen/12)). */
  val QcBiasT = -12L
  val QcStopT = 21L
  val QcAlphaT = 8L
  val QcDigitT = 15L
  val QcDistinctT = 9L
  val QcLenT = 4L
  val QcAvgLenT = 6L
  /** Keep threshold — 0.0 splits the contract corpus near its median
    * (measured: median 0.034, range −0.16 to 0.66 at sf0.01), so the
    * contract query exercises both branches. */
  val QcThreshold = 0.0

  /** Contract keep-fraction of the per-source quality-quantile gate:
    * keep the top 20% of each source by classifier score (the
    * FineWeb-Edu-style per-dump budget). 0.2 is not exact binary, but
    * both engines parse the same literal to the same IEEE double and
    * pr <= q compares identical doubles — no grid needed. */
  val QqKeep = 0.2

  /** Learned quality-classifier scoring — the DCLM (Li et al. 2024) /
    * FineWeb-Edu (Penedo et al. 2024) curation shape: a linear model
    * with FIXED learned weights over cheap per-document features,
    * applied as one inlined codegen'd expression (no UDF, no model
    * server) so scoring 100 TB is exactly one scan. Features: stopword
    * ratio (fluency), alphabetic-token fraction (prose vs markup),
    * digit-token fraction (tables/logs score down), distinct-token
    * ratio (repetition penalty), capped length and mean-word-length
    * terms — the classic quality-classifier feature set, with weights
    * standing in for the offline-trained coefficients.
    *
    * Cross-engine discipline — the exact-grid BIGINT pattern
    * (tfidfCosinePairs precedent), taken further: every feature is an
    * integer count, the weights are integer tenths, and the score is
    * assembled as ONE exact BIGINT numerator over the common
    * denominator 12000·n, emitted as a single IEEE division of two
    * exact integers — bit-identical cross-engine with NO rounding
    * discipline at all. (The float-chain form was tried first and a
    * real corpus doc landed within an ulp of the .00005 round
    * boundary, where Spark's BigDecimal HALF_UP and DuckDB's
    * multiply-then-round disagree — and DuckDB's DOUBLE→DECIMAL cast
    * resolves only ~15 significant digits, so no oracle-side rounding
    * variant can mirror it either. Exact integers close the entire
    * divergence class.) keep compares the score against
    * [[QcThreshold]] — equivalent to sign(numerator) at 0.0.
    * Output: (doc_id, n_tokens, score, keep). */
  def qualityClassifier(docs: DataFrame): DataFrame =
    qualityScored(docs, Seq.empty)
      .select(col("doc_id"), col("n_tokens"), col("score"),
        (col("score") >= QcThreshold).as("keep"))

  /** Shared single-scan scorer behind [[qualityClassifier]] and
    * [[qualityQuantileFilter]]: (doc_id, carry..., n_tokens, score).
    * `carry` columns ride the same scan so the quantile gate never
    * needs a doc_id self-join to recover `source`. */
  private[llm] def qualityScored(docs: DataFrame, carry: Seq[String]): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    // LONG fold seed: an INT accumulator would throw ARITHMETIC_OVERFLOW
    // under ANSI on a pathological multi-GB document while the DuckDB
    // oracle's list_sum widens — the values are identical, only the
    // failure mode differs, and a single-scan 100 TB scorer must not
    // die on one outlier row
    val sumLen = aggregate(transform(toks, t => length(t)), lit(0L), (acc, x) => acc + x)
    // \A..\z absolute anchors: Java-regex '$' also matches before a
    // trailing newline; RE2's does not (the gopherRules precedent)
    val alphaHits = size(filter(toks, t => t.rlike("\\A[A-Za-z]+\\z")))
    val digitHits = size(filter(toks, t => t.rlike("[0-9]")))
    val carryCols = carry.map(col)
    docs.select(
        Seq(col("doc_id")) ++ carryCols ++ Seq(
        nTok.as("n_tokens"),
        hitCount(toks, Stopwords).cast("long").as("a"),
        alphaHits.cast("long").as("b"),
        digitHits.cast("long").as("c"),
        size(array_distinct(toks)).cast("long").as("d"),
        sumLen.cast("long").as("s")): _*)
      .select(Seq(col("doc_id")) ++ carryCols ++ Seq(col("n_tokens"),
        // score·12000n = 1200·(bias·n + w·counts) + 6n·lenT·min(200,n)
        //              − 100·avgLenT·min(12n, sumlen)
        ((lit(QcBiasT * 1200) * col("n_tokens")
          + lit(QcStopT * 1200) * col("a")
          + lit(QcAlphaT * 1200) * col("b")
          - lit(QcDigitT * 1200) * col("c")
          + lit(QcDistinctT * 1200) * col("d")
          + lit(QcLenT * 6) * col("n_tokens") * least(lit(200L), col("n_tokens"))
          - lit(QcAvgLenT * 100) * least(lit(12L) * col("n_tokens"), col("s")))
          .cast("double") / (lit(12000L) * col("n_tokens")).cast("double"))
          .as("score")): _*)
  }

  /** Per-source quality-quantile gate — the FineWeb-style budgeted form
    * of [[qualityClassifier]]: instead of one global score threshold,
    * keep the top `q` fraction of each source's documents by classifier
    * score (a fixed threshold keeps wildly different fractions of a
    * clean encyclopedia dump vs a noisy crawl; the quantile form spends
    * a per-source quality budget, which is how published pipelines
    * actually gate heterogeneous sources).
    *
    * Determinism/cross-engine: the score is the exact-grid division of
    * [[qualityClassifier]] (bitwise cross-engine); ordering is (score
    * DESC, doc_id) — total, so every rank is distinct and percent_rank
    * = (rank-1)/(n-1) is a single small-integer IEEE division (the
    * q_percent_rank precedent); n = 1 sources get pr = 0 in both
    * engines. keep = pr <= q compares identical doubles.
    *
    * Scale shape: ONE scan (the scorer carries `source` through — no
    * doc_id self-join to recover it) + one source-keyed exchange for
    * the window; a window per source is exactly the 100 TB layout
    * (sources partition the corpus), and a skewed source AQE-splits
    * like any hot window key. Output: (doc_id, source, score, pr,
    * keep). */
  def qualityQuantileFilter(docs: DataFrame, q: Double): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"need 0 <= q <= 1, got $q")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id"))
    qualityScored(docs, Seq("source"))
      .select(col("doc_id"), col("source"), col("score"),
        percent_rank().over(w).as("pr"))
      .withColumn("keep", col("pr") <= q)
  }

  /** 100 TB scale twin of [[qualityQuantileFilter]]: the exact gate
    * ranks every source's documents (a per-source SORT — at real scale
    * the whole corpus flows through source-keyed sort exchanges just
    * to learn each doc's rank). This twin never sorts: one aggregate
    * derives a per-source score THRESHOLD from a mergeable quantile
    * sketch (`approx_percentile`, Greenwald-Khanna summaries — partial
    * summaries merge on executors like every sketch in this repo), the
    * sources-sized threshold table broadcasts back, and keep is a
    * scan-side comparison. Two corpus scans, zero sorts, state = one
    * summary per source.
    *
    * Kept fraction lands within the sketch's rank error (≤ 1/accuracy
    * relative) of `q`, and kept docs are exactly the top scorers of
    * their source above the threshold — but the summary's merge order
    * is partition-layout-dependent, so the threshold (and boundary
    * docs inside the error band) can move across layouts: this is the
    * bench/spec-verified scale twin, NOT a contract query — the
    * established heavyHittersSketched split: `q_quality_quantile`
    * pins the exact semantics bitwise. Output: (doc_id, source,
    * score, keep). */
  def qualityQuantileFilterSketched(docs: DataFrame, q: Double,
                                    accuracy: Int = 10000): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"need 0 <= q <= 1, got $q")
    require(accuracy >= 1, s"need accuracy >= 1, got $accuracy")
    val scored = qualityScored(docs, Seq("source"))
    val thr = scored.groupBy(col("source"))
      .agg(percentile_approx(col("score"), lit(1.0 - q), lit(accuracy)).as("t"))
    scored.join(broadcast(thr), Seq("source"))
      .select(col("doc_id"), col("source"), col("score"),
        (col("score") >= col("t")).as("keep"))
  }

  /** Sketch-only heavy hitters — the 100 TB twin of [[heavyHitters]],
    * which VERIFIES its count-min sketch but still PRODUCES the answer
    * from an exact corpus-wide `groupBy(w)` top-k: precisely the
    * vocabulary-sized aggregate the sketch exists to avoid. This twin
    * never aggregates the corpus exactly. Candidates come from a
    * per-partition Misra-Gries summary (`capacity` bounded counters per
    * partition; mapPartitions — genuine per-partition imperative state,
    * the documented last-resort case), and the merged mergeable CMS
    * scores them. Correctness of the candidate set is the pigeonhole
    * argument: a token with global count > N/(capacity+1) must exceed
    * N_p/(capacity+1) in at least one partition (else summing the
    * per-partition bounds contradicts the global count), and Misra-
    * Gries never evicts a key whose local count exceeds that bound.
    * The INTRINSIC coverage level is therefore N/(capacity+1) —
    * candidates ⊇ every token with global count above it, for ANY
    * capacity. Coverage at the CMS's eps level (count > eps·N) follows
    * only when capacity+1 >= 1/eps, and that precondition is the
    * CALLER's responsibility — deliberately NOT a require(), because
    * the sub-1/eps regime is legitimate (a memory-capped caller gets
    * the honest weaker N/(capacity+1) guarantee, and the eviction-
    * thrash specs exercise exactly that regime). Contract-facing
    * callers (Bench, LlmSpec contract pin) all run capacity >= 1/eps.
    * Driver traffic is the sketch plus at most
    * partitions·capacity candidate rows — bounded by the cluster
    * layout, never by the vocabulary. Selection is top-`k` by CMS
    * estimate (ties to the lexicographically smaller token); estimates
    * only OVERestimate, so a true heavy hitter above the eps·N band
    * cannot be displaced by an absent candidate, only by another
    * token's overestimate within the band — the same guarantee regime
    * [[heavyHitters]] verifies. Output: (w, n_est), k rows.
    *
    * The candidate SET is partition-layout-dependent in the eviction
    * regime (Misra-Gries keeps at most `capacity` keys per partition),
    * which is why this operator is the bench/spec-verified scale twin
    * rather than a hash-checked contract query: the exact+flags form
    * (`q_heavy_hitters`) already pins the sketch semantics bitwise. */
  def heavyHittersSketched(docs: DataFrame, k: Int, capacity: Int, eps: Double,
                           confidence: Double, seed: Int): DataFrame = {
    require(k >= 1 && capacity >= k,
      s"need 1 <= k <= capacity, got k=$k capacity=$capacity")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = Cached.keep(docs
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(explode(tokens(col("text"))).as("w")))
    val cms = toks.stat.countMinSketch("w", eps, confidence, seed)
    val candidates = toks.as[String].mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { w =>
        counts.get(w) match {
          case Some(c) => counts(w) = c + 1
          case None if counts.size < capacity => counts(w) = 1L
          case None =>
            // decrement-all step (the new token is implicitly charged
            // too): every counter loses one, zeros evict — O(capacity)
            // amortized once per capacity+1 unmatched arrivals
            counts.mapValuesInPlace((_, c) => c - 1)
            counts.filterInPlace((_, c) => c > 0)
        }
      }
      counts.keysIterator
    }.distinct().collect() // <= partitions * capacity rows by construction
    toks.unpersist(false)
    val top = candidates
      .map(w => (w, cms.estimateCount(w)))
      .sortBy { case (w, est) => (-est, w) }
      .take(k)
    top.toSeq.toDF("w", "n_est")
  }

  /** Temperature-flattened mixture sampling (the mT5 / multilingual
    * recipe, Xue et al. 2021: sample source s with probability ∝
    * share_s^α, α < 1, so hot sources flatten and rare ones survive)
    * at α = 0.5 — the one exponent whose power function (sqrt) is
    * IEEE-correctly-rounded in BOTH engines, which is what lets the
    * per-source keep rates cross to the oracle bitwise; other α would
    * ride pow(), which neither engine guarantees to the last ulp.
    * Per-source keep rate r_s = sqrt(toks_min/toks_s) (the smallest
    * source keeps everything; a source 100× hotter keeps 1/10 — token
    * mass ∝ share^0.5 as the recipe wants), applied RNG-free as the
    * content-hash coin: keep iff fingerprint(text) < floor(r_s·FpMod).
    * Reproducible across runs/engines, duplicate-affine, and each row
    * decides locally from its own bytes + a sources-sized literal map
    * (no join) — the deterministicSample scale argument with
    * per-source acceptance rates.
    *
    * Driver boundary: ONE sources-sized aggregate collect (crawl
    * domains ≈ thousands of rows) to build the threshold map; the
    * corpus itself never leaves the executors. Output: input rows +
    * (keep BOOLEAN); callers filter or report. */
  def temperatureSample(docs: DataFrame): DataFrame = {
    val perSource = docs
      .groupBy(col("source"))
      .agg(sum(coalesce(size(tokens(col("text"))), lit(0))).as("toks"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(perSource.nonEmpty, "temperatureSample: no sources")
    // fail LOUDLY on a null source (the events-reader precedent): the
    // literal threshold map cannot carry a null key and the oracle's
    // equi-join would silently drop those rows — an exception here
    // surfaces as one clear error instead of a confusing hash mismatch
    require(perSource.keys.forall(_ != null),
      "temperatureSample: null source value — coalesce sources upstream")
    require(perSource.values.forall(_ > 0),
      s"temperatureSample: zero-token source(s) ${perSource.filter(_._2 == 0).keys} " +
        "would zero every threshold — drop empty sources first")
    val minToks = perSource.values.min
    // same op order as the oracle: double division, sqrt, * FpMod, floor
    val thresholds = perSource.map { case (s, t) =>
      s -> math.floor(math.sqrt(minToks.toDouble / t.toDouble) * FpMod.toDouble).toLong
    }
    docs.withColumn("keep",
      coalesce(fingerprint(col("text")), lit(0L)) <
        element_at(typedLit(thresholds), col("source")))
  }

  /** Per-source vocabulary report — the Heaps-law / type-token-ratio
    * diagnostic a corpus audit runs per domain (a source whose TTR
    * collapses is template spam; one whose vocabulary never grows is
    * boilerplate): per source, document/token/distinct-token counts
    * and the type-token ratio (one exact-integer division — bitwise
    * cross-engine, unrounded), PLUS the sketch twin — the
    * HyperLogLog++ estimate (`approx_count_distinct`, mergeable,
    * deterministic: hash-based, no RNG) with a guarantee flag that it
    * landed within 3·rsd of the exact count. At 100 TB the HLL column
    * IS the operator (constant memory per source vs a vocabulary-sized
    * exact distinct); the exact column exists to verify it at contract
    * scale — the q_heavy_hitters exact+flags pattern.
    * Output: (source, n_docs, n_tokens, n_types, type_token_ratio,
    * hll_ok). */
  def vocabStats(docs: DataFrame, rsd: Double = 0.05): DataFrame =
    docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("source"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        countDistinct(col("w")).as("n_types"),
        approx_count_distinct(col("w"), rsd).as("hll"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_types"),
        // exact-grid: ONE division of two CAST-to-DOUBLE exact integers
        // is bitwise cross-engine with no rounding discipline at all —
        // round(x, 4) here would only add DuckDB multiply-then-round
        // half-boundary flake risk (the qualityClassifier pattern)
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("type_token_ratio"),
        (abs(col("hll") - col("n_types")).cast("double") <=
          col("n_types").cast("double") * lit(3 * rsd)).as("hll_ok"))

  /** Integer scale of the TextRank grid: ranks live on a 1e-9 lattice
    * (S·N·85 must stay < 2^63 — headroom to ~10^8 graph nodes). */
  val TextrankScale = 1000000000L

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004) —
    * PageRank over the word co-occurrence graph: nodes are tokens
    * appearing in at least one adjacency pair, edges the symmetrized
    * DISTINCT adjacent-token pairs (self-loops dropped), damping 0.85,
    * a FIXED `iterations` count (equality contracts need identical
    * iteration counts, not convergence — the PCA-power precedent).
    * The corpus-level keyword ranker of the TextRank family; the
    * per-document variant is this operator over one document's rows.
    *
    * Numerics — the exact-grid BIGINT pattern taken to an ITERATIVE
    * algorithm: ranks are scaled integers (pr₀ = S), each neighbor
    * share is one integer division pr div deg, sums are exact BIGINT
    * (order-free — no float-sum partition sensitivity anywhere), and
    * the update is pr' = (15·S) div 100 + (85·Σshares) div 100. The
    * ≤ deg−1 units a node's outflow loses to integer division are
    * ~1e-9 relative and PART OF THE CONTRACT — both engines compute
    * the identical lattice walk, so the oracle (the same three
    * unrolled iterations in SQL) matches bitwise with no rounding
    * discipline at all.
    *
    * Scale shape: one explode builds the edge list (distinct — bounded
    * by the bigram vocabulary, not the corpus); each iteration is one
    * vocab-sized join + hash aggregate (map-side partials; at cluster
    * scale edges pre-partition by src so iterations reuse one
    * exchange). Iterations persist+materialize so plan depth stays
    * constant (the k-means loop discipline, kept distributed — no
    * driver collect; the K-row boundary is only the final top-k).
    * Output: (w, pr, rn) — top `k` by final rank, ties to the
    * lexicographically smaller token. */
  def textrank(docs: DataFrame, iterations: Int, k: Int): DataFrame = {
    require(iterations >= 1, s"need iterations >= 1, got $iterations")
    require(k >= 1, s"need k >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val (edgesRaw, und) = textrankEdges(docs, Seq.empty)
    val edges = Cached.keep(edgesRaw)
    val (pr, cache) = textrankWalk(edges, Seq.empty, iterations)
    // TakeOrderedAndProject trims the vocab to k rows BEFORE the
    // (k-row, single-partition) ranking window — never a global sort
    val out = pr
      .orderBy(col("pr").desc, col("w")).limit(k)
      .withColumn("rn",
        row_number().over(Window.orderBy(col("pr").desc, col("w"))).cast("long"))
      .select(col("w"), col("pr"), col("rn"))
    Cached.result(out, Seq(edges, und) ++ cache: _*)
  }

  /** Per-document TextRank keywords — the product form (each document
    * gets its own co-occurrence graph and its own top-`k`): identical
    * integer walk with `doc_id` joining every key, which makes the
    * whole thing embarrassingly parallel at 100 TB — every join,
    * aggregate, and the final ranking window shard by document, so no
    * stage ever sees a corpus-wide key space and the per-doc window
    * trims map-side (WindowGroupLimit). Output: (doc_id, w, pr, rn),
    * top `k` per document (fewer when the graph is smaller). */
  def textrankPerDoc(docs: DataFrame, iterations: Int, k: Int): DataFrame = {
    require(iterations >= 1, s"need iterations >= 1, got $iterations")
    require(k >= 1, s"need k >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val (edgesRaw, und) = textrankEdges(docs, Seq("doc_id"))
    val edges = Cached.keep(edgesRaw)
    val (pr, cache) = textrankWalk(edges, Seq("doc_id"), iterations)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pr").desc, col("w"))
    val out = pr
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("w"), col("pr"), col("rn"))
    Cached.result(out, Seq(edges, und) ++ cache: _*)
  }

  /** Symmetrized DISTINCT word-adjacency edges, optionally keyed
    * (keys ++ (src, dst)). Shared by the corpus and per-doc walks.
    *
    * Shape (r19): canonicalize each adjacency to its UNDIRECTED
    * (least, greatest) form first, distinct THAT, and symmetrize by
    * unioning the distinct half-edge set with its swap. The previous
    * union-then-distinct form evaluated the tokenize/zip/explode
    * pipeline TWICE (Spark reuses no DataFrame subplans — one full
    * bigram pass per union branch) and hash-distinct'ed 2x the rows;
    * here the corpus pass runs once, distinct sees half the rows, and
    * the swap branch is a projection of the persisted half-edge cache
    * (forced before the union so the two branches can't race it cold).
    * Set-equivalent by construction: w1 != w2 is filtered before
    * canonicalization, so {(a,b),(b,a)} maps 1:1 to {(min,max)} and
    * back — downstream degrees, walks, and rankings are bitwise
    * unchanged (integer math over the same edge SET).
    * Returns (edges, half-edge cache handle) — the caller releases the
    * cache after materializing its output. */
  private def textrankEdges(docs: DataFrame, keys: Seq[String]): (DataFrame, DataFrame) = {
    val kc = keys.map(col)
    // adjacency pairs from one native positional-struct pass (r20, the
    // trigram gramRows shape) — no join-then-resplit string round-trip
    // on the corpus-wide hot path, and no token-array + slices + zip
    // materialization per row (WordNGramStructsSpec pins equality)
    val bg = docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select((kc :+ explode(
        graft.functions.WordNGramStructs(col("text"), 2)).as("g")): _*)
      .select((kc :+ col("g.w1").as("w1") :+ col("g.w2").as("w2")): _*)
      .filter(col("w1") =!= col("w2"))
    val und = Cached.result(bg
      .select((kc :+ least(col("w1"), col("w2")).as("src")
        :+ greatest(col("w1"), col("w2")).as("dst")): _*)
      .distinct())
    val edges = und.unionAll(
      und.select((kc :+ col("dst").as("src") :+ col("src").as("dst")): _*))
    (edges, und)
  }

  /** The shared integer PageRank walk over a (keys, src, dst) edge
    * frame; returns the final rank frame (keys, w, pr) plus its cache
    * handle for the caller to release after materializing output.
    *
    * Join shape: degrees are attached to the EDGE LIST once up front
    * (deg_src for the share division; deg_dst re-derived inside the
    * aggregate via max — functionally dependent on (keys, dst), so
    * deterministic), which makes each iteration ONE join + one
    * aggregate instead of two joins + one aggregate — over I
    * iterations, I+2 joins total instead of 2I, and the per-iteration
    * shuffle count (the thing that multiplies at scale) drops by one.
    * Measured honestly (targeted bench at sf0.1): the two shapes are
    * EQUIVALENT at bench scale — q_textrank_doc 55.4 vs 56.3 CPU-s —
    * because the one-time decoration offsets the join savings over 3
    * iterations; the fused shape is kept for the per-iteration shuffle
    * count, which is what compounds at cluster scale and iteration
    * counts. Arithmetic is identical either way — same integer
    * divisions, same exact sums — a pure plan choice the contract
    * can't see. */
  private def textrankWalk(edges: DataFrame, keys: Seq[String],
                           iterations: Int): (DataFrame, Option[DataFrame]) = {
    val s = TextrankScale
    val kc = keys.map(col)
    val deg = edges.groupBy((kc :+ col("src")): _*).agg(count(lit(1)).as("deg"))
    // degree-decorated edges: deg_src rides every edge row; deg_dst is
    // recovered inside the aggregate (all rows of a dst group agree)
    val degDst = deg.select((kc :+ col("src").as("dst") :+ col("deg").as("deg_dst")): _*)
    // persist + materialize the decorated edges: they are re-read every
    // iteration, and an unpersisted 2-join decoration would re-execute
    // per reference (the multi-reference-subplan trap — measured 94 vs
    // 54 CPU-s on q_textrank_doc before this persist)
    val edgesD = Cached.result(edges
      .join(deg.withColumnRenamed("deg", "deg_src"), keys :+ "src")
      .join(degDst, keys :+ "dst"))
    var pr = deg.select(
      (kc :+ col("src").as("w") :+ lit(s).as("pr") :+ col("deg")): _*)
    var prev: Option[DataFrame] = None
    for (_ <- 1 to iterations) {
      val next = Cached.result(edgesD
        .join(pr.select((kc :+ col("w").as("src") :+ col("pr")): _*), keys :+ "src")
        .withColumn("sh", expr("pr div deg_src"))
        .groupBy((kc :+ col("dst")): _*)
        .agg(sum(col("sh")).as("sc"), max(col("deg_dst")).as("deg"))
        .withColumn("pr2", expr(s"${15L * s / 100} + (85 * sc) div 100"))
        .select((kc :+ col("dst").as("w") :+ col("pr2").as("pr") :+ col("deg")): _*),
        prev.toSeq: _*)
      prev = Some(next)
      pr = next
    }
    edgesD.unpersist(false)
    (pr.select((kc :+ col("w") :+ col("pr")): _*), prev)
  }

  /** Normalization used before exact/near dedup in real pipelines:
    * lower-case, collapse every non-alphanumeric run to one space, trim.
    * Catches the trivial variants (case, punctuation, whitespace) that
    * byte-exact dedup misses. The character class and replacement have
    * identical semantics in Java regex and RE2, so the oracle mirrors
    * exactly. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Per-document normalization digest + size stats — the contract
    * surface of `normalized` ((doc_id, norm_md5, n_norm_chars,
    * n_norm_tokens); the digest rather than the text keeps rows narrow).
    * Pure per-row expressions: one scan, no shuffle, codegen'd. */
  def normalize(docs: DataFrame): DataFrame = {
    val n = normalized(col("text"))
    docs.select(
      col("doc_id"),
      md5(n.cast("binary")).as("norm_md5"),
      length(n).cast("long").as("n_norm_chars"),
      when(n === "", lit(0)).otherwise(size(split(n, " ")))
        .cast("long").as("n_norm_tokens"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, §A1.1 "quality
    * filtering"): a document passes when (1) its word count lies within
    * [minWords, maxWords], (2) its mean word length lies within
    * [minAvgLen, maxAvgLen], (3) it contains at least `minStopHits`
    * DISTINCT stopwords (the "stop word" rule that kills keyword-stuffing
    * spam), and (4) at least `minAlphaFrac` of its words are purely
    * alphabetic (the symbol/number-noise rule). These are the published
    * rule shapes; the thresholds are contract parameters.
    *
    * Pure per-row expressions — one scan, no shuffle, no UDF. The mean
    * and fraction are single int/int divisions (identical order both
    * engines, bitwise-equal), so the rule comparisons — and therefore
    * `passes` — are deterministic cross-engine. The distinct-stopword
    * count iterates the LITERAL stopword list (10 entries) against the
    * token array, not the reverse: cost is O(|list| · n_tokens) with a
    * constant small list, and duplicates in the document can't inflate
    * the count.
    * Output: (doc_id, n_words, mean_word_len, n_stop_distinct,
    * alpha_frac, passes). */
  def gopherRules(docs: DataFrame,
                  minWords: Int, maxWords: Int,
                  minAvgLen: Double, maxAvgLen: Double,
                  minStopHits: Int, minAlphaFrac: Double,
                  carry: Seq[String] = Nil): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val sumLen = aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x)
    // \A..\z absolute anchors: Java-regex '$' would also match before a
    // trailing newline, silently diverging from the RE2 oracle's
    // end-of-text '$' — the anchored pair means END OF TEXT in both
    val alphaHits = size(filter(toks, t => t.rlike("\\A[A-Za-z]+\\z")))
    val stopDistinct =
      size(filter(array(Stopwords.map(lit): _*), w => array_contains(toks, w)))
    // stats project FIRST, `passes` derives from the projected columns:
    // each alias is referenced twice (output + rule), which stops
    // CollapseProject from inlining — so every HOF runs once per row,
    // not once per reference
    val carried = carry.map(col)
    docs.select(Seq(
      col("doc_id"),
      nTok.cast("long").as("n_words"),
      (sumLen / nTok).as("mean_word_len"),
      stopDistinct.cast("long").as("n_stop_distinct"),
      (alphaHits / nTok).as("alpha_frac")) ++ carried: _*)
      .select(Seq(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("n_stop_distinct"), col("alpha_frac"),
        (col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= minAvgLen && col("mean_word_len") <= maxAvgLen &&
          col("n_stop_distinct") >= minStopHits &&
          col("alpha_frac") >= minAlphaFrac).as("passes")) ++ carried: _*)
  }

  /** Per-source dataset DATASHEET — the one-query corpus report a
    * "datasheets for datasets" card is filled from (and the first thing
    * a data-buying or mixture-planning discussion asks for): per source,
    * volume (docs, tokens, mean doc length), language makeup (distinct
    * languages + dominant language), quality (Gopher-rule pass rate on
    * the SAME thresholds as the gate itself — reused via `gopherRules`,
    * not re-derived), and exact-duplication exposure (fraction of docs
    * whose text occurs ≥2 times CORPUS-wide, so cross-source mirrors
    * count against both sources).
    *
    * Shape: ONE corpus scan. The per-doc flags project on the scan; the
    * dup flag is one text-keyed window (the exact-dedup shuffle — the
    * only corpus-sized exchange, unavoidable for corpus-wide dup
    * status); everything after is a (source, lang) aggregate re-agged
    * to sources — key spaces sources·langs then sources, trivia at any
    * scale. Dominant language = min(struct(-count, lang)): doc-count
    * argmax, ties to the lexicographically smaller language.
    *
    * Cross-engine: every output is an exact BIGINT or ONE division of
    * two CAST-to-DOUBLE exact integers (the qualityClassifier pattern)
    * — no rounding discipline anywhere. */
  def datasheet(docs: DataFrame,
                minWords: Int, maxWords: Int,
                minAvgLen: Double, maxAvgLen: Double,
                minStopHits: Int, minAlphaFrac: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = gopherRules(docs, minWords, maxWords, minAvgLen, maxAvgLen,
      minStopHits, minAlphaFrac, carry = Seq("source", "lang", "text"))
    val flagged = g.withColumn("dup",
      (count(lit(1)).over(Window.partitionBy(col("text"))) > 1).cast("long"))
    val perLang = flagged.groupBy(col("source"), col("lang")).agg(
      count(lit(1)).as("nd"),
      sum(col("n_words")).as("nt"),
      sum(col("passes").cast("long")).as("np"),
      sum(col("dup")).as("ndup"))
    def frac(num: Column, den: Column) = num.cast("double") / den.cast("double")
    perLang.groupBy(col("source")).agg(
      sum(col("nd")).as("n_docs"),
      count(lit(1)).as("n_langs"),
      min(struct((-col("nd")).as("neg"), col("lang").as("lang"))).as("tl"),
      sum(col("nt")).as("n_tokens"),
      sum(col("np")).as("n_gopher_pass"),
      sum(col("ndup")).as("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("tl.lang").as("top_lang"), col("n_tokens"),
        frac(col("n_tokens"), col("n_docs")).as("avg_doc_tokens"),
        col("n_gopher_pass"),
        frac(col("n_gopher_pass"), col("n_docs")).as("pass_frac"),
        col("n_dup_docs"),
        frac(col("n_dup_docs"), col("n_docs")).as("dup_frac"))
  }

  /** BM25 document ranking for one query term set (Robertson et al.;
    * the Lucene-shaped idf): score(d) = Σ_{t∈Q} idf(t) · tf·(k1+1) /
    * (tf + k1·(1 − b + b·dl/avgdl)), idf = ln((N − df + 0.5)/(df + 0.5)
    * + 1) — the retrieval scorer a RAG corpus index runs beside the
    * embedding ANN path (lexical + semantic hybrid).
    *
    * Scale shape: one explode → (doc, term) tf aggregate, restricted to
    * the (broadcast, literal) query terms BEFORE the df aggregate, so
    * everything after the first shuffle is |Q|-bounded; N/avgdl ride a
    * 1-row broadcast aggregate (exact integer sum/count, so the derived
    * doubles are bit-identical cross-engine). The per-doc term sum is
    * ≤|Q| doubles (round 4 absorbs order); ranking uses the rounded
    * grid, ties to low doc_id.
    * Output: (doc_id, score, rn) for the top `k` documents. */
  def bm25TopDocs(docs: DataFrame, queryTerms: Seq[String], k: Int,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopDocs: empty query")
    val spark = docs.sparkSession
    import spark.implicits._
    bm25Over(docs, queryTerms.toDF("term"), k, k1, b)
  }

  /** [[bm25TopDocs]] with the query terms as a FRAME instead of
    * literals — the shape a data-dependent query needs (PRF expansion,
    * a stored query table). Identical operations: the terms frame
    * broadcasts into the same tf join, so literal callers are bitwise
    * unchanged. */
  def bm25Over(docs: DataFrame, termsDf: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"need k >= 1, got $k")
    val spark = docs.sparkSession
    val toks = tokens(col("text"))
    // persist: tf feeds BOTH the df aggregate and the scoring join —
    // without it the corpus explode runs twice (the tfidfTopTerms
    // pattern; the cached table is |matching docs|·|Q| rows, tiny)
    val tf = Cached.keep(docs
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), size(toks).cast("long").as("dl"), explode(toks).as("term"))
      .join(broadcast(termsDf.select(col("term"))), Seq("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n"),
      sum(size(toks).cast("long")).as("sumdl"))
    val avgdl = col("sumdl").cast("double") / col("n")
    val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val denom = col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl") / avgdl))
    val w = idf * (col("tf") * lit(k1 + 1.0)) / denom
    val scored = tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(round(sum(w), 4).as("score"))
    val win = Window.orderBy(col("score").desc, col("doc_id"))
    val out = scored.withColumn("rn", row_number().over(win).cast("long"))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("score"), col("rn"))
    Cached.result(out, tf)
  }

  /** Pseudo-relevance-feedback expansion terms (the RM3 mechanism,
    * Lavrenko & Croft 2001, equal-weight variant): run the seed query,
    * take its top-`fbDocs` documents as feedback, and rank the terms
    * they contain by an exact-integer tf·idf-style weight
    * `w = (ftf · 10⁶) div df` (feedback frequency up, corpus ubiquity
    * down — the RM3 relevance-model shape without a float anywhere;
    * `div` is BIGINT division on both engines). Deterministic guards:
    * seed terms are excluded, and a term in EVERY document is dropped
    * (df < N — zero signal); ties break to the lexicographically-first
    * term, so the selection is total.
    *
    * Scale shape: the feedback side explodes only the fbDocs documents
    * (a broadcast semi-join first, then the explode); the corpus df
    * aggregate is the standard vocabulary shuffle (the q_vocab class,
    * one scan). Output: (term, ftf, w), the top `fbTerms` by (w DESC,
    * term). */
  def prfExpansionTerms(docs: DataFrame, seedTerms: Seq[String],
                        fbDocs: Int, fbTerms: Int,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(seedTerms.nonEmpty, "prfExpansionTerms: empty seed query")
    require(fbDocs >= 1 && fbTerms >= 1,
      s"need fbDocs, fbTerms >= 1, got $fbDocs, $fbTerms")
    val fb = bm25TopDocs(docs, seedTerms, fbDocs, k1, b).select(col("doc_id"))
    val toks = tokens(col("text"))
    val ftf = docs.join(broadcast(fb), Seq("doc_id"))
      .select(explode(toks).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("ftf"))
    val cdf = docs.select(col("doc_id"), explode(array_distinct(toks)).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cdf"))
    val n = docs.agg(count(lit(1)).as("n"))
    ftf.join(cdf, Seq("term"))
      .crossJoin(broadcast(n))
      .filter(col("cdf") < col("n"))
      .filter(!col("term").isin(seedTerms: _*))
      .withColumn("w", expr("(ftf * 1000000) div cdf"))
      .orderBy(col("w").desc, col("term"))
      .limit(fbTerms)
      .select(col("term"), col("ftf"), col("w"))
  }

  /** BM25 with pseudo-relevance feedback — seed query → feedback docs →
    * [[prfExpansionTerms]] → re-query with seed ∪ expansion, every term
    * weighted equally (RM3's interpolation weight is a calibration
    * knob; the contract pins the mechanism). The second pass is
    * [[bm25Over]] with the union frame — the same scoring pipeline the
    * one-shot query uses, so the float discipline is inherited. */
  def bm25Prf(docs: DataFrame, seedTerms: Seq[String], fbDocs: Int,
              fbTerms: Int, k: Int,
              k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = seedTerms.toDF("term")
      .union(prfExpansionTerms(docs, seedTerms, fbDocs, fbTerms, k1, b)
        .select(col("term")))
    bm25Over(docs, terms, k, k1, b)
  }

  /** Persist the lexical (BM25) index of a corpus — the write side of
    * the retrieval pair [[bm25TopDocs]] re-derives per query: a POSTINGS
    * table (term, doc_id, tf, dl — all exact BIGINTs, the classic
    * inverted index rows) plus a one-row STATS table (n docs, Σdl).
    * Postings land term-clustered (repartition + sortWithinPartitions on
    * term), so parquet row-group min/max stats turn a probe's
    * `term IN (…)` pushdown into row-group skipping — the Lucene
    * segment-dictionary effect without leaving parquet, and at 100 TB
    * the difference between reading |Q| term slices and re-exploding the
    * corpus per query. The float-free store round-trips exactly, which
    * is what makes [[bm25Probe]] bitwise-equal to the one-shot scorer. */
  /** The inverted-index rows of a document set: (term, doc_id, tf, dl),
    * term-clustered (repartition + sortWithinPartitions) so the written
    * files row-group-skip on term pushdown. tf and dl are INTRA-document
    * quantities, so postings compute batch-locally — which is what makes
    * the streaming ingest ([[graft.streaming.LexIngest]]) a pure
    * projection of each batch, replay-idempotent with no cross-batch
    * read (the VectorIndexIngest property on the lexical family). */
  def lexPostings(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    // within-doc term counts are a PER-ROW computation (a doc's tokens
    // all live in one row) — the native WordCounts pass emits the same
    // (term, tf) rows as the old explode + corpus-wide
    // groupBy(doc_id, term) hash aggregate, whose partial/final
    // aggregation was the measured cost center of every lex lifecycle
    // line (r20: 7-16 stage-CPU-s per batch vs 0.2-0.8 for the explode;
    // WordCountsSpec pins row equality). (doc_id, term) is unique by
    // construction, so no aggregate remains — the only shuffle left is
    // the term-clustered layout repartition.
    docs
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("dl"),
        explode(graft.functions.WordCounts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"), col("dl"))
      .repartition(col("term"))
      .sortWithinPartitions(col("term"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
  }

  /** The one-row corpus stats of a document set: (n, sumdl) — both
    * exact BIGINTs, hence ADDITIVE across disjoint batches (the
    * streaming ingest sums per-batch rows to the corpus totals). */
  def lexStats(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("n"),
      sum(size(tokens(col("text"))).cast("long")).as("sumdl"))

  /** Per-DOCUMENT stats rows (doc_id, dl) — [[lexStats]] before the
    * fold: still additive across batches (n = count, Σdl = sum), and
    * SUBTRACTABLE per document, which is what lets a deletion-vector
    * probe recompute the exact BM25 corpus constants of the surviving
    * corpus ([[graft.streaming.LexIngest]]'s stats layout). */
  def lexDocStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("dl"))

  def writeLexIndex(docs: DataFrame, path: String): Unit = {
    lexPostings(docs).write.mode("overwrite").parquet(s"$path/postings")
    lexStats(docs).write.mode("overwrite").parquet(s"$path/stats")
  }

  /** BM25 top-k over a PERSISTED [[writeLexIndex]] store — bitwise
    * [[bm25TopDocs]] (spec-pinned): the postings are exact integers, the
    * corpus constants (N, Σdl) inline as driver literals from the one-row
    * stats table, and every double op (idf, length norm, the ≤|Q|-term
    * sum rounded to 4 before ranking) replays the one-shot scorer's
    * expression tree on identical inputs. Scale shape: ONE scan of the
    * |Q| term slices (`term IN` pushed to the postings scan, row-group
    * skipped by the term-clustered layout), df aggregated from the same
    * slice the scoring joins — the corpus text is never read on the
    * query path. */
  def bm25Probe(spark: org.apache.spark.sql.SparkSession, path: String,
                queryTerms: Seq[String], k: Int,
                k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val st = spark.read.parquet(s"$path/stats").head()
    bm25ScoreSlice(spark.read.parquet(s"$path/postings"), queryTerms,
      st.getLong(0), st.getLong(1), k, k1, b)
  }

  /** The shared probe kernel: score a postings table against the query
    * term set given the corpus constants — [[bm25TopDocs]]'s expression
    * tree verbatim with (N, Σdl) inlined as driver literals, so every
    * store whose postings round-trip exactly (batch [[writeLexIndex]],
    * streaming `LexIngest`, either one compacted) probes bitwise-equal
    * to the one-shot scorer. Eager (persist + count) like the one-shot:
    * the |matching docs|·|Q|-bounded term slice feeds BOTH the df
    * aggregate and the scoring join. */
  private[graft] def bm25ScoreSlice(postings: DataFrame,
                                    queryTerms: Seq[String],
                                    n: Long, sumdl: Long, k: Int,
                                    k1: Double, b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queryTerms.nonEmpty, "bm25 probe: empty query")
    require(k >= 1, s"need k >= 1, got $k")
    val tf = Cached.keep(postings
      .filter(col("term").isin(queryTerms: _*)))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val avgdl = lit(sumdl).cast("double") / lit(n)
    val idf = log((lit(n) - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val denom = col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl") / avgdl))
    val w = idf * (col("tf") * lit(k1 + 1.0)) / denom
    val scored = tf.join(broadcast(dfreq), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(round(sum(w), 4).as("score"))
    val win = Window.orderBy(col("score").desc, col("doc_id"))
    val out = scored.withColumn("rn", row_number().over(win).cast("long"))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("score"), col("rn"))
    Cached.result(out, tf)
  }

  /** RAG chunking: split every document into OVERLAPPING token windows
    * — the retrieval-unit generator in front of any embedding/BM25
    * index (chunk what you index, not whole documents). Window `i`
    * covers tokens [i·stride, i·stride + maxTokens) with stride =
    * maxTokens − overlap; the last window may be shorter, and every
    * token belongs to at least one window (starts sweep 0..n−1). All
    * outputs are exact integers + substrings of the input — nothing
    * float, bitwise on any engine. One scan + one generator (the
    * start positions explode from a `sequence`, the window text is a
    * `slice` — codegen'd column ops, no HOF-duplication hazard since
    * each is referenced once); at 100 TB this is embarrassingly
    * parallel, the downstream index bears the fanout.
    * Output: (doc_id, chunk_id, start_tok, n_chunk_toks, chunk). */
  def ragChunks(docs: DataFrame, maxTokens: Int, overlap: Int): DataFrame = {
    require(maxTokens >= 1, s"need maxTokens >= 1, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"need 0 <= overlap < maxTokens, got overlap=$overlap maxTokens=$maxTokens")
    val stride = maxTokens - overlap
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0),
          greatest(size(col("toks")) - 1, lit(0)), lit(stride))))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_id"),
        col("col").cast("long").as("start_tok"),
        least(lit(maxTokens), size(col("toks")) - col("col")).cast("long")
          .as("n_chunk_toks"),
        concat_ws(" ", slice(col("toks"), col("col") + 1, lit(maxTokens)))
          .as("chunk"))
  }

  /** BM25 top-k for MANY queries in ONE postings pass — the probe-heavy
    * production shape: the scan filters on the UNION of every query's
    * terms (one pushed-down IN over the term-clustered store), df per
    * term computes once from that shared slice, and each query scores
    * its own terms through a broadcast (query_id, term) membership join
    * — so Q queries cost one slice scan + a Q·|slice|-bounded fanout,
    * never Q scans. Per query the weight expression, the rounded sum,
    * and the (score DESC, doc_id) ranking are [[bm25ScoreSlice]]'s
    * verbatim, so each query's ranking is bitwise its single-query
    * probe (spec-pinned). Output: (query_id, doc_id, score, rn). */
  private[graft] def bm25ScoreSliceMany(postings: DataFrame,
                                        queries: Seq[(Long, Seq[String])],
                                        n: Long, sumdl: Long, k: Int,
                                        k1: Double, b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "bm25 multi-probe: empty query set")
    require(queries.map(_._1).distinct.size == queries.size,
      "bm25 multi-probe: duplicate query ids")
    require(k >= 1, s"need k >= 1, got $k")
    val spark = postings.sparkSession
    import spark.implicits._
    val allTerms = queries.flatMap(_._2).distinct
    val tf = Cached.keep(postings
      .filter(col("term").isin(allTerms: _*)))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val avgdl = lit(sumdl).cast("double") / lit(n)
    val idf = log((lit(n) - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val denom = col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl") / avgdl))
    val w = idf * (col("tf") * lit(k1 + 1.0)) / denom
    val qt = queries.flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val scored = tf.join(broadcast(dfreq), Seq("term"))
      .join(broadcast(qt), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(w), 4).as("score"))
    val win = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val out = scored.withColumn("rn", row_number().over(win).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rn"))
    Cached.result(out, tf)
  }

  /** [[bm25Probe]] for a batch of queries over a [[writeLexIndex]]
    * store — one slice scan serves them all. */
  def bm25ProbeMany(spark: org.apache.spark.sql.SparkSession, path: String,
                    queries: Seq[(Long, Seq[String])], k: Int,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val st = spark.read.parquet(s"$path/stats").head()
    bm25ScoreSliceMany(spark.read.parquet(s"$path/postings"), queries,
      st.getLong(0), st.getLong(1), k, k1, b)
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES),
    * derandomized: each document draws an exponential clock
    * key = −ln(u)/w and the k SMALLEST keys win — the distribution-
    * correct fixed-size weighted sample (heavier documents
    * proportionally likelier), vs `qualityWeightedSample`'s per-row
    * Bernoulli (random SIZE) and `deterministicSample`'s unweighted
    * rate. The "randomness" u derives from the content fingerprint, so
    * the draw is reproducible across engines/runs/layouts with no RNG
    * state, and exact duplicates draw the same key (dup-affine).
    * Weight = token count (sample ∝ training-token contribution).
    *
    * One scan; keys round to 6 decimals BEFORE ranking (ln last-ulp
    * discipline), ties to low doc_id; the global rank-filter compiles
    * to an ordered limit (TakeOrderedAndProject — the q_bpe_merge
    * plan argument), so no single-partition sort of the corpus.
    * Output: (doc_id, skey, rn), rn = 1..k. */
  def weightedSampleTopK(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"need k >= 1, got $k")
    val w = size(tokens(col("text"))).cast("double")
    val u = (fingerprint(col("text")) + 1).cast("double") / (FpMod + 1).toDouble
    val key = round(-log(u) / w, 6)
    val win = Window.orderBy(col("skey").asc, col("doc_id").asc)
    docs.withColumn("skey", key)
      .withColumn("rn", row_number().over(win).cast("long"))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("skey"), col("rn"))
  }

  /** One BPE merge-selection step — the statistic a byte-pair-encoding
    * tokenizer trainer computes each round: the corpus-frequency-weighted
    * counts of ADJACENT character pairs, ranked (a real trainer then
    * merges the top pair into one symbol and repeats; the per-round
    * Spark shape is exactly this query over the current symbolization).
    * Counting runs over the DISTINCT-word table with corpus weights, so
    * the explode touches |vocab| rows, not corpus tokens — the standard
    * trainer optimization, and at 100 TB the difference between a
    * vocab-sized pass and a corpus-sized one. Single-char words emit no
    * pairs. The top-k window orders by (count desc, pair) over the
    * aggregated pair table (|char-bigrams| rows, tiny).
    * Output: (pair, n, rn) for the top `k` pairs. */
  def bpeMergeStep(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"need k >= 1, got $k")
    val words = docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    // native char-bigram pass (CharNGrams — same semantics as the HOF
    // transform/substr form incl. the <2-char empty-array guard; the
    // coalesce keeps null words on the empty-array contract)
    val charPairs = coalesce(graft.functions.CharNGrams(col("w"), 2),
      array().cast("array<string>"))
    val counts = words
      .select(col("wc"), explode(charPairs).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
    val w = Window.orderBy(col("n").desc, col("pair"))
    counts.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("pair"), col("n"), col("rn"))
  }

  /** Multi-merge BPE trainer (Sennrich et al. 2016) — the iterated form
    * of [[bpeMergeStep]]: `nMerges` rounds of (count adjacent symbol
    * pairs, corpus-weighted) → (pick the max) → (merge that pair
    * everywhere), producing the ranked merge table a tokenizer ships.
    * Selection is (count DESC, then lexicographic (lhs, rhs)) — a total
    * order, so the trained table is deterministic.
    *
    * Why this is feasible at 100 TB — Sennrich's own observation: after
    * ONE corpus-sized aggregation (word → count), every round runs on
    * the VOCABULARY (distinct words with counts), which is millions of
    * rows when the corpus is billions. The vocab table persists once;
    * each round is a vocab-sized explode + hash aggregate + a 1-row
    * driver collect (the K-row boundary — merges are literals in the
    * next round's plan, the k-means centroid discipline). Pair counts
    * follow Sennrich's get_stats: every adjacent position counts, so
    * "a a a" contributes (a,a) twice (overlap counted at COUNTING
    * time; merging is non-overlapping).
    *
    * The merge application is where cross-engine bitwise equality is
    * won: symbols live in ONE string with TWO-space separators (and
    * two-space sentinels), and a merge round is a single literal
    * `replace` of " lhs  rhs " → " lhsrhs ". The doubled separator is
    * load-bearing: each match consumes exactly one space of each
    * boundary and the replacement restores it, so consuming a match
    * can never starve the immediately-following occurrence of its
    * leading space — literal replace's left-to-right non-overlapping
    * scan then IS greedy BPE application, including same-symbol runs
    * ("a a a a a" → left-aligned "aa aa a"; a single-space encoding
    * provably gets runs ≥ 5 wrong — it pairs positions 1-2 then 4-5).
    * Both engines' replace scans the original string and never
    * rescans replacement text, and symbols never contain spaces, so
    * the apply is bitwise identical with no regex semantics in play
    * (GenerativeSpec pins train AND encode against an independent
    * driver-side symbol-list greedy reference on random dense-run
    * corpora). Rounds after the vocabulary exhausts its pairs (every
    * word one symbol) emit nothing.
    * Output: (rn, lhs, rhs, n) — one row per merge, rn 1-based. */
  def bpeTrain(docs: DataFrame, nMerges: Int): DataFrame = {
    val (merges, _, cache) = bpeState(docs, nMerges)
    cache.unpersist(false)
    val spark = docs.sparkSession
    import spark.implicits._
    merges.toDF("rn", "lhs", "rhs", "n")
  }

  /** BPE segmentation applied to the corpus — trains [[bpeTrain]]'s
    * `nMerges` merges, then reports per document how many subword
    * tokens the trained tokenizer produces (the token-count a context-
    * window budget planner runs before committing to a tokenizer).
    * Scale shape: the corpus aggregates to the vocab once for
    * training; the per-doc count is then ONE corpus-sized explode
    * equi-joined to the vocab's word → n_subtokens map (broadcast
    * while the vocab is small; a plain shuffle join at real vocabulary
    * scale, which is still the right plan) + a per-doc aggregate.
    * Counts are exact integers — nothing floats cross-engine.
    * Output: (doc_id, n_words, n_subtokens). */
  def bpeEncode(docs: DataFrame, nMerges: Int): DataFrame = {
    val (_, words, cache) = bpeState(docs, nMerges)
    val sub = words.select(col("w"),
      size(split(trim(col("s")), "  ")).cast("long").as("n_sub"))
    val out = docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(sub, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subtokens"))
    Cached.result(out, cache)
  }

  /** Shared trainer state: (ranked merges, final vocab table (w, wc, s)
    * with `s` the fully-merged symbol string, persisted base cache the
    * caller unpersists). */
  private def bpeState(docs: DataFrame, nMerges: Int)
      : (Seq[(Long, String, String, Long)], DataFrame, DataFrame) = {
    require(nMerges >= 1, s"need nMerges >= 1, got $nMerges")
    val base = Cached.result(docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      // seed segmentation with the two-space separator invariant:
      // "hello" -> "  h  e  l  l  o  " (sentinels included, so merges
      // apply with no per-round re-wrapping); (.) char-at-a-time
      // replacement agrees between Java regex and RE2 on non-astral
      // text, and corpus symbols never contain spaces
      .withColumn("s", concat(lit("  "), regexp_replace(col("w"), "(.)", "$1  "))))
    var words = base
    val merges = Vector.newBuilder[(Long, String, String, Long)]
    var exhausted = false
    for (i <- 1 to nMerges if !exhausted) {
      val syms = split(trim(col("s")), "  ")
      val best = words
        .select(col("wc"), explode(arrays_zip(
          slice(syms, lit(1), size(syms) - 1).as("l"),
          slice(syms, lit(2), size(syms) - 1).as("r"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wc")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r")).limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, n) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((i.toLong, l, r, n))
        // single pass: the two-space boundaries make literal replace
        // exactly greedy (see scaladoc)
        words = words.withColumn("s",
          replace(col("s"), lit(s" $l  $r "), lit(s" $l$r ")))
      }
    }
    (merges.result(), words, base)
  }

  /** Unigram-LM tokenizer trainer (Kudo 2018; the SentencePiece unigram
    * model) — the OTHER production tokenizer family beside [[bpeTrain]]:
    * pieces carry corpus probabilities and a word segments to its
    * maximum-likelihood piece sequence (Viterbi), instead of replaying
    * a greedy merge list. Trained here by HARD EM, the integer-count
    * formulation: the E-step Viterbi-segments every distinct word under
    * the current piece costs and the M-step re-estimates each piece's
    * probability as (its corpus-weighted segmentation count) / total —
    * counts stay exact BIGINTs end to end; floats appear only inside
    * the per-word DP argmin, a pure function of the word and the piece
    * table, so training is deterministic for any partitioning (spec-
    * pinned). Full (soft) EM's fractional expected counts would buy
    * nothing here but an un-mirrorable float fixpoint.
    *
    * Scale shape — Sennrich's vocabulary trick, same as [[bpeTrain]]:
    * after ONE corpus-sized word count, every round runs on the
    * DISTINCT-word table. Per round: one vocab-sized flatMap (the
    * Viterbi DP per word — genuinely imperative, the documented
    * mapPartitions-class boundary, with the piece table broadcast) +
    * one hash aggregate + a tokenizer-vocab-sized driver collect
    * (the shipped artifact, like K-Means centroids — 32k rows, the
    * K-row boundary at tokenizer scale).
    *
    * Seeding: every substring of every word up to `maxPieceLen`,
    * corpus-weighted; all single characters are ALWAYS kept (coverage
    * guarantee — every word stays segmentable) with their counts
    * floored at 1 inside the cost table so an unused char keeps a
    * finite cost; the remaining `vocabSize − |chars|` slots go to the
    * top multi-char pieces by (count DESC, piece ASC) — a total order,
    * so the trained table is deterministic. Viterbi tie-break: costs
    * compare strictly and earlier split points win, i.e. the LONGEST
    * final piece survives a tie (documented, spec-pinned).
    * Output: (rn, piece, n) ranked by (n DESC, piece ASC), rn 1-based;
    * n is the final round's exact segmentation count. */
  def unigramLmTrain(docs: DataFrame, vocabSize: Int, maxPieceLen: Int,
                     iters: Int): DataFrame = {
    val (vocab, _, cache) = unigramState(docs, vocabSize, maxPieceLen, iters)
    cache.unpersist(false)
    val spark = docs.sparkSession
    import spark.implicits._
    vocab.sortBy { case (p, n) => (-n, p) }.zipWithIndex
      .map { case ((p, n), i) => (i + 1L, p, n) }
      .toDF("rn", "piece", "n")
  }

  /** Unigram-LM segmentation applied to the corpus — [[bpeEncode]]'s
    * twin for the unigram model: trains [[unigramLmTrain]]'s vocab,
    * Viterbi-segments each DISTINCT word once, and reports per document
    * how many subword pieces the tokenizer produces. Same scale shape
    * as bpeEncode: vocab-sized segmentation, one corpus-sized explode
    * equi-joined to the word → n_pieces map, a per-doc aggregate.
    * Counts exact. Output: (doc_id, n_words, n_subtokens). */
  def unigramLmEncode(docs: DataFrame, vocabSize: Int, maxPieceLen: Int,
                      iters: Int): DataFrame = {
    val (vocab, words, cache) = unigramState(docs, vocabSize, maxPieceLen, iters)
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(unigramCosts(vocab))
    val maxLen = maxPieceLen
    val sub = words.select(col("w")).as[String]
      .map(w => (w, unigramViterbi(w, bc.value, maxLen).length.toLong))
      .toDF("w", "n_sub")
    val out = docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(sub, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subtokens"))
    Cached.result(out, cache)
  }

  /** Piece → cost table: cost = ln(total) − ln(effective), effective =
    * max(n, 1) for single chars (the coverage floor), n otherwise. One
    * definition shared by train and encode so they cannot drift. */
  private def unigramCosts(vocab: Seq[(String, Long)]): Map[String, Double] = {
    val eff = vocab.map { case (p, n) =>
      (p, if (p.length == 1) math.max(n, 1L) else n)
    }
    val total = eff.map(_._2).sum.toDouble
    val lt = math.log(total)
    eff.map { case (p, n) => p -> (lt - math.log(n.toDouble)) }.toMap
  }

  /** Maximum-likelihood segmentation of one word under a piece-cost
    * table: classic Viterbi over split points, pieces up to `maxLen`
    * chars. Strict `<` with ascending split-point scan means the FIRST
    * (earliest) split achieving the minimum wins a tie — the longest
    * final piece. Pure function of (w, costs) — executor-side calls are
    * partition-order independent. */
  private[llm] def unigramViterbi(w: String, cost: Map[String, Double],
                                  maxLen: Int): Seq[String] = {
    val n = w.length
    if (n == 0) return Seq.empty
    val best = Array.fill(n + 1)(Double.PositiveInfinity)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxLen)
      while (j < i) {
        if (back(j) != -1 || j == 0) {
          val c = cost.get(w.substring(j, i))
          if (c.isDefined) {
            val cand = best(j) + c.get
            if (cand < best(i)) { best(i) = cand; back(i) = j }
          }
        }
        j += 1
      }
      i += 1
    }
    require(back(n) != -1,
      s"unigramViterbi: unsegmentable word (char outside the vocab): '$w'")
    var pieces = List.empty[String]
    var k = n
    while (k > 0) { val j = back(k); pieces = w.substring(j, k) :: pieces; k = j }
    pieces
  }

  /** Shared unigram trainer state: (final vocab with counts, word table
    * (w, wc), persisted base cache the caller unpersists). */
  private def unigramState(docs: DataFrame, vocabSize: Int, maxPieceLen: Int,
                           iters: Int)
      : (Seq[(String, Long)], DataFrame, DataFrame) = {
    require(maxPieceLen >= 1, s"need maxPieceLen >= 1, got $maxPieceLen")
    require(iters >= 1, s"need iters >= 1, got $iters")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = Cached.result(docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc")))
    val maxLen = maxPieceLen
    // seed: every substring up to maxLen, corpus-weighted — PRUNED IN
    // SPARK before anything reaches the driver (the seed substring
    // table is corpus-vocabulary-sized; only the vocab-sized winners
    // and the charset-sized single-char floor ever collect)
    val seedAgg = Cached.keep(base.select(col("w"), col("wc")).as[(String, Long)]
      .flatMap { case (w, wc) =>
        for {
          i <- 0 until w.length
          l <- 1 to math.min(maxLen, w.length - i)
        } yield (w.substring(i, i + l), wc)
      }
      .toDF("piece", "wcc").groupBy(col("piece")).agg(sum(col("wcc")).as("n")))
    val singlePieces: Seq[(String, Long)] = seedAgg
      .filter(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    require(vocabSize > singlePieces.length,
      s"unigram trainer: vocabSize $vocabSize must exceed the " +
        s"${singlePieces.length} single-char pieces (coverage floor)")
    val seedMulti = seedAgg
      .filter(length(col("piece")) > 1)
      .orderBy(col("n").desc, col("piece"))
      .limit(vocabSize - singlePieces.length)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    seedAgg.unpersist(false)
    def prune(counts: Seq[(String, Long)]): Seq[(String, Long)] = {
      val byPiece = counts.toMap
      val singles = singlePieces.map { case (p, _) => (p, byPiece.getOrElse(p, 0L)) }
      val multi = counts.filter(_._1.length > 1)
        .sortBy { case (p, n) => (-n, p) }
        .take(vocabSize - singles.length)
      singles ++ multi
    }
    var vocab: Seq[(String, Long)] = singlePieces ++ seedMulti
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(unigramCosts(vocab))
      // the E-step counts table holds only vocab pieces by construction
      // (Viterbi emits nothing outside the cost table) — the collect is
      // the K-row boundary again
      val counts = base.select(col("w"), col("wc")).as[(String, Long)]
        .flatMap { case (w, wc) =>
          unigramViterbi(w, bc.value, maxLen).map(p => (p, wc))
        }
        .toDF("piece", "wcc").groupBy(col("piece")).agg(sum(col("wcc")).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      vocab = prune(counts.toSeq)
    }
    (vocab, base, base)
  }

  /** Parameters of the deterministic training-order shuffle: doc_id is
    * first folded mod `ShuffleFold` so the Lehmer multiply stays well
    * under 2^63 for ANY BIGINT doc_id (no overflow in either engine);
    * 48271/2147483647 are the MINSTD constants. */
  val ShuffleFold = 44683L
  val ShuffleMult = 48271L
  val ShuffleMod = 2147483647L

  /** Deterministic training-order shuffle: every epoch-shuffling trainer
    * needs the corpus in a reproducible pseudo-random order, and at
    * 100 TB that CANNOT be a random() sort — it must be a pure function
    * of the row so any engine, any run, any partition layout derives the
    * same order. skey = ((doc_id % fold) · 48271) % 2^31−1 (MINSTD LCG
    * step); order is (skey, doc_id) — the doc_id tie-break makes the
    * order total. `shard` = skey % shards is the write-partition key: a
    * trainer reads shards round-robin and gets an interleaved corpus
    * without any global sort ever running. One scan, no shuffle, no RNG
    * state. Output: (doc_id, skey, shard). */
  def shuffleOrder(docs: DataFrame, shards: Int): DataFrame = {
    require(shards >= 1, s"need shards >= 1, got $shards")
    docs.select(col("doc_id"),
      (((col("doc_id") % ShuffleFold) * ShuffleMult) % ShuffleMod).as("skey"))
      .withColumn("shard", (col("skey") % shards).cast("long"))
  }

  /** Sequence packing: greedily pack documents into fixed token-budget
    * training sequences — the step that turns a filtered corpus into
    * dense context-window-sized examples (padding waste shrinks from
    * ~whole-sequence to the per-pack remainder). Deterministic contract:
    * docs shard by `doc_id % shards`; within a shard, docs are taken in
    * doc_id order; a doc joins the current pack unless that would exceed
    * `budget` tokens, in which case it OPENS a new pack (so an oversized
    * doc sits alone in its own pack — splitting it is `chunk`'s job,
    * upstream). Output: (doc_id, shard, pack_id, n_tokens) with pack_id
    * 0-based per shard.
    *
    * Scale shape: the greedy fold is inherently sequential PER SHARD,
    * so the shard count is the parallelism knob (set it ~= cluster
    * cores; each task folds its shards in one linear pass). One narrow
    * shuffle on shard + an in-partition sort — no windows over the hot
    * shard, no driver collect; 100 TB packs exactly like 100 MB, just
    * with more shards. The oracle mirrors the fold with a per-shard
    * recursive CTE, so the greedy semantics are pinned cross-engine. */
  def packSequences(docs: DataFrame, budget: Long, shards: Int): DataFrame = {
    require(budget >= 1, s"need budget >= 1, got $budget")
    require(shards >= 1, s"need shards >= 1, got $shards")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long"), (col("doc_id") % shards).cast("long").as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        // several shards may hash to one partition; the sort makes each
        // contiguous, so one running (pack, acc) pair per shard suffices
        var cur = Long.MinValue
        var pack = 0L
        var acc = 0L
        it.map { case (docId, shard, n) =>
          if (shard != cur) { cur = shard; pack = 0L; acc = n }
          else if (acc + n > budget) { pack += 1; acc = n }
          else acc += n
          (docId, shard, pack, n)
        }
      }
      .toDF("doc_id", "shard", "pack_id", "n_tokens")
  }

  /** DSIR-style importance scoring + top-N resampling (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score every document by how much more likely its tokens are under
    * the TARGET distribution (here: the `targetLang` slice — in
    * production, a trusted high-quality seed corpus) than under the RAW
    * corpus distribution, then keep the top N. The classic
    * cross-entropy-difference selection (Moore & Lewis 2010) is the
    * same statistic with the unigram table standing in for the two LMs:
    * score(doc) = Σ_t ln( p_tgt(t) / p_raw(t) ), add-one smoothed.
    *
    * Shape: ONE token explode persisted, feeding (a) a single vocab
    * aggregate carrying BOTH counts — c_raw = count, c_tgt = conditional
    * sum, no second corpus pass — and (b) the scoring join; the three
    * corpus totals (N_raw, N_tgt, V) are one driver aggregate on the
    * vocab table (vocab-sized, the unigramLogProb `total` precedent) and
    * inline as literals. The vocab side broadcasts when small, shuffles
    * when not — the tfidf cost profile.
    *
    * Cross-engine float discipline: each token's log-ratio is
    * ln(ONE division of two exact BIGINT products) —
    * (c_tgt+1)·(N_raw+V) / ((c_raw+1)·(N_tgt+V)) — so both engines ln
    * the same IEEE value (the collocations pattern); the per-doc sum is
    * order-sensitive but round-4 absorbs the ulp (the unigramLogProb
    * margin argument). Product bound: (c_tgt+1)·(N_raw+V) < 2^63 up to
    * ~3·10^9 tokens; past that, reorder into two divisions before the
    * ln — a one-line change, different grid, deliberately NOT done here.
    *
    * The `selected` flag ranks by (rounded score DESC, doc_id) ≤ topN —
    * rounded values are bitwise cross-engine, so the rank is total and
    * deterministic. The global rank window sorts the DOCS-sized
    * aggregate on one partition — fine for a per-corpus selection
    * report; at 100 TB swap the rank for a score threshold from
    * `approx_percentile` (the qualityQuantileGate sketched-twin shape)
    * so selection stays scan-parallel. Output: (doc_id, n_tokens,
    * dsir_score, selected). */
  def dsirScores(docs: DataFrame, targetLang: String, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topN >= 1, s"need topN >= 1, got $topN")
    val perDoc = dsirPerDoc(docs, targetLang)
    val out = perDoc
      .withColumn("selected",
        row_number().over(Window.orderBy(col("dsir_score").desc, col("doc_id"))) <= topN)
    Cached.result(out, perDoc)
  }

  /** 100 TB scale twin of [[dsirScores]]: the exact form ranks the
    * docs-sized score table through ONE global sort partition just to
    * find the top-N cut — the only single-partition stage in its plan.
    * This twin never ranks: one tiny aggregate derives the score
    * THRESHOLD at quantile (1 − keepFrac) from a mergeable
    * Greenwald-Khanna summary (`approx_percentile` — partial summaries
    * merge on executors like every sketch in this repo), the 1-row
    * threshold broadcasts back, and `selected` is a scan-side compare.
    * Selection stays scan-parallel at any corpus size.
    *
    * Kept fraction lands within the sketch's rank error of `keepFrac`,
    * and selected docs are exactly those scoring >= the threshold — but
    * the summary's merge order is partition-layout-dependent, so
    * boundary docs inside the error band can move across layouts: this
    * is the bench/spec-verified scale twin, NOT a contract query — the
    * established qualityQuantileFilterSketched split (`q_dsir` pins the
    * exact semantics bitwise). Scores are bit-identical to
    * [[dsirScores]]' (same builder). EAGER like the exact form.
    * Output: (doc_id, n_tokens, dsir_score, selected).
    *
    * `keepFrac` must be > 0: selection is the INCLUSIVE upper set at
    * the sketched threshold (`score >= t`), so keepFrac = 0 could never
    * select zero docs — quantile 1.0 returns the max score and every
    * argmax doc passes `>=`, biasing the kept fraction high at the
    * boundary on top of sketch error. Rejected rather than documented
    * as a quirk. */
  def dsirScoresSketched(docs: DataFrame, targetLang: String, keepFrac: Double,
                         accuracy: Int = 10000): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"need 0 < keepFrac <= 1 (selection is inclusive at the sketched " +
        s"threshold, so 0 can never keep zero docs), got $keepFrac")
    require(accuracy >= 1, s"need accuracy >= 1, got $accuracy")
    val perDoc = dsirPerDoc(docs, targetLang)
    val thr = perDoc.agg(
      percentile_approx(col("dsir_score"), lit(1.0 - keepFrac), lit(accuracy)).as("t"))
    val out = perDoc.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_tokens"), col("dsir_score"),
        (col("dsir_score") >= col("t")).as("selected"))
    Cached.result(out, perDoc)
  }

  /** The shared DSIR scoring pipeline: (doc_id, n_tokens, dsir_score),
    * returned PERSISTED and materialized (token/vocab caches already
    * released) — callers overlay their selection policy and unpersist. */
  private def dsirPerDoc(docs: DataFrame, targetLang: String): DataFrame = {
    val toks = Cached.keep(docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), (col("lang") === targetLang).as("tgt"),
        explode(tokens(col("text"))).as("w")))
    val vocab = Cached.keep(toks.groupBy(col("w"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("tgt"), lit(1L)).otherwise(lit(0L))).as("ct")))
    val totals = vocab.agg(sum(col("cr")), sum(col("ct")), count(lit(1))).head()
    val (nRaw, nTgt, v) = (totals.getLong(0), totals.getLong(1), totals.getLong(2))
    val lp = log(((col("ct") + lit(1L)) * lit(nRaw + v)).cast("double") /
      ((col("cr") + lit(1L)) * lit(nTgt + v)).cast("double"))
    val perDoc = toks.join(vocab, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), round(sum(lp), 4).as("dsir_score"))
    Cached.result(perDoc, toks, vocab)
  }
}

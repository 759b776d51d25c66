package graft.llm

import graft.Cached
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact (hash-groupBy), word-bigram Jaccard via
  * shingle-bucket join, MinHash+LSH banding, and SimHash — designed so no
  * path ever enumerates all document pairs:
  *
  *   - exact: one shuffle keyed by content
  *   - jaccard: pairs are generated ONLY for documents sharing a shingle
  *     (inverted-index join), then scored by intersection counts
  *   - minhash: pairs are generated ONLY within LSH band buckets, then
  *     verified with the true Jaccard — at 100 TB this is the path: the
  *     band join touches candidate pairs, never the n² space
  *   - simhash: per-document 20-bit signature, one scan
  *
  * All arithmetic is integer (polynomial hashes mod FpMod, min over
  * longs, bit tests), so the DuckDB oracle mirrors match exactly.
  */
object Dedup {
  import TextAnalysis.FpMod

  /** Distinct word-bigram shingles; documents with < 2 tokens get an
    * empty set. Native single-pass expression (graft.functions
    * .WordNGrams — the HOF transform/array_distinct form it replaces is
    * interpreted and re-evaluates the split() subtree per element, which
    * dominated the dedup family's CPU at sf0.1); the coalesce keeps the
    * old contract of null text -> empty set. */
  def shingles(text: Column): Column =
    coalesce(graft.functions.WordNGrams(text, 2, distinct = true),
      array().cast("array<string>"))

  /** Rolling polynomial hash of one shingle string (exact BIGINT) — a
    * native codegen'd Expression, not a HOF (see graft.functions.PolyHash). */
  def shingleHash(s: Column): Column = graft.functions.PolyHash(s, FpMod)

  // ---------- exact ----------

  /** One row per distinct text: content digest, the id kept by the
    * dedup policy (lowest), and the number of copies collapsed. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select(md5(col("text").cast("binary")).as("text_md5"), col("keep_id"), col("n_copies"))

  /** Corpus duplication-rate report: the histogram of exact-duplicate
    * group sizes — the number a data-curation run reports before/after a
    * dedup pass ("x% of the corpus is copies, the largest clone family
    * has n members"). Two hash aggregates: the first (wide, on text) is
    * the same shuffle `exact` pays; the second runs over one row per
    * DISTINCT size — a handful of rows at any corpus scale.
    * Output: (group_size, n_groups, n_docs) with n_docs = size·groups. */
  def dupStats(docs: DataFrame): DataFrame =
    docs.groupBy(col("text")).agg(count(lit(1)).as("group_size"))
      .groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"))
      .select(col("group_size"), col("n_groups"),
        (col("group_size") * col("n_groups")).as("n_docs"))

  /** Incremental (snapshot-append) dedup: rows of `newDocs` whose text
    * does not already exist in `corpus`, deduped within the batch
    * (lowest doc_id kept). The shape a pipeline runs when appending a
    * crawl snapshot to an already-deduped corpus: one anti join keyed by
    * content + one batch-local groupBy — the corpus is only ever probed,
    * never re-aggregated, so cost tracks the BATCH size, not the corpus.
    * At 100 TB the anti join's corpus side is a bucketed-by-content
    * table (Spark `bucketBy`), making the probe exchange-free.
    * Output: (doc_id, text_md5, n_batch_copies). */
  def incremental(newDocs: DataFrame, corpus: DataFrame): DataFrame =
    newDocs
      .join(corpus.select(col("text")), Seq("text"), "left_anti")
      .groupBy(col("text"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_batch_copies"))
      .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"),
        col("n_batch_copies"))

  /** Bloom-filter-triaged incremental exact dedup — the 100 TB
    * membership path of [[incremental]]: "is this batch document
    * already in the corpus?" answered WITHOUT ever shuffling the
    * corpus. The corpus folds once into a bloom filter (Spark's own
    * `bloom_filter_agg` — the runtime-join-filter machinery, wired
    * explicitly: partials are fixed-size bit arrays that OR-merge on
    * the executors, so the aggregate is one corpus scan with a
    * bounded exchange of numBits-sized buffers, never a row
    * shuffle); the batch probes it via `might_contain` behind a
    * scalar subquery (exactly how Catalyst's InjectRuntimeFilter
    * plants it — the filter evaluates inside the batch scan's
    * codegen stage). Bloom hits are the only candidates: they
    * semi-probe the corpus BY TEXT with the candidate set broadcast
    * (the second corpus scan — again no corpus shuffle), and the
    * verified duplicate texts broadcast back against the batch.
    *
    * Correctness is exact, not approximate: a bloom has NO false
    * negatives (same text, same xxhash64, same cells — a corpus
    * member always hits), so pruned batch rows are definitively new;
    * false positives only cost membership in the (tiny) candidate set
    * and are eliminated by the by-text verification join. The output
    * therefore equals the plain exact semi-join and the DuckDB oracle
    * mirrors it with EXISTS — the bloom parameters cannot affect the
    * answer, only the candidate volume (LlmSpec pins both; the fpp
    * knob is expectedItems/numBits, sized generously in the contract).
    *
    * Unlike [[incremental]] this does NOT collapse duplicates within
    * the batch — it is the membership verdict per batch row (the
    * filter a crawl-frontier runs before admitting a page; batch-
    * internal dedup is [[exact]]'s job downstream). An EMPTY corpus
    * yields a null bloom, might_contain(null) = null, zero candidates
    * — every row verdicts false, mirrored trivially by EXISTS.
    * Output: (doc_id, is_dup), one row per batch doc. */
  def bloomDedup(newDocs: DataFrame, corpus: DataFrame,
                 expectedItems: Long, numBits: Long): DataFrame = {
    require(expectedItems >= 1 && numBits >= 1,
      s"need positive bloom sizing, got items=$expectedItems bits=$numBits")
    import org.apache.spark.sql.graftshim.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val bloomAgg = ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col("text"))),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val bloom = corpus.agg(bloomAgg.as("bf"))
    val mightHit = ColumnBridge.column(
      new BloomFilterMightContain(
        ScalarSubquery(bloom.queryExecution.analyzed),
        ColumnBridge.expression(xxhash64(col("text")))))
    val cand = newDocs.filter(mightHit)
    val dupTexts = corpus.select(col("text"))
      .join(broadcast(cand.select(col("text")).distinct()), Seq("text"), "left_semi")
      .distinct()
    newDocs
      .join(broadcast(dupTexts.withColumn("hit", lit(true))), Seq("text"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("is_dup"))
  }

  /** Distinct word `n`-grams of `text` (generalizes the bigram
    * `shingles`; same <n-token guard, same native expression). */
  def ngramShingles(text: Column, n: Int): Column = {
    require(n >= 1, s"need n >= 1, got $n")
    coalesce(graft.functions.WordNGrams(text, n, distinct = true),
      array().cast("array<string>"))
  }

  /** Benchmark decontamination — drop every corpus document that shares
    * at least one word `n`-gram with any `benchmark` document (the
    * eval-set-overlap removal step a training pipeline runs so test
    * questions never leak into training data; n = 8..13 in published
    * pipelines). Documents with fewer than `n` tokens emit no n-grams
    * and are always kept.
    *
    * Shape: the benchmark side (eval sets are tiny next to the corpus)
    * collapses to its distinct n-gram set and BROADCASTS; the corpus
    * explodes once, left-semi probes the broadcast to find contaminated
    * ids, and one anti join keyed by doc_id removes them — never an
    * all-pairs comparison, and the corpus is scanned once per phase.
    * Matching is on the n-gram STRING (exact semantics; the repo's
    * contract polyhash is mod ~1e6, so hash-keyed matching would
    * false-positive heavily at corpus scale — a production run at 100 TB
    * would pre-hash both sides with a real 64-bit hash like xxhash64 to
    * shrink the broadcast, which DuckDB can't mirror). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 8): DataFrame = {
    val benchGrams = benchmark
      .select(explode(ngramShingles(col("text"), n)).as("s"))
      .distinct()
    val contaminated = spread(corpus)
      .select(col("doc_id"), explode(ngramShingles(col("text"), n)).as("s"))
      .join(broadcast(benchGrams), Seq("s"), "left_semi")
      .select(col("doc_id"))
      .distinct()
    corpus.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Scored twin of [[decontaminate]] — the audit view a pipeline wants
    * BEFORE committing to a drop policy: per corpus document, how many
    * of its distinct word `n`-grams appear anywhere in the benchmark
    * set, and the contaminated fraction. The drop rule `decontaminate`
    * applies is `n_hit > 0`; thresholded variants (drop only if > x%
    * contaminated — the lenient policy some pipelines use for short
    * incidental overlaps) filter this frame instead of needing a new
    * operator. Same shape as decontaminate: tiny benchmark gram set
    * broadcasts, the corpus explodes once, one LEFT probe + per-doc
    * aggregate; documents with fewer than `n` tokens have no grams and
    * score NULL. Output: (doc_id, n_grams, n_hit, contamination). */
  def contaminationScore(corpus: DataFrame, benchmark: DataFrame, n: Int = 8): DataFrame = {
    val benchGrams = benchmark
      .select(explode(ngramShingles(col("text"), n)).as("s"))
      .distinct()
      .withColumn("hit", lit(1))
    val per = spread(corpus)
      .select(col("doc_id"), explode(ngramShingles(col("text"), n)).as("s"))
      .join(broadcast(benchGrams), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        // exact-grid: one division of two CAST-to-DOUBLE exact BIGINTs
        // is bitwise cross-engine unrounded; round(x, 4) would only add
        // DuckDB multiply-then-round boundary flake risk
        (col("n_hit").cast("double") / col("n_grams").cast("double"))
          .as("contamination"))
    corpus.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        col("contamination"))
  }

  /** Exact substring-match near-dup pairs — the signal of Lee et al.
    * 2022 ("Deduplicating Training Data Makes Language Models Better"),
    * at word granularity: document pairs sharing at least one exact word
    * `n`-gram (n ≈ 10-50 in published pipelines; theirs is a 50-token
    * suffix-array match), with the count of shared distinct grams.
    * Catches copied passages inside otherwise-different documents, which
    * whole-document Jaccard dilutes below threshold.
    *
    * Scale shape: candidates come ONLY from the inverted index (docs
    * sharing a gram), and grams seen in more than `dfCap` documents are
    * dropped FIRST — boilerplate grams pair every document containing
    * them, so candidate volume is quadratic in gram doc-frequency (the
    * jaccardPairs df argument). The cap is a contract parameter mirrored
    * in SQL, so both engines prune the same grams and the outputs match
    * by construction. Matching joins on the gram STRING for exact
    * semantics (decontaminate's collision note applies: production
    * pre-hashes both sides with xxhash64 and verifies).
    * Output: (da, db, n_shared) with da < db. */
  def substringPairs(docs: DataFrame, n: Int, dfCap: Long): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    require(dfCap >= 2, s"need dfCap >= 2, got $dfCap")
    // persist: the exploded gram table feeds the df aggregate AND both
    // self-join sides — three scans of the explode subtree without it
    val g = Cached.keep(spread(docs)
      .select(col("doc_id"), explode(ngramShingles(col("text"), n)).as("g")))
    // packed-key guard from a narrow one-column probe of the source —
    // NOT forceAndCheckPackable(g): unlike jaccard, this pipeline has a
    // single pre-join consumer (the df `keep` broadcast completes
    // before the join probes start and materializes the cache for
    // them), so there is no cold-cache race to prevent, and an eager
    // forcing pass over the big exploded gram table is pure added cost
    // (interleaved A/B at sf0.1: 2.4-3.8 s wall unforced vs 4.5-7.8 s
    // forced).
    val packable = idsPackable(docs)
    // only grams in 2..dfCap docs can produce (bounded) pairs
    val keep = g.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfCap)
      .select(col("g"))
    val kept = g.join(keep, Seq("g"))
    // Group-expand pair generation — MEASURED AND REJECTED (r20): the
    // stage profile showed the two self-join sides each re-scanning
    // the warm gram cache + probing the keep broadcast + shuffling
    // 9.4 MB (Spark cannot reuse self-join exchanges — the jaccardPairs
    // probe), so collecting each gram's dfCap-bounded doc list in ONE
    // exchange and expanding pairs with two explodes looked strictly
    // better on exchange count (17 -> 12 stages, shuffle halved). The
    // interleaved A/B said otherwise: stage-CPU min 16.3 -> 20.2 with
    // the whole distribution up ~25% (winnowPairs, same shape: wash to
    // worse) — collect_list aggregates outside whole-stage codegen and
    // the double-explode materializes df^2 transient rows, which costs
    // more than the second warm-cache join side it saves. The self-join
    // stands; the one-exchange form remains the documented option for
    // clusters where the exchange, not CPU, is the binding constraint.
    val joined = kept.as("a")
      .join(kept.as("b"), col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
    Cached.result(pairCount(joined, "n_shared", packable), g)
  }

  /** Winnowing near-dup pairs — the MOSS pipeline COMPLETED (Schleimer
    * et al., SIGMOD'03: `TextAnalysis.winnow` builds the fingerprint
    * sets; this joins them): document pairs sharing at least
    * `minShared` winnow fingerprints, with the shared count. Same
    * guarantee as [[substringPairs]] — any shared token run of w+k−1
    * tokens is caught — at ~2/(w+1) of the index size, which is the
    * whole point of winnowing at 100 TB: the inverted index (the thing
    * that shuffles) stores one row per selected window minimum, not
    * one per gram. Same df-cap scale discipline as every pair
    * generator here: fingerprints in more than `dfCap` documents are
    * boilerplate (they'd pair everything containing them) and are
    * dropped first, mirrored in the oracle so candidate sets match by
    * construction. Measured (SCALING.md §2a, round 10): candidate
    * growth is quadratic on a duplication-heavy corpus (89× for 10×
    * docs at cap 64) at ~1/90 the jaccard index volume — an EXACT
    * signal generator like substringPairs, guarded by its cap, with
    * minhash remaining the 100 TB default. Output: (da, db, n_shared). */
  def winnowPairs(docs: DataFrame, k: Int, w: Int,
                  minShared: Long, dfCap: Long): DataFrame = {
    require(minShared >= 1, s"need minShared >= 1, got $minShared")
    require(dfCap >= 2, s"need dfCap >= 2, got $dfCap")
    // winnow() spreads + distincts internally; persist because the
    // fingerprint table feeds the df aggregate AND both join sides
    val f = Cached.keep(graft.llm.TextAnalysis.winnow(docs, k, w))
    val packable = idsPackable(docs)
    val keep = f.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfCap)
      .select(col("fp"))
    val kept = f.join(keep, Seq("fp"))
    // group-expand form measured and rejected here too (r20, the
    // substringPairs ledger entry: one exchange but CPU up — the
    // collect_list + double-explode costs more than the second warm
    // join side)
    val joined = kept.as("a")
      .join(kept.as("b"), col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
    Cached.result(
      pairCount(joined, "n_shared", packable).filter(col("n_shared") >= minShared), f)
  }

  /** Duplicated-SPAN removal — [[substringPairs]]' signal COMPLETED the
    * way Lee et al. 2022 actually use it ("Deduplicating Training Data
    * Makes Language Models Better" removes the matched spans, it does
    * not just flag the pair): every token covered by a word `n`-gram
    * whose FIRST global occurrence lives in a lower doc_id is removed,
    * and each document is reassembled from its surviving tokens in
    * order. The keeper rule is deterministic and the span-granular twin
    * of `TextAnalysis.chunkDedup`'s: the lowest doc_id containing a
    * gram keeps every copy it has (within-doc repeats included — the
    * doc "owns" the gram); every HIGHER doc drops every covered token.
    * Overlapping duplicated grams union their token ranges, so a long
    * shared passage is removed wholesale, not gram-by-gram.
    *
    * Scale shape — deliberately NOT the pair generator's: removal
    * needs no candidate pairs at all, only each gram's min doc_id.
    * One positional-gram explode (rows = tokens, linear), first_doc as
    * a min WINDOW over the gram key (r19: ONE exchange of the gram
    * stream — the old min-aggregate + gram-keyed join-back shuffled it
    * twice, and the sort-merge join already co-located each gram's
    * occurrences, so the window changes no skew shape), a token-range
    * explode of only the DROPPED occurrences, and a doc-keyed
    * anti-join + reassembly — every stage linear, every shuffle key
    * either the gram or the doc id. No df cap is needed because
    * nothing is quadratic: a hot gram is one window group, exactly the
    * rows the old join already sent to one partition. All arithmetic
    * is integer/string — the oracle mirrors bitwise.
    *
    * Output persisted + materialized like chunkDedup; no internal
    * caches remain (r20): after the window rewrite every internal
    * subtree has a single consumer, and the measured r19 rule says a
    * single-consumer array cache loses to re-running scan+split.
    * Output: (doc_id, n_tokens, n_dropped, text). */
  def removeDuplicateSpans(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 2, s"need n >= 2, got $n")
    // first_doc via a min WINDOW over the gram key, not aggregate +
    // join-back: the agg+join shape shuffled the full positional gram
    // stream TWICE (once into the partial-agg exchange, once into the
    // sort-merge join) — the r19 profile showed both as ~15 CPU-s full
    // cache scans with ~10 MB shuffle writes each. The window needs
    // ONE exchange by g; min(doc_id) over the unbounded frame is the
    // same exact long, so the dropped set is identical by construction
    // (the CLAUDE.md windows-over-reaggregation discipline). Skew shape
    // is unchanged: a boilerplate gram's occurrences already co-located
    // in one join partition before; they co-locate in one window group
    // now (and the n-way explode below still touches only dropped
    // occurrences).
    //
    // r20: after the window rewrite the gram stream has ONE consumer,
    // so the r19 grams/toksed persists were the documented
    // single-consumer-cache regression (substringPairs scaladoc; the
    // ADVICE.md item) — both dropped. Grams now come from one native
    // positional pass (posexplode of WordNGrams — zero-copy byte-range
    // slices instead of carrying the token array through an explode
    // and re-slicing + concat_ws per position), and the reassembly
    // passes re-run scan+split (measured r19: the array<string> cache
    // round-trip costs MORE than re-running scan+split).
    //
    // token positions covered by some duplicated gram occurrence; the
    // n-way explode touches only dropped occurrences, and the distinct
    // collapses the n-1 overlaps of consecutive duplicated grams before
    // the anti-join builds on it
    val dropped = positionalGrams(spread(docs), n)
      .withColumn("first_doc",
        min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
      .filter(col("first_doc") < col("doc_id"))
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + lit(n - 1))).as("tpos"))
      .distinct()
    Cached.result(removeCovered(docs, dropped))
  }

  /** Positional word n-gram table of a (doc_id, text) frame: (doc_id,
    * p, g) with p 0-based; docs shorter than n emit nothing. One native
    * pass — WordNGrams non-distinct element i IS the gram at token
    * position i (spec-pinned), and posexplode supplies the position,
    * replacing the explode(sequence)+slice+concat_ws shape that carried
    * the full token array through the generator and re-sliced it per
    * position. Shared by the whole-corpus and incremental span-removal
    * paths. */
  private def positionalGrams(src: DataFrame, n: Int): DataFrame =
    src.select(col("doc_id"),
      posexplode(graft.functions.WordNGrams(col("text"), n, distinct = false))
        .as(Seq("p", "g")))

  /** Reassembles documents minus a dropped (doc_id, tpos) set: token
    * anti-join + in-order concat. Field extraction over the sorted
    * struct array is a native GetArrayStructFields (the chunkDedup
    * reassembly discipline). The token and total passes re-derive from
    * the source scan (single-consumer each — caching the array
    * projection is the measured r19 regression). Returns the lazy
    * output frame; callers force it through `Cached.result`. */
  private def removeCovered(docs: DataFrame, dropped: DataFrame): DataFrame = {
    val tok = spread(docs).select(col("doc_id"),
      posexplode(graft.llm.TextAnalysis.tokens(col("text"))).as(Seq("tpos", "tok")))
    val kept = tok.join(dropped, Seq("doc_id", "tpos"), "left_anti")
    val totals = docs.select(col("doc_id"),
      size(graft.llm.TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    val re = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        sort_array(collect_list(struct(col("tpos"), col("tok")))).as("arr"))
      .select(col("doc_id"), col("n_kept"), array_join(col("arr.tok"), " ").as("t"))
    docs.select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(re, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(col("n_tokens"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"),
        coalesce(col("t"), lit("")).as("text"))
  }

  /** The persisted gram index behind incremental span removal: the
    * corpus's DISTINCT word n-grams, one narrow string column — the
    * span-family analog of [[writeBandIndex]] (text) and
    * `Similarity.writeIvfPqIndex` (vectors). Built once per corpus
    * release; arriving batches probe the stored rows instead of
    * re-gramming corpus text ([[removeCorpusSpans]]). */
  def spanIndexRows(corpus: DataFrame, n: Int): DataFrame = {
    require(n >= 2, s"need n >= 2, got $n")
    spread(corpus)
      .select(explode(ngramShingles(col("text"), n)).as("g"))
      .distinct()
  }

  def writeSpanIndex(corpus: DataFrame, n: Int, path: String): Unit =
    spanIndexRows(corpus, n).write.mode("overwrite").parquet(path)

  /** Incremental duplicated-span removal — [[removeDuplicateSpans]]'
    * batch-vs-corpus twin (the pattern every dedup signal here ships:
    * the corpus is settled, arrivals clean themselves against it):
    * every token of a NEW document covered by a word n-gram already
    * present in the corpus index is removed. The corpus "owns" all its
    * grams — this is Lee et al.'s span removal applied at ingest time,
    * and the decontamination shape at span granularity. Within-batch
    * duplication is deliberately out of scope (compose
    * [[removeDuplicateSpans]] over the batch first if wanted) — one
    * rule per operator keeps both oracles exact.
    *
    * Scale: the batch side is linear (positional grams of the batch
    * only); the corpus side is a ONE-COLUMN scan of the stored index —
    * corpus text is never read, the [[writeBandIndex]] amortization.
    * The semi-join keys on the gram string; at 100 TB both sides
    * pre-hash (the decontaminate collision note).
    * Output: (doc_id, n_tokens, n_dropped, text) over the batch. */
  def removeCorpusSpans(newDocs: DataFrame, corpusGrams: DataFrame,
                        n: Int): DataFrame = {
    // every subtree here has ONE consumer (the r20 removeDuplicateSpans
    // rationale): no caches — the batch grams come from one native
    // positional pass and the reassembly re-runs scan+split
    require(n >= 2, s"need n >= 2, got $n")
    val dropped = positionalGrams(spread(newDocs), n)
      .join(corpusGrams.select(col("g")), Seq("g"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + lit(n - 1))).as("tpos"))
      .distinct()
    Cached.result(removeCovered(newDocs, dropped))
  }

  /** Per-source corpus report — the per-domain duplication/volume table
    * a curation run builds source blocklists from (C4 dropped whole
    * domains this way; `source` stands in for the crawl domain). Takes
    * the duplicated-document id set from ANY upstream dedup signal — a
    * (doc_id) frame built from exact groups, MinHash pairs, SemDeDup
    * drops — so the policy composes with every dedup operator in this
    * module. Per source: document count, documents flagged duplicated,
    * token volume, and the `blocked` policy bit (dup_frac > maxDupFrac).
    *
    * One doc-id-keyed left join (the dup set is far smaller than the
    * corpus — broadcast regime) + one source-keyed aggregate. dup_frac
    * is one long/long division rounded to 4 decimals; the > comparison
    * runs on the rounded grid, so `blocked` is deterministic
    * cross-engine.
    * Output: (source, n_docs, n_dup_docs, n_tokens, min_id, dup_frac,
    * blocked). */
  /** Cross-source duplication matrix — the audit that tells a pipeline
    * WHICH sources duplicate WHICH (mirror dumps, crawl overlap,
    * plagiarized aggregators): near-dup pairs from ANY dedup signal
    * ([[sourceStats]]' composability — the contract feeds MinHash
    * pairs) joined to each side's source, normalized so (src_a,
    * src_b) is unordered (least/greatest — lexicographic on both
    * engines), counted. Only observed combinations emit rows.
    *
    * Scale shape: two doc_id equi-joins sized by the PAIR table (the
    * dedup signal already bounded it — banded candidates, never n²)
    * + one aggregate whose key space is sources², a constant. Sources
    * ride the pair rows, so nothing corpus-sized shuffles beyond what
    * the signal itself did. Output: (src_a, src_b, n_pairs). */
  def crossSourceDupMatrix(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs.select(col("da"), col("db"))
      .join(src.select(col("doc_id").as("da"), col("source").as("sa")), Seq("da"))
      .join(src.select(col("doc_id").as("db"), col("source").as("sb")), Seq("db"))
      .groupBy(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Contrastive training-pair mining — the data an embedding model
    * (SimCSE/E5-style) trains on, assembled from the dedup signals
    * already in this engine: POSITIVES are near-duplicate pairs (the
    * contract feeds MinHash-verified pairs — same content, different
    * surface), HARD NEGATIVES are candidate pairs from a weaker
    * similarity signal (a lower-threshold TF-IDF cosine band: lexically
    * overlapping but NOT near-dups) that the positive set anti-joins
    * away. Random negatives are free at training time; the hard band
    * is the part worth mining — Karpukhin et al. 2020's observation.
    * Both inputs are banded/capped pair generators, so the mining cost
    * is candidate-bounded, never n². Output: (da, db, label 1|0). */
  def contrastivePairs(positives: DataFrame, candidates: DataFrame): DataFrame = {
    val pos = positives.select(col("da"), col("db"))
    pos.withColumn("label", lit(1L))
      .unionByName(candidates.select(col("da"), col("db"))
        .join(pos, Seq("da", "db"), "left_anti")
        .withColumn("label", lit(0L)))
  }

  /** Keep-best dedup policy — the alternative to the keep-lowest-id
    * rule `dedupClusters` bakes into its labels: per near-dup cluster,
    * keep the doc with the MOST tokens (ties to the lowest id) and
    * drop the rest. "Keep the longest/most complete representative" is
    * the policy published pipelines actually prefer over keep-first
    * (a truncated mirror of a page should lose to the full page).
    * Token count is the deliberate quality proxy here: it is an exact
    * integer, so the keeper argmax is a total integer order — using
    * the float classifier score would put a double inside the ranking
    * key (the −0.0/NaN cross-engine class CLAUDE.md bans from new
    * contract outputs).
    *
    * Shape: clusters ⋈ per-doc token counts (cluster-membership-sized,
    * pairs-bounded — never the corpus), one per-cluster window whose
    * per-key top-1 trims map-side (WindowGroupLimit), losers anti-join
    * back. Output: the surviving rows of `docs`. */
  def keepLongest(docs: DataFrame, clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nt = docs.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"))
    val w = Window.partitionBy(col("keep_id")).orderBy(col("nt").desc, col("doc_id"))
    val best = clusters.join(nt, Seq("doc_id"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), lit(1L).as("b"))
    val losers = clusters.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .filter(col("b").isNull).select(col("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Keep-best dedup policy, SOURCE-TIERED: within each near-dup
    * cluster the survivor comes from the highest-priority source
    * (lowest tier number — licensed/curated beats crawl beats
    * scrape), with (n_tokens DESC, doc_id) breaking ties inside a
    * tier. The policy a mixed-provenance corpus actually wants: when
    * a curated copy and a crawl mirror collide, keeping "the longest"
    * can keep the crawl's banner-wrapped version — tiering fixes the
    * provenance, length still tiebreaks within it.
    *
    * `tiers` maps source → tier; unmapped sources get `defaultTier`.
    * The tier is a LITERAL lookup chain (a handful of sources — no
    * join for the lookup), the ranking key is the exact integer triple
    * (tier, −n_tokens, doc_id) — deliberately no float scores (the
    * −0.0/NaN ranking-key class) — and the shape is [[keepLongest]]'s:
    * one cluster-membership-sized window with a map-side top-1 trim,
    * losers anti-join back. Docs outside `clusters` survive untouched. */
  def keepByPriority(docs: DataFrame, clusters: DataFrame,
                     tiers: Seq[(String, Int)], defaultTier: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tierCol = tiers.foldLeft(lit(defaultTier).cast("long")) {
      case (acc, (src, t)) => when(col("source") === src, lit(t.toLong)).otherwise(acc)
    }
    val keyed = docs.select(col("doc_id"), tierCol.as("tier"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"))
    val w = Window.partitionBy(col("keep_id"))
      .orderBy(col("tier"), col("nt").desc, col("doc_id"))
    val best = clusters.join(keyed, Seq("doc_id"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), lit(1L).as("b"))
    val losers = clusters.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .filter(col("b").isNull).select(col("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Leakage-safe train/test split — `TextAnalysis.contentSplit` lifted
    * from documents to near-dup CLUSTERS. A per-document content-hash
    * split leaks: two near-duplicates hash differently (the perturbed
    * copy has different bytes), so one lands in train and its twin in
    * test — the eval set then contains soft copies of training data,
    * the exact contamination eval decks exist to prevent. The fix is to
    * make the split a function of the cluster, not the document: every
    * doc splits by the fingerprint of its cluster KEEPER's text
    * (`clusters` = (doc_id, keep_id) from [[graft.ops.ConnectedComponents
    * .dedupClusters]]; docs absent from the pair graph are their own
    * keeper), so cluster members agree on the split by construction —
    * zero near-dup pairs straddle the boundary.
    *
    * Shape: one left join corpus ⋈ clusters (cluster table is
    * pairs-bounded, tiny next to the corpus) + one equi-join to fetch
    * the keeper's text for hashing — no window, no extra shuffle
    * beyond the two joins. Output: (doc_id, keep_id, split) for every
    * document. */
  def leakageSafeSplit(docs: DataFrame, clusters: DataFrame,
                       trainBuckets: Int = 8, buckets: Int = 10): DataFrame = {
    val withKeep = docs.select(col("doc_id"))
      .join(clusters.select(col("doc_id"), col("keep_id")), Seq("doc_id"), "left")
      .withColumn("keep_id", coalesce(col("keep_id"), col("doc_id")))
    val keeperSplit = docs.select(col("doc_id").as("keep_id"),
      when(TextAnalysis.fingerprint(col("text")) % buckets < trainBuckets, "train")
        .otherwise("test").as("split"))
    withKeep.join(keeperSplit, Seq("keep_id"))
      .select(col("doc_id"), col("keep_id"), col("split"))
  }

  def sourceStats(docs: DataFrame, dupIds: DataFrame, maxDupFrac: Double): DataFrame =
    docs
      .join(dupIds.select(col("doc_id")).distinct().withColumn("isdup", lit(1L)),
        Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("isdup"), lit(0L))).as("n_dup_docs"),
        sum(size(TextAnalysis.tokens(col("text"))).cast("long")).as("n_tokens"),
        min(col("doc_id")).as("min_id"))
      .withColumn("dup_frac", round(col("n_dup_docs") / col("n_docs"), 4))
      .select(col("source"), col("n_docs"), col("n_dup_docs"), col("n_tokens"),
        col("min_id"), col("dup_frac"), (col("dup_frac") > maxDupFrac).as("blocked"))

  /** Forces an inverted-index cache with ONE job and returns whether
    * every doc_id fits the packed pair key (non-negative, < 2^31).
    * Forcing before the plan fans out matters WHEN several consumers
    * start concurrently (jaccard: the size broadcasts race the df-cap
    * build on a cold cache and redo the explode/hash pipeline —
    * measured 9.5 -> 7.9 s wall at sf0.1); for single-pre-join-consumer
    * pipelines use [[idsPackable]] instead (substringPairs: forcing the
    * big gram table was measured as a pure 2x wall regression). */
  private def forceAndCheckPackable(indexRows: DataFrame): Boolean = {
    val s = indexRows.agg(count(lit(1)).as("n"),
      min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi")).head()
    !s.isNullAt(1) && s.getLong(1) >= 0L && s.getLong(2) < (1L << 31)
  }

  /** Packed-pair-key guard from a narrow one-column scan of the source
    * table (no forcing side effect). */
  private def idsPackable(docs: DataFrame): Boolean = {
    val s = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi")).head()
    !s.isNullAt(0) && s.getLong(0) >= 0L && s.getLong(1) < (1L << 31)
  }

  /** Count rows per (a.doc_id, b.doc_id) pair of a self-join output
    * with a.doc_id < b.doc_id. When `packable`, groups by the single
    * packed 64-bit key (da<<32 | db): one 8-byte grouping key instead
    * of two halves hashing, comparing, and shuffling — measured
    * min-sample CPU 34.5 -> 30.0 s on jaccard's 36M-row aggregation at
    * sf0.1, and far less sensitive to load spikes. Counts are integers,
    * so regrouping can never perturb the result; larger or negative id
    * spaces (100 TB) take the two-column path, whose output is
    * bit-identical (LlmSpec pins packed == fallback under an id
    * shift). */
  private def pairCount(joined: DataFrame, cntName: String, packable: Boolean): DataFrame =
    if (packable)
      joined
        .select((shiftleft(col("a.doc_id"), 32) + col("b.doc_id")).as("pk"))
        .groupBy(col("pk")).agg(count(lit(1)).as(cntName))
        .select(shiftright(col("pk"), 32).as("da"),
          col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("db"), col(cntName))
    else
      joined
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as(cntName))

  // ---------- n-gram Jaccard (inverted-index join) ----------

  /** Exploded (doc_id, shingle) rows — the shared inverted-index layout. */
  def shingleRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(shingles(col("text"))).as("s"))

  /** Repartitions the (narrow) documents to session parallelism so the
    * downstream explode + hash compute isn't pinned to the source's few
    * file partitions. */
  private def spread(docs: DataFrame): DataFrame =
    docs.repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)

  /** Above this many candidate pairs the id-list broadcast falls back to
    * the shuffle formulation. Banded candidate sets are small BY DESIGN
    * (band collisions only), so the broadcast branch is the expected
    * regime. */
  private val BroadcastVerifyLimit = 1L << 20

  /** Separate, tighter gate for broadcasting the SHINGLE-SET table: its
    * rows carry full bigram arrays (~1-2 KB/doc vs 8 bytes for an id),
    * so the safe broadcast budget is documents, not pairs — 2^16 docs
    * ≈ 64-128 MB, comfortably under Spark's broadcast limits. Pair
    * count bounds doc count only loosely (2 docs/pair), which is why
    * this is NOT derived from BroadcastVerifyLimit. */
  private val BroadcastSetDocsLimit = 1L << 16

  /** Exact Jaccard over the shingle sets of candidate (da, db) pairs.
    * Shingle sets are computed only for docs appearing in a pair
    * (left-semi pushdown), so verification cost tracks the candidate
    * count, not the corpus. */
  private def verifyJaccard(docs: DataFrame, candidates: DataFrame, threshold: Double,
                            release: Seq[DataFrame]): DataFrame = {
    // the candidate generation (band/index self-join) is the expensive
    // subtree and is referenced three times downstream — persist it,
    // force it with the ONE heavy job of this operator, and release the
    // upstream caches immediately (they are no longer needed)
    val cand = Cached.keep(candidates)
    val nCand = cand.count()
    release.foreach(_.unpersist(false))
    val candIds = cand.select(explode(array(col("da"), col("db"))).as("doc_id")).distinct()
    // shingle sets ONLY for docs appearing in a pair (semi-join pushdown):
    // verification cost tracks the candidate count, not the corpus. The
    // persist bounds the corpus scan to one pass — `sets` is referenced
    // by both join sides below.
    val candIdsSized =
      if (nCand <= BroadcastVerifyLimit) broadcast(candIds) else candIds
    val sets = Cached.keep(docs.join(candIdsSized, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingles(col("text")).as("sh")))
    // the set-table broadcast is gated on its OWN row count (documents
    // with their full shingle arrays), not the pair count: the count
    // also materializes the cache the two joins below share
    val nSetDocs = sets.count()
    def side(pairCol: String, setAlias: String) = {
      val s = sets.select(col("doc_id").as(pairCol), col("sh").as(setAlias))
      if (nSetDocs <= BroadcastSetDocsLimit) broadcast(s) else s
    }
    val i = size(array_intersect(col("sa"), col("sb")))
    val result = cand
      .join(side("da", "sa"), Seq("da"))
      .join(side("db", "sb"), Seq("db"))
      .select(col("da"), col("db"),
        (i / (size(col("sa")) + size(col("sb")) - i)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // cheap second job: everything reads the cand/sets caches (broadcast
    // builds in the small regime), then both caches go
    Cached.result(result, cand, sets)
  }

  /** Near-duplicate pairs (da < db) with word-bigram Jaccard >= threshold.
    * Join is on the 8-byte shingle hash (cheap sort/compare), counting
    * hash co-occurrences per pair; jac >= t needs i >= t(na+nb)/(1+t),
    * and hash intersections only OVER-count (collisions), so filtering on
    * that bound is lossless — survivors are then exactly verified on the
    * string shingle sets. Output is exact regardless of collisions.
    *
    * Design note — prefix filtering (AllPairs/PPJoin) was measured and
    * REJECTED for this corpus shape: with a small, dense shingle
    * vocabulary (931 distinct bigrams across 5k docs at sf0.1, median
    * doc-frequency 285) the t=0.5 prefixes still index half of every
    * document, yielding 7.9M candidate pairs that would each need exact
    * set verification — far costlier than this count-bound pipeline,
    * which joins 36M narrow (hash, id) rows through one partial-agg
    * shuffle and verifies only the ~dozens of bound survivors. On a
    * natural-text corpus (large sparse vocabulary) prefix filtering wins;
    * on this one the inverted-index count bound does.
    *
    * `dfCap` (default: uncapped) is the 100x-scale guard its siblings
    * `substringPairs`/`tfidfCosinePairs` already carry: shingle hashes
    * present in more than `dfCap` documents are dropped BEFORE the
    * self-join — a hash with doc-frequency d contributes d*(d-1)/2
    * candidate rows, so boilerplate shingles make candidate volume
    * quadratic in corpus growth. The count bound then runs on the capped
    * intersection (an UNDER-count, so the bound only prunes more);
    * survivors are still exactly verified on full string shingle sets,
    * so false positives remain impossible, and a true pair is lost only
    * if every shared shingle is boilerplate (df > cap) — cap-on ≡
    * cap-off is spec-pinned on the contract corpus (LlmSpec), and the
    * cap is a contract parameter mirrored hash-for-hash in the oracle
    * SQL so both engines agree by construction. For corpora where even
    * the cap can't keep candidates linear, `minhashPairs` is the scale
    * path (banded, candidate count independent of df). Measured
    * (SCALING.md §2): on the contract corpus 10× docs grew exact
    * candidates 99× (cap inactive below df 1000) while minhash banded
    * candidates grew 12.6× — the quadratic regime this cap and the
    * banded path exist for, quantified.
    *
    * CPU profile (r8, sf0.1, UI node metrics): the self-join emits the
    * full Sum(df*(df-1)/2) = 36.5M pair rows (931 hashes, max df 338),
    * the map-side partial agg combines 3.5x to 10.3M distinct pairs,
    * and that join+aggregate subtree is the operator's cost center
    * (~25-30 of ~60-80 warm CPU-s; the packed key below cuts its
    * constant). The remaining CPU is the df-count and size broadcast
    * builds, which Spark materializes TWICE each — pinning those tiny
    * aggregates in forced caches was MEASURED AND REJECTED: the
    * duplicates run in parallel off the warm shingle cache, so their
    * CPU overlaps, while forcing adds sequential jobs on the critical
    * path (paired A/B: 7.0-10.6 s wall unpinned vs 17.8-19.8 s
    * pinned). Exchange reuse CANNOT close the duplication (probed on
    * Spark 4.1.2, r9): self-join disambiguation clones the cached
    * relation with fresh expression ids, and InMemoryRelation keeps
    * its output attribute ids in its canonical form, so the twin
    * broadcast subtrees never canonicalize equal and AQE's stage
    * cache/ReuseExchange can never hit — a core limitation, not a
    * config. Measured duplicate cost: 5-7 ms per broadcast build plus
    * one extra linear agg pass over the warm 256k-row cache (sub-0.1
    * CPU-s against the ~30 CPU-s pair agg); restructuring to carry n
    * through the pair aggregation would widen the 36.5M-row cost
    * center to save it — idea closed. For exact hash-intersection
    * counting the 36.5M-row pair enumeration is irreducible on this
    * corpus shape — every further reduction (prefix filter: rejected
    * above; banding: minhashPairs) changes the candidate-generation
    * contract, not the constant. */
  def jaccardPairs(docs: DataFrame, threshold: Double,
                   dfCap: Long = Long.MaxValue): DataFrame = {
    require(dfCap >= 2, s"need dfCap >= 2, got $dfCap")
    // persist: the hashed inverted index feeds both self-join sides and
    // the size aggregate — three evaluations of the shingle+hash subtree
    // without it (Spark only reuses identical *exchanges*, and AQE's
    // broadcast conversion recomputes the build side).
    // repartition BEFORE exploding: documents.parquet arrives in 2-3
    // file partitions, so the shingle/hash compute and — worse — the
    // 73M-row self-join probe+aggregate would run on 2-3 tasks (the
    // broadcast join preserves the probe side's partitioning). A cheap
    // 5k-row shuffle buys full-width parallelism (17s -> 10s at sf0.1).
    val sh = Cached.keep(shingleRows(spread(docs)).select(col("doc_id"), shingleHash(col("s")).as("h")))
    // one job: force the cache before the fan-out + packed-key guard
    // (see forceAndCheckPackable)
    val packable = forceAndCheckPackable(sh)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // hot-hash guard: only hashes in <= dfCap docs reach the self-join
    // (df 2..dfCap; df=1 hashes can't pair and the join drops them free)
    val kept =
      if (dfCap == Long.MaxValue) sh
      else sh.join(
        sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= dfCap).select(col("h")),
        Seq("h"))
    // The pair-count aggregation is the operator's cost center (the
    // join emits ~36M candidate rows at sf0.1, combined 3.5x by the
    // map-side partial agg to 10.3M shuffled pairs) — see pairCount
    // for the packed-key rationale and measurements.
    //
    // Size-bound pre-filter inside the join condition — MEASURED AND
    // REJECTED (r20, the verdict item): jac >= t forces min(na,nb)
    // >= t*(na+nb)/(1+t) on the exact distinct-shingle counts, so
    // decorating both join sides with n and evaluating that bound in
    // the join condition provably preserves the final pair set while
    // dropping candidate rows before the partial aggregation. On this
    // corpus it prunes only 23% of the 36.5M rows (36.47M -> 28.08M,
    // DuckDB mirror — doc sizes cluster at 8..98 distinct shingles, so
    // the t=0.5 ratio test rarely fires), and the interleaved A/B
    // (3 rounds x 2 reps, old vs new jar) showed the DECORATION costs
    // more than the cut saves: stage-CPU distribution shifted UP
    // (min 68.5 -> 76.0, medians +8%), stages 30 -> 34 (two more
    // duplicated broadcast builds of the sizes aggregate), wall min
    // 4.8 -> 6.1 s. On a corpus with heavy size dispersion the same
    // filter would prune most of the enumeration — parameterizing it
    // stays a documented option, but the contract corpus ships without.
    val joined = kept.as("a")
      .join(kept.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
    val hashInter = pairCount(joined, "ic", packable)
    val cand = hashInter
      .join(sizes.as("na"), col("da") === col("na.doc_id"))
      .join(sizes.as("nb"), col("db") === col("nb.doc_id"))
      .filter(col("ic") >= lit(threshold) * (col("na.n") + col("nb.n")) / (1.0 + threshold))
      .select(col("da"), col("db"))
    verifyJaccard(docs, cand, threshold, release = Seq(sh))
  }

  // ---------- MinHash + LSH ----------

  /** Fixed (a, b) constants of the 16 affine min-hash functions
    * h_j(x) = (a_j * x + b_j) mod FpMod. Part of the contract. */
  val HashAB: Seq[(Long, Long)] = Seq(
    (1007L, 3L), (2003L, 17L), (3001L, 29L), (4001L, 43L),
    (5003L, 59L), (6007L, 71L), (7001L, 89L), (8009L, 101L),
    (9001L, 113L), (10007L, 131L), (11003L, 149L), (12007L, 163L),
    (13001L, 179L), (14009L, 193L), (15013L, 211L), (16001L, 227L))

  /** LSH layout: 4 bands x 4 rows — tuned for the near-dup regime
    * (j >= 0.8, where detection probability is >0.98 per pair): measured
    * on the contract corpora it catches every true pair at threshold 0.5
    * while cutting the candidate set ~200x vs 8x2 (434 vs 97k at sf0.1).
    * The banding is deterministic (fixed HashAB) and the oracle mirrors
    * it exactly, so both engines agree on the candidate set by
    * construction. */
  val Bands = 4
  val RowsPerBand = 4

  /** The LSH banding S-curve as a frame — the tuning table behind the
    * 4×4 choice above, made queryable: for each Jaccard similarity s on
    * a 1/gridN grid, the single-band collision probability s^rows and
    * the detection probability 1 − (1 − s^rows)^bands. This is what an
    * engineer reads to pick (bands, rows) for a target threshold, and
    * what `q_lsh_recall`'s measured 1.0 is checked against.
    *
    * Cross-engine: powers are LEFT-FOLDED multiplications (never pow —
    * libm pow is not bitwise across engines) and the oracle SQL is
    * generated from the same fold, so every IEEE op sequence is
    * identical by construction: bitwise with no rounding. Driver-free:
    * one `spark.range` projection. */
  def lshCurve(spark: org.apache.spark.sql.SparkSession,
               bands: Int, rows: Int, gridN: Int): DataFrame = {
    require(bands >= 1 && rows >= 1 && gridN >= 2,
      s"need bands, rows >= 1 and gridN >= 2, got $bands, $rows, $gridN")
    def powN(c: Column, n: Int): Column = (2 to n).foldLeft(c)((acc, _) => acc * c)
    val s = col("id").cast("double") / lit(gridN.toDouble)
    val pBand = powN(s, rows)
    val pDetect = lit(1.0) - powN(lit(1.0) - pBand, bands)
    spark.range(1, gridN.toLong)
      .select(col("id").as("i"), s.as("s"),
        pBand.as("p_band"), pDetect.as("p_detect"))
  }

  /** Per-document 16-element min-hash signature as columns m0..m15.
    * Spark-first formulation: explode shingles, hash each ONCE, derive
    * the 16 affine permutations as cheap scalar columns, reduce with one
    * hash aggregate of 16 min()s — everything stays in whole-stage
    * codegen, and the shingle hash is never recomputed per permutation
    * (an expression-tree form would be duplicated 16x by
    * CollapseProject and cost 16 char-level hash passes per row). */
  def signatures(docs: DataFrame): DataFrame = {
    val ex = shingleRows(spread(docs)).select(col("doc_id"), shingleHash(col("s")).as("h"))
    val minCols = HashAB.zipWithIndex.map { case ((a, b), j) =>
      min((lit(a) * col("h") + lit(b)) % FpMod).as(s"m$j")
    }
    ex.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
  }

  /** (doc_id, band, key) LSH band-bucket rows from a SIGNATURE table —
    * the one definition of the band layout (key format + banding), so
    * `minhashPairs`, `incrementalMinhash` and `minhashEstimatePairs`
    * cannot drift from each other or the SQL mirrors. */
  private def bandTableOf(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until RowsPerBand).map(r =>
          col(s"m${b * RowsPerBand + r}")): _*).as("key"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  private def bandTable(docs: DataFrame): DataFrame = bandTableOf(signatures(docs))

  /** Distinct (da < db) pairs from band-bucket collisions — the shared
    * candidate generator of the self-join operators. */
  private def bandCandidates(bands: DataFrame): DataFrame =
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()

  /** Candidate pairs from band-bucket collisions, verified with the true
    * Jaccard over the shingle sets; returns (da, db, jaccard) with
    * jaccard >= threshold. */
  def minhashPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val bands = Cached.keep(bandTable(docs))
    verifyJaccard(docs, bandCandidates(bands), threshold, release = Seq(bands))
  }

  /** Signature-only near-dup ESTIMATION: band-collision candidates
    * scored by signature agreement alone — est_jaccard = matching
    * positions / 16, no shingle-set verification. This is the 100 TB
    * triage mode: verification re-reads both documents' text per
    * candidate, while the estimate touches only the 16-column signature
    * table (per-doc size is constant, text never re-read); a pipeline
    * estimates first and exactly verifies only the band (or nothing —
    * MinHash's unbiasedness is the point). n_match is integer, est is
    * n/16 (exact binary), so the contract is float-safe cross-engine.
    * `minMatch` >= RowsPerBand is guaranteed by construction (a band
    * collision matches 4 positions); 8 = est 0.5.
    * Output: (da, db, n_match, est_jaccard). */
  def minhashEstimatePairs(docs: DataFrame, minMatch: Int): DataFrame = {
    require(minMatch >= 1 && minMatch <= HashAB.length,
      s"need 1 <= minMatch <= ${HashAB.length}, got $minMatch")
    val sigs = Cached.keep(signatures(docs))
    val cand = bandCandidates(bandTableOf(sigs))
    val sa = sigs.select(col("doc_id").as("da") +:
      HashAB.indices.map(j => col(s"m$j").as(s"a$j")): _*)
    val sb = sigs.select(col("doc_id").as("db") +:
      HashAB.indices.map(j => col(s"m$j").as(s"b$j")): _*)
    val nMatch = HashAB.indices
      .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
      .reduce(_ + _)
    val out = cand.join(sa, Seq("da")).join(sb, Seq("db"))
      .select(col("da"), col("db"), nMatch.cast("long").as("n_match"),
        (nMatch.cast("double") / HashAB.length).as("est_jaccard"))
      .filter(col("n_match") >= minMatch)
    Cached.result(out, sigs)
  }

  /** Incremental near-dup detection: pairs (batch_id, corpus_id,
    * jaccard >= threshold) between a NEW snapshot and the existing
    * corpus — the near-dup twin of `incremental` (which is exact-only).
    * A pipeline appending a crawl snapshot runs this to drop batch docs
    * that near-duplicate something already ingested, without ever
    * re-pairing the corpus against itself.
    *
    * Shape: both sides band with the same LSH layout; the BATCH band
    * table (small next to the corpus) broadcasts, so the corpus is
    * scanned once and probed in place — no corpus self-join, no corpus
    * shuffle, cost tracks the batch size. Candidates are then exactly
    * verified on the string shingle sets (same `verifyJaccard` boundary
    * as the other pair operators, so hash collisions never reach the
    * output). doc_ids must be unique ACROSS both frames. */
  def incrementalMinhash(newDocs: DataFrame, corpus: DataFrame,
                         threshold: Double): DataFrame =
    corpusProbePairs(bandTable(newDocs), newDocs, corpus, threshold)
      .select(col("da").as("batch_id"), col("db").as("corpus_id"), col("jaccard"))

  /** Persisted LSH band index — the amortization that makes incremental
    * dedup an O(batch) operation in practice: [[incrementalMinhash]]
    * re-shingles, re-hashes and re-bands the ENTIRE corpus on every
    * batch (correct, but the corpus side dominates once batches are
    * small), while a saved band index pays that cost ONCE at corpus
    * build and lets every future batch probe the stored (doc_id, band,
    * key) rows — a columnar scan of three narrow columns instead of the
    * full text pipeline ([[ingestDupIdsIndexed]], which
    * `streaming.IndexedIngest` runs per micro-batch). This is the
    * production shape of streaming ingest at 100 TB: the index appends
    * with the corpus (band rows of admitted docs — [[bandTable]] of the
    * survivors), so no rebuild.
    *
    * The layout is the shared [[bandTableOf]] definition, so an index
    * written today is probe-compatible with every banded operator. */
  def writeBandIndex(corpus: DataFrame, path: String): Unit =
    bandTable(corpus).write.mode("overwrite").parquet(path)

  /** Band rows of `docs` in the index layout — what an ingest loop
    * appends to the index for the documents it admits. */
  def bandIndexRows(docs: DataFrame): DataFrame = bandTable(docs)

  /** [[ingestDupIds]] against a PREBUILT corpus band-index frame plus
    * the corpus texts (candidate verification only) — the batch kernel
    * of index-maintaining streaming ingest: the corpus is never
    * re-banded, its text is read only for candidate endpoints. */
  def ingestDupIdsIndexed(newDocs: DataFrame,
                          corpus: Option[(DataFrame, DataFrame)],
                          threshold: Double): DataFrame = {
    val batchBands = Cached.keep(bandTable(newDocs))
    val withinPairs = verifyJaccard(newDocs, bandCandidates(batchBands),
      threshold, release = Nil)
    val vsCorpusPairs = corpus.map { case (ctexts, cbands) =>
      val both = newDocs.select(col("doc_id"), col("text"))
        .unionByName(ctexts.select(col("doc_id"), col("text")))
      verifyJaccard(both, probeCandidatesOf(batchBands, cbands),
        threshold, release = Nil)
    }
    val ids = vsCorpusPairs
      .map(vc => withinPairs.select(col("db").as("doc_id"))
        .unionByName(vc.select(col("da").as("doc_id"))))
      .getOrElse(withinPairs.select(col("db").as("doc_id")))
      .distinct()
    Cached.result(ids, Seq(batchBands, withinPairs) ++ vsCorpusPairs.toSeq: _*)
  }

  /** Right-to-be-forgotten cascade — the deletion sweep a training-data
    * pipeline owes a removal request: dropping ONLY the requested
    * doc_ids leaves their near-duplicates (mirrors, re-crawls, light
    * edits of the same content) in the corpus, so the content survives
    * its own deletion. The sweep returns the requested ids PLUS every
    * corpus document that near-duplicates one of them, each labeled
    * with why it goes.
    *
    * Shape: the request list is small by definition, so it broadcasts
    * twice (select the requested texts; anti-select the rest) and the
    * dup discovery is exactly [[incrementalMinhash]] with batch = the
    * requested docs — batch bands broadcast, the corpus is scanned once
    * and probed in place, cost tracks the REQUEST size, never
    * corpus². Output: (doc_id, reason ∈ requested | near_dup); a doc
    * appears once (near-dups of several requests dedup; requested docs
    * are excluded from the probe corpus so the labels are disjoint). */
  def deleteCascade(corpus: DataFrame, requestIds: DataFrame,
                    threshold: Double): DataFrame = {
    val req = requestIds.select(col("doc_id")).distinct()
    val requested = corpus.join(broadcast(req), Seq("doc_id"))
    val rest = corpus.join(broadcast(req), Seq("doc_id"), "left_anti")
    val dups = incrementalMinhash(requested, rest, threshold)
      .select(col("corpus_id").as("doc_id")).distinct()
    req.select(col("doc_id"), lit("requested").as("reason"))
      .unionByName(dups.select(col("doc_id"), lit("near_dup").as("reason")))
  }

  /** Verified (da = batch doc, db = corpus doc) near-dup pairs of a
    * PREBUILT batch band table probed against a corpus — the ONE
    * definition of the incremental probe, shared by `incrementalMinhash`
    * and `ingestDupIds` so the streaming path cannot drift from the
    * contract-verified one. */
  private def corpusProbePairs(batchBands: DataFrame, newDocs: DataFrame,
                               corpus: DataFrame, threshold: Double): DataFrame = {
    val both = newDocs.select(col("doc_id"), col("text"))
      .unionByName(corpus.select(col("doc_id"), col("text")))
    verifyJaccard(both, probeCandidates(batchBands, corpus), threshold, release = Nil)
  }

  /** (da = batch doc, db = corpus doc) band-collision candidates of a
    * PREBUILT batch band table probed against a corpus: the batch side
    * broadcasts (small next to the corpus BY DEFINITION of incremental
    * ingest), so the corpus bands once and is probed in place — no
    * corpus self-join, no corpus shuffle. The single candidate
    * definition under every incremental verifier (Jaccard, edit
    * distance, streaming ingest). */
  private def probeCandidates(batchBands: DataFrame, corpus: DataFrame): DataFrame =
    probeCandidatesOf(batchBands, bandTable(corpus))

  /** The same probe against PREBUILT corpus band rows (a persisted band
    * index, or bands carried forward by an ingest loop) — one join
    * definition under every probe consumer. */
  private def probeCandidatesOf(batchBands: DataFrame, corpusBands: DataFrame): DataFrame =
    corpusBands.as("c")
      .join(broadcast(batchBands).as("b"),
        col("c.band") === col("b.band") && col("c.key") === col("b.key"))
      .select(col("b.doc_id").as("da"), col("c.doc_id").as("db"))
      .distinct()

  // ---------- edit-distance-verified near-dup ----------

  /** Character-level near-dup pairs: MinHash-banded candidates verified
    * by EDIT DISTANCE instead of set Jaccard — the verification a
    * pipeline reaches for when "near duplicate" must mean "differs by a
    * few character edits" (OCR noise, typo farms, template fills) rather
    * than "shares most of its bigram set". Jaccard is blind to ordering
    * and counts a moved paragraph as identical; edit distance is the
    * stricter sequence-level check.
    *
    * Scale shape: candidates come ONLY from LSH band collisions (the
    * shared [[signatures]]/band layout — never n²), texts are fetched
    * for candidate endpoints only (semi-join pushdown, the
    * `verifyJaccard` boundary), and the DP itself runs THRESHOLDED:
    * Spark's 3-arg `levenshtein(l, r, d)` is the banded O(len·d)
    * algorithm, not O(len²) — at a 100 TB corpus the per-candidate
    * verification cost is bounded by the distance budget, and a
    * non-match exits as soon as every band cell exceeds d. Returns -1
    * past the threshold; the filter keeps true distances only.
    *
    * Cross-engine: the distance is an integer DP (no floats anywhere);
    * DuckDB's `levenshtein` agrees exactly on ASCII text (it counts
    * bytes, Spark counts chars — verified empirically r12: every doc at
    * sf0.01 has strlen(text) = len(text), i.e. pure ASCII, and the
    * per-round hash compare of `q_edit_pairs` re-checks the agreement
    * on every regeneration of the corpus; on non-ASCII corpora the
    * Spark side is the character-correct one).
    * edit_sim = (maxlen - dist)/maxlen is ONE division of two exact
    * BIGINTs (the qualityClassifier exact-grid pattern) — bitwise with
    * no rounding discipline. Output: (da, db, dist, edit_sim) with
    * da < db, dist <= maxDist, ordered upstream of the contract. */
  def editPairs(docs: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"need maxDist >= 0, got $maxDist")
    val bands = Cached.keep(bandTable(docs))
    verifyEdit(docs, bandCandidates(bands), maxDist, release = Seq(bands))
  }

  /** Incremental edit-verified near-dup: (batch_id, corpus_id, dist,
    * edit_sim) pairs between a NEW snapshot and the existing corpus —
    * the edit-distance twin of [[incrementalMinhash]], for the ingest
    * where "duplicate" must mean "few character edits" (OCR re-scans of
    * already-ingested pages, typo-farm resubmissions). Same probe shape
    * (the ONE [[probeCandidates]] definition: batch bands broadcast, the
    * corpus scanned once and never self-joined), same thresholded-DP
    * verification as [[editPairs]] — cost tracks the batch size times
    * the distance budget. doc_ids must be unique ACROSS both frames. */
  def incrementalEditPairs(newDocs: DataFrame, corpus: DataFrame,
                           maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"need maxDist >= 0, got $maxDist")
    val both = newDocs.select(col("doc_id"), col("text"))
      .unionByName(corpus.select(col("doc_id"), col("text")))
    verifyEdit(both, probeCandidates(bandTable(newDocs), corpus),
      maxDist, release = Nil)
      .select(col("da").as("batch_id"), col("db").as("corpus_id"),
        col("dist"), col("edit_sim"))
  }

  /** Thresholded-levenshtein verification of candidate (da, db) pairs —
    * the edit-distance sibling of [[verifyJaccard]]: texts fetched for
    * candidate endpoints only, banded O(len*d) DP, -1-past-budget rows
    * dropped. Shared by [[editPairs]] and [[incrementalEditPairs]] so
    * the self-join and incremental paths cannot drift. */
  private def verifyEdit(docs: DataFrame, candidates: DataFrame, maxDist: Int,
                         release: Seq[DataFrame]): DataFrame = {
    val cand = Cached.keep(candidates)
    val nCand = cand.count()
    release.foreach(_.unpersist(false))
    val candIds = cand.select(explode(array(col("da"), col("db"))).as("doc_id")).distinct()
    val candIdsSized =
      if (nCand <= BroadcastVerifyLimit) broadcast(candIds) else candIds
    // texts only for docs appearing in a candidate pair; both join sides
    // share one cached narrow (doc_id, text) slice
    val txt = Cached.keep(docs.join(candIdsSized, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text")))
    val nTxt = txt.count()
    def side(pairCol: String, alias: String) = {
      val s = txt.select(col("doc_id").as(pairCol), col("text").as(alias))
      if (nTxt <= BroadcastSetDocsLimit) broadcast(s) else s
    }
    val d = levenshtein(col("ta"), col("tb"), maxDist)
    val out = cand
      .join(side("da", "ta"), Seq("da"))
      .join(side("db", "tb"), Seq("db"))
      .select(col("da"), col("db"), d.cast("long").as("dist"),
        greatest(length(col("ta")), length(col("tb"))).cast("long").as("maxlen"))
      .filter(col("dist") >= 0) // thresholded DP returns -1 past maxDist
      // maxlen = 0 means two EMPTY texts (dist 0, similarity 1 — identical,
      // not NaN). Today unreachable — empty docs produce no shingles and
      // never enter the band table, an invariant enforced far away in
      // signatures() — but the guard keeps a future candidate-source
      // change from silently feeding 0/0 into a bitwise-hashed column.
      .select(col("da"), col("db"), col("dist"),
        when(col("maxlen") === 0, lit(1.0))
          .otherwise((col("maxlen") - col("dist")).cast("double") /
            col("maxlen").cast("double")).as("edit_sim"))
    Cached.result(out, cand, txt)
  }

  /** Sparse TF-IDF cosine near-dup pairs — the SPARSE-vector similarity
    * family (weighted lexical overlap), complementing set Jaccard
    * (unweighted) and dense embedding cosine: rare shared n-grams count
    * for more, boilerplate counts for less. Terms are word-bigram
    * OCCURRENCES; weight = round(tf · ln(N/df), 4) — the round-4 grid
    * makes both engines' weights identical BEFORE any sum, so norms and
    * dot products diverge only by summation-order ulps that the final
    * round-4 absorbs.
    *
    * Scale shape: pairs come ONLY from the inverted index of terms with
    * 2 ≤ df ≤ dfCap (the substringPairs stop-gram argument — candidate
    * volume is quadratic in df, and high-df terms carry near-zero idf
    * anyway); the cap is a mirrored contract parameter, so both engines
    * prune identically. Norms run over ALL kept terms (df ≤ dfCap),
    * including df=1 terms that can never pair.
    * Output: (da, db, sim) with da < db and rounded sim ≥ threshold. */
  def tfidfCosinePairs(docs: DataFrame, threshold: Double, dfCap: Long): DataFrame = {
    require(dfCap >= 2, s"need dfCap >= 2, got $dfCap")
    val n = docs.count() // driver boundary: one count (the tfidf pattern)
    // non-distinct bigram occurrences, native single-pass (see WordNGrams).
    // The per-row WordCounts(text, 2) form was MEASURED AND REJECTED
    // here (r20): documents repeat few bigrams internally, so the
    // per-row map pays full per-gram overhead with almost no dedup —
    // interleaved A/B stage-CPU min 8.7 -> 10.6 (the mirror of the r19
    // pre-agg rejection; token-level WordCounts wins in lexPostings /
    // tfidfTopTerms, where repetition is ~2x and keys are shorter).
    val bigrams = coalesce(graft.functions.WordNGrams(col("text"), 2, distinct = false),
      array().cast("array<string>"))
    val tf = Cached.keep(spread(docs)
      .select(col("doc_id"), explode(bigrams).as("tm"))
      .groupBy(col("doc_id"), col("tm"))
      .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("tm")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
    // Weights land on the round-4 grid, so they scale EXACTLY to BIGINT
    // (wl = w * 1e4): the dot products and squared norms become exact
    // integer sums — order-invariant under any partitioning and
    // identical across engines BY CONSTRUCTION, not by rounding margin
    // (the vkmeans gridded-mean pattern). The by-construction guarantee
    // scopes to the SUMS: no accumulation order can ever land a
    // partial-sum ulp on a .00005 boundary. The per-term grid
    // assignment round(tf*ln(n/df), 4) still assumes DuckDB's ln +
    // round pick the same decimal cell as the JVM's Math.log +
    // BigDecimal HALF_UP when a raw weight sits within an ulp of a
    // boundary — the same leaf-level assumption as the rest of the
    // round-4 grid discipline, just no longer amplified by order. The
    // 1e4 scale cancels algebraically in the cosine — sim =
    // dotl / (sqrt(na2l) * sqrt(nb2l)) with no decimal factor — and
    // cast/sqrt/mult/div are all exactly rounded IEEE ops on integers
    // < 2^53, so the double `sim` is bitwise cross-engine before its
    // final rounding. Long overflow would need a per-doc
    // sum((tf*idf*1e4)^2) >= 2^63 (~a 30k-token doc of high-idf
    // repeats); ANSI mode throws loudly rather than corrupting.
    val w = Cached.keep(tf.join(dfreq, Seq("tm"))
      .select(col("doc_id"), col("tm"), col("df"),
        round(round(col("tf") * log(lit(n.toDouble) / col("df")), 4) * 1e4)
          .cast("long").as("wl")))
    val norms = w.groupBy(col("doc_id")).agg(sum(col("wl") * col("wl")).as("n2l"))
    val pairTerms = w.filter(col("df") >= 2)
    // integer sums regroup safely: the packed pair key applies (see
    // pairCount — here with a sum, so inlined)
    val packable = idsPackable(docs)
    val joined = pairTerms.as("a")
      .join(pairTerms.as("b"),
        col("a.tm") === col("b.tm") && col("a.doc_id") < col("b.doc_id"))
    val dots =
      if (packable)
        joined
          .select((shiftleft(col("a.doc_id"), 32) + col("b.doc_id")).as("pk"),
            (col("a.wl") * col("b.wl")).as("p"))
          .groupBy(col("pk")).agg(sum(col("p")).as("dotl"))
          .select(shiftright(col("pk"), 32).as("da"),
            col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("db"), col("dotl"))
      else
        joined
          .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .agg(sum(col("a.wl") * col("b.wl")).as("dotl"))
    // zero-norm guard, mirrored in SQL: an all-zero-weight document
    // (every bigram at df = n) would make sim = 0/0 = NaN, and Spark's
    // NaN-greater-than-everything comparison would PASS the threshold
    // filter while DuckDB's NaN semantics differ — drop such docs on
    // both sides instead (integer compare on the squared norm)
    val result = dots
      .join(norms.select(col("doc_id").as("da"), col("n2l").as("na2")), Seq("da"))
      .join(norms.select(col("doc_id").as("db"), col("n2l").as("nb2")), Seq("db"))
      .filter(col("na2") > 0 && col("nb2") > 0)
      .select(col("da"), col("db"),
        round(col("dotl").cast("double") /
          (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))), 4).as("sim"))
      .filter(col("sim") >= threshold)
    Cached.result(result, tf, w)
  }

  /** Near-dup ids to DROP from an arriving batch (the streaming-ingest
    * loop): batch docs that near-duplicate the corpus, or a lower-id
    * sibling in the same batch. The batch signature/band table is
    * computed ONCE and shared by both candidate generators (the naive
    * composition of `minhashPairs` + `incrementalMinhash` would sign
    * and band the batch twice); both candidate sets are exactly
    * shingle-verified. `corpus = None` means "first batch" and skips
    * the corpus probe entirely — an EMPTY corpus frame is also fine
    * (the band join just yields no candidates), so callers can decide
    * emptiness from cheap filesystem metadata instead of a Spark job.
    * Returns a small materialized (doc_id) frame; every internal cache
    * is released before returning (callers may unpersist the result). */
  def ingestDupIds(newDocs: DataFrame, corpus: Option[DataFrame],
                   threshold: Double): DataFrame = {
    val batchBands = Cached.keep(bandTable(newDocs))
    // both verifier arms are EAGER, read-only, and independent given a
    // WARM band table — overlap them on driver threads (r20, guide
    // §2.6: the r20 job-level decomposition showed the line is
    // floor-dominated — 159 jobs / 4 batches, median job 44 ms, 64% of
    // wall in between-job driver gaps — so overlapping the ~half of
    // each batch's serial job chain that is the corpus arm attacks the
    // gaps directly). The force BEFORE the fan-out is the D1 cold-cache
    // discipline: without it the two arms would race the band cache
    // back to its source. First batch (no corpus) keeps the plain
    // sequential single-arm path, no extra forcing job.
    val (withinPairs, vsCorpusPairs) = corpus match {
      case Some(c) =>
        batchBands.count()
        val Seq(w, v) = graft.Par.run[DataFrame](
          () => verifyJaccard(newDocs, bandCandidates(batchBands),
            threshold, release = Nil),
          () => corpusProbePairs(batchBands, newDocs, c, threshold))
        (w, Some(v))
      case None =>
        (verifyJaccard(newDocs, bandCandidates(batchBands),
          threshold, release = Nil), None)
    }
    val ids = vsCorpusPairs
      .map(vc => withinPairs.select(col("db").as("doc_id"))
        .unionByName(vc.select(col("da").as("doc_id"))))
      .getOrElse(withinPairs.select(col("db").as("doc_id")))
      .distinct()
    Cached.result(ids, Seq(batchBands, withinPairs) ++ vsCorpusPairs.toSeq: _*)
  }

  // ---------- SimHash ----------

  /** SimHash signature banding layout: 20 bits as 4 chunks of 5. By
    * pigeonhole, two signatures within hamming distance d share at
    * least one chunk whenever d < chunk count — so chunk-bucket
    * collision candidates are LOSSLESS for maxHamming <= 3, and the
    * join only ever touches bucket collisions, never the n² pair
    * space (the same banding argument as MinHash LSH, on bits). */
  val SimhashChunks = 4
  val SimhashChunkBits = 5

  /** 20-bit SimHash over the shingle hashes: bit i of the signature is
    * set when at least half the shingle hashes have bit i set.
    *
    * Single-pass formulation: explode the shingles once, hash each
    * exactly ONCE, and fold the 20 per-bit counts in one hash aggregate
    * of conditional sums — the same explode-once layout as `signatures`.
    * (The previous per-bit HOF `filter` form referenced the hashed-
    * shingle array 20 times; HOFs don't codegen or share subexpressions,
    * so every row re-hashed its shingles ~20x — a 20x constant at scale.)
    * `explode_outer` keeps shingle-less docs (n = 0 rows counted by the
    * null-skipping count) so they still emit signature 0. */
  def simhash(docs: DataFrame): DataFrame = {
    val ex = spread(docs)
      .select(col("doc_id"), explode_outer(shingles(col("text"))).as("s"))
      .select(col("doc_id"), shingleHash(col("s")).as("h"))
    val bitCounts = (0 until 20).map { bit =>
      count(when(shiftright(col("h"), bit).bitwiseAND(1) === 1, 1)).as(s"c$bit")
    }
    val agg = ex.groupBy(col("doc_id"))
      .agg(count(col("h")).as("n"), bitCounts: _*)
    val sig = (0 until 20).map { bit =>
      when(lit(2) * col(s"c$bit") >= col("n"), lit(1L << bit)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc_id"),
      when(col("n") > 0, sig).otherwise(lit(0L)).as("simhash"))
  }

  /** Near-duplicate pairs by SimHash hamming distance: signatures band
    * into `SimhashChunks` bit chunks, candidate pairs come ONLY from
    * chunk-bucket collisions (lossless for `maxHamming < SimhashChunks`),
    * then the exact 20-bit hamming distance filters. Everything is
    * integer/bit arithmetic, so the SQL oracle matches exactly.
    * Output: (da, db, hamming) with da < db and hamming <= maxHamming.
    *
    * Scale note (measured, SCALING.md §2): chunk-bucket candidates grow
    * ~n²/buckets once the bucket space saturates, and this layout has
    * only 4 chunks × 32 values = 128 buckets — on the contract corpus,
    * 10× docs grew candidates ~100×. The 20-bit signature is a contract
    * choice (cheap to mirror bit-for-bit in the DuckDB oracle);
    * [[simhashPairsWide]] is the scale twin — same structure, 60-bit
    * signature, 4×15-bit chunks (2^10 more buckets per chunk), hamming
    * <= 3 still lossless — with its own mirrored contract query. */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < SimhashChunks,
      s"banding is only lossless for 0 <= maxHamming < $SimhashChunks, got $maxHamming")
    bandedHammingPairs(simhash(docs), SimhashChunks, SimhashChunkBits, maxHamming)
  }

  /** Shared banding/join/hamming pipeline of [[simhashPairs]] and
    * [[simhashPairsWide]] — ONE definition of the chunk layout, so the
    * two signature widths cannot drift apart. Callers guarantee
    * maxHamming < chunks (the pigeonhole losslessness bound).
    *
    * persist: both self-join sides re-derive from the banded table (the
    * signature aggregation upstream has a single reference here, so it
    * rides this one cache — persisting it separately would just add a
    * second full-width cache build). */
  private[llm] def bandedHammingPairs(sigs: DataFrame, chunks: Int, chunkBits: Int,
                                      maxHamming: Int): DataFrame = {
    val mask = (1L << chunkBits) - 1
    val chunkStructs = (0 until chunks).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), c * chunkBits).bitwiseAND(lit(mask)).as("key"))
    }
    val bands = Cached.keep(sigs
      .select(col("doc_id"), col("simhash"), explode(array(chunkStructs: _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.chunk").as("chunk"), col("b.key").as("key")))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
    val result = cand
      .select(col("da"), col("db"), expr("bit_count(sa ^ sb)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    Cached.result(result, bands)
  }

  // ---------- wide SimHash (the saturation fix, SCALING.md §2) ----------

  /** Wide-signature layout: 60 bits as 4 chunks of 15. The 20-bit
    * contract layout saturates its 4×32-bucket chunk space once the
    * corpus outgrows ~10³ docs and candidates go ~n²/buckets (measured:
    * 10× docs → ~100× candidates, SCALING.md §2); this twin multiplies
    * the bucket space by 2^10 per chunk (4×32768), deferring saturation
    * by three orders of magnitude while keeping hamming <= 3 lossless
    * by the same pigeonhole argument. */
  val SimhashWideBits = 60
  val SimhashWideChunks = 4
  val SimhashWideChunkBits = 15

  /** Affine bit-function family for the wide signature: bit b of a
    * shingle-hash h is set when ((a_b·h + c_b) mod FpMod)·2 >= FpMod —
    * i.e. the b-th affine permutation of the SAME shared polyhash lands
    * in the upper half of the field (the minhash-signature trick, one
    * bit per permutation instead of a min). The (a, c) constants come
    * from these formulas — part of the contract, mirrored textually in
    * the oracle SQL — and stay well under FpMod so a_b·h < 2^41 never
    * overflows a long under ANSI. */
  def wideA(b: Int): Long = 4001L * b + 1007L
  def wideC(b: Int): Long = 9173L * b + 3L

  /** 60-bit SimHash: bit b is set when at least half the shingle hashes
    * have affine bit-function b set. Same explode-once single-aggregate
    * layout as [[simhash]] (60 conditional counts in one hash
    * aggregate, everything codegen'd); shingle-less docs emit 0. */
  def simhashWide(docs: DataFrame): DataFrame = {
    val ex = spread(docs)
      .select(col("doc_id"), explode_outer(shingles(col("text"))).as("s"))
      .select(col("doc_id"), shingleHash(col("s")).as("h"))
    wideSignature(ex)
  }

  /** The wide-signature aggregate over arbitrary (doc_id, h) hash rows —
    * shared by [[simhashWide]] (shingle hashes) and
    * `Multimodal.phashStub` (frame digests), ONE definition of the
    * 60-bit majority vote so the two signature producers cannot drift.
    * Null h rows count toward the doc's existence but no bit (the
    * explode_outer empty-doc convention: n = 0 emits signature 0). */
  private[llm] def wideSignature(ex: DataFrame): DataFrame = {
    import TextAnalysis.FpMod
    val bitCounts = (0 until SimhashWideBits).map { b =>
      val hb = (col("h") * lit(wideA(b)) + lit(wideC(b))) % lit(FpMod)
      count(when(hb * lit(2L) >= lit(FpMod), 1)).as(s"c$b")
    }
    val agg = ex.groupBy(col("doc_id"))
      .agg(count(col("h")).as("n"), bitCounts: _*)
    val sig = (0 until SimhashWideBits).map { b =>
      when(lit(2) * col(s"c$b") >= col("n"), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc_id"),
      when(col("n") > 0, sig).otherwise(lit(0L)).as("simhash"))
  }

  /** Near-duplicate pairs over the wide signature — structurally
    * [[simhashPairs]] with the 4×15-bit banding, so candidates stay
    * bucket-collision-only and lossless for maxHamming < 4, but the
    * bucket space is 2^10 per chunk larger: the scale twin for corpora
    * where the 20-bit layout's 128 buckets saturate.
    * Output: (da, db, hamming) with da < db and hamming <= maxHamming. */
  def simhashPairsWide(docs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < SimhashWideChunks,
      s"banding is only lossless for 0 <= maxHamming < $SimhashWideChunks, got $maxHamming")
    bandedHammingPairs(simhashWide(docs), SimhashWideChunks, SimhashWideChunkBits, maxHamming)
  }
}

package graft.llm

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

class LlmSpec extends SparkSpec {
  import spark.implicits._

  private def docsDF(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  // ---------- text analysis ----------

  test("stats: hand-computed micro fixture") {
    val out = TextAnalysis.stats(docsDF(1L -> "the cat sat")).collect().head
    out.getLong(1) shouldBe 11L  // n_chars
    out.getLong(2) shouldBe 3L   // n_tokens
    out.getDouble(3) shouldBe 3.0 // avg token len (3+3+3)/3
    out.getDouble(4) shouldBe 1.0 / 3.0 // "the" of 3 tokens
  }

  test("langId: stopword-hit argmax with precedence, und when no hits") {
    val out = TextAnalysis.langId(docsDF(
      1L -> "der hund und das brot",
      2L -> "the cat and the dog",
      3L -> "xyzzy plugh")).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out shouldBe Map(1L -> "de", 2L -> "en", 3L -> "und")
  }

  test("fingerprint: rolling polynomial hash matches hand computation") {
    // "ab": ((0*31+97)%M)*31+98 = 3105
    val out = TextAnalysis.fingerprints(docsDF(1L -> "ab")).collect().head
    out.getLong(1) shouldBe 3105L
  }

  test("pipelineFilter: gates on lang + quality, dedups survivors to lowest id") {
    // long English text passes quality; short/foreign/dup texts are handled
    val en = ("the cat and the dog is in that house it is a fine day " * 4).trim
    val out = TextAnalysis.pipelineFilter(docsDF(
      7L -> en, 3L -> en,                        // dup pair: keep id 3
      9L -> "der hund und das brot ist nicht da", // German: dropped
      11L -> "x"),                                // junk: dropped
      minQuality = 0.5, lang = "en")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    out.toSeq shouldBe Seq((3L, 2L))
  }

  test("deterministicSample: content-keyed, duplicates sample together, bounds exact") {
    val d = docsDF(1L -> "alpha beta", 2L -> "alpha beta", 3L -> "gamma delta",
      4L -> "epsilon zeta", 5L -> "eta theta")
    TextAnalysis.deterministicSample(d, 100).count() shouldBe 5L
    TextAnalysis.deterministicSample(d, 0).count() shouldBe 0L
    // dup texts are in or out TOGETHER at every rate
    for (pct <- Seq(10, 30, 50, 70, 90)) {
      val ids = TextAnalysis.deterministicSample(d, pct)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      ids.contains(1L) shouldBe ids.contains(2L)
    }
  }

  test("tfidfTopTerms: hand fixture — rare terms outrank common, ties lexicographic") {
    // "cat" appears in all 3 docs (idf = ln(1) = 0); "rare"/"gem" in one
    val d = docsDF(1L -> "cat rare rare", 2L -> "cat gem", 3L -> "cat cat")
    val out = TextAnalysis.tfidfTopTerms(d, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5)))
      .sortBy(t => (t._1, t._6))
    // doc 1: rare tf=2 df=1 -> 2*ln(3) = 2.1972; cat -> 0.0
    out(0) shouldBe ((1L, "rare", 2L, 1L, 2.1972, 1L))
    out(1) shouldBe ((1L, "cat", 1L, 3L, 0.0, 2L))
    // doc 2: gem tf=1 df=1 -> ln(3) = 1.0986
    out(2) shouldBe ((2L, "gem", 1L, 1L, 1.0986, 1L))
    // doc 3: only "cat" (tf=2, score 0) — short group, no padding
    out(4) shouldBe ((3L, "cat", 2L, 3L, 0.0, 1L))
    out.length shouldBe 5
  }

  test("maskTerms: whole words only, count matches, clean docs untouched") {
    val d = docsDF(1L -> "the theme of the day", 2L -> "no hits here")
    val out = TextAnalysis.maskTerms(d, Seq("the", "of"), "[X]").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    out(0)._3 shouldBe 3L // the, of, the — NOT "theme"
    // masked digest equals md5 of the hand-masked text
    val want = spark.sql("SELECT md5(CAST('[X] theme [X] [X] day' AS BINARY))").head().getString(0)
    out(0)._2 shouldBe want
    out(1)._3 shouldBe 0L
    val clean = spark.sql("SELECT md5(CAST('no hits here' AS BINARY))").head().getString(0)
    out(1)._2 shouldBe clean
  }

  test("incremental dedup: corpus texts excluded, batch dups collapse to lowest id") {
    val batch = docsDF(10L -> "already ingested", 20L -> "fresh text", 25L -> "fresh text",
      30L -> "also fresh")
    val corpus = docsDF(1L -> "already ingested", 2L -> "other old text")
    val out = Dedup.incremental(batch, corpus).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    out.toSeq shouldBe Seq((20L, 2L), (30L, 1L))
  }

  test("simhashPairs equals the brute-force hamming join (banding is lossless)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val banded = Dedup.simhashPairs(docs, maxHamming = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over ALL pairs — no banding
    val sigs = Dedup.simhash(docs)
    val brute = sigs.as("a").join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("h"))
      .filter(col("h") <= 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    banded shouldBe brute
    banded should not be empty // the planted near-dups are found
  }

  test("simhashPairsWide equals its brute-force hamming join AND defeats 20-bit saturation") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val banded = Dedup.simhashPairsWide(docs, maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sigs = Dedup.simhashWide(docs)
    val brute = sigs.as("a").join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("h"))
      .filter(col("h") <= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    banded shouldBe brute
    // saturation check: the wide layout's candidate volume must stay far
    // below the 20-bit layout's on the same corpus (its 128-bucket chunk
    // space is what SCALING.md §2 measured going ~n²)
    def candidates(bands: org.apache.spark.sql.DataFrame): Long =
      bands.groupBy(col("cv")).agg(count(lit(1)).as("g"))
        .select(sum(col("g") * (col("g") - 1)).as("p")).head().getLong(0) / 2
    val narrowCand = candidates(Dedup.simhash(docs).select(col("doc_id"), explode(array(
      (0 until Dedup.SimhashChunks).map(c => struct(lit(c),
        shiftright(col("simhash"), c * Dedup.SimhashChunkBits)
          .bitwiseAND(lit((1L << Dedup.SimhashChunkBits) - 1)))): _*)).as("cv")))
    val wideCand = candidates(Dedup.simhashWide(docs).select(col("doc_id"), explode(array(
      (0 until Dedup.SimhashWideChunks).map(c => struct(lit(c),
        shiftright(col("simhash"), c * Dedup.SimhashWideChunkBits)
          .bitwiseAND(lit((1L << Dedup.SimhashWideChunkBits) - 1)))): _*)).as("cv")))
    withClue(s"wide=$wideCand narrow=$narrowCand: ") {
      wideCand should be < narrowCand / 2
    }
  }

  test("winnow: edit-robust fingerprints — shared runs guarantee shared prints") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    // one token changed in the middle
    val edited = base.replace("zeta", "ZETA")
    val fps = TextAnalysis.winnow(docsDF(1L -> base, 2L -> base, 3L -> edited), k = 3, w = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (k2, v) => k2 -> v.map(_._2).toSet }
    fps(1L) shouldBe fps(2L) // identical docs: identical fingerprint sets
    fps(1L) should not be empty
    // winnowing guarantee: any shared w+k-1=6-token run yields a shared
    // fingerprint; both flanks of the edit are longer than that. (The
    // CONVERSE doesn't hold — an edit whose gram hashes are never window
    // minima leaves the set unchanged; that robustness is the point.)
    (fps(1L) intersect fps(3L)) should not be empty
  }

  test("winnow: documents shorter than k+w-1 grams emit nothing") {
    // 5 tokens -> 3 grams < w=4 windows
    TextAnalysis.winnow(docsDF(1L -> "a b c d e"), k = 3, w = 4).count() shouldBe 0L
  }

  test("quantizeInt8: codes bounded, peak hits 127, reconstruction within half a step") {
    val emb = Seq((1L, Seq(0.5f, -1.0f, 0.25f, 0.0f)), (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(emb).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Long](2))).sortBy(_._1).toSeq
    out(0)._3 shouldBe Seq(64L, -127L, 32L, 0L)
    out(0)._3.map(math.abs).max shouldBe 127L
    // reconstruction: |code/scale - x| <= 0.5/scale
    val sc = out(0)._2
    for ((c, x) <- out(0)._3.zip(Seq(0.5, -1.0, 0.25, 0.0)))
      math.abs(c / sc - x) should be <= 0.5 / sc
    // all-zero vector: scale 0, all-zero codes (no NaN/div-by-zero)
    out(1)._2 shouldBe 0.0
    out(1)._3 shouldBe Seq(0L, 0L, 0L, 0L)
  }

  test("text operators survive hostile input under ANSI mode: empty, whitespace, unicode, null") {
    // ANSI mode throws on bad casts/subscripts — every operator must stay
    // on null-safe expressions. None of these rows may throw anywhere.
    val hostile = Seq(
      (1L, ""), (2L, " "), (3L, "   "), (4L, "élève naïve 中文 emoji"),
      (5L, "single"), (6L, "a b"))
      .toDF("doc_id", "text")
      .union(Seq((7L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    noException should be thrownBy TextAnalysis.stats(hostile).collect()
    noException should be thrownBy TextAnalysis.langId(hostile).collect()
    noException should be thrownBy TextAnalysis.fingerprints(hostile).collect()
    noException should be thrownBy TextAnalysis.maskTerms(hostile, Seq("a"), "[X]").collect()
    noException should be thrownBy TextAnalysis.winnow(hostile, 3, 4).collect()
    noException should be thrownBy TextAnalysis.chunk(hostile, 4, 1).collect()
    noException should be thrownBy Dedup.simhash(hostile).collect()
    noException should be thrownBy Dedup.exact(hostile.filter(col("text").isNotNull)).collect()
    // deterministicSample on a null text: fingerprint is null -> filtered
    // out (null comparison), not thrown
    noException should be thrownBy TextAnalysis.deterministicSample(hostile, 50).collect()
  }

  test("contentSplit: identical texts land on the same side of the split") {
    val out = TextAnalysis.contentSplit(docsDF(
      1L -> "shared corpus text", 2L -> "shared corpus text", 3L -> "different text"))
      .select(col("doc_id"), col("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe out(2L) // content-hash: dups never straddle train/test
    Set("train", "test") should contain(out(3L))
  }

  test("topNgrams: doc-frequency counts per lang, ties break lexicographically") {
    val docs = Seq(
      (1L, "a b c", "en"), (2L, "a b d", "en"), (3L, "a b c", "en"),
      (4L, "p q", "de"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.topNgrams(docs, 2).orderBy(col("lang"), col("rn"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
    // en: "a b" in 3 docs; "b c" in 2 docs beats "b d" (1)
    out.filter(_._1 == "en").toSeq shouldBe Seq(("en", "a b", 3L, 1), ("en", "b c", 2L, 2))
    out.filter(_._1 == "de").toSeq shouldBe Seq(("de", "p q", 1L, 1))
  }

  // ---------- dedup ----------

  test("repetition: duplicate-word / top-word / duplicate-bigram fractions") {
    val out = TextAnalysis.repetition(docsDF(
      1L -> "a a a b",   // 4 tokens, 2 distinct, top=3; bigrams: "a a","a a","a b"
      2L -> "x y z",     // no repeats at all
      3L -> "solo"))     // 1 token: no bigrams -> dup_bigram_frac = 0
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    out(1L) shouldBe ((4L, 0.5, 0.75, 0.3333))   // 1-2/4, 3/4, round(1-2/3,4)
    out(2L) shouldBe ((3L, 0.0, 0.3333, 0.0))
    out(3L) shouldBe ((1L, 0.0, 1.0, 0.0))
  }

  test("decontaminate: drops exact and n-gram-overlapping docs, keeps clean and short ones") {
    val corpus = Seq(
      (1L, "q w e r t", "en"),          // exact copy of the benchmark doc
      (2L, "z q w e r t z", "en"),      // contains benchmark 3-gram "q w e"
      (3L, "a b c d e", "en"),          // clean
      (4L, "q w", "en")                 // < n tokens: never contaminated
    ).toDF("doc_id", "text", "lang")
    val bench = Seq((100L, "q w e r t", "en")).toDF("doc_id", "text", "lang")
    val kept = Dedup.decontaminate(corpus, bench, n = 3)
      .select("doc_id").as[Long].collect().sorted
    kept.toSeq shouldBe Seq(3L, 4L)
  }

  test("stratifiedSample: exact per-group size, deterministic, hash-prefix members") {
    val docs = (0L until 30L).map(i =>
      (i, s"doc number $i content", if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.stratifiedSample(docs, perGroup = 5)
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.groupBy(_._1).view.mapValues(_.length).toMap shouldBe Map("en" -> 5, "de" -> 5)
    rows.foreach { case (_, _, rn) => rn should be <= 5L }
    // deterministic: a second run returns the identical set
    val again = TextAnalysis.stratifiedSample(docs, perGroup = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.toSet shouldBe again.toSet
    // members are the 5 smallest (fingerprint, doc_id) keys per lang
    val expected = docs
      .select(col("lang"), col("doc_id"), TextAnalysis.fingerprint(col("text")).as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).iterator.flatMap { case (lang, g) =>
        g.sortBy(t => (t._3, t._2)).take(5).map(t => (lang, t._2)) }.toSet
    rows.map(t => (t._1, t._2)).toSet shouldBe expected
  }

  test("shingles: word bigrams, distinct, empty for short docs") {
    val sh = docsDF(1L -> "a b c b c", 2L -> "solo")
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    sh(1L).toSet shouldBe Set("a b", "b c", "c b")
    sh(2L) shouldBe empty
  }

  test("exact dedup: collapses identical texts, keeps lowest id") {
    val out = Dedup.exact(docsDF(5L -> "same text", 2L -> "same text", 9L -> "other words"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    out shouldBe Set((2L, 2L), (9L, 1L))
  }

  test("jaccardPairs: identical docs score 1.0, disjoint docs never pair") {
    val out = Dedup.jaccardPairs(docsDF(
      1L -> "x y z w", 2L -> "x y z w", 3L -> "p q r s"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    out.toSeq shouldBe Seq((1L, 2L, 1.0))
  }

  test("jaccardPairs: contract dfCap is result-identical to uncapped on the contract corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(cap: Long) = Dedup.jaccardPairs(docs, 0.5, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = run(Long.MaxValue)
    uncapped should not be empty
    // the dedup_jaccard contract value (SparkEntry.JacDfCap)
    run(1000L) shouldBe uncapped
  }

  test("jaccardPairs: a biting dfCap prunes boilerplate shingles but keeps true pairs") {
    // 8 docs all sharing the "shared boiler" bigram (df=8 > cap) plus a
    // planted identical pair whose other shingles are rare (df=2 <= cap):
    // the cap drops the boilerplate hash before the self-join, and the
    // true pair must still surface through its rare shingles with the
    // exact same jaccard as the uncapped run.
    val docs = docsDF(
      (1L to 6L).map(i => i -> s"shared boiler unique$i word$i tail$i") ++
        Seq(7L -> "shared boiler same words here", 8L -> "shared boiler same words here"): _*)
    def run(cap: Long) = Dedup.jaccardPairs(docs, 0.5, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = run(4L)
    capped shouldBe run(Long.MaxValue)
    capped shouldBe Set((7L, 8L, 1.0))
  }

  test("jaccardPairs: packed pair key and the big-id fallback agree") {
    // doc_id < 2^31 takes the packed (da<<32 | db) aggregation; shifting
    // every id by 2^31 forces the two-column fallback. Same texts, so
    // the pair sets must correspond 1:1 under the shift — a packing or
    // unpacking bug (sign, mask, shift) breaks the correspondence.
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val big = base.withColumn("doc_id", col("doc_id") + (1L << 31))
    val packed = Dedup.jaccardPairs(base, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fallback = Dedup.jaccardPairs(big, 0.5)
      .collect().map(r => (r.getLong(0) - (1L << 31), r.getLong(1) - (1L << 31))).toSet
    packed should not be empty
    fallback shouldBe packed
  }

  test("minhashPairs agrees with jaccardPairs on the sf0.001 documents") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val viaJaccard = Dedup.jaccardPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaMinhash = Dedup.minhashPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    viaMinhash shouldBe viaJaccard
    viaJaccard should not be empty // planted near-dups exist
  }

  test("incrementalMinhash equals the cross-membership slice of minhashPairs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val incr = Dedup.incrementalMinhash(batch, corpus, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // same band layout, same verification: the incremental result must be
    // exactly the full self-join's pairs that straddle the batch boundary
    val cross = Dedup.minhashPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case (a, b) => if (a % 5 == 0) (a, b) else (b, a) }.toSet
    incr shouldBe cross
    incr should not be empty // planted near-dups straddle the split
  }

  /** Reference Levenshtein for the editPairs checks: the classic full
    * O(n*m) DP, character-counted — deliberately NOT the banded
    * algorithm under test. */
  private def refLev(a: String, b: String): Long = {
    val prev = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      var diag = prev(0); prev(0) = i
      for (j <- 1 to b.length) {
        val tmp = prev(j)
        prev(j) = math.min(math.min(prev(j) + 1, prev(j - 1) + 1),
          diag + (if (a(i - 1) == b(j - 1)) 0 else 1))
        diag = tmp
      }
    }
    prev(b.length).toLong
  }

  test("editPairs: distances equal the full DP on every banded candidate (sf0.001)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val texts = docs.select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // maxDist large enough that no candidate is thresholded: the result
    // IS the band-candidate set with true distances
    val all = Dedup.editPairs(docs, maxDist = 1 << 20).collect()
    all should not be empty // planted near-dups band-collide
    for (r <- all) {
      val (da, db, dist) = (r.getLong(0), r.getLong(1), r.getLong(2))
      da should be < db
      dist shouldBe refLev(texts(da), texts(db))
      val maxlen = math.max(texts(da).length, texts(db).length).toLong
      r.getDouble(3) shouldBe (maxlen - dist).toDouble / maxlen.toDouble
    }
    // the thresholded run is exactly the unthresholded run filtered:
    // the -1-past-threshold branch drops candidates, never distorts them
    val cut = all.map(_.getLong(2)).sorted.apply(all.length / 2)
    val thr = Dedup.editPairs(docs, maxDist = cut.toInt)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    thr shouldBe all.filter(_.getLong(2) <= cut)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("incrementalEditPairs equals the cross-membership slice of editPairs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val incr = Dedup.incrementalEditPairs(batch, corpus, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // same band layout, same thresholded verification: the incremental
    // result must be exactly the full self-join's pairs that straddle
    // the batch boundary — distances and similarities included
    val cross = Dedup.editPairs(docs, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .filter { case (a, b, _, _) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case (a, b, d, s) => if (a % 5 == 0) (a, b, d, s) else (b, a, d, s) }.toSet
    incr shouldBe cross
    incr should not be empty // planted near-dups straddle the split
  }

  test("editPairs: -1 branch, maxDist=0 degenerate, ties, char-counted unicode") {
    // 30 distinct tokens; editing the LAST token changes exactly one of
    // 29 bigram shingles (Jaccard 28/30 ~ 0.93 — inside the banding's
    // reliable-detection regime, unlike a mid-text edit at ~0.7)
    val toks = (0 until 30).map(i => s"tok$i")
    val base = toks.mkString(" ")
    val edited = (toks.init :+ "tok29x").mkString(" ") // 1-char insertion
    val d = docsDF(
      1L -> base,
      2L -> base,     // clone of 1: dist 0
      3L -> edited,   // 1 char edit at the tail
      4L -> "completely different words about gardens and rivers flowing north")
    // maxDist=0 degenerate: only exact clones survive verification
    val exact = Dedup.editPairs(d, maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    exact.toSeq shouldBe Seq((1L, 2L, 0L, 1.0))
    // a 1-edit near-dup passes at maxDist=1 (ties: both (1,3) and (2,3)
    // verify identically — clone endpoints never diverge)
    val one = Dedup.editPairs(d, maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    one shouldBe Set((1L, 2L, 0L), (1L, 3L, 1L), (2L, 3L, 1L))
    // unicode: Spark counts CHARS, not bytes — a multi-byte substitution
    // is one edit (the oracle corpus is ASCII-gated; this pins the Spark
    // side as the character-correct one on non-ASCII input)
    // ö→o is ONE char substitution (two edits under byte counting —
    // DuckDB would say 2, which is why the oracle corpus is ASCII-gated)
    val u = docsDF(
      10L -> (toks.init :+ "ömega").mkString(" "),
      11L -> (toks.init :+ "omega").mkString(" "))
    val up = Dedup.editPairs(u, maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    up.toSeq shouldBe Seq((10L, 11L, 1L))
  }

  test("qualityWeightedSample: kept set is exactly the hash-below-quality predicate") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val kept = TextAnalysis.qualityWeightedSample(docs, buckets = 1000)
      .select("doc_id").as[Long].collect().toSet
    val expected = TextAnalysis.stats(docs)
      .join(TextAnalysis.fingerprints(docs), Seq("doc_id"))
      .collect().map(r => (r.getLong(0), r.getAs[Double]("quality"), r.getAs[Long]("fp")))
      .filter { case (_, q, fp) => (fp % 1000).toDouble < q * 1000 }
      .map(_._1).toSet
    kept shouldBe expected
    // a real sample: strictly between empty and everything
    kept.size should be > 0
    kept.size should be < docs.count().toInt
  }

  test("simhash: identical texts get identical signatures; near-dups are close") {
    val out = Dedup.simhash(docsDF(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta",
      3L -> "alpha beta gamma delta epsilon eta", // one word changed
      4L -> "totally different words here now then")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out(1L) shouldBe out(2L)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    ham(out(1L), out(3L)) should be < ham(out(1L), out(4L))
  }

  // ---------- similarity ----------

  private def embDF(rows: (Long, Seq[Float])*) = rows.toDF("vec_id", "embedding")

  test("bruteForceTopK: exact cosine ordering on a hand fixture") {
    val e = embDF(
      0L -> Seq(1f, 0f, 0f),
      1L -> Seq(1f, 0.1f, 0f),  // nearest to 0
      2L -> Seq(0.5f, 1f, 0f),  // second
      3L -> Seq(-1f, 0f, 0f))   // anti-parallel, last
    val out = Similarity.bruteForceTopK(e, Seq(0L), 2)
      .collect().map(r => r.getLong(1)).toSet
    out shouldBe Set(1L, 2L)
  }

  test("ivfTopK with nprobe=all cells equals brute force") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val coarse = Seq(3L, 17L, 29L)
    val ivf = Similarity.ivfTopK(docs, coarse, Seq(0L), nprobe = 3, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bf = Similarity.bruteForceTopK(docs, Seq(0L), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    ivf shouldBe bf
  }

  test("packSequences: greedy fold invariants + equality with a reference fold") {
    val budget = 10L
    val shards = 2
    val d = docsDF(
      0L -> "a b c",            // shard 0: 3 tokens
      2L -> "a b c d e",        // shard 0: 5 -> acc 8
      4L -> "a b c d",          // shard 0: 4 -> overflow, pack 1
      6L -> ("x " * 14).trim,   // shard 0: 14 > budget -> alone in pack 2
      8L -> "a",                // shard 0: pack 3 (oversized pack closed)
      1L -> "a b",              // shard 1
      3L -> ("y " * 9).trim)    // shard 1: 9 -> 2+9 > 10 -> pack 1
    val out = TextAnalysis.packSequences(d, budget, shards)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    out shouldBe Map(
      0L -> (0L, 0L, 3L), 2L -> (0L, 0L, 5L), 4L -> (0L, 1L, 4L),
      6L -> (0L, 2L, 14L), 8L -> (0L, 3L, 1L),
      1L -> (1L, 0L, 2L), 3L -> (1L, 1L, 9L))
    // invariant on the real corpus: every pack fits the budget unless it
    // is a single oversized doc, and pack ids are contiguous per shard
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val packs = TextAnalysis.packSequences(corpus, 256L, 4)
      .groupBy(col("shard"), col("pack_id"))
      .agg(sum("n_tokens").as("tok"), count(lit(1)).as("n"))
      .collect()
    packs.foreach { r =>
      assert(r.getLong(2) <= 256L || r.getLong(3) == 1L,
        s"overfull multi-doc pack: $r")
    }
    packs.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val ids = rs.map(_.getLong(1)).sorted
      ids shouldBe (0L until ids.length).toArray
    }
  }

  test("assignCells matches a driver-side argmin at K=3 and K=300, incl. ties") {
    // one path at every K: each vector's cell is the lowest-id minimum of
    // the driver-side L2² (VectorOps.l2sq's accumulation) over the cells
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0
      for (i <- a.indices) { val d = a(i) - b(i); acc += d * d }
      acc
    }
    val byDistThenId = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    for (k <- Seq(3, 300)) withClue(s"K=$k: ") {
      val coarse = if (k == 3) e.filter(col("vec_id").isin(3L, 17L, 29L))
        else e.filter(col("vec_id") < 300)
      val cells = coarse.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      cells should have size k.toLong
      val want = vecs.map { case (id, v) =>
        id -> cells.map { case (cid, c) => (l2(v, c), cid) }.min(byDistThenId)._2
      }.toMap
      val got = Similarity.assignCells(e, coarse.select(col("vec_id").as("cell_id"), col("vec").as("cvec")))
        .select("vec_id", "cell_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got shouldBe want
    }
    // tie fixture: equidistant vector must pick the LOWEST cell id
    val te = Seq((100L, Seq(0.0, 0.0))).toDF("vec_id", "vec")
    val tc = Seq((5L, Seq(1.0, 0.0)), (2L, Seq(-1.0, 0.0))).toDF("cell_id", "cvec")
    Similarity.assignCells(te, tc).select("cell_id").collect().head.getLong(0) shouldBe 2L
  }

  test("writeIvfPqIndex: cell-partitioned store probes bitwise-equal to ivfPqSearch and partition-prunes to the probed cells") {
    SparkEntry.withTempRoot(spark, "ivfpqidx") { dir =>
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val coarseIds = Seq(7L, 123L, 247L, 331L, 433L)
      val cbIds = Seq(11L, 57L, 201L, 401L)
      val queryIds = Seq(0L, 1L, 2L)
      val quant = Similarity.trainIvfPqQuantizer(emb, coarseIds, cbIds, m = 4)
      Similarity.writeIvfPqIndex(emb, quant, s"$dir/idx")
      val stored = Similarity.readIvfPqIndex(spark, s"$dir/idx")
      val queries = Similarity.collectVectors(emb, queryIds)
      def key(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rn").collect()
          .map(r => (r.getLong(0), r.getLong(1),
            java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getLong(3)))
      val probe = Similarity.ivfPqProbe(stored, quant, queries, nprobe = 2, k = 10)
      key(probe) shouldBe key(
        Similarity.ivfPqSearch(emb, coarseIds, cbIds, 4, queryIds, nprobe = 2, k = 10))
      // the 100 TB point of the layout: the probe's cell pre-filter lands in
      // the scan's PARTITION filters (directory pruning), not the data filter
      val plan = probe.queryExecution.executedPlan.toString
      plan should include regex "PartitionFilters: \\[[^\\]]*cell_id"
      // and only the probed cells' directories are read: the scan's selected
      // partitions never exceed the union of per-query probe lists
      val probedDirs = new java.io.File(s"$dir/idx").listFiles()
        .filter(_.getName.startsWith("cell_id=")).map(_.getName).toSet
      probedDirs.size shouldBe coarseIds.length // all K cells materialized
      stored.filter(col("cell_id").isin(7L, 123L)).count() should be > 0L
    }
  }

  test("writeIvfPqQuantizer/readIvfPqQuantizer: read∘write is the identity — bit-exact cells, codebook order, m — and probes through the read-back model are bitwise") {
    SparkEntry.withTempRoot(spark, "ivfpqquant") { dir =>
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val coarseIds = Seq(7L, 123L, 247L, 331L, 433L)
      val cbIds = Seq(11L, 57L, 201L, 401L)
      val quant = Similarity.trainIvfPqQuantizer(emb, coarseIds, cbIds, m = 4)
      Similarity.hasIvfPqQuantizer(spark, s"$dir/q") shouldBe false
      Similarity.writeIvfPqQuantizer(spark, quant, s"$dir/q")
      Similarity.hasIvfPqQuantizer(spark, s"$dir/q") shouldBe true
      val back = Similarity.readIvfPqQuantizer(spark, s"$dir/q")
      back.m shouldBe quant.m
      // bit-exact round-trip: doubles compared as raw bits, order preserved
      def bits(a: Array[Double]) = a.map(java.lang.Double.doubleToRawLongBits)
      back.cells.map { case (id, v) => (id, bits(v).toSeq) } shouldBe
        quant.cells.map { case (id, v) => (id, bits(v).toSeq) }
      back.codebook.map(v => bits(v).toSeq) shouldBe
        quant.codebook.map(v => bits(v).toSeq)
      // the served-probe criterion: encode + probe through the READ-BACK
      // model is bitwise the trained one — no retraining on the query path
      val queries = Similarity.collectVectors(emb, Seq(0L, 1L, 2L))
      def key(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rn").collect()
          .map(r => (r.getLong(0), r.getLong(1),
            java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getLong(3)))
      val idx = Similarity.ivfPqIndexRows(emb, quant)
      key(Similarity.ivfPqProbe(idx, back, queries, nprobe = 2, k = 10)) shouldBe
        key(Similarity.ivfPqProbe(idx, quant, queries, nprobe = 2, k = 10))
      // overwrite publishes over an existing artifact
      Similarity.writeIvfPqQuantizer(spark, back, s"$dir/q")
      Similarity.readIvfPqQuantizer(spark, s"$dir/q").m shouldBe quant.m
      // torn-swap readability: if a crash left only <path>.prev (published
      // dir renamed aside, staging never renamed in), readers fall back —
      // the OLD model keeps serving, never a path-not-found outage
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.rename(new org.apache.hadoop.fs.Path(s"$dir/q"),
        new org.apache.hadoop.fs.Path(s"$dir/q.prev")) shouldBe true
      Similarity.hasIvfPqQuantizer(spark, s"$dir/q") shouldBe true
      Similarity.readIvfPqQuantizer(spark, s"$dir/q").m shouldBe quant.m
      // and the next write heals: publishes fresh, sweeps the leftover
      Similarity.writeIvfPqQuantizer(spark, quant, s"$dir/q")
      Similarity.readIvfPqQuantizer(spark, s"$dir/q").m shouldBe quant.m
      // mismatch detector: bitwise-equal models match, a perturbed one not
      Similarity.quantizersMatch(quant, back) shouldBe true
      val perturbed = graft.llm.IvfPqQuantizer(quant.cells,
        quant.codebook.updated(0, quant.codebook.head.map(_ + 1e-13)), quant.m)
      Similarity.quantizersMatch(quant, perturbed) shouldBe false
    }
  }

  test("mmr guards the nonzero-norm precondition: a zero-norm pool vector fails LOUDLY instead of silently diverging from the SQL mirror") {
    // query (1,0); candidate (0,0) — its cosine denominator is 0. Under
    // the session's ANSI mode the codegen'd kernel throws DIVIDE_BY_ZERO
    // at rel computation; with ANSI off the cosine is NaN and the
    // mmrFromPool guard rejects it (DuckDB sorts NaN first under DESC
    // while the driver argmax keeps it only if first-unselected — the
    // engines would disagree). Either way: an error, never a divergence.
    val e = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 0.0)), (2L, Seq(0.8, 0.6)))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.mmrRerank(e, 0L, poolN = 2, k = 2, lambda = 0.5)
    }
    val loud =
      ex.isInstanceOf[IllegalArgumentException] ||
        ex.toString.contains("DIVIDE_BY_ZERO") ||
        Option(ex.getCause).exists(_.toString.contains("DIVIDE_BY_ZERO"))
    withClue(s"expected a loud zero-norm failure, got: $ex") { loud shouldBe true }
  }

  test("ragChunks: hand fixture windows, full token coverage, stride/size invariants on the corpus") {
    // 7 tokens, window 3, overlap 1 → stride 2 → starts 0,2,4,6
    TextAnalysis.ragChunks(docsDF(1L -> "a b c d e f g"), 3, 1)
      .orderBy("chunk_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))) shouldBe
      Array((0L, 0L, 3L, "a b c"), (1L, 2L, 3L, "c d e"),
        (2L, 4L, 3L, "e f g"), (3L, 6L, 1L, "g"))
    // corpus invariants: starts sweep 0, stride, … with the last start
    // < n_toks (every token covered); window sizes in [1, maxTokens]
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val out = TextAnalysis.ragChunks(docs, 30, 10)
    out.filter(col("start_tok") =!= col("chunk_id") * 20).count() shouldBe 0L
    out.filter(col("n_chunk_toks") < 1 || col("n_chunk_toks") > 30).count() shouldBe 0L
    // chunk 0 exists for every doc and covered positions reach n_toks
    out.filter(col("chunk_id") === 0).count() shouldBe docs.count()
    val lastCover = out.groupBy(col("doc_id"))
      .agg(max(col("start_tok") + col("n_chunk_toks")).as("covered"))
    val toks = docs.select(col("doc_id"),
      org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(col("text"), " "))
        .cast("long").as("n"))
    lastCover.join(toks, Seq("doc_id"))
      .filter(col("covered") =!= col("n")).count() shouldBe 0L
  }

  test("bm25 multi-probe: one slice scan answers every query, each ranking bitwise its single-query probe — including shared terms and the live store under forget") {
    SparkEntry.withTempRoot(spark, "bm25multi") { dir =>
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"))
      val queries = Seq(
        0L -> Seq("spark", "window", "customer", "filter"),
        1L -> Seq("join", "hash", "merge"),
        2L -> Seq("scan", "sort", "stream", "filter")) // shares "filter" with q0
      def key(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rn").collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getLong(3)))
      def singles(d: org.apache.spark.sql.DataFrame) = queries.flatMap { case (qid, ts) =>
        TextAnalysis.bm25TopDocs(d, ts, 10).collect().map(r => (qid, r.getLong(0),
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getLong(2)))
      }.sortBy(t => (t._1, t._4)).toArray
      // batch store
      TextAnalysis.writeLexIndex(docs, s"$dir/batch")
      key(TextAnalysis.bm25ProbeMany(spark, s"$dir/batch", queries, 10)) shouldBe
        singles(docs)
      // streamed store with a pending forget: per-query bitwise the live
      // single probe AND the one-shot scorer over the surviving corpus
      for (b <- 0 until 3)
        graft.streaming.LexIngest.ingestBatch(
          docs.filter(col("doc_id") % 3 === b), s"$dir/live", b.toLong)
      graft.streaming.LexIngest.markDeleted(spark, s"$dir/live", Seq(87L, 102L))
      val surviving = docs.filter(!col("doc_id").isin(87L, 102L))
      key(graft.streaming.LexIngest.probeMany(spark, s"$dir/live", queries, 10)) shouldBe
        singles(surviving)
    }
  }

  test("ivfPqSearchRefined: exact re-rank of the ADC top-R equals the driver-side exact-distance reference over the same candidates") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val coarseIds = Seq(7L, 123L, 247L, 331L, 433L)
    val cbIds = Seq(11L, 57L, 201L, 401L)
    val queryIds = Seq(0L, 1L, 2L)
    val (nprobe, r, k) = (2, 20, 5)
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(x => x.getLong(0) -> x.getSeq[Double](1).toArray).toMap
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    def r4(x: Double): Double = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cands = Similarity.ivfPqSearch(emb, coarseIds, cbIds, 4, queryIds, nprobe, r)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    // rank by the UNROUNDED exact distance (the operator's contract);
    // the output column rounds after ranking
    val expected = cands.groupBy(_._1).toSeq.flatMap { case (qid, cs) =>
      cs.map { case (_, nid) => (qid, nid, l2(vecs(qid), vecs(nid))) }
        .sortBy(t => (t._3, t._2)).take(k).zipWithIndex
        .map { case ((q, nb, d2), i) =>
          (q, nb, java.lang.Double.doubleToRawLongBits(r4(d2)), (i + 1).toLong) }
    }.sortBy(t => (t._1, t._4)).toArray
    Similarity.ivfPqSearchRefined(emb, coarseIds, cbIds, 4, queryIds, nprobe, r, k)
      .orderBy("query_id", "rn").collect().map(x => (x.getLong(0), x.getLong(1),
        java.lang.Double.doubleToRawLongBits(x.getDouble(2)), x.getLong(3))) shouldBe
      expected
  }

  test("filtered vector search: probing the predicate-filtered index is bitwise probing an index built from only the allowed vectors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val coarseIds = Seq(7L, 123L, 247L, 331L, 433L)
    val cbIds = Seq(11L, 57L, 201L, 401L)
    val quant = Similarity.trainIvfPqQuantizer(emb, coarseIds, cbIds, m = 4)
    val queries = Similarity.collectVectors(emb, Seq(0L, 1L, 2L))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getLong(3)))
    // index rows are per-vector projections, so filtering the full index
    // IS encoding only the allowed vectors — the metadata-filter claim
    val full = Similarity.ivfPqIndexRows(emb, quant)
    val filteredProbe = Similarity.ivfPqProbe(
      full.filter(col("vec_id") % 3 === 0), quant, queries, nprobe = 2, k = 10)
    val subsetProbe = Similarity.ivfPqProbe(
      Similarity.ivfPqIndexRows(emb.filter(col("vec_id") % 3 === 0), quant),
      quant, queries, nprobe = 2, k = 10)
    val got = key(filteredProbe)
    got shouldBe key(subsetProbe)
    all(got.map(_._2 % 3)) shouldBe 0L // only allowed ids rank
  }

  test("refineRecall: monotone in the rerank budget; R = k grades the plain ADC candidate set") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val coarseIds = Seq(7L, 123L, 247L, 331L, 433L)
    val cbIds = Seq(11L, 57L, 201L, 401L)
    val out = Similarity.refineRecall(emb, coarseIds, cbIds, 4, Seq(0L, 1L, 2L),
        nprobe = 2, rerankRs = Seq(5, 10, 20), k = 5)
      .orderBy("rerank_r").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out.map(_._1) shouldBe Array(5L, 10L, 20L)
    all(out.map(_._2)) shouldBe 15L // 3 queries x k exact rows
    // recall climbs (weakly) with the budget
    out.map(_._3).sliding(2).foreach { case Array(a, b) => b should be >= a }
    // the R = k arm's found-count equals grading the raw ADC top-k set
    val adc = Similarity.ivfPqSearch(emb, coarseIds, cbIds, 4, Seq(0L, 1L, 2L),
        nprobe = 2, k = 5)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(x => x.getLong(0) -> x.getSeq[Double](1).toArray).toMap
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    val exact = Seq(0L, 1L, 2L).flatMap { qid =>
      vecs.keys.filter(_ != qid).toSeq
        .map(nid => (nid, l2(vecs(qid), vecs(nid))))
        .sortBy { case (nid, d) => (d, nid) }.take(5).map(n => (qid, n._1))
    }.toSet
    out.head._3 shouldBe (exact & adc).size.toLong
  }

  test("indexed hybrid fusion over the persisted stores is bitwise the one-shot bm25 x ivf-pq fusion; forget composes through both stores") {
    SparkEntry.withTempRoot(spark, "hybidx") { dir =>
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"))
      val coarseIds = Seq(7L, 123L, 247L, 331L, 433L)
      val cbIds = Seq(11L, 57L, 201L, 401L)
      val terms = Seq("spark", "window", "customer", "filter")
      val qid = 0L
      val quant = Similarity.trainIvfPqQuantizer(emb, coarseIds, cbIds, m = 4)
      for (b <- 0 until 3) {
        graft.streaming.LexIngest.ingestBatch(
          docs.filter(col("doc_id") % 3 === b), s"$dir/lex", b.toLong)
        graft.streaming.VectorIndexIngest.ingestBatch(
          emb.filter(col("vec_id") % 3 === b), s"$dir/vec", quant, b.toLong)
      }
      def fused() = Similarity.rrfFuse(
        graft.streaming.LexIngest.probe(spark, s"$dir/lex", terms, 10)
          .select(lit(qid).as("query_id"), col("doc_id").as("neighbor_id"), col("rn")),
        Similarity.ivfPqProbe(
            graft.streaming.VectorIndexIngest.index(spark, s"$dir/vec"), quant,
            Similarity.collectVectors(emb, Seq(qid)), nprobe = 3, k = 10)
          .select(col("query_id"), col("neighbor_id"), col("rn")),
        60, 5)
      def oneShot(d: org.apache.spark.sql.DataFrame,
                  e: org.apache.spark.sql.DataFrame) = Similarity.rrfFuse(
        TextAnalysis.bm25TopDocs(d, terms, 10)
          .select(lit(qid).as("query_id"), col("doc_id").as("neighbor_id"), col("rn")),
        Similarity.ivfPqSearch(e, coarseIds, cbIds, 4, Seq(qid), nprobe = 3, k = 10)
          .select(col("query_id"), col("neighbor_id"), col("rn")),
        60, 5)
      def key(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("rn").collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getLong(3)))
      // full corpus: the persisted-store fusion IS the one-shot fusion
      key(fused()) shouldBe key(oneShot(docs, emb))
      // forget the same ids on BOTH stores (logical deletes, liveView path):
      // the fusion equals the one-shot hybrid over the SURVIVING corpus —
      // the forgotten docs leave the lexical ranking model (df/N/Sumdl
      // shift) and the vector candidate set in one composed operation
      val forget = Seq(87L, 102L)
      graft.streaming.LexIngest.markDeleted(spark, s"$dir/lex", forget)
      graft.streaming.StoreCompaction.markDeleted(spark, s"$dir/vec", forget)
      key(fused()) shouldBe key(oneShot(
        docs.filter(!col("doc_id").isin(forget: _*)),
        emb.filter(!col("vec_id").isin(forget: _*))))
    }
  }

  test("cosineNearDupPairs: finds parallel vectors in the same cell, not cross-cell") {
    val e = embDF(
      0L -> Seq(1f, 0f, 0f),      // coarse cell A
      1L -> Seq(0f, 1f, 0f),      // coarse cell B
      2L -> Seq(0.9f, 0.01f, 0f), // near-parallel to 0, lands in cell A
      3L -> Seq(0.01f, 0.9f, 0f)) // near-parallel to 1, lands in cell B
    val out = Similarity.cosineNearDupPairs(e, Seq(0L, 1L), 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    out shouldBe Set((0L, 2L), (1L, 3L)) // (0,3)/(1,2)/(2,3) are cross-cell or dissimilar
  }

  test("incrementalCosinePairs equals the cross-membership slice of cosineNearDupPairs") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val coarse = Seq(7L, 123L, 247L, 331L, 433L)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val incr = Similarity.incrementalCosinePairs(batch, corpus, coarse, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // same centroid set, same assignment argmin, same cosine expression:
    // the incremental result must be exactly the full self-join's pairs
    // that straddle the batch boundary — sims included
    val cross = Similarity.cosineNearDupPairs(emb, coarse, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case (a, b, s) => if (a % 5 == 0) (a, b, s) else (b, a, s) }.toSet
    incr shouldBe cross
    incr should not be empty // planted near-parallel vectors straddle the split
  }

  // ---------- multimodal ----------

  test("gramRaw (treeAggregate scale path) equals the join formulation") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val viaJoin = Similarity.gramMatrix(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val (d, raw) = Similarity.gramRaw(emb)
    d shouldBe 64
    viaJoin.keySet.size shouldBe d * d
    for (((i, j), g) <- viaJoin) {
      // the join form rounds to 4 decimals; raw sums are unrounded
      math.abs(raw(((i - 1) * d + (j - 1)).toInt) - g) should be <= 1e-4
    }
    // symmetry: G[i][j] == G[j][i] (join form rounds both from the same sum)
    for (((i, j), g) <- viaJoin) viaJoin((j, i)) shouldBe g
  }

  test("approx_count_distinct stays within 5% of exact on a many-key column") {
    import org.apache.spark.sql.functions.{approx_count_distinct, countDistinct}
    val df = (1 to 20000).map(i => (i.toLong % 3000, i)).toDF("k", "x")
    val row = df.agg(approx_count_distinct(col("k"), 0.01).as("a"),
      countDistinct(col("k")).as("e")).collect().head
    val (a, e) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    math.abs(a - e) / e should be < 0.05
  }

  test("chunk: overlapping windows cover every token, short tail kept") {
    val out = TextAnalysis.chunk(docsDF(1L -> "a b c d e f g"), chunkTokens = 4, overlap = 2)
      .orderBy(col("chunk_id"))
      .collect().map(r => (r.getLong(1), r.getString(2), r.getLong(3)))
    out shouldBe Array(
      (0L, "a b c d", 4L), (1L, "c d e f", 4L), (2L, "e f g", 3L), (3L, "g", 1L))
    // zero overlap: disjoint cover
    val disjoint = TextAnalysis.chunk(docsDF(1L -> "a b c d e"), chunkTokens = 2, overlap = 0)
      .orderBy(col("chunk_id")).collect().map(_.getString(2))
    disjoint shouldBe Array("a b", "c d", "e")
  }

  test("round-9 operators survive hostile text (null / empty), docs never vanish") {
    val hostile = Seq((1L, "a b c d"), (2L, null.asInstanceOf[String]), (3L, ""), (4L, "x"))
      .toDF("doc_id", "text")
    // chunk family: every input doc appears exactly once; null text =
    // zero chunks, empty text = one empty chunk
    val cd = TextAnalysis.chunkDedup(hostile, 3).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    cd shouldBe Array((1L, 2L), (2L, 0L), (3L, 1L), (4L, 1L))
    // token budget: null text draws as a zero-token doc, never a NULL
    // running sum (which would make every later draw undecidable)
    val tb = TextAnalysis.tokenBudgetSample(
      hostile.withColumn("source", lit("s")), Map.empty, 5L)
      .orderBy(col("doc_id")).collect()
    tb.foreach { r =>
      r.isNullAt(3) shouldBe false // cum_toks
      r.isNullAt(4) shouldBe false // kept
    }
    tb.map(_.getLong(2)).sum shouldBe 6L // 4 + 0 + 1 + 1 tokens
    // scoring ops: null-text docs report zero units and NULL score
    TextAnalysis.novelty(hostile).count() shouldBe 4
    TextAnalysis.bigramLogProb(hostile, 0.5).count() shouldBe 4
  }

  test("heavyHitters: exact top-k ordering, CMS guarantees hold") {
    val docs = docsDF(
      1L -> "a a a a b b c", 2L -> "a b b d", 3L -> "a c")
    // counts: a=6, b=4, c=2, d=1
    val out = TextAnalysis.heavyHitters(docs, k = 3, eps = 0.01,
      confidence = 0.99, seed = 42)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
    out.map(x => (x._1, x._2)) shouldBe Array(("a", 6L), ("b", 4L), ("c", 2L))
    out.foreach { case (w, _, over, within) =>
      withClue(s"$w: ") { over shouldBe true; within shouldBe true }
    }
  }

  test("qualityClassifier: hand-computed linear score, exact-integer grid") {
    // doc 1: stop 2/5, alpha 4/5, digit 1/5, distinct 5/5, avg len 3
    //   -1.2 + 2.1*.4 + .8*.8 - 1.5*.2 + .9*1 + .4*.025 - .6*.25
    //   = 44400/60000 = 0.74 (one exact-integer division)
    // doc 2: all digits -> -69984/36000 = -1.944
    val out = TextAnalysis.qualityClassifier(docsDF(
      1L -> "the cat and dog 123", 2L -> "111 222 333"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    out(0) shouldBe ((1L, 5L, 0.74, true))
    out(1) shouldBe ((2L, 3L, -1.944, false))
  }

  test("qualityQuantileFilter: per-source top-q kept, ranks total, singleton source pr=0") {
    val docs = Seq(
      (1L, "the cat and dog ran home today", "s1"), // fluent: high score
      (2L, "111 222 333 444", "s1"),                // digit spam: low
      (3L, "the dog sat on the mat", "s1"),         // fluent: high
      (4L, "zz zz zz zz", "s1"),                    // repetitive: low
      (5L, "anything at all", "s2"))                // singleton source
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.qualityQuantileFilter(docs, q = 0.5)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4)))
    // consistency with the classifier's scores: rank s1 docs by
    // (score desc, doc_id); pr = (rank-1)/(n-1); keep = pr <= 0.5
    val scores = TextAnalysis.qualityClassifier(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val s1 = out.filter(_._2 == "s1")
    val ranked = s1.sortBy(t => (-scores(t._1), t._1)).zipWithIndex
    for (((id, _, score, pr, keep), i) <- ranked) {
      score shouldBe scores(id)
      pr shouldBe i.toDouble / (s1.length - 1)
      keep shouldBe (pr <= 0.5)
    }
    // pr values are 0, 1/3, 2/3, 1 -> kept pr 0 and 1/3 only
    s1.count(_._5) shouldBe 2
    // singleton source: pr = 0, kept at any q
    val s2 = out.filter(_._2 == "s2")
    s2.map(t => (t._4, t._5)).toSeq shouldBe Seq((0.0, true))
  }

  test("heavyHittersSketched: matches exact top-k, estimates never underestimate") {
    val docs = docsDF(
      1L -> "a a a a a a b b b b c c c d", 2L -> "a a b b c d e f")
    // exact: a=8, b=6, c=4, d=2, e=1, f=1
    val out = TextAnalysis.heavyHittersSketched(docs, k = 3, capacity = 64,
      eps = 0.01, confidence = 0.99, seed = 42)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    out.map(_._1) shouldBe Array("a", "b", "c")
    out.map(_._2).zip(Seq(8L, 6L, 4L)).foreach { case (est, exact) =>
      est should be >= exact
    }
  }

  test("heavyHittersSketched: Misra-Gries eviction regime keeps the true heavy hitter") {
    // one token at 200 occurrences among 800 singletons (N = 1000):
    // 200 > N/(capacity+1) = 1000/9, so the pigeonhole guarantee says
    // the heavy token MUST survive per-partition eviction at capacity 8
    // even though every summary is thrashing (8 counters vs 400+ keys)
    val filler1 = (1 to 400).map(i => s"u$i").mkString(" ")
    val filler2 = (401 to 800).map(i => s"u$i").mkString(" ")
    val docs = docsDF(
      1L -> (Seq.fill(100)("hh").mkString(" ") + " " + filler1),
      2L -> (filler2 + " " + Seq.fill(100)("hh").mkString(" ")))
    val out = TextAnalysis.heavyHittersSketched(docs, k = 1, capacity = 8,
      eps = 0.001, confidence = 0.99, seed = 42)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    out.map(_._1) shouldBe Array("hh")
    out.head._2 should be >= 200L
  }

  test("heavyHittersSketched: contract corpus — sketched top-k equals the exact top-k") {
    // the punch-list pin: the sketch-only path (per-partition candidates
    // + CMS scoring, never an exact corpus-wide groupBy) reproduces the
    // exact operator's answer on the contract corpus; CMS overestimates
    // never drop a true heavy hitter above the eps·N band
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val exact = TextAnalysis.heavyHitters(docs, 10, 0.001, 0.99, 42)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val sketched = TextAnalysis.heavyHittersSketched(docs, 10, 4096, 0.001, 0.99, 42)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    sketched.keySet shouldBe exact.map(_._1).toSet
    exact.foreach { case (w, n) =>
      withClue(s"$w: ") { sketched(w) should be >= n }
    }
  }

  test("novelty: unique bigram fraction; clones score 0, short docs NULL") {
    val out = TextAnalysis.novelty(docsDF(
      1L -> "a b c d",   // bigrams: ab, bc, cd — ab shared with doc 2
      2L -> "a b x",     // bigrams: ab, bx — bx unique
      3L -> "a b x",     // exact clone of 2: NOTHING unique in either
      4L -> "z"))        // no bigrams
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
    out(0) shouldBe ((1L, 3L, 2L, 0.6667)) // bc, cd unique; ab shared
    out(1) shouldBe ((2L, 2L, 0L, 0.0))    // clone kills bx's uniqueness too
    out(2) shouldBe ((3L, 2L, 0L, 0.0))
    out(3)._2 shouldBe 0L
    out(3)._4.isNaN shouldBe true
  }

  test("bigramLogProb: hand-computed interpolation, short docs score NULL") {
    // corpus: "a a b" + "a" -> N = 4, cu(a) = 3, cu(b) = 1
    // doc 1 transitions: (a,a) cb=1, (a,b) cb=1; lambda = 0.5
    //   p(a|a) = .5*(1/3) + .5*(3/4) = 13/24; p(b|a) = .5*(1/3) + .5*(1/4) = 7/24
    //   avg = (ln(13/24) + ln(7/24)) / 2 = -0.92262... -> -0.9226
    val out = TextAnalysis.bigramLogProb(
      docsDF(1L -> "a a b", 2L -> "a"), lambda = 0.5)
      .orderBy(col("doc_id")).collect()
    out(0).getLong(1) shouldBe 2L
    out(0).getDouble(2) shouldBe -0.9226
    out(1).getLong(1) shouldBe 0L
    out(1).isNullAt(2) shouldBe true
  }

  test("dsirScores: hand-computed log-ratios, add-one smoothing, top-N selection") {
    // corpus: doc1 "a a b" (en), doc2 "a c" (de), doc3 "b b" (en)
    // vocab: a cr=3 ct=2; b cr=3 ct=3; c cr=1 ct=0; N_raw=7 N_tgt=5 V=3
    // lp(a) = ln(3·10/(4·8)) = ln(.9375); lp(b) = ln(4·10/(4·8)) = ln(1.25)
    // lp(c) = ln(1·10/(2·8)) = ln(.625)
    // doc1 = 2·lp(a)+lp(b) = 0.0941; doc2 = lp(a)+lp(c) = -0.5345
    // doc3 = 2·lp(b) = 0.4463; topN=1 selects doc3 only
    val docs = Seq((1L, "a a b", "en"), (2L, "a c", "de"), (3L, "b b", "en"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.dsirScores(docs, "en", topN = 1)
      .orderBy(col("doc_id")).collect()
    out.map(_.getLong(1)) shouldBe Array(3L, 2L, 2L)
    out.map(_.getDouble(2)) shouldBe Array(0.0941, -0.5345, 0.4463)
    out.map(_.getBoolean(3)) shouldBe Array(false, false, true)
  }

  test("dsirScoresSketched: bit-identical scores, threshold upper-set, boundary-band-only divergence from exact") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val topN = 100
    val exact = TextAnalysis.dsirScores(docs, "en", topN)
    val nDocs = exact.count()
    val sk = TextAnalysis.dsirScoresSketched(docs, "en", topN.toDouble / nDocs)
    // scores come from the same builder: bit-identical per doc
    val ex = exact.collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    val sm = sk.collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    sm.keySet shouldBe ex.keySet
    sm.foreach { case (id, (s, _)) => s shouldBe ex(id)._1 }
    // threshold selection is an upper set: every selected score beats
    // every unselected score
    val selScores = sm.values.collect { case (s, true) => s }
    val unselScores = sm.values.collect { case (s, false) => s }
    selScores should not be empty
    if (unselScores.nonEmpty) selScores.min should be >= unselScores.max
    // divergence from the exact top-N is confined to the boundary band:
    // any doc the two selections disagree on scores between the exact
    // cut score and the sketched threshold (inclusive)
    val cut = ex.values.collect { case (s, true) => s }.min
    val thr = selScores.min
    val lo = math.min(cut, thr); val hi = math.max(cut, thr)
    val divergent = sm.collect { case (id, (s, k)) if k != ex(id)._2 => s }
    divergent.foreach { s => s should (be >= lo and be <= hi) }
    // and with the default accuracy the sketch keeps within a small
    // band of the requested fraction
    math.abs(selScores.size - topN) should be <= (nDocs / 20).toInt
    // keepFrac = 0 is rejected: selection is inclusive at the sketched
    // threshold (score >= max), so 0 could never keep zero docs — the
    // argmax docs would always pass and bias the kept fraction high
    intercept[IllegalArgumentException] {
      TextAnalysis.dsirScoresSketched(docs, "en", keepFrac = 0.0)
    }.getMessage should include("inclusive")
  }

  test("tokenBudgetSample: greedy prefix per source, override budget applies") {
    val docs = Seq(
      (1L, "a b c", "s1"), (2L, "d e", "s1"), (3L, "f g h i", "s1"),
      (4L, "x", "s2"), (5L, "y z", "s2"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.tokenBudgetSample(docs, Map("s2" -> 1L), defaultBudget = 5L)
      .collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    for (src <- Seq("s1", "s2")) {
      val budget = if (src == "s2") 1L else 5L
      val rows = out.filter(_._1 == src).sortBy(_._4) // by cum_toks
      // running sum really is the prefix sum in draw order
      rows.map(_._3).scanLeft(0L)(_ + _).tail shouldBe rows.map(_._4)
      // kept == (cum <= budget): a prefix; once over budget, never kept
      rows.foreach { case (_, _, _, cum, kept) => kept shouldBe (cum <= budget) }
      // greedy prefix, not knapsack: everything after the first
      // over-budget draw is dropped even if it would individually fit
      val dropped = rows.dropWhile(_._5)
      dropped.forall(!_._5) shouldBe true
    }
    // override map applies: s2 keeps at most 1 token, default keeps 5
    out.filter(r => r._1 == "s2" && r._5).map(_._3).sum should be <= 1L
    out.filter(r => r._1 == "s1" && r._5).map(_._3).sum should be <= 5L
    // deterministic: same corpus, same mixture
    val again = TextAnalysis.tokenBudgetSample(docs, Map("s2" -> 1L), 5L)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getBoolean(4))).sortBy(_._2)
    again shouldBe out.map(r => (r._1, r._2, r._5)).sortBy(_._2)
  }

  test("textrank: integer-grid PageRank hand-walked 3 iterations on a path graph") {
    // path a-b-c: deg a=1 b=2 c=1; S=1e9, base=1.5e8, all-integer walk:
    // it1 (575e6, 1850e6, 575e6), it2 (936.25e6, 1127.5e6, 936.25e6),
    // it3 -> b 1,741,625,000; a=c 629,187,500 (tie -> lexicographic)
    val out = TextAnalysis.textrank(docsDF(1L -> "a b c"), iterations = 3, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    out shouldBe Array(
      ("b", 1741625000L, 1L), ("a", 629187500L, 2L), ("c", 629187500L, 3L))
    // edges are DISTINCT: repeated adjacency adds no weight, and a
    // symmetric 2-node graph is a fixed point at exactly S
    val two = TextAnalysis.textrank(docsDF(1L -> "a b a b"), 3, 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    two shouldBe Array(("a", 1000000000L), ("b", 1000000000L))
    // per-doc form: each document walks its OWN graph — doc 1 repeats
    // the corpus fixture's values, doc 2's 2-node fixed point at S is
    // untouched by doc 1's graph (no cross-doc edges)
    val per = TextAnalysis.textrankPerDoc(
      docsDF(1L -> "a b c", 2L -> "x y x y"), iterations = 3, k = 2)
      .orderBy(col("doc_id"), col("rn")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    per shouldBe Array(
      (1L, "b", 1741625000L, 1L), (1L, "a", 629187500L, 2L),
      (2L, "x", 1000000000L, 1L), (2L, "y", 1000000000L, 2L))
  }

  test("temperatureSample: sqrt-share keep rates, smallest source keeps all, coin = content hash") {
    val docs = ((1L to 10L).map(i => (i, s"h$i w x y", "hot")) :+
      ((100L, "c1 c2 c3 c4", "cold"))).toDF("doc_id", "text", "source")
    val out = TextAnalysis.temperatureSample(docs).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getBoolean(3)))
    // smallest source: rate sqrt(4/4) = 1 -> every doc kept
    out.filter(_._2 == "cold").map(_._3) shouldBe Array(true)
    // hot source (40 tokens): rate sqrt(4/40), and the decision is
    // exactly fingerprint < floor(rate * FpMod) per document
    val thHot = math.floor(math.sqrt(4.0 / 40.0) * TextAnalysis.FpMod.toDouble).toLong
    val fps = TextAnalysis.fingerprints(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    out.filter(_._2 == "hot").foreach { case (id, _, keep) =>
      withClue(s"doc $id: ") { keep shouldBe (fps(id) < thHot) }
    }
    // deterministic: same corpus, same sample
    TextAnalysis.temperatureSample(docs).collect()
      .map(r => (r.getLong(0), r.getBoolean(3))).sortBy(_._1) shouldBe
      out.map(t => (t._1, t._3)).sortBy(_._1)
  }

  test("vocabStats: per-source type-token ratio, HLL twin within its band") {
    val docs = Seq(
      (1L, "a b a b c", "s1"), (2L, "a d", "s1"), (3L, "x x x", "s2"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.vocabStats(docs).orderBy(col("source")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5)))
    out(0) shouldBe (("s1", 2L, 7L, 4L, 4.0 / 7.0, true))
    out(1) shouldBe (("s2", 1L, 3L, 1L, 1.0 / 3.0, true))
  }

  test("winnowPairs: clones share every fingerprint, shared runs caught, df-cap prunes hot fps") {
    val run = "p q r s t u v w" // an 8-token shared run >= w+k-1 = 6
    val docs = docsDF(
      1L -> s"a b c d $run",
      2L -> s"$run x y z1 z2",
      3L -> s"a b c d $run", // exact clone of doc 1
      4L -> "m n o m n o m n o")
    val out = Dedup.winnowPairs(docs, k = 3, w = 4, minShared = 1, dfCap = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pairs = out.map(p => (p._1, p._2)).toSet
    pairs should contain((1L, 2L)) // the winnow guarantee on the shared run
    pairs should contain((1L, 3L))
    (pairs should not).contain((1L, 4L))
    // clones share ALL fingerprints
    val w1 = TextAnalysis.winnow(docs.filter(col("doc_id") === 1), 3, 4).count()
    out.find(p => p._1 == 1L && p._2 == 3L).get._3 shouldBe w1
    // cap 2 prunes the run fps (df 3 across docs 1/2/3) but the clone
    // pair survives on its prefix fps (df exactly 2)
    val capped = Dedup.winnowPairs(docs, 3, 4, minShared = 1, dfCap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    capped should contain((1L, 3L))
    (capped should not).contain((1L, 2L))
  }

  test("langIdTrigram: self-scoring zero distance, absent-gram penalty, short docs NULL") {
    val docs = Seq(
      (1L, "abcabc", "A"), // trigrams abc(2) bca cab -> own profile, dist 0
      (2L, "xyzxyz", "B"), // disjoint trigram space
      (3L, "ab", "A"))     // < 3 chars: no trigrams, pred NULL
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langIdTrigram(docs, profileK = 64, docK = 32)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) null else java.lang.Boolean.valueOf(r.getBoolean(4))))
    out(0) shouldBe ((1L, "A", "A", 0L, true))
    out(1) shouldBe ((2L, "B", "B", 0L, true))
    out(2) shouldBe ((3L, "A", null, -1L, null))
    // and on the contract corpus the mechanism runs end-to-end
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val preds = TextAnalysis.langIdTrigram(corpus, 64, 32)
    preds.count() shouldBe corpus.count()
    preds.filter(col("pred_lang").isNull).count() shouldBe
      corpus.filter(org.apache.spark.sql.functions.length(col("text")) < 3).count()
  }

  test("rrfFuse: hand-computed scores, absent-list zero, tie to lowest neighbor") {
    val a = Seq((1L, 10L, 1L), (1L, 20L, 2L), (2L, 40L, 1L)).toDF("query_id", "neighbor_id", "rn")
    val b = Seq((1L, 20L, 1L), (1L, 30L, 2L), (2L, 50L, 1L)).toDF("query_id", "neighbor_id", "rn")
    val out = Similarity.rrfFuse(a, b, kRrf = 60, k = 10)
      .orderBy(col("query_id"), col("rn")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // q1: n20 = 1/62 + 1/61 (both lists), n10 = 1/61, n30 = 1/62
    out.filter(_._1 == 1L) shouldBe Array(
      (1L, 20L, 1.0 / 62 + 1.0 / 61, 1L),
      (1L, 10L, 1.0 / 61, 2L),
      (1L, 30L, 1.0 / 62, 3L))
    // q2: n40 and n50 tie at 1/61 -> lowest neighbor first
    out.filter(_._1 == 2L) shouldBe Array(
      (2L, 40L, 1.0 / 61, 1L), (2L, 50L, 1.0 / 61, 2L))
  }

  test("oovRate: hand vocabulary fixture — ties break lexicographic, rate is exact") {
    val docs = Seq(
      (0L, "A", "x x y z"), // x2 y1 z1
      (1L, "B", "x q q q")) // x1 q3
      .toDF("doc_id", "source", "text")
    // corpus counts: q=3, x=3, y=1, z=1; K=2 -> vocab {q, x} (tie 3/3
    // breaks to lexicographically-smaller first but both fit)
    val out = TextAnalysis.oovRate(docs, vocabK = 2).orderBy(col("source"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out shouldBe Array(("A", 4L, 2L, 0.5), ("B", 4L, 0L, 0.0))
    // K=1: the q/x tie at 3 breaks to 'q' alone
    val k1 = TextAnalysis.oovRate(docs, vocabK = 1).orderBy(col("source"))
      .collect().map(r => (r.getString(0), r.getLong(2)))
    k1 shouldBe Array(("A", 4L), ("B", 1L))
  }

  test("redactPii: email/IP/phone scrubbed, fixed order, surrounding text untouched") {
    val in = Seq(
      (1L, "mail a.user+tag@sub.example.org now"),
      (2L, "host 192.168.0.1 and 10.1.2.3 up"),
      (3L, "call +15551234567 today"),
      (4L, "all: bob@x.io at 8.8.8.8 or +4912345678"),
      (5L, "clean text with no pii at all"),
      (6L, "v1.2.3 is not an ip word")) // only 3 dotted groups -> untouched
      .toDF("doc_id", "text")
    val out = in.select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("r"))
      .orderBy(col("doc_id")).collect().map(r => (r.getLong(0), r.getString(1)))
    out shouldBe Array(
      (1L, "mail [EMAIL] now"),
      (2L, "host [IP] and [IP] up"),
      (3L, "call [PHONE] today"),
      (4L, "all: [EMAIL] at [IP] or [PHONE]"),
      (5L, "clean text with no pii at all"),
      (6L, "v1.2.3 is not an ip word"))
  }

  test("writeBandIndex: probing the persisted index drops exactly ingestDupIds' ids") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    SparkEntry.withTempRoot(spark, "graft_bandidx") { root =>
      val idxPath = root + "/idx"
      Dedup.writeBandIndex(corpus, idxPath)
      val idx = spark.read.parquet(idxPath)
      idx.columns.toSeq shouldBe Seq("doc_id", "band", "key")
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.getLong(0)).toSet
      val direct = ids(Dedup.ingestDupIds(batch, Some(corpus), 0.5))
      val indexed = ids(Dedup.ingestDupIdsIndexed(batch, Some((corpus, idx)), 0.5))
      direct should not be empty
      indexed shouldBe direct
      // the append path: index rows of a new batch use the same layout
      Dedup.bandIndexRows(batch).columns.toSeq shouldBe idx.columns.toSeq
    }
  }

  test("deleteCascade: requested ids plus their near-dups labeled; unrelated content untouched") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, a), // requested
      (2L, a + " lambda"), // near-dup of 1 (bigram jaccard 0.9)
      (3L, "one two three four five six seven eight"), // unrelated
      (4L, "red green blue cyan magenta yellow")) // requested, no dups
      .toDF("doc_id", "text")
    val out = Dedup.deleteCascade(docs, Seq(1L, 4L).map(Tuple1(_)).toDF("doc_id"), 0.5)
      .orderBy(col("doc_id")).collect().map(r => (r.getLong(0), r.getString(1)))
    out shouldBe Array((1L, "requested"), (2L, "near_dup"), (4L, "requested"))
  }

  test("curriculumOrder: easy-first within source, sources interleaved round-robin") {
    val docs = Seq(
      (1L, "A", "x y z"), // A, 3 tokens -> src_rank 2
      (2L, "A", "x"), // A, 1 token  -> src_rank 1
      (3L, "B", "x y"), // B, 2 tokens -> src_rank 1
      (4L, "B", "x y z w")) // B, 4 tokens -> src_rank 2
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.curriculumOrder(docs).orderBy(col("position"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4)))
    // round 1: every source's easiest, A before B; round 2 likewise
    out shouldBe Array(
      (2L, "A", 1L, 1L), (3L, "B", 1L, 2L),
      (1L, "A", 2L, 3L), (4L, "B", 2L, 4L))
  }

  test("mixtureWeights: bottleneck waterfilling hand fixture") {
    def txt(n: Int) = Seq.fill(n)("w").mkString(" ")
    // source A: 100 tokens across 2 docs, weight 1 (ratio 100)
    // source B: 50 tokens in 1 doc, weight 2 (ratio 25 -> bottleneck)
    val docs = Seq((0L, "A", txt(60)), (1L, "A", txt(40)), (2L, "B", txt(50)))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.mixtureWeights(docs, Seq("A" -> 1L, "B" -> 2L))
      .orderBy(col("source")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // A: expected = 1*50 div 2 = 25 of 100 avail, accept = 50/200
    out(0) shouldBe (("A", 100L, 1L, 25L, 0.25))
    // B is the bottleneck: all 50 tokens used, accept exactly 1.0
    out(1) shouldBe (("B", 50L, 2L, 50L, 1.0))
  }

  test("mixtureWeights: uniform weights reduce to min-avail per source; unweighted sources drop") {
    def txt(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = Seq((0L, "A", txt(30)), (1L, "B", txt(10)), (2L, "C", txt(20)))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.mixtureWeights(docs, Seq("A" -> 1L, "B" -> 1L))
      .orderBy(col("source")).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getDouble(4)))
    out shouldBe Array(("A", 10L, 10.0 / 30), ("B", 10L, 1.0))
  }

  test("sourceLengthDrift: hand TV fixture — skewed sources 0.5, corpus-shaped source exactly 0") {
    val long25 = Seq.fill(25)("w").mkString(" ") // bin 1 at width 20
    val docs = Seq(
      (0L, "A", "w"), (1L, "A", "w"), // all bin 0
      (2L, "B", long25), (3L, "B", long25), // all bin 1
      (4L, "C", "w"), (5L, "C", long25)) // exactly the corpus shape
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.sourceLengthDrift(docs, binWidth = 20L, nbins = 10)
      .orderBy(col("source")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // corpus bins: b0 = 3, b1 = 3, N = 6
    // A: |2*6-3*2| + |0*6-3*2| = 12 -> tv = 12/(2*2*6) = 0.5; B same
    // C matches the corpus distribution exactly -> l1 = 0, tv = 0
    out shouldBe Array(
      ("A", 2L, 12L, 0.5), ("B", 2L, 12L, 0.5), ("C", 2L, 0L, 0.0))
  }

  test("labelDrift: hand fixture — aligned label cos 1.0, orthogonal label measurably lower") {
    // int8 grid maps each vector to codes = round(127 * v / maxabs):
    // label 0 vectors point at +x, label 1 at +y; the corpus mean is
    // the (1,1) diagonal, so both labels sit at cos = 1/sqrt(2)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(2.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f), 1), (3L, Array(0.0f, 3.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelDrift(emb).orderBy(col("label")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // codes: every vector quantizes to (127, 0) or (0, 127)
    // label sums: l0 = (254, 0), l1 = (0, 254); global = (254, 254)
    val s = 254L
    out(0) shouldBe ((0L, 2L, s * s, s * s, 2 * s * s, (s * s).toDouble /
      (math.sqrt((s * s).toDouble) * math.sqrt((2 * s * s).toDouble))))
    out(1) shouldBe ((1L, 2L, s * s, s * s, 2 * s * s, out(0)._6))
    out(0)._6 shouldBe (1.0 / math.sqrt(2.0) +- 1e-12)
    // a label aligned WITH the corpus mean scores exactly 1.0
    val aligned = Seq((0L, Array(1.0f, 1.0f), 0), (1L, Array(2.0f, 2.0f), 0))
      .toDF("vec_id", "embedding", "label")
    Similarity.labelDrift(aligned).collect().head.getDouble(5) shouldBe 1.0
  }

  test("cellBalancedSample: per-cell counts = min(cell size, quota), ranks dense, draw deterministic") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cells = Seq(7L, 13L, 21L)
    val full = Similarity.cellBalancedSample(e, cells, quota = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sizes = full.groupBy(_._1).view.mapValues(_.length).toMap
    sizes.values.sum shouldBe e.count()
    val out = Similarity.cellBalancedSample(e, cells, quota = 3)
      .orderBy(col("cell_id"), col("rn")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for ((cell, rows) <- out.groupBy(_._1)) withClue(s"cell $cell: ") {
      rows.length shouldBe math.min(3, sizes(cell))
      rows.sortBy(_._3).map(_._3) shouldBe (1L to rows.length).toArray
    }
    // kept set is a subset of the full assignment and repeatable
    out.map(t => (t._1, t._2)).toSet.subsetOf(full.toSet) shouldBe true
    val again = Similarity.cellBalancedSample(e, cells, quota = 3)
      .orderBy(col("cell_id"), col("rn")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    again shouldBe out
  }

  test("cellMedoids: closest member wins with tie to lowest id, counts per cell, empty cell absent, seed-centroid triviality") {
    val coarse = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)), (2L, Seq(-100.0, -100.0)))
      .toDF("cell_id", "cvec")
    val e = Seq(
      (1L, Seq(1.0, 0.0)),   // cell 0, d2 = 1
      (3L, Seq(-1.0, 0.0)),  // cell 0, d2 = 1 — ties to lower id 1
      (5L, Seq(0.0, 2.0)),   // cell 0, d2 = 4
      (7L, Seq(9.0, 10.0)),  // cell 1, d2 = 1 — the medoid
      (9L, Seq(13.0, 13.0))) // cell 1, d2 = 18
      .toDF("vec_id", "embedding")
    val out = Similarity.cellMedoids(e, coarse).orderBy(col("cell_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // cell 2 catches no member and is absent, not a null row
    out shouldBe Array((0L, 1L, 3L), (1L, 7L, 2L))
    // with corpus-vector seeds every seed is trivially its own medoid
    // (d2 = 0) — the documented reason the operator takes FITTED cells
    val seeded = e.filter(col("vec_id").isin(1L, 7L))
      .select(col("vec_id").as("cell_id"), col("embedding").as("cvec"))
    Similarity.cellMedoids(e, seeded).collect()
      .foreach(r => r.getLong(1) shouldBe r.getLong(0))
  }

  test("leakageSafeSplit: near-dup twins the naive split separates land together; singletons keep the content split") {
    // deterministically find a text pair the NAIVE per-doc content split
    // separates (the leak this operator exists to close)
    val cands = (0 until 200).map(i => (s"base text number $i", s"base text number $i extra"))
    val naive = TextAnalysis.contentSplit(
        cands.zipWithIndex.flatMap { case ((a, b), i) =>
          Seq((2L * i, a), (2L * i + 1, b)) }.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val leakIdx = (0 until 200).find(i => naive(2L * i) != naive(2L * i + 1))
    leakIdx.isDefined shouldBe true
    val i = leakIdx.get
    val (ta, tb) = cands(i)
    // corpus: the leaking twins (0, 1) + an unrelated singleton (2)
    val docs = Seq((0L, ta), (1L, tb), (2L, "completely unrelated content"))
      .toDF("doc_id", "text")
    val clusters = Seq((0L, 0L), (1L, 0L)).toDF("doc_id", "keep_id")
    val out = Dedup.leakageSafeSplit(docs, clusters).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // twins agree (both take the keeper doc 0's split); naive disagreed
    out(0)._3 shouldBe out(1)._3
    naive(2L * i) should not be naive(2L * i + 1)
    out(0)._2 shouldBe 0L
    out(1)._2 shouldBe 0L
    // the singleton is its own keeper and keeps the plain content split
    val single = TextAnalysis.contentSplit(docs.filter(col("doc_id") === 2L))
      .collect().head.getString(2)
    out(2) shouldBe ((2L, 2L, single))
  }

  test("rrfFuseN: three lists hand-computed; membership in any subset contributes exactly its terms") {
    val a = Seq((1L, 10L, 1L), (1L, 20L, 2L)).toDF("query_id", "neighbor_id", "rn")
    val b = Seq((1L, 20L, 1L), (1L, 30L, 2L)).toDF("query_id", "neighbor_id", "rn")
    val c = Seq((1L, 20L, 3L), (1L, 40L, 1L)).toDF("query_id", "neighbor_id", "rn")
    val out = Similarity.rrfFuseN(Seq(a, b, c), kRrf = 60, k = 10)
      .orderBy(col("rn")).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    // n20 in all three: ((1/62 + 1/61) + 1/63) in list order, left-assoc
    out(0) shouldBe ((20L, 1.0 / 62 + 1.0 / 61 + 1.0 / 63, 1L))
    // n10 (only list a) and n40 (only list c) tie at 1/61 -> lowest id
    // first; n30 only in list b at rank 2
    out(1) shouldBe ((10L, 1.0 / 61, 2L))
    out(2) shouldBe ((40L, 1.0 / 61, 3L))
    out(3) shouldBe ((30L, 1.0 / 62, 4L))
  }

  test("rrfFuseN(2 lists) is bitwise rrfFuse — the binary form is the n=2 instance") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qids = Seq(0L, 1L, 2L)
    val a = Similarity.bruteForceTopKRanked(e, qids, 10)
    val b = Similarity.ivfTopKRanked(e, Seq(7L, 13L, 21L), qids, nprobe = 2, k = 10)
    val two = Similarity.rrfFuse(a, b, 60, 5).orderBy(col("query_id"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val n = Similarity.rrfFuseN(Seq(a, b), 60, 5).orderBy(col("query_id"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    n shouldBe two
  }

  test("prfExpansionTerms: hand fixture — feedback-tf x rarity weight, seed and in-every-doc terms excluded") {
    // seed 'query' hits docs 1-2 (feedback at fbDocs=2); 'rare' appears
    // twice in feedback and in 2/4 docs -> w = 2e6 div 2; 'common' is in
    // every doc -> dropped; the seed term itself is excluded
    val d = docsDF(
      1L -> "query rare common stuff",
      2L -> "query rare common other",
      3L -> "common unrelated words here",
      4L -> "common thing stuff other")
    val out = TextAnalysis.prfExpansionTerms(d, Seq("query"),
        fbDocs = 2, fbTerms = 2)
      .orderBy(col("w").desc, col("term")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    out.map(_._1) should contain("rare")
    (out.map(_._1) should not).contain("common") // in every doc
    (out.map(_._1) should not).contain("query")  // seed excluded
    val rare = out.find(_._1 == "rare").get
    rare._2 shouldBe 2L                          // ftf in the 2 feedback docs
    rare._3 shouldBe (2L * 1000000L) / 2L        // df('rare') = 2
  }

  test("bm25Prf: the data-dependent expanded query is bitwise bm25TopDocs over the literal union term set") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val seed = Seq("spark", "window", "customer", "filter")
    val exp = TextAnalysis.prfExpansionTerms(d, seed, fbDocs = 5, fbTerms = 3)
      .collect().map(_.getString(0)).toSeq
    exp should not be empty
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rn").collect().map(r => (r.getLong(0),
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getLong(2)))
    key(TextAnalysis.bm25Prf(d, seed, fbDocs = 5, fbTerms = 3, k = 10)) shouldBe
      key(TextAnalysis.bm25TopDocs(d, seed ++ exp, 10))
  }

  test("mmrRerank: lambda=1 degenerates to the pure-relevance ranking") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val mmr = Similarity.mmrRerank(e, 0L, poolN = 10, k = 5, lambda = 1.0)
      .orderBy(col("sel_rank")).collect().map(r => r.getLong(1))
    val bf = Similarity.bruteForceTopKRanked(e, Seq(0L), 5)
      .orderBy(col("rn")).collect().map(r => r.getLong(1))
    mmr.toSeq shouldBe bf.toSeq
  }

  test("mmrRerank: a near-duplicate of the first pick is demoted below a diverse lower-relevance candidate") {
    // query 0; a (id 1) and its near-clone b (id 2) dominate relevance;
    // c (id 3) is diverse but less relevant. Pure relevance ranks (a, b);
    // at lambda=0.3 the dupe penalty flips rank 2 to c.
    val e = embDF(
      0L -> Seq(1f, 0f, 0f),
      1L -> Seq(1f, 0.010f, 0f),
      2L -> Seq(1f, 0.011f, 0f),
      3L -> Seq(0.5f, 0.8f, 0f))
    val rel = Similarity.mmrRerank(e, 0L, poolN = 3, k = 2, lambda = 1.0)
      .orderBy(col("sel_rank")).collect().map(_.getLong(1))
    rel.toSeq shouldBe Seq(1L, 2L)
    val div = Similarity.mmrRerank(e, 0L, poolN = 3, k = 2, lambda = 0.3)
      .orderBy(col("sel_rank")).collect().map(_.getLong(1))
    div.toSeq shouldBe Seq(1L, 3L)
  }

  test("mmrRerank: rank-1 is the relevance argmax with score lambda*rel; selections are distinct pool members") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val lambda = 0.7
    val out = Similarity.mmrRerank(e, 0L, poolN = 12, k = 5, lambda)
      .orderBy(col("sel_rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    out.map(_._1).toSeq shouldBe (1L to 5L)
    out.map(_._2).distinct.length shouldBe 5
    val top = Similarity.bruteForceTopKRanked(e, Seq(0L), 12)
      .orderBy(col("rn")).collect().map(_.getLong(1))
    // every selection comes from the top-12 pool; rank 1 IS the argmax
    out.map(_._2).toSet.subsetOf(top.toSet) shouldBe true
    out.head._2 shouldBe top.head
    // first pick's score is exactly lambda*rel - (1-lambda)*0.0 (bitwise)
    out.head._4 shouldBe (lambda * out.head._3 - (1.0 - lambda) * 0.0)
    // later picks shift by -(1-lambda)*maxSim with maxSim in [-1, 1]
    // (an anti-correlated pool member makes the shift a BOOST, observed
    // on this corpus — so only the cosine bound is invariant)
    out.tail.foreach { case (_, _, rel2, sc) =>
      math.abs(sc - lambda * rel2) should be <= (1.0 - lambda)
    }
  }

  test("mmrRerank edges: a pool smaller than k emits the whole pool; an absent query id emits nothing") {
    val e = embDF(
      0L -> Seq(1f, 0f, 0f),
      1L -> Seq(1f, 0.01f, 0f),
      2L -> Seq(0.5f, 0.8f, 0f))
    // corpus minus query = 2 candidates < k = 2 requested via poolN 2,
    // but ask k beyond what survives: emit exactly the pool, ranked
    val out = Similarity.mmrRerank(e, 0L, poolN = 2, k = 2, lambda = 0.5)
      .collect()
    out.length shouldBe 2
    out.map(_.getLong(1)).toSet shouldBe Set(1L, 2L)
    // a query id with no embedding row: empty pool, empty result —
    // never a throw (the serving path's miss is a data condition)
    Similarity.mmrRerank(e, 999L, poolN = 2, k = 2, lambda = 0.5)
      .count() shouldBe 0L
  }

  test("mmrRerankIndexed is bitwise mmrRerank restricted to the ADC candidate set") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (coarse, cb, m, np, poolR) = (Seq(7L, 13L, 21L), Seq(11L, 57L, 201L, 401L), 4, 2, 12)
    val indexed = Similarity.mmrRerankIndexed(e, coarse, cb, m, 0L, np, poolR,
        k = 5, lambda = 0.7)
      .orderBy(col("sel_rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // reference: the same greedy over a corpus REDUCED to the ADC
    // candidates (+ query) — the exact-pool path then ranks precisely
    // the candidate set, so the two compositions must agree bit-for-bit
    val candIds = Similarity.ivfPqSearch(e, coarse, cb, m, Seq(0L), np, poolR)
      .collect().map(_.getLong(1)).toSeq
    val reduced = e.filter(col("vec_id").isin((candIds :+ 0L).map(Long.box): _*))
    val ref = Similarity.mmrRerank(reduced, 0L, poolN = candIds.size, k = 5,
        lambda = 0.7)
      .orderBy(col("sel_rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    indexed.toSeq shouldBe ref.toSeq
    // and the selection genuinely came from the index's nominees
    indexed.map(_._2).toSet.subsetOf(candIds.toSet) shouldBe true
  }

  test("mmrRerankStored: the persisted-store MMR is bitwise the one-shot indexed MMR; forget composes through the ranking") {
    SparkEntry.withTempRoot(spark, "mmrstore") { dir =>
      val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val (coarse, cb, m) = (Seq(7L, 123L, 247L, 331L, 433L), Seq(11L, 57L, 201L, 401L), 4)
      val quant = Similarity.trainIvfPqQuantizer(e, coarse, cb, m)
      for (b <- 0 until 3)
        graft.streaming.VectorIndexIngest.ingestBatch(
          e.filter(col("vec_id") % 3 === b), s"$dir/vec", quant, b.toLong)
      def stored() = Similarity.mmrRerankStored(
          graft.streaming.VectorIndexIngest.index(spark, s"$dir/vec"), quant,
          e, 0L, nprobe = 2, poolR = 12, k = 5, lambda = 0.7)
        .orderBy(col("sel_rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
      def oneShot(corpus: org.apache.spark.sql.DataFrame) =
        Similarity.mmrRerankIndexed(corpus, coarse, cb, m, 0L,
            nprobe = 2, poolR = 12, k = 5, lambda = 0.7)
          .orderBy(col("sel_rank")).collect()
          .map(r => (r.getLong(0), r.getLong(1),
            java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
            java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
      // full store: the served tail IS the one-shot composition
      stored().toSeq shouldBe oneShot(e).toSeq
      // forget: marked ids leave the candidate set via the liveView;
      // the ranking equals the one-shot over the SURVIVING corpus
      // (forgotten ids are disjoint from the quantizer-training ids, so
      // cells/codebooks are identical on both sides)
      val forget = Seq(5L, 18L, 42L)
      graft.streaming.StoreCompaction.markDeleted(spark, s"$dir/vec", forget)
      stored().toSeq shouldBe oneShot(e.filter(!col("vec_id").isin(forget: _*))).toSeq
    }
  }

  test("mmrOverCandidates: arbitrary nominations rerank bitwise like mmrRerank over the reduced corpus") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // nominate via the hybrid fusion (the q_mmr_hybrid shape)
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val lex = TextAnalysis.bm25TopDocs(d, Seq("spark", "window", "customer", "filter"), 10)
      .select(lit(0L).as("query_id"), col("doc_id").as("neighbor_id"), col("rn"))
    val sem = Similarity.bruteForceTopKRanked(e, Seq(0L), 10)
    val candIds = Similarity.rrfFuse(lex, sem, 60, 10)
      .filter(col("neighbor_id") =!= 0L)
      .collect().map(_.getLong(1)).toSeq
    val out = Similarity.mmrOverCandidates(e,
        candIds.toDF("vec_id"), 0L, k = 5, lambda = 0.7)
      .orderBy(col("sel_rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
    val reduced = e.filter(col("vec_id").isin((candIds :+ 0L).map(Long.box): _*))
    val ref = Similarity.mmrRerank(reduced, 0L, poolN = candIds.size, k = 5,
        lambda = 0.7)
      .orderBy(col("sel_rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
    out.toSeq shouldBe ref.toSeq
    out.map(_._2).toSet.subsetOf(candIds.toSet) shouldBe true
  }

  test("ivfTopKRanked: same neighbor set as ivfTopK, ranks dense 1..k, order tracks sim") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qids = Seq(0L, 1L, 2L)
    val cells = Seq(7L, 13L, 21L)
    val ranked = Similarity.ivfTopKRanked(e, cells, qids, nprobe = 2, k = 5)
      .orderBy(col("query_id"), col("rn")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val topk = Similarity.ivfTopK(e, cells, qids, nprobe = 2, k = 5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // identical (query, neighbor) sets
    ranked.map(t => (t._1, t._2)).toSet shouldBe topk.keySet
    // per query: ranks are exactly 1..n and rounded sims are non-increasing
    // along the rank order (the rank comes from the unrounded window)
    for ((q, rows) <- ranked.groupBy(_._1)) withClue(s"query $q: ") {
      val byRank = rows.sortBy(_._3)
      byRank.map(_._3) shouldBe (1L to rows.length).toArray
      val sims = byRank.map(t => topk((t._1, t._2)))
      sims.zip(sims.tail).foreach { case (hi, lo) => hi should be >= lo }
    }
  }

  test("qualityQuantileFilterSketched: threshold gate tracks the exact quantile gate within rank error") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = 0.3
    val exact = TextAnalysis.qualityQuantileFilter(docs, q).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(3), r.getBoolean(4)))
    val sk = TextAnalysis.qualityQuantileFilterSketched(docs, q).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(3)))
    val prOf = exact.map(t => t._1 -> t._3).toMap
    sk.length shouldBe exact.length
    for (src <- exact.map(_._2).distinct) {
      val e = exact.filter(_._2 == src).filter(_._4).map(_._1).toSet
      val s = sk.filter(_._2 == src).filter(_._3).map(_._1).toSet
      val diff = (e -- s) ++ (s -- e)
      withClue(s"source $src (exact ${e.size}, sketched ${s.size}): ") {
        // boundary docs may flip inside the sketch's rank-error band;
        // docs clearly above/below the quantile must agree
        diff.size should be <= 2
        for (id <- diff) prOf(id) shouldBe q +- 0.12
      }
    }
  }

  test("contrastivePairs: positives labeled 1, candidate overlap anti-joined into hard negatives") {
    val pos = Seq((1L, 2L), (3L, 4L)).toDF("da", "db")
    val cand = Seq((1L, 2L), (5L, 6L), (3L, 7L)).toDF("da", "db")
    val out = Dedup.contrastivePairs(pos, cand)
      .orderBy(col("label").desc, col("da"), col("db")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out shouldBe Array(
      (1L, 2L, 1L), (3L, 4L, 1L), // positives
      (3L, 7L, 0L), (5L, 6L, 0L)) // candidates minus the (1,2) overlap
  }

  test("keepLongest: longest doc survives its cluster, ties to lowest id, non-members untouched") {
    val docs = docsDF(
      1L -> "a b",        // cluster A, shorter: dropped
      2L -> "a b c d",    // cluster A, longest: kept despite higher id
      3L -> "x",          // singleton cluster: kept
      4L -> "y z w",      // not clustered: kept
      5L -> "p q",        // cluster B, tie with 6
      6L -> "r s")        // cluster B, tie -> lowest id (5) wins
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "keep_id")
    val kept = Dedup.keepLongest(docs, clusters)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    kept shouldBe Set(2L, 3L, 4L, 5L)
  }

  test("crossSourceDupMatrix: unordered source pairs, within-source counted, orientation normalized") {
    val docs = Seq((1L, "x", "s1"), (2L, "x", "s1"), (3L, "x", "s2"), (4L, "x", "s3"))
      .toDF("doc_id", "text", "source")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("da", "db") // (4,1) arrives source-reversed: s3 vs s1
    val out = Dedup.crossSourceDupMatrix(pairs, docs)
      .orderBy(col("src_a"), col("src_b")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    out shouldBe Array(
      ("s1", "s1", 1L), ("s1", "s2", 2L), ("s1", "s3", 1L), ("s2", "s3", 1L))
  }

  test("bpeTrain/bpeEncode: hand-walked merges, overlap counting, tie-break, early exhaustion") {
    // words: aaab wc=2, ab wc=3
    // r1: (a,a)=4 (overlap counted: 2 per aaab), (a,b)=2+3=5 -> merge (a,b,5)
    //     aaab -> "a a ab", ab -> "ab"
    // r2: (a,a)=2, (a,ab)=2 -> tie, lexicographic r: "a" < "ab" -> (a,a,2)
    //     aaab -> "aa ab"
    // r3: (aa,ab)=2 -> merge (aa,ab,2); aaab -> "aaab"
    // r4: no pairs anywhere -> exhausted at 3 of 6 requested merges
    val docs = docsDF(1L -> "aaab aaab ab", 2L -> "ab ab")
    val merges = TextAnalysis.bpeTrain(docs, 6).orderBy(col("rn")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    merges shouldBe Array((1L, "a", "b", 5L), (2L, "a", "a", 2L), (3L, "aa", "ab", 2L))
    // full merges: every word one symbol
    val enc = TextAnalysis.bpeEncode(docs, 6).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    enc shouldBe Array((1L, 3L, 3L), (2L, 2L, 2L))
    // two merges only: aaab = "aa ab" (2 subtokens), ab = "ab" (1)
    val enc2 = TextAnalysis.bpeEncode(docs, 2).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    enc2 shouldBe Array((1L, 3L, 5L), (2L, 2L, 2L))
  }

  test("bloomDedup: exact verdicts at any bloom sizing; batch-internal dups unflagged; empty corpus all false") {
    val corpus = docsDF(10L -> "alpha beta", 11L -> "gamma delta", 12L -> "alpha beta")
    val batch = docsDF(
      1L -> "alpha beta",    // in corpus: dup
      2L -> "new text one",  // new
      3L -> "new text one",  // batch-internal copy, NOT in corpus: not flagged
      4L -> "gamma delta")   // in corpus: dup
    val expect = Array((1L, true), (2L, false), (3L, false), (4L, true))
    val out = Dedup.bloomDedup(batch, corpus, 1000L, 8000L)
      .orderBy(col("doc_id")).collect().map(r => (r.getLong(0), r.getBoolean(1)))
    out shouldBe expect
    // a pathologically tiny bloom (8 bits - everything collides) only
    // inflates the candidate set; verification keeps the answer exact
    val tiny = Dedup.bloomDedup(batch, corpus, 1L, 8L)
      .orderBy(col("doc_id")).collect().map(r => (r.getLong(0), r.getBoolean(1)))
    tiny shouldBe expect
    // empty corpus: null bloom, zero candidates, every verdict false
    val none = Dedup.bloomDedup(batch, corpus.filter(col("doc_id") < 0L), 1000L, 8000L)
      .orderBy(col("doc_id")).collect().map(r => (r.getLong(0), r.getBoolean(1)))
    none shouldBe expect.map { case (id, _) => (id, false) }
  }

  test("contaminationScore: per-doc hit fractions; short docs NULL; drop rule matches decontaminate") {
    val docs = docsDF(
      0L -> "q1 q2 q3 q4 x y z",     // the "benchmark" doc
      1L -> "q1 q2 q3 q4 a b c d",   // shares the eval 4-gram: contaminated
      2L -> "a b c d e f g",         // clean: 4 grams, 0 hits
      3L -> "s t")                   // < 4 tokens: no grams
    val bench = docs.filter(col("doc_id") === 0)
    val out = Dedup.contaminationScore(docs, bench, n = 4)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
    out(0) shouldBe ((0L, 4L, 4L, 1.0)) // the benchmark doc is 100% itself
    out(1)._3 shouldBe 1L               // exactly the shared (q1..q4) gram
    out(1)._4 shouldBe 0.2              // 1 of 5 distinct 4-grams
    out(2) shouldBe ((2L, 4L, 0L, 0.0))
    out(3)._2 shouldBe 0L
    out(3)._3 shouldBe 0L
    out(3)._4.isNaN shouldBe true
    // the boolean operator's drop rule is exactly n_hit > 0
    val dropped = docs.select(col("doc_id"))
      .except(Dedup.decontaminate(docs, bench, 4).select(col("doc_id")))
      .collect().map(_.getLong(0)).toSet
    out.filter(_._3 > 0).map(_._1).toSet shouldBe dropped
  }

  test("trigramBackoffScore: every backoff branch hand-computed, short docs NULL") {
    // model "a b c a b d": N=6; cu a=2,b=2,c=1,d=1; cb (a,b)=2,(b,c)=1,
    // (c,a)=1,(b,d)=1; ct (a,b,c)=1,(b,c,a)=1,(c,a,b)=1,(a,b,d)=1
    val model = docsDF(100L -> "a b c a b d")
    val scored = docsDF(
      1L -> "a b c", // ct branch: S = 1/2 -> ln .5 = -0.6931
      2L -> "x b c", // cb23 branch: S = .4*(1/2) -> ln .2 = -1.6094
      3L -> "a b z", // cu3 unseen -> OOV branch: S = .4*(.4*(1/6)) -> -3.6243
      4L -> "c a a", // cu3 branch: (c,a,a) and (a,a) unseen, cu(a)=2:
                     // S = .4*(.4*(2/6)) -> ln(4/75) = -2.9312
      5L -> "a b")   // < 3 tokens: no trigrams
    val out = TextAnalysis.trigramBackoffScore(scored, model, theta = 0.4)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
    out(0) shouldBe ((1L, 1L, -0.6931))
    out(1) shouldBe ((2L, 1L, -1.6094))
    out(2) shouldBe ((3L, 1L, -3.6243))
    out(3) shouldBe ((4L, 1L, -2.9312))
    out(4)._2 shouldBe 0L
    out(4)._3.isNaN shouldBe true
  }

  test("tokenBudgetSampleTrimmed: kept set identical to the exact operator, trim really trims") {
    // contract corpus: every returned row must agree with the exact
    // operator on ALL columns, and the kept sets must match row-for-row
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toSet
    val exact = rows(TextAnalysis.tokenBudgetSample(docs, Map.empty, 500L))
    val trimmed = rows(TextAnalysis.tokenBudgetSampleTrimmed(docs, Map.empty, 500L))
    trimmed.subsetOf(exact) shouldBe true // identical values on every surviving row
    trimmed.filter(_._5) shouldBe exact.filter(_._5) // kept sets equal, all columns
    // synthetic one-hot-source corpus (the case the trim exists for):
    // 200 ten-token docs in ONE source, budget 50 — the bucket bound
    // must discard most rows while preserving the kept set exactly
    val hot = (1L to 200L)
      .map(i => (i, (1 to 10).map(j => s"w${i}_$j").mkString(" "), "hot"))
      .toDF("doc_id", "text", "source")
    val he = rows(TextAnalysis.tokenBudgetSample(hot, Map.empty, 50L))
    val ht = rows(TextAnalysis.tokenBudgetSampleTrimmed(hot, Map.empty, 50L))
    ht.filter(_._5) shouldBe he.filter(_._5)
    he.filter(_._5).size shouldBe 5 // 5 docs x 10 tokens fill the budget
    ht.size should be < he.size / 4 // the trim discarded the hot tail
    // per-source budget override flows through the trim bound too
    val ov = rows(TextAnalysis.tokenBudgetSampleTrimmed(hot, Map("hot" -> 20L), 999L))
    ov.filter(_._5) shouldBe
      rows(TextAnalysis.tokenBudgetSample(hot, Map("hot" -> 20L), 999L)).filter(_._5)
    ov.filter(_._5).size shouldBe 2
  }

  test("chunkDedup: first global occurrence survives, docs reassemble in order") {
    val docs = docsDF(
      0L -> "a b c d e f",   // both chunks first occurrences
      1L -> "a b c x y z",   // chunk 0 duplicates doc 0's
      2L -> "a b c d e f",   // exact dup doc: every chunk dropped
      3L -> "d e f a b c",   // both chunks seen (in either order)
      4L -> "q r",           // short single chunk, unique
      5L -> "m n o m n o")   // intra-doc repeat: keep first only
    val out = TextAnalysis.chunkDedup(docs, chunkTokens = 3)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    out shouldBe Array(
      (0L, 2L, 2L, "a b c d e f"),
      (1L, 2L, 1L, "x y z"),
      (2L, 2L, 0L, ""),
      (3L, 2L, 0L, ""),
      (4L, 1L, 1L, "q r"),
      (5L, 2L, 1L, "m n o"))
  }

  test("dropBoilerplateChunks: cross-doc chunks vanish everywhere, intra-doc repeats stay") {
    val docs = docsDF(
      0L -> "a b c d e f",
      1L -> "a b c x y z",
      2L -> "a b c d e f",
      3L -> "d e f a b c",
      4L -> "q r",
      5L -> "m n o m n o")
    val out = TextAnalysis.dropBoilerplateChunks(docs, chunkTokens = 3, minDocs = 2)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // "a b c" in docs {0,1,2,3}, "d e f" in {0,2,3}: boilerplate, removed
    // everywhere incl. first occurrences; "m n o" repeats only within
    // doc 5 (df = 1), so unlike chunkDedup BOTH copies survive
    out shouldBe Array(
      (0L, 2L, 0L, ""),
      (1L, 2L, 1L, "x y z"),
      (2L, 2L, 0L, ""),
      (3L, 2L, 0L, ""),
      (4L, 1L, 1L, "q r"),
      (5L, 2L, 2L, "m n o m n o"))
  }

  test("percentile_approx stays within 2% rank error of the exact percentile") {
    import org.apache.spark.sql.functions.{percentile, percentile_approx}
    val df = (1 to 20000).map(i => ((i * 7919) % 20011).toDouble).toDF("v")
    val row = df.agg(
      percentile_approx(col("v"), lit(0.5), lit(1000)).as("a50"),
      percentile(col("v"), lit(0.5)).as("e50"),
      percentile_approx(col("v"), lit(0.9), lit(1000)).as("a90"),
      percentile(col("v"), lit(0.9)).as("e90")).collect().head
    // values are ~uniform on [0, 20011), so value error ~ rank error * range
    math.abs(row.getDouble(0) - row.getDouble(1)) should be < 0.02 * 20011
    math.abs(row.getDouble(2) - row.getDouble(3)) should be < 0.02 * 20011
  }

  test("binaryMeta: byte length + md5 digest of the payload") {
    val out = Multimodal.binaryMeta(docsDF(1L -> "hello"), "doc_id", "text").collect().head
    out.getLong(1) shouldBe 5L
    out.getString(2) shouldBe "5d41402abc4b2a76b9719d911017c592"
  }

  test("mediaDedup: identical payloads collapse to the lowest-id keeper") {
    val out = Multimodal.mediaDedup(
        docsDF(3L -> "same bytes", 1L -> "same bytes", 2L -> "different"),
        "doc_id", "text")
      .orderBy(col("keep_id")).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(1)))
    out shouldBe Array((1L, 2L, 10L), (2L, 1L, 9L)) // (keeper, copies, bytes)
  }

  test("bpeTokenCount: letters/digits/punct runs, space-prefixed") {
    val out = docsDF(1L -> "hello world 42 x!").select(TextAnalysis.bpeTokenCount(col("text")))
      .collect().head.getLong(0)
    out shouldBe 5L // "hello", " world", " 42", " x", "!"
  }

  test("resizeMeta: aspect-preserving scale to max dimension") {
    val decoded = Multimodal.decodeStub(docsDF(1L -> "some-payload"), "doc_id", "text")
    val out = Multimodal.resizeMeta(decoded, 64).collect().head
    val (w, h) = (out.getAs[Int]("width"), out.getAs[Int]("height"))
    val (ow, oh) = (out.getAs[Int]("out_width"), out.getAs[Int]("out_height"))
    math.max(ow, oh) shouldBe 64
    // aspect preserved within rounding
    math.abs(ow.toDouble / oh - w.toDouble / h) should be < 0.1
  }

  test("frameSampleStub: deterministic frame digests, count tracks payload size") {
    val media = docsDF(1L -> ("x" * 64), 2L -> ("y" * 16))
    val out = Multimodal.frameSampleStub(media, "doc_id", "text", stride = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    out.count(_._1 == 1L) shouldBe 8 // 64 bytes / 8
    out.count(_._1 == 2L) shouldBe 2
    val again = Multimodal.frameSampleStub(media, "doc_id", "text", stride = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    again.toSet shouldBe out.toSet
  }

  test("cluster-size histogram composition: chain + pair shape from hand components") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("da", "db")
    val hist = graft.ops.ConnectedComponents.dedupClusters(pairs)
      .groupBy(col("keep_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    hist shouldBe Set((3L, 1L, 3L), (2L, 1L, 2L))
  }

  test("vocabCoverage: Zipf ranks by hand, integer-exact percentage boundaries") {
    // counts a:4 b:2 c:1 d:1, total 8; cum 4,6,7,8
    val out = TextAnalysis.vocabCoverage(docsDF(1L -> "a a a a b b c d")).collect().head
    out.getLong(0) shouldBe 1L // k50: cum 4 covers 50% of 8 exactly
    out.getLong(1) shouldBe 4L // k90: cum 7 is 87.5% < 90, needs rank 4
    out.getLong(2) shouldBe 4L
    out.getLong(3) shouldBe 4L // vocab_size
    out.getLong(4) shouldBe 8L // n_tokens
  }

  test("sourceLengthKs: max CDF gap, corpus-shaped source exactly 0, absent-bin evaluated") {
    // binWidth 1 -> bin = token count. A all-short, B all-long, C corpus-shaped.
    val d = Seq(
      (1L, "x", "A"), (2L, "y", "A"),             // bin 1, n_A = 2
      (3L, "a b c", "B"), (4L, "d e f", "B"),     // bin 3, n_B = 2
      (5L, "z", "C"), (6L, "p q r", "C")          // one of each, n_C = 2
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourceLengthKs(d, 1L, 10).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getDouble(3))).toMap
    // N = 6; CumCorp(1) = 3, CumCorp(3) = 6
    // A at bin 1: |2*6 - 3*2| = 6 -> ks = 6/12 = 0.5
    out("A") shouldBe ((6L, 0.5))
    // B's max gap sits at bin 1 — a bin B has NO mass in (flat CDF vs
    // moving corpus CDF); the dense evaluation exists for exactly this
    out("B") shouldBe ((6L, 0.5))
    // corpus-shaped source: every gap exactly 0
    out("C") shouldBe ((0L, 0.0))
  }

  test("lshCurve: exact binary grid point s=0.5 gives hand-computed probabilities") {
    val row = Dedup.lshCurve(spark, 4, 4, 20).filter(col("i") === 10).collect().head
    row.getDouble(1) shouldBe 0.5
    row.getDouble(2) shouldBe 0.0625 // 0.5^4, exact
    // 1 - 0.9375^4, every operand exact binary
    row.getDouble(3) shouldBe 0.2275238037109375
    // the curve is monotone in s — the property the tuning table is read by
    val ps = Dedup.lshCurve(spark, 4, 4, 20).orderBy(col("i"))
      .collect().map(_.getDouble(3))
    ps.zip(ps.tail).foreach { case (a, b) => a should be <= b }
  }

  test("signal-overlap matrix: cells sum to the union of the three pair sets (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("q_signal_overlap")(spark, dir).collect()
    val total = out.map(_.getLong(3)).sum
    val d = spark.read.parquet(s"$dir/documents.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("da"), col("db")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val union = pairs(Dedup.minhashPairs(d, 0.5)) ++
      pairs(Dedup.simhashPairsWide(d, 2)) ++ pairs(Dedup.tfidfCosinePairs(d, 0.5, 64L))
    total shouldBe union.size.toLong
    // no cell may claim a pair in no signal at all
    out.foreach(r => (r.getBoolean(0) || r.getBoolean(1) || r.getBoolean(2)) shouldBe true)
  }

  test("hashedTf: bucket counts from the shared polyhash; vectors drive the ANN stack") {
    // hash("ab") = 3105 (pinned by the fingerprint test) -> bucket 3105 % 8 = 1;
    // hash("b") = 98 -> bucket 2
    val out = TextAnalysis.hashedTf(docsDF(1L -> "ab ab b"), 8).collect().head
    (0 until 8).map(j => out.getLong(1 + j)) shouldBe
      Seq(0L, 2L, 1L, 0L, 0L, 0L, 0L, 0L)
    // the bridge: hashed vectors feed bruteForceTopK unchanged — an exact
    // text duplicate is its twin's cosine-1.0 nearest neighbor
    val vecs = TextAnalysis.hashedTf(docsDF(
      1L -> "the cat sat on the mat",
      2L -> "the cat sat on the mat",
      3L -> "completely different words entirely"), 8)
      .select(col("doc_id").as("vec_id"),
        array((0 until 8).map(j => col(s"d$j").cast("double")): _*).as("embedding"))
    val nn = Similarity.bruteForceTopK(vecs, Seq(1L), k = 1).collect().head
    nn.getLong(1) shouldBe 2L
    nn.getDouble(2) shouldBe 1.0
  }

  test("madOutliers: doubled order statistics give exact median/MAD, odd and even n") {
    // A (n=5, odd): lens 10,12,13,14,100 -> med=13 (med2=26), devs2 |2l-26| =
    // 6,2,0,2,174 -> mad2 = 2+2 = 4; gate 2*dev2 > 3*mad2=12 flags only 174.
    // B (n=4, even): lens 10,20,30,1000 -> med2 = 20+30 = 50 (median 25,
    // non-integer, handled exactly); devs2 30,10,10,1950 -> mad2 = 10+30 = 40;
    // gate flags only 1950.
    val d = Seq(
      (1L, 10L, "A"), (2L, 12L, "A"), (3L, 13L, "A"), (4L, 14L, "A"), (5L, 100L, "A"),
      (6L, 10L, "B"), (7L, 20L, "B"), (8L, 30L, "B"), (9L, 1000L, "B")
    ).toDF("doc_id", "n_chars", "source")
    val out = TextAnalysis.madOutliers(d, 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4), r.getLong(5)))
    out.toSet shouldBe Set((5L, "A", 26L, 174L, 4L), (9L, "B", 50L, 1950L, 40L))
    // without the 100-length doc the tight lengths flag nothing
    TextAnalysis.madOutliers(d.filter(col("doc_id") <= 4), 3).collect() shouldBe empty
    // the generic gate is the same operator under any column names
    val g = TextAnalysis.madOutliersOn(
      d.toDF("hour", "n_events", "event_type"), "hour", "event_type", "n_events", 3)
    g.columns.take(3) shouldBe Array("hour", "event_type", "n_events")
    g.collect().map(r => (r.getLong(0), r.getString(1))).toSet shouldBe
      Set((5L, "A"), (9L, "B"))
  }

  test("piiStats: per-source match counts by class, any-PII doc flag, clean docs counted") {
    val d = Seq(
      (1L, "mail a@b.com and c@d.org", "A"), // 2 emails
      (2L, "ip 1.2.3.4 here", "A"),          // 1 dotted quad
      (3L, "call +12345678 now", "B"),       // 1 phone
      (4L, "clean text", "B")
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.piiStats(d).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    out("A") shouldBe ((2L, 1L, 0L, 2L, 2L))
    out("B") shouldBe ((0L, 0L, 1L, 1L, 2L))
  }

  test("datasheet: per-source volume/lang/quality/dup report, argmax ties to smaller lang") {
    val d = Seq(
      (1L, "a b", "en", "A"),   // passes (2 words); text dups with 3 and 4
      (2L, "x", "de", "A"),     // fails minWords=2
      (3L, "a b", "de", "A"),   // dup, different lang: A's top_lang = de (2 docs)
      (4L, "a b", "en", "B"),   // CROSS-source dup: counts against B too
      (5L, "c d e", "en", "B"),
      (6L, "p q", "en", "C"),   // C: en 1 doc, de 1 doc - tie, top_lang = de
      (7L, "r s", "de", "C")
    ).toDF("doc_id", "text", "lang", "source")
    val out = TextAnalysis.datasheet(d, 2, 10, 0.5, 10.0, 0, 0.0)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4),
          r.getDouble(5), r.getLong(6), r.getLong(8))).toMap
    out("A") shouldBe ((3L, 2L, "de", 5L, 5.0 / 3.0, 2L, 2L))
    out("B") shouldBe ((2L, 1L, "en", 5L, 5.0 / 2.0, 2L, 1L))
    out("C") shouldBe ((2L, 2L, "de", 4L, 2.0, 2L, 0L))
  }

  test("frameNearDup: shared-frame pairs, sub-clip containment 1.0, stop-frame cap prunes") {
    // stride=2 -> 16-byte frames; 16-char blocks align exactly on frames
    def blk(c: Char) = c.toString * 16
    val (b1, b2, b3, b4) = (blk('a'), blk('b'), blk('c'), blk('d'))
    val media = docsDF(
      1L -> (b1 + b2 + b3),  // clip A
      2L -> (b1 + b2 + b4),  // re-encode: 2 of 3 frames shared with A
      3L -> (b1 + b2),       // trimmed export: sub-clip of both
      4L -> (blk('p') + blk('q') + blk('r')), // unrelated
      // 4 media sharing one boilerplate intro frame (df 4 > cap 3):
      // the frame leaves the index AND the similarity space
      5L -> (blk('z') + blk('e')), 6L -> (blk('z') + blk('f')),
      7L -> (blk('z') + blk('g')), 8L -> (blk('z') + blk('h')))
    val out = Multimodal.frameNearDup(media, "doc_id", "text",
      stride = 2, dfCap = 3, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    out.keySet shouldBe Set((1L, 2L), (1L, 3L), (2L, 3L))
    out((1L, 2L)) shouldBe ((2L, 2.0 / 3.0)) // 2 shared / min(3,3)
    out((1L, 3L)) shouldBe ((2L, 1.0))       // trimmed clip contained
    out((2L, 3L)) shouldBe ((2L, 1.0))
  }

  test("incrementalFrameNearDup equals the cross-membership slice of frameNearDup") {
    def blk(c: Char) = c.toString * 16
    val (b1, b2, b3, b4) = (blk('a'), blk('b'), blk('c'), blk('d'))
    val media = docsDF(
      1L -> (b1 + b2 + b3), 2L -> (b1 + b2 + b4), 3L -> (b1 + b2),
      4L -> (blk('p') + blk('q') + blk('r')))
    val batch = media.filter(col("doc_id").isin(1L, 3L))
    val corpus = media.filter(!col("doc_id").isin(1L, 3L))
    val out = Multimodal.incrementalFrameNearDup(batch, corpus, "doc_id", "text",
      stride = 2, dfCap = 16L, minShared = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // full matrix pairs {(1,2),(1,3),(2,3)}: only the cross-membership ones
    // survive, with identical shared counts and containments
    out.keySet shouldBe Set((1L, 2L), (3L, 2L))
    out((1L, 2L)) shouldBe ((2L, 2.0 / 3.0))
    out((3L, 2L)) shouldBe ((2L, 1.0)) // the trimmed clip is contained
  }

  test("keepByPriority: tier beats length, length tiebreaks within tier, outsiders survive") {
    val docs = Seq(
      (1L, "w x y z a b c d e", "scrape"),  // cluster A, tier 2, longest
      (2L, "k", "curated"),                 // cluster A, tier 0 -> keeper despite length
      (3L, "m n o p q", "crawl"),           // cluster A, tier 1
      (4L, "solo doc", "scrape"),           // outside clusters: survives
      (5L, "a a a", "curated"),             // cluster B, tier 0, 3 tokens
      (6L, "b b b b", "curated")            // cluster B, tier 0, 4 tokens -> keeper
    ).toDF("doc_id", "text", "source")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "keep_id")
    val tiers = Seq("curated" -> 0, "crawl" -> 1)
    val kept = Dedup.keepByPriority(docs, clusters, tiers, defaultTier = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    kept shouldBe Set(2L, 4L, 6L)
  }

  test("hashedSourceDrift: identical profiles cosine 1.0, disjoint profiles lower") {
    // A and B share an identical token profile; C is a different vocabulary
    val d = Seq(
      (1L, "a a b", "A"), (2L, "a a b", "B"),
      (3L, "zq zq zq yx", "C")
    ).toDF("doc_id", "text", "source")
    // dim 64: the four tokens land in distinct buckets (33, 34, 55, 31)
    val out = TextAnalysis.hashedSourceDrift(d, 64).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    out("A") shouldBe out("B") // same profile, same drift vs corpus
    out("C") should be < out("A") // off-topic source scores lower
    // hand dot/norms in the operator's own op order: dot/(sqrt(na2)*sqrt(nb2))
    out("A") shouldBe 10.0 / (math.sqrt(5.0) * math.sqrt(30.0))
    out("C") shouldBe 10.0 / (math.sqrt(10.0) * math.sqrt(30.0))
    // a single-source corpus IS the corpus: cosine 1 up to the sqrt ulp
    // (x/(sqrt(x)*sqrt(x)) — sqrt(x)^2 is one ulp off for non-squares)
    val solo = TextAnalysis.hashedSourceDrift(
      Seq((1L, "a b c", "A")).toDF("doc_id", "text", "source"), 64).collect().head
    solo.getDouble(4) shouldBe 1.0 +- 1e-12
  }

  test("qualityCalibration: deciles partition the corpus in score order (sf0.001)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextAnalysis.qualityCalibration(docs, 4, 30, 100000, 4.0, 10.0, 2, 0.8)
      .orderBy(col("decile")).collect()
    out.map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 3L, 4L)
    out.map(_.getLong(1)).sum shouldBe docs.count()
    // deciles are a descending score partition: each decile's floor is at
    // least the next decile's ceiling
    out.sliding(2).foreach { w =>
      w(0).getDouble(2) should be >= w(1).getDouble(3)
    }
  }

  test("vocabGrowth: per-batch new words and cumulative vocabulary by hand") {
    val d = docsDF(0L -> "a b", 1L -> "a c", 2L -> "a b", 3L -> "d")
    val out = TextAnalysis.vocabGrowth(d, 2L).orderBy(col("batch")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    out.toSeq shouldBe Seq((0L, 4L, 3L, 3L), (1L, 3L, 1L, 4L))
  }

  test("burstTerms: cross-multiplied rate test by hand, new-term null ratio, min support gates") {
    // batch 0: a3 b3 c1 (n=7); batch 1: x4 a1 b1 (n=6); batch 2: a6 b1
    // (n=7); N=20; corpus a10 b5 c1 x4
    val d = docsDF(0L -> "a b a b", 1L -> "a b c", 2L -> "x x x x",
      3L -> "a b", 4L -> "a a a a a a", 5L -> "b")
    val out = TextAnalysis.burstTerms(d, batchSize = 2L, minCount = 3L, factor = 2L)
      .orderBy(col("batch"), col("w")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getDouble(6))))
    out.toSeq shouldBe Seq(
      // b in batch 0: 3·13 = 39 > 2·(2·7) = 28; ratio = 39/14 unfactored
      (0L, "b", 3L, 2L, 7L, 13L, Some(39.0 / 14.0)),
      // x never occurs elsewhere: c_rest = 0, bursts with a NULL ratio
      (1L, "x", 4L, 0L, 6L, 14L, None),
      // a in batch 2: 6·13 = 78 > 2·(4·7) = 56; ratio = 78/28
      (2L, "a", 6L, 4L, 7L, 13L, Some(78.0 / 28.0)))
    // below min support nothing bursts, whatever the rate skew
    TextAnalysis.burstTerms(d, 2L, minCount = 7L, factor = 1L).count() shouldBe 0L
  }

  test("mixedLanguageDocs: chunk votes, majority tie to lex-smaller, und votes like a language") {
    val d = docsDF(
      1L -> "the and of le la les",      // en chunk + fr chunk: tie -> en
      2L -> "the and of to is in",       // two en chunks: pure
      3L -> "xyz abc",                   // one stopword-free chunk: und
      4L -> "the and of xyz zzz qqq")    // en + und: und IS mixture evidence
    val out = TextAnalysis.mixedLanguageDocs(d, chunkTokens = 3)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    out.toSeq shouldBe Seq(
      (1L, "en", 1L, 2L, 0.5),
      (2L, "en", 2L, 2L, 0.0),
      (3L, "und", 1L, 1L, 0.0),
      (4L, "en", 1L, 2L, 0.5))
  }

  test("vocabGrowthSketched: tracks the exact Heaps curve within sketch error, monotone, layout-invariant") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = TextAnalysis.vocabGrowth(docs, 50L).orderBy(col("batch")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))) // batch, n_tokens, cum
    val sk = TextAnalysis.vocabGrowthSketched(docs, 50L)
    val got = sk.orderBy(col("batch")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    got.map(_._1) shouldBe exact.map(_._1)
    got.map(_._2) shouldBe exact.map(_._2) // token counts exact
    // cumulative estimate within 3·rsd of the exact vocabulary at every
    // batch (rsd ≈ 1.04/√2^12 at the default lgConfigK)
    val bound = 3.0 * 1.04 / math.sqrt(1 << 12)
    for (((_, _, cum), (_, _, _, est)) <- exact.zip(got))
      math.abs(est - cum).toDouble should be <= (cum * bound)
    // monotone by register construction; new-word deltas reassemble it
    got.sliding(2).foreach(p => p(0)._4 should be <= p(1)._4)
    got.map(_._3).sum shouldBe got.last._4
    // register maxes are commutative: any partition layout, same rows
    val re = TextAnalysis.vocabGrowthSketched(docs.repartition(7), 50L)
    re.orderBy(col("batch")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))) shouldBe got
    sk.unpersist(false); re.unpersist(false)
  }

  test("collocations: counts and PMI by hand on the exact product grid") {
    val out = TextAnalysis.collocations(docsDF(1L -> "x y x y"), 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // bigrams: (x y):2, (y x):1; T=4 tokens, B=3 bigrams, c_x=c_y=2;
    // pmi rounds to 4 decimals (the LM-scorer ln discipline, r19)
    def r4(d: Double): Double =
      BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    out("x y") shouldBe ((2L, r4(math.log(32.0 / 12.0))))
    out("y x") shouldBe ((1L, r4(math.log(16.0 / 12.0))))
  }

  test("tokenGini: dominated mixture vs equal shares, exact numerator") {
    val skew = Seq((1L, "a b c d e f", "A"), (2L, "x y", "B"))
      .toDF("doc_id", "text", "source")
    val g1 = TextAnalysis.tokenGini(skew).collect().head
    // x = (6, 2): sum|xi-xj| = 8, denom 2*n*total = 32 -> 0.25
    (g1.getLong(0), g1.getLong(1), g1.getLong(2), g1.getDouble(3)) shouldBe
      ((2L, 8L, 8L, 0.25))
    val even = Seq((1L, "a b c d", "A"), (2L, "x y z w", "B"))
      .toDF("doc_id", "text", "source")
    TextAnalysis.tokenGini(even).collect().head.getDouble(3) shouldBe 0.0
  }

  test("decodeStub: deterministic fixed-shape output per payload") {
    val media = docsDF(1L -> "payload-bytes-one", 2L -> "payload-two")
    val out1 = Multimodal.decodeStub(media, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).sortBy(_._1)
    val out2 = Multimodal.decodeStub(media, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).sortBy(_._1)
    out1 shouldBe out2                      // deterministic
    out1.length shouldBe 2
    all(out1.map(_._2)) should be >= 16     // fake header parse in range
    val feats = Multimodal.decodeStub(media, "doc_id", "text")
      .select("features").collect().head.getSeq[Double](0)
    feats should have size 4
  }

  // ---------- round 5: normalize / dup stats / shuffle / RP / PQ ----------

  test("normalize: case, punctuation and whitespace variants collapse to one digest") {
    val out = TextAnalysis.normalize(docsDF(
      1L -> "Hello,  World!", 2L -> "hello world", 3L -> "HELLO--WORLD")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    out.map(_._2).distinct.length shouldBe 1 // one digest for all three
    out.head._3 shouldBe 11L // "hello world"
    out.head._4 shouldBe 2L
  }

  test("normalize: fully-symbolic text normalizes to empty with zero tokens") {
    val out = TextAnalysis.normalize(docsDF(1L -> "!!! --- ???")).collect().head
    out.getLong(2) shouldBe 0L
    out.getLong(3) shouldBe 0L
  }

  test("dupStats: histogram of group sizes sums back to the corpus") {
    val d = docsDF(1L -> "a", 2L -> "a", 3L -> "a", 4L -> "b", 5L -> "b", 6L -> "c")
    val out = Dedup.dupStats(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    out shouldBe Seq((1L, 1L, 1L), (2L, 1L, 2L), (3L, 1L, 3L))
  }

  test("shuffleOrder: key matches the MINSTD formula, shard bounded") {
    val d = docsDF(0L -> "x", 1L -> "y", 44683L -> "z", 123456789L -> "w")
    val out = TextAnalysis.shuffleOrder(d, 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def key(id: Long) = ((id % TextAnalysis.ShuffleFold) * TextAnalysis.ShuffleMult) %
      TextAnalysis.ShuffleMod
    for (id <- Seq(0L, 1L, 44683L, 123456789L)) {
      out(id)._1 shouldBe key(id)
      out(id)._2 shouldBe key(id) % 8
    }
    out(0L)._1 shouldBe 0L
    out(44683L)._1 shouldBe 0L // fold collision by design; doc_id tie-breaks
  }

  test("randomProject: matches a driver-side left-to-right fold, zero vec maps to zero") {
    val e = Seq((1L, Array(1.0f, 2.0f, 3.0f, 4.0f)), (2L, Array(0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.randomProject(e, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    out.size shouldBe 4
    for (j <- 0 until 2) {
      val dot = (0 until 4).foldLeft(0.0)((acc, i) =>
        acc + Array(1.0, 2.0, 3.0, 4.0)(i) * Similarity.rpSign(i, j))
      val exp = BigDecimal(dot / math.sqrt(2.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      out((1L, j + 1L)) shouldBe exp
      out((2L, j + 1L)) shouldBe 0.0
    }
  }

  test("pqEncode: codebook self-encodes at zero error, others to nearest slice, ties low") {
    val e = Seq(
      (0L, Array(0f, 0f, 10f, 10f)),
      (1L, Array(10f, 10f, 0f, 0f)),
      (2L, Array(1f, 1f, 9f, 9f)),
      (3L, Array(5f, 5f, 5f, 5f))).toDF("vec_id", "embedding")
    val out = Similarity.pqEncode(e, Seq(0L, 1L), 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(t => (t._1, t._2))
    out.toSeq shouldBe Seq(
      (0L, 0L, 0L, 0.0), (0L, 1L, 0L, 0.0),   // codeword 0 is itself
      (1L, 0L, 1L, 0.0), (1L, 1L, 1L, 0.0),   // codeword 1 is itself
      (2L, 0L, 0L, 2.0), (2L, 1L, 0L, 2.0),   // near codeword 0 in both
      (3L, 0L, 0L, 50.0), (3L, 1L, 0L, 50.0)) // exact tie -> lowest code
  }

  test("pqSearch: ADC distances are table lookups on codes, ties break to low id") {
    val e = Seq(
      (0L, Array(0f, 0f, 10f, 10f)),
      (1L, Array(10f, 10f, 0f, 0f)),
      (2L, Array(1f, 1f, 9f, 9f)),
      (3L, Array(2f, 2f, 8f, 8f))).toDF("vec_id", "embedding")
    // codes: v2 and v3 both quantize to codeword 0 in both subspaces, so
    // their ADC distance to query 0 is 0.0 (codes identical to v0's) and
    // the tie breaks to the lower neighbor id
    val out = Similarity.pqSearch(e, Seq(0L, 1L), 2, Seq(0L), 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._4)
    out.toSeq shouldBe Seq(
      (0L, 2L, 0.0, 1L), (0L, 3L, 0.0, 2L), (0L, 1L, 400.0, 3L))
  }

  test("unigramLogProb: hand-computed corpus distribution") {
    // tokens: a=2, b=2, c=1, N=5
    val out = TextAnalysis.unigramLogProb(docsDF(1L -> "a a b", 2L -> "b c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    out(0) shouldBe ((1L, 3L, -0.9163)) // avg = ln(0.4)
    out(1) shouldBe ((2L, 2L, -1.2629)) // (ln(0.4) + ln(0.2)) / 2
  }

  test("minhashEstimatePairs: identical docs estimate 1.0, disjoint docs never pair") {
    val d = docsDF(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta", // identical -> est 1.0
      3L -> "one two three four five six seven")   // disjoint vocabulary
    val out = Dedup.minhashEstimatePairs(d, minMatch = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out.toSeq shouldBe Seq((1L, 2L, 16L, 1.0))
  }

  test("ivfPqSearch with nprobe = all cells equals pqSearch; pruned neighbors stay in probed cells") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cells = Seq(7L, 23L, 41L)
    val cb = Seq(3L, 11L, 29L, 37L)
    val full = Similarity.ivfPqSearch(emb, cells, cb, 4, Seq(0L, 1L), nprobe = 3, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val flat = Similarity.pqSearch(emb, cb, 4, Seq(0L, 1L), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    full shouldBe flat
    // nprobe=1: every returned neighbor sits in its query's single probed cell
    val pruned = Similarity.ivfPqSearch(emb, cells, cb, 4, Seq(0L, 1L), nprobe = 1, k = 5)
    pruned.collect().length should be <= 10
    import org.apache.spark.sql.functions.col
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val assigned = Similarity.assignCells(e,
      e.filter(col("vec_id").isin(cells: _*))
        .select(col("vec_id").as("cell_id"), col("vec").as("cvec")))
      .select(col("vec_id"), col("cell_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prunedRows = pruned.collect().map(r => (r.getLong(0), r.getLong(1)))
    // each query probes exactly one cell; all its neighbors share it
    prunedRows.groupBy(_._1).foreach { case (_, rows) =>
      rows.map(p => assigned(p._2)).toSet.size shouldBe 1
    }
  }

  test("ivfRecall: all-cells probe pins recall 1.0, monotone in nprobe, n_found = pool intersection") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cells = Seq(3L, 17L, 29L)
    val qids = Seq(0L, 1L)
    val out = Similarity.ivfRecall(e, cells, qids, Seq(1, 2, 3), k = 5)
      .orderBy(col("nprobe")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out.map(_._1).toSeq shouldBe Seq(1L, 2L, 3L)
    // every arm audits the same exact pool: 2 queries x k=5
    out.foreach(_._2 shouldBe 10L)
    // any exact-top-k member that survives pruning is in the approx
    // top-k (fewer than k candidates can beat it), so growing the
    // candidate set can only add hits -> recall monotone in nprobe
    out.map(_._4).toSeq.sliding(2).foreach { case Seq(a, b) => a should be <= b }
    // probing every cell IS the exact scan
    out.last._3 shouldBe 10L
    out.last._4 shouldBe 1.0
    // n_found at nprobe=1 equals a direct pool intersection
    val exact = Similarity.bruteForceTopK(e, qids, 5).select("query_id", "neighbor_id")
    val ap1 = Similarity.ivfTopK(e, cells, qids, nprobe = 1, k = 5)
      .select("query_id", "neighbor_id")
    out.head._3 shouldBe exact.intersect(ap1).count()
  }

  test("pqRecall: pq arm equals all-cells ivf_pq arm; ivf_pq recall monotone, bounded by pq") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cells = Seq(7L, 23L, 41L)
    val cb = Seq(3L, 11L, 29L, 37L)
    val out = Similarity.pqRecall(e, cells, cb, 4, Seq(0L, 1L), Seq(1, 2, 3), k = 5)
      .orderBy(col("method"), col("nprobe")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    out.map(t => (t._1, t._2)).toSeq shouldBe
      Seq(("ivf_pq", 1L), ("ivf_pq", 2L), ("ivf_pq", 3L), ("pq", 0L))
    out.foreach(_._3 shouldBe 10L) // 2 queries x k=5 exact L2 pool
    // probing all cells makes IVF-PQ exactly the flat PQ scan
    out(2)._4 shouldBe out(3)._4
    // cell pruning can only remove candidates -> ivf_pq hits grow with
    // nprobe and never exceed the flat-PQ arm's
    out(0)._4 should be <= out(1)._4
    out(1)._4 should be <= out(2)._4
    out.foreach { t => t._5 should (be >= 0.0 and be <= 1.0) }
  }

  test("phashPairs: exact copy at hamming 0, perturbed copy within band, banding lossless vs brute force") {
    // 1600 "frames" of 8 bytes each; B perturbs ONE frame (a watermark
    // overlay), which breaks that frame's digest but moves each 60-bit
    // majority count by at most one vote — only counts sitting exactly
    // on the threshold can flip, so the signature stays within a small
    // hamming band. The margin argument needs MANY frames: measured on
    // this fixture family, 20 frames land at hamming 6+ (a sixth of the
    // counts sit on the boundary), 800 at 4, 1600 at 0
    val a = (0 until 1600).map(f => f"frame$f%04d".take(8)).mkString
    val b = a.substring(0, 8 * 7) + "WATERMRK" + a.substring(8 * 8)
    val c = (0 until 1600).map(f => f"OTHER$f%04d".take(8)).mkString
    val m = Seq((1L, a), (2L, b), (3L, a), (4L, c)).toDF("doc_id", "text")
    val out = Multimodal.phashPairs(m, "doc_id", "text", stride = 1, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    out((1L, 3L)) shouldBe 0L          // byte-identical copy
    out.keySet should contain((1L, 2L)) // one perturbed frame stays in band
    out((1L, 2L)) shouldBe out((2L, 3L))
    out.keySet.flatMap(p => Set(p._1, p._2)) should not contain 4L
    // losslessness of the chunk banding on the real corpus: banded
    // pairs == brute-force all-pairs hamming filter (pigeonhole:
    // hamming <= 3 < 4 chunks forces one intact shared chunk)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sig = Multimodal.phashStub(docs, "doc_id", "text", stride = 2)
    val banded = Multimodal.phashPairs(docs, "doc_id", "text", stride = 2, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = sig.as("a").join(sig.as("b"), col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id"), col("b.media_id"),
        expr("bit_count(a.phash ^ b.phash)").cast("long").as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    banded shouldBe brute
    banded should not be empty
  }

  // ---------- round 6 ----------

  test("gopherRules: each rule fails independently, clean doc passes") {
    val d = docsDF(
      1L -> "the cat sat on mat",   // all rules pass
      2L -> "a b",                  // word count too low
      3L -> "cat dog fox run big",  // no stopword
      4L -> "c4t d0g 9x9 the cat")  // alpha fraction 2/5 < 0.5
    val out = TextAnalysis.gopherRules(d, minWords = 3, maxWords = 10,
      minAvgLen = 1.0, maxAvgLen = 5.0, minStopHits = 1, minAlphaFrac = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(3), r.getDouble(4), r.getBoolean(5))).toMap
    out(1L) shouldBe ((5L, 1L, 1.0, true))
    out(2L)._4 shouldBe false
    out(3L) shouldBe ((5L, 0L, 1.0, false))
    out(4L) shouldBe ((5L, 1L, 0.4, false))
    // mean word length: (3+3+3+2+3)/5 = 2.8 for doc 1
    TextAnalysis.gopherRules(d, 3, 10, 1.0, 5.0, 1, 0.5)
      .filter(col("doc_id") === 1).select("mean_word_len")
      .head().getDouble(0) shouldBe 2.8
  }

  test("substringPairs: shared gram pairs, df cap prunes boilerplate grams") {
    val d = docsDF(
      1L -> "a b c d e",
      2L -> "x a b c y",        // shares gram "a b c" with doc 1
      3L -> "p q r s t",        // no shared grams
      4L -> "foo bar baz one",  // "foo bar baz" in 3 docs: df=3 > cap=2,
      5L -> "foo bar baz two",  // pruned -> no pairs among 4/5/6
      6L -> "foo bar baz six")
    val out = Dedup.substringPairs(d, n = 3, dfCap = 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.toSeq shouldBe Seq((1L, 2L, 1L))
    // without the cap the boilerplate pairs appear
    val uncapped = Dedup.substringPairs(d, n = 3, dfCap = 100L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    uncapped should contain allOf ((4L, 5L), (4L, 6L), (5L, 6L))
  }

  test("removeDuplicateSpans: covered tokens drop in higher docs, owner keeps all copies, overlaps union, short/empty/null docs survive") {
    val d = docsDF(
      1L -> "a b c d e f",       // owns every gram it has
      2L -> "x y a b c d q",     // 'a b c','b c d' first in doc 1: tokens 2..5 drop
      3L -> "a b c d x y z w",   // same spans drop; 'x y z' is NOT in doc 2 ('x y a')
      4L -> "",                  // one empty-string token, kept
      5L -> null)                // null text: 0 tokens, text ''
    val out = Dedup.removeDuplicateSpans(d, n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    out.toSeq shouldBe Seq(
      (1L, 6L, 0L, "a b c d e f"),
      (2L, 7L, 4L, "x y q"),     // overlapping grams union to ONE 4-token span
      (3L, 8L, 4L, "x y z w"),
      (4L, 1L, 0L, ""),
      (5L, 0L, 0L, ""))
    // within-doc repeats with no earlier owner are KEPT (the doc owns them)
    val rep = Dedup.removeDuplicateSpans(
      docsDF(7L -> "m n o m n o"), n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    rep.toSeq shouldBe Seq((7L, 0L, "m n o m n o"))
    // ... but a LOWER doc sharing the gram strips every copy downstream
    val owned = Dedup.removeDuplicateSpans(
      docsDF(1L -> "m n o", 7L -> "m n o m n o"), n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    owned.toSeq shouldBe Seq((1L, 0L, "m n o"), (7L, 6L, ""))
  }

  test("removeDuplicateSpans: hot boilerplate gram across many docs — one window group, lowest id owns, every higher doc strips") {
    // r19 internals change: first_doc is a min WINDOW over the gram key
    // (one exchange) instead of aggregate + join-back (two). A gram in
    // MANY docs co-locates all its occurrences in one window group —
    // this pins the hot-key shape: 40 docs share 'dup gram here', only
    // doc 1 keeps it, and unique tails survive everywhere.
    val hot = (1L to 40L).map(i => i -> s"dup gram here u$i tail$i")
    val out = Dedup.removeDuplicateSpans(docsDF(hot: _*), n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    out.length shouldBe 40
    out.head shouldBe ((1L, 5L, 0L, "dup gram here u1 tail1"))
    out.tail.zipWithIndex.foreach { case ((id, n_t, n_d, t), i) =>
      val doc = i + 2L
      (id, n_t, n_d, t) shouldBe ((doc, 5L, 3L, s"u$doc tail$doc"))
    }
  }

  test("removeCorpusSpans: corpus grams own everything, batch-internal repeats survive, persisted index round-trips") {
    val corpus = docsDF(1L -> "a b c d", 2L -> "p q r")
    val batch = docsDF(
      10L -> "x a b c y",     // 'a b c' in corpus: positions 1..3 drop
      11L -> "m n o m n o",   // batch-internal repeat, NOT in corpus: kept whole
      12L -> "p q r")         // fully owned by the corpus: empties
    def run(grams: org.apache.spark.sql.DataFrame) =
      Dedup.removeCorpusSpans(batch, grams, n = 3)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val expect = Seq(
      (10L, 5L, 3L, "x y"),
      (11L, 6L, 0L, "m n o m n o"),
      (12L, 3L, 3L, ""))
    run(Dedup.spanIndexRows(corpus, 3)) shouldBe expect
    // the persisted index is the same rows: write, read back, same output
    SparkEntry.withTempRoot(spark, "spanidx") { dir =>
      Dedup.writeSpanIndex(corpus, 3, s"$dir/idx")
      run(spark.read.parquet(s"$dir/idx").select("g")) shouldBe expect
    }
  }

  test("unigramLmTrain: hand-walked hard-EM on a 3-word corpus; encode counts; partition invariance") {
    // corpus: words ab(wc 2), abc(wc 1). Seed substrings aggregate to
    // a:3 b:3 ab:3 c:1 bc:1 abc:1; singles a,b,c always kept, the two
    // multi slots go to ab:3 then abc:1 (count desc, piece asc).
    // Round 1 (total 11): viterbi(ab)=[ab], viterbi(abc)=[abc] ->
    // counts ab:2 abc:1, singles floor to 0. Round 2 (floored total 6):
    // same segmentations -> fixed point.
    val d = docsDF(1L -> "ab ab abc")
    val out = TextAnalysis.unigramLmTrain(d, vocabSize = 5, maxPieceLen = 3,
        iters = 2)
      .orderBy("rn").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    out.toSeq shouldBe Seq(
      (1L, "ab", 2L), (2L, "abc", 1L),
      (3L, "a", 0L), (4L, "b", 0L), (5L, "c", 0L))
    // encode: every word is one piece under the trained vocab
    val enc = TextAnalysis.unigramLmEncode(d, vocabSize = 5, maxPieceLen = 3,
        iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    enc.toSeq shouldBe Seq((1L, 3L, 3L))
    // determinism: the trained table is a pure function of the corpus,
    // not of its partitioning
    val repart = TextAnalysis.unigramLmTrain(d.repartition(7), 5, 3, 2)
      .orderBy("rn").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    repart.toSeq shouldBe out.toSeq
  }

  test("unigramViterbi: exact cost ties break to the earliest split (longest final piece); missing chars fail loudly") {
    // "aaa" under costs a=1, aa=2, aaa=3: every segmentation costs 3.0
    // exactly - the ascending-split strict-< scan keeps the single piece
    TextAnalysis.unigramViterbi("aaa",
      Map("a" -> 1.0, "aa" -> 2.0, "aaa" -> 3.0), 3) shouldBe Seq("aaa")
    // a cheaper genuine minimum still wins over the tie preference; the
    // two 1.5-cost splits tie and the earliest FINAL split point wins,
    // making "aa" the last piece
    TextAnalysis.unigramViterbi("aaa",
      Map("a" -> 1.0, "aa" -> 0.5, "aaa" -> 3.0), 3) shouldBe Seq("a", "aa")
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.unigramViterbi("xy", Map("x" -> 1.0), 3)
    }
    ex.getMessage should include("unsegmentable")
  }

  test("semDedup: lowest id of each near-dup group survives, other cells untouched") {
    val e = embDF(
      1L -> Seq(1f, 0f),        // cell 1 (coarse)
      2L -> Seq(1f, 0.01f),     // near-dup of 1 -> dropped
      3L -> Seq(0.99f, 0.02f),  // near-dup of 1 -> dropped
      5L -> Seq(0f, 1f),        // cell 5 (coarse), alone
      6L -> Seq(-1f, 0.05f))    // cell 1 but anti-parallel: survives
    val out = Similarity.semDedup(e, Seq(1L, 5L), 0.9)
      .collect().map(_.getLong(0)).toSet
    out shouldBe Set(1L, 5L, 6L)
  }

  test("bm25TopDocs: matches a driver-side formula evaluation, absent terms score nothing") {
    val d = docsDF(1L -> "cat dog", 2L -> "cat cat cat fish", 3L -> "bird")
    val out = TextAnalysis.bm25TopDocs(d, Seq("cat", "dog"), 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // driver-side mirror of the exact operation order
    val (k1, b) = (1.2, 0.75)
    val n = 3L; val avgdl = 7.0 / n
    def wgt(tf: Long, df: Long, dl: Long): Double =
      math.log((n - df + 0.5) / (df + 0.5) + 1.0) * (tf * (k1 + 1.0)) /
        (tf + k1 * ((1.0 - b) + b * (dl / avgdl)))
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val s1 = r4(wgt(1, 2, 2) + wgt(1, 1, 2)) // cat + dog
    val s2 = r4(wgt(3, 2, 4))                // cat only
    val expect = Seq(1L -> s1, 2L -> s2).sortBy(t => (-t._2, t._1))
      .zipWithIndex.map { case ((id, s), i) => (id, s, (i + 1).toLong) }
    out.toSeq shouldBe expect
    out.map(_._1).toSet shouldBe Set(1L, 2L) // doc 3 has no query terms
  }

  test("bm25Probe over the persisted lexical index is bitwise the one-shot bm25TopDocs") {
    SparkEntry.withTempRoot(spark, "lexidx") { dir =>
      val d = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"))
      def key(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("rn").collect().map(r => (r.getLong(0),
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getLong(2)))
      val terms = Seq("spark", "window", "customer", "filter")
      TextAnalysis.writeLexIndex(d, dir)
      val probed = key(TextAnalysis.bm25Probe(spark, dir, terms, 10))
      probed shouldBe key(TextAnalysis.bm25TopDocs(d, terms, 10))
      probed.length shouldBe 10
      // the probe's postings scan pushes the term IN filter down
      val plan = TextAnalysis.bm25Probe(spark, dir, terms, 10)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      plan should include regex "PushedFilters: \\[[^\\]]*In\\(term"
      // a query of terms absent from the corpus ranks nothing, no throw
      TextAnalysis.bm25Probe(spark, dir, Seq("zzzznope"), 5).count() shouldBe 0L
    }
  }

  test("weightedSampleTopK: deterministic, dup-affine keys, heavier docs favored in aggregate") {
    val d = docsDF(
      1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta", // dups: same key
      3L -> "x", 4L -> "one two three four five six seven eight nine ten")
    val out = TextAnalysis.weightedSampleTopK(d, 4).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    out.length shouldBe 4
    val keys = out.map(t => t._1 -> t._2).toMap
    keys(1L) shouldBe keys(2L)     // identical content -> identical clock
    // reproducible across runs and partition layouts
    val again = TextAnalysis.weightedSampleTopK(d.repartition(4), 4).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    again.sortBy(_._3) shouldBe out.sortBy(_._3)
    // key = -ln(u)/w: recompute doc 3's clock by hand (w=1, fp("x")=120)
    val u3 = 121.0 / (TextAnalysis.FpMod + 1).toDouble
    val want = BigDecimal(-math.log(u3) / 1.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    keys(3L) shouldBe want
  }

  test("tfidfCosinePairs: clones score ~1, rare overlap outweighs common, cap prunes") {
    val d = docsDF(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta", // clone of 1 -> sim 1.0
      3L -> "one two three four five six seven",   // disjoint
      4L -> "alpha beta nine ten eleven twelve")   // shares one bigram with 1/2
    val out = Dedup.tfidfCosinePairs(d, threshold = 0.01, dfCap = 10L).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    out((1L, 2L)) shouldBe 1.0
    // one common (df=3, low-idf) shared bigram: present but weighted
    // down hard — the weighted-overlap point of the operator
    out((1L, 4L)) should be < 0.1
    (out.keySet.flatMap(p => Set(p._1, p._2)) should not).contain(3L)
    // a tight df cap prunes the shared bigram (df=3 > 2) -> no 1-4 pair,
    // but the clone pair (every bigram df=2) survives
    val capped = Dedup.tfidfCosinePairs(d, threshold = 0.01, dfCap = 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    capped shouldBe Set((1L, 2L))
  }

  test("bpeMergeStep: corpus-weighted adjacent char pairs, ranked") {
    // "aa ab" + "aa": word counts aa=2, ab=1 -> pairs: "aa"=2, "ab"=1;
    // single-char words emit nothing
    val d = docsDF(1L -> "aa ab x", 2L -> "aa")
    val out = TextAnalysis.bpeMergeStep(d, 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    out.toSeq shouldBe Seq(("aa", 2L, 1L), ("ab", 1L, 2L))
  }

  test("round-6 operators survive hostile input: empty text, no matches, short docs") {
    val hostile = docsDF(1L -> "", 2L -> "x", 3L -> "a b")
    // gopherRules: empty text tokenizes to [""], every rule fails, no throw
    val g = TextAnalysis.gopherRules(hostile, 3, 10, 1.0, 5.0, 1, 0.5).collect()
    g.length shouldBe 3
    g.map(_.getBoolean(5)).forall(_ == false) shouldBe true
    // substringPairs: all docs shorter than n emit no grams -> empty
    Dedup.substringPairs(hostile, n = 5, dfCap = 10L).count() shouldBe 0L
    // bm25: no document contains a query term -> empty ranking, no throw
    TextAnalysis.bm25TopDocs(hostile, Seq("zzz"), 5).count() shouldBe 0L
    // bpeMergeStep: "" and single chars emit no pairs; "a b" neither
    TextAnalysis.bpeMergeStep(hostile, 5).count() shouldBe 0L
  }

  test("pcaPowerDirection: unit norm, partition invariant, dominant on an anisotropic fixture") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val v1 = Similarity.pcaPowerDirection(e, 8).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1).map(_._2)
    math.abs(v1.map(x => x * x).sum - 1.0) should be < 1e-4
    val v8 = Similarity.pcaPowerDirection(e.repartition(8), 8).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1).map(_._2)
    v8 shouldBe v1
    // anisotropic fixture: variance concentrated on axis 0 -> the
    // direction must load overwhelmingly on dim 1
    val aniso = Seq.tabulate(20)(i => (i.toLong, Seq(10f * (i % 3 - 1), 0.1f, 0.1f)))
      .toDF("vec_id", "embedding")
    val d = Similarity.pcaPowerDirection(aniso, 8).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    math.abs(d(1L)) should be > 0.99
  }

  test("pcaSecondDirection: deflation yields a near-orthogonal unit direction") {
    // separated fixture: big variance on axis 1, medium on axis 2,
    // none on axis 3 -> v1 ~ e1, v2 ~ e2
    val rows = Seq.tabulate(30)(i =>
      (i.toLong, Seq(10f * (i % 3 - 1), 2f * (i % 2 * 2 - 1), 0.01f)))
    val e = rows.toDF("vec_id", "embedding")
    def vec(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1).map(_._2)
    val v1 = vec(Similarity.pcaPowerDirection(e, 8))
    val v2 = vec(Similarity.pcaSecondDirection(e, 8))
    math.abs(v2.map(x => x * x).sum - 1.0) should be < 1e-4
    math.abs(v1.zip(v2).map { case (a, b) => a * b }.sum) should be < 1e-3
    math.abs(v1(0)) should be > 0.99
    math.abs(v2(1)) should be > 0.99
  }

  test("sourceStats: dup fractions per source, blocklist bit on the rounded grid") {
    val d = Seq(
      (1L, "t1", "a"), (2L, "t2", "a"), (3L, "t3", "a"),
      (4L, "t4", "b"), (5L, "t5", "b"))
      .toDF("doc_id", "text", "source")
    val dupIds = Seq(2L, 4L, 5L).toDF("doc_id")
    val out = Dedup.sourceStats(d, dupIds, maxDupFrac = 0.4).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(5), r.getBoolean(6))).toMap
    out("a") shouldBe ((3L, 1L, 0.3333, false))
    out("b") shouldBe ((2L, 2L, 1.0, true))
  }
}

package graft

/** Plan-regression guards: the contract queries must keep the physical
  * plans that make them scale — filters pushed into the parquet scan,
  * schemas pruned to the referenced columns, joins staying equi/broadcast
  * where designed. A refactor that silently reads all columns or turns a
  * bucket join into a cartesian product fails here, not at 100 TB.
  */
class PlanSpec extends SparkSpec {

  import org.apache.spark.sql.execution.ExplainMode

  // the plan of the frame a line computes — for a store line, taken
  // while its temp root exists, before the scope collects the rows
  private def plan(name: String, mode: String = "formatted"): String =
    SparkEntry.lines.find(_.name == name).get
      .withFrame(spark, sf0001)(
        _.queryExecution.explainString(ExplainMode.fromString(mode)))

  test("p3_assign: null filters pushed to scan, schema pruned to 5 columns") {
    val p = plan("p3_assign")
    p should include("PushedFilters: [IsNotNull(l_quantity), IsNotNull(l_extendedprice), IsNotNull(l_discount)]")
    p should include("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double,l_discount:double>")
    (p should not).include("l_tax")
  }

  test("a1_recenter: scan reads only the three aggregated columns") {
    val p = plan("a1_recenter")
    p should include("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double>")
  }

  test("sil_lineitem: subset predicate pushed; no cartesian product") {
    val p = plan("sil_lineitem")
    p should include("LessThanOrEqual(l_orderkey,150)")
    (p should not).include("CartesianProduct")
  }

  test("sil_lineitem: one pair-sum kernel over one scan — the self-joins stay gone") {
    val p = plan("sil_lineitem", "simple")
    for (join <- Seq("SortMergeJoin", "BroadcastNestedLoopJoin", "BroadcastHashJoin"))
      (p should not).include(join)
    p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 1
  }

  test("ann_topk: query-id IN filter pushed to the embeddings scan") {
    val p = plan("ann_topk")
    p should include("In(vec_id, [0,1,2])")
  }

  test("q_hamming_ann: query-id IN pushed, schema pruned to (vec_id, embedding), query side broadcasts, nothing cartesian") {
    val p = plan("q_hamming_ann")
    p should include("In(vec_id, [0,1,2])")      // query-signature scan pruned
    p should include("BroadcastExchange")        // 3-row query side
    (p should not).include("CartesianProduct")
    (p should not).include("label")              // untouched column never read
  }

  test("q_hamming_refined: the exact rerank is a broadcast candidate fetch — nothing cartesian") {
    val p = plan("q_hamming_refined")
    p should include("In(vec_id, [0,1,2])")
    p should include("BroadcastExchange")
    (p should not).include("CartesianProduct")
  }

  test("q_retrieval_eval: top-k grading joins are equi or broadcast — nothing cartesian, qrels scanned ONCE") {
    val p = plan("q_retrieval_eval")
    (p should not).include("CartesianProduct")
    p should include("In(vec_id, [0,1,2])")
    // 4 embeddings scans total: ranker (corpus + query side) + qrels
    // (corpus + query side). The per-query relevant total rides as a
    // count WINDOW over the qrels frame, not a second aggregate of it —
    // a 5th/6th scan here means the r18-advisor double-reference
    // (Spark replans unshared subtrees) crept back in (simple mode:
    // formatted would list every scan twice, tree + details)
    "Scan parquet".r.findAllIn(plan("q_retrieval_eval", "simple")).length shouldBe 4
  }

  test("q_hard_negatives: query-id IN pushed, label read for the inequality join, broadcast query side, nothing cartesian") {
    val p = plan("q_hard_negatives")
    p should include("In(vec_id, [0,1,2])")
    p should include("BroadcastExchange")
    (p should not).include("CartesianProduct")
    p should include("ReadSchema: struct<vec_id:bigint,embedding:array<float>,label:int>")
  }

  test("mmr pool: query-vector filter pushed to scan, top-poolN via TakeOrderedAndProject, query side broadcasts") {
    // the distributed stage of q_mmr (the contract query's own plan is
    // the LocalRelation the driver-side greedy emits). The rn <= poolN
    // global window collapses to TakeOrderedAndProject — per-partition
    // top-N then a single merge, never a full corpus sort; the trailing
    // Window recomputes rn over the poolN survivors only.
    val p = graft.llm.Similarity.mmrPool(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"), 0L, 12)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    p should include("EqualTo(vec_id,0)")       // query-vector scan pruned
    p should include("TakeOrderedAndProject")   // no full corpus sort
    p should include("BroadcastExchange")       // 1-row query side
    (p should not).include("CartesianProduct")
  }

  test("mmr candidate fetch: broadcast point-join on vec_id, query scan pruned, nothing cartesian") {
    import spark.implicits._
    val p = graft.llm.Similarity.mmrCandidatePool(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
      Seq(1L, 2L, 3L).toDF("vec_id"), 0L)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    p should include("BroadcastHashJoin")        // id-keyed point fetch
    p should include("EqualTo(vec_id,0)")        // query-vector scan pruned
    (p should not).include("CartesianProduct")
    (p should not).include("SortMergeJoin")      // candidates never shuffle the corpus
  }

  test("dedup joins are equi-joins — never cartesian/nested-loop") {
    for (q <- Seq("dedup_jaccard", "dedup_minhash", "dedup_simhash", "q_simhash_wide")) {
      val p = plan(q)
      withClue(s"$q: ") {
        (p should not).include("CartesianProduct")
        (p should not).include("BroadcastNestedLoopJoin")
      }
    }
  }

  test("q_quality_quantile: one scan, one source-keyed window exchange, no self-join") {
    // the scorer carries `source` through its single scan (shared
    // qualityScored helper) — a doc_id self-join to recover it would
    // show up as a second documents scan + an extra join
    val p = plan("q_quality_quantile")
    (p should not).include("SortMergeJoin")
    (p should not).include("BroadcastHashJoin")
    p.sliding("documents.parquet".length).count(_ == "documents.parquet") shouldBe 1
  }

  test("q_bloom_dedup: might_contain probes the batch scan; verification joins broadcast, no corpus shuffle join") {
    // the membership path's whole point: the corpus folds into one
    // bloom aggregate (scalar subquery), the batch is pruned by
    // might_contain BEFORE any join, and both verification joins ride
    // broadcasts — a SortMergeJoin anywhere means the corpus shuffled
    val p = plan("q_bloom_dedup")
    p should include("might_contain")
    p should include("bloom_filter_agg")
    p should include("BroadcastHashJoin")
    (p should not).include("SortMergeJoin")
    (p should not).include("CartesianProduct")
  }

  test("chunk dedup family: keeper/blocklist joins broadcast, never nested-loop") {
    // chunkDedup: the (doc_id, chunk_id) keeper membership is a
    // broadcast LEFT SEMI (keeper set <= chunk table); boilerplate: the
    // blocklist is a broadcast LEFT ANTI; both reassemble through LEFT
    // OUTER joins FROM the documents table so emptied AND null-text
    // docs survive
    val cd = plan("q_chunk_dedup")
    cd should include("BroadcastHashJoin LeftSemi")
    cd should include("BroadcastHashJoin LeftOuter")
    val bp = plan("q_boilerplate")
    bp should include("BroadcastHashJoin LeftAnti")
    bp should include("BroadcastHashJoin LeftOuter")
    for ((q, p) <- Seq("q_chunk_dedup" -> cd, "q_boilerplate" -> bp))
      withClue(s"$q: ") {
        (p should not).include("CartesianProduct")
        (p should not).include("BroadcastNestedLoopJoin")
      }
  }

  test("q_token_budget: join-free — one source-keyed exchange feeds the window") {
    // the budgets map is a literal lookup, NOT a join; the running-sum
    // window must ride a single hashpartitioning(source) exchange (the
    // orderBy adds a rangepartitioning, the groupBy reuses the window's
    // partitioning or adds one hash exchange at most)
    val p = plan("q_token_budget", "simple")
    (p should not).include("Join")
    p.linesIterator.count(_.contains("Exchange hashpartitioning")) should be <= 2
    p should include("Window")
  }

  test("q_bigram_lp: vocabulary joins all broadcast, never nested-loop") {
    val p = plan("q_bigram_lp")
    p should include("BroadcastHashJoin")
    p should include("BroadcastHashJoin LeftOuter") // short-doc left join
    (p should not).include("CartesianProduct")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("SortMergeJoin")
  }

  test("q_trigram_lp: model count tables all broadcast LEFT joins, never sort-merge") {
    // the backoff ladder is five LEFT equi-joins against vocab-sized
    // model tables — broadcast at contract scale, shuffle joins (still
    // correct) at real vocabulary sizes; never a cartesian
    val p = plan("q_trigram_lp")
    p should include("BroadcastHashJoin LeftOuter")
    (p should not).include("CartesianProduct")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("SortMergeJoin")
  }

  test("q_token_budget_trim: the bucket bound broadcasts into a LeftSemi, one serial window") {
    val p = plan("q_token_budget_trim")
    p should include("BroadcastHashJoin LeftSemi")
    (p should not).include("SortMergeJoin")
  }

  test("assignment expression stays inside whole-stage codegen") {
    plan("p3_assign", "codegen") should include("WholeStageCodegen")
  }

  test("events windowed family: exactly one user-keyed exchange each") {
    // sessionize, session_window, moving_avg, and ffill are all
    // single-pass window pipelines over the adaptive events reader:
    // ONE hashpartitioning exchange (by user) must feed the window
    // operators — a second exchange means the reader's tus projection
    // broke partitioning reuse and the pipeline re-shuffles at scale
    for (q <- Seq("events_sessionize", "q_session_window", "q_moving_avg", "q_ffill")) {
      val p = plan(q, "simple")
      withClue(s"$q: ") {
        p.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
      }
    }
  }

  test("events reader: ts is pruned from the scan when tus is unused") {
    // the adaptive reader projects ts -> tus for every caller; queries
    // that never touch tus must not pay for the timestamp column at
    // the parquet scan (a 100 TB events table reads it for nothing if
    // the withColumn blocks pruning)
    val p = plan("q_distinct_users")
    p should include("ReadSchema: struct<user_id:bigint,event_type:string>")
  }

  test("q_asof_join: event-type filters pushed to scan; no range join") {
    val p = plan("q_asof_join")
    p should include("EqualTo(event_type,click)")
    p should include("EqualTo(event_type,view)")
    (p should not).include("CartesianProduct")
    (p should not).include("BroadcastNestedLoopJoin")
  }

  test("q_anti_join: anti + dim joins broadcast, status filter pushed") {
    val p = plan("q_anti_join")
    p should include("EqualTo(o_orderstatus,P)")
    p should include("LeftAnti")
    (p should not).include("SortMergeJoin")
  }

  test("q_ngram_topk: partial top-k (WindowGroupLimit) before the shuffle") {
    plan("q_ngram_topk") should include("WindowGroupLimit")
  }

  test("IVF cell assignment is a pure projection: no Exchange, no Window") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val coarse = e.filter(col("vec_id").isin(7L, 123L, 247L))
      .select(col("vec_id").as("cell_id"), col("vec").as("cvec"))
    val assigned = graft.llm.Similarity.assignCells(e, coarse)
    val p = assigned.queryExecution.executedPlan.toString()
    (p should not).include("Exchange")
    (p should not).include("Window")
    (p should not).include("Join")
    // and it still assigns every vector
    assigned.count() shouldBe emb.count()
  }

  test("large-K cell assignment (join fallback): broadcast cells, one corpus exchange") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    // K = 300 > MaxInlineCells(256) forces the broadcast-join path — the
    // 100 TB-regime shape: cells broadcast, the SAME codegen'd L2² kernel
    // scores each (vec, cell) pair, and the argmin is one min(struct)
    // aggregation whose map-side partials shrink the single corpus-wide
    // exchange to a row per vector.
    val coarse = e.filter(col("vec_id") < 300)
      .select(col("vec_id").as("cell_id"), col("vec").as("cvec"))
    val assigned = graft.llm.Similarity.assignCells(e, coarse)
    val p = assigned.queryExecution.executedPlan.toString()
    p should include("BroadcastNestedLoopJoin")
    (p should not).include("SortMergeJoin")
    (p should not).include("Window")
    p.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
    assigned.count() shouldBe emb.count()
  }

  test("q_quantize: pure projection — the only exchange is the output sort") {
    val p = plan("q_quantize", "simple")
    (p should not).include("Join")
    (p should not).include("Window")
    (p should not).include("hashpartitioning") // no aggregation shuffle
    p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 1
  }

  test("dedup_incremental: broadcast anti join, batch filter pushed to both scans") {
    val p = plan("dedup_incremental")
    p should include("LeftAnti")
    (p should not).include("CartesianProduct")
    (p should not).include("SortMergeJoin") // corpus side broadcasts at contract scale
  }

  test("q_winnow: one scan, no join — window frame does the per-doc minima") {
    val p = plan("q_winnow", "simple")
    (p should not).include("Join")
    p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 1
  }

  test("parquet aggregate pushdown: COUNT/MIN/MAX answered from footer metadata") {
    val confs = Seq(
      "spark.sql.sources.useV1SourceList" -> "",
      "spark.sql.parquet.aggregatePushdown" -> "true")
    val olds = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions.{count, lit, max}
      val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .agg(count(lit(1)).as("n"), max("l_orderkey").as("mx"))
      df.queryExecution.executedPlan.toString() should include("PushedAggregation")
      df.head().getLong(0) should be > 0L
    } finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom-filter join pruning engages for selective non-broadcast joins") {
    // the 100 TB shuffle saver: a bloom filter built from the filtered
    // (small) join side is pushed into the big side's scan, dropping
    // non-matching rows BEFORE the shuffle. Pin that the optimizer
    // actually injects it when enabled (off-by-default thresholds would
    // silently skip it at contract scale).
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val olds = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions.col
      val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      val ord = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        .filter(col("o_totalprice") > 400000)
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val p = j.queryExecution.optimizedPlan.toString()
      p should include("bloom_filter_agg")
      p.toLowerCase should include("might_contain")
      j.count() should be > 0L
    } finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("pipeline_filter: single scan, one aggregation shuffle") {
    val p = plan("pipeline_filter", "simple")
    // quality+language gate runs pre-shuffle: no join in the plan at all
    (p should not).include("Join")
    p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 1
  }

  test("q_mask: pure single-scan projection — no join, one scan") {
    val p = plan("q_mask", "simple")
    (p should not).include("Join")
    p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 1
  }

  test("q_sample: filter runs pre-aggregation on a single pruned scan") {
    val p = plan("q_sample", "simple")
    (p should not).include("Join")
    p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 1
    // scan reads only the three referenced columns
    plan("q_sample") should include("ReadSchema: struct<doc_id:bigint,text:string,lang:string>")
  }

  test("q_stratified_sample: per-group limit runs map-side (WindowGroupLimit), one scan") {
    val p = plan("q_stratified_sample", "simple")
    p should include("WindowGroupLimit")
    (p should not).include("Join")
    p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 1
  }

  test("q_incr_minhash: batch band table broadcasts — corpus side never shuffles for the probe") {
    val p = plan("q_incr_minhash", "simple")
    p should include("BroadcastHashJoin [band")
    (p should not).include("CartesianProduct")
  }

  test("q_incr_edit: the probe stays broadcast — the edit twin inherits the incremental shape") {
    val p = plan("q_incr_edit", "simple")
    p should include("BroadcastHashJoin [band")
    (p should not).include("CartesianProduct")
  }

  test("q_mad_outliers: four windows share one source-keyed exchange, single scan, no join") {
    val p = plan("q_mad_outliers", "simple")
    (p should not).include("Join")
    p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 1
    p.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
  }

  test("q_quality_calibration: score and rule flags fuse on ONE scan — no doc_id self-join") {
    val p = plan("q_quality_calibration", "simple")
    (p should not).include("Join")
    p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 1
  }

  test("q_datasheet: one corpus scan feeds the whole per-source report — no self-join") {
    val p = plan("q_datasheet", "simple")
    (p should not).include("Join")
    p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 1
  }

  test("q_incr_sem: assigned batch broadcasts on cell_id — corpus assignment never shuffles") {
    val p = plan("q_incr_sem", "simple")
    p should include("BroadcastHashJoin [cell_id")
    (p should not).include("CartesianProduct")
    // both sides assign via the literal-centroid argmin projection: the
    // only exchange tolerated is the broadcast itself
    (p should not).include("Exchange hashpartitioning")
  }

  test("q_quality_sample: single-scan filter + aggregate, no join") {
    val p = plan("q_quality_sample", "simple")
    (p should not).include("Join")
    p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 1
  }

  test("q_decontaminate: benchmark side broadcasts; both joins stay broadcast") {
    val p = plan("q_decontaminate", "simple")
    // semi probe of the benchmark n-gram set and the final anti join must
    // both be broadcast hash joins — a shuffled join here means the
    // corpus-wide exchange the operator exists to avoid
    p should include("BroadcastHashJoin [s")
    p should include("LeftSemi")
    p should include("LeftAnti")
    (p should not).include("SortMergeJoin")
    (p should not).include("CartesianProduct")
  }

  test("q_shuffle: pure projection, scan pruned to doc_id alone") {
    val p = plan("q_shuffle")
    (p should not).include("Exchange hashpartitioning")
    p should include("ReadSchema: struct<doc_id:bigint>")
  }

  test("q_rp: projection + generate only — the sign matrix never shuffles or broadcasts") {
    val p = plan("q_rp")
    (p should not).include("Exchange hashpartitioning")
    (p should not).include("BroadcastExchange")
    (p should not).include("Join")
  }

  test("q_pq_search: codes-only scan; top-k trims map-side before the one exchange") {
    val p = plan("q_pq_search")
    p should include("WindowGroupLimit")
    (p should not).include("Join")
    // exactly one hash exchange: the per-query top-k window
    "Exchange hashpartitioning".r.findAllIn(plan("q_pq_search", "simple")).size shouldBe 1
  }

  test("q_gopher: pure single-scan projection — rules never shuffle or join") {
    val p = plan("q_gopher", "simple")
    (p should not).include("Join")
    (p should not).include("hashpartitioning") // no aggregation shuffle
    p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 1
    plan("q_gopher") should include("ReadSchema: struct<doc_id:bigint,text:string>")
  }

  test("q_quality_classifier: single-scan projection — the learned scorer never shuffles or joins") {
    val p = plan("q_quality_classifier", "simple")
    (p should not).include("Join")
    (p should not).include("hashpartitioning") // no aggregation shuffle
    p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 1
    plan("q_quality_classifier") should include("ReadSchema: struct<doc_id:bigint,text:string>")
  }

  test("q_retrieval: tiny top-k side broadcasts — the documents scan never shuffles for the join") {
    val p = plan("q_retrieval")
    p should include("BroadcastHashJoin")
    // top-k trims map-side before its one exchange
    p should include("WindowGroupLimit")
    (p should not).include("SortMergeJoin")
  }

  test("q_full_outer: full outer stays an equi sort-merge join, aggregates partial map-side") {
    val p = plan("q_full_outer")
    p should include("FullOuter")
    (p should not).include("CartesianProduct")
    (p should not).include("BroadcastNestedLoopJoin")
    p should include("partial_count")
  }

  test("q_bpe_merge: global rank filter becomes an ordered limit over the pair aggregate") {
    // LimitPushDownThroughWindow rewrites the rn <= k filter into a
    // global top-k (TakeOrderedAndProject), so only k rows ever reach
    // the window — no single-partition sort of the pair table
    val p = plan("q_bpe_merge")
    p should include("TakeOrderedAndProject")
    (p should not).include("Join")
  }

  test("q_scalar_subquery: decorrelated to aggregated broadcast joins — no per-row subquery") {
    val p = plan("q_scalar_subquery")
    (p should not).include("scalar-subquery")
    p should include("BroadcastHashJoin")
    p should include("partial_count")
  }

  test("q_range_frame: one user-keyed exchange feeds the RANGE window") {
    val p = plan("q_range_frame", "simple")
    p should include("RangeFrame")
    p.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
  }

  test("q_weighted_sample: global rank filter becomes an ordered limit") {
    val p = plan("q_weighted_sample")
    p should include("TakeOrderedAndProject")
    (p should not).include("Join")
  }

  test("q_binned_range: bin equi-join, never a nested-loop theta join") {
    val p = plan("q_binned_range")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
    p should include("BroadcastHashJoin")
  }

  test("q_pca_project: the fitted direction inlines — projection is a pure scan") {
    val p = plan("q_pca_project", "simple")
    (p should not).include("Join")
    (p should not).include("hashpartitioning") // no shuffle before the sort
    p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 1
  }

  test("q_ivf_pq: cell+code projection, no join, one top-k exchange") {
    val p = plan("q_ivf_pq")
    p should include("WindowGroupLimit")
    (p should not).include("Join")
    "Exchange hashpartitioning".r.findAllIn(plan("q_ivf_pq", "simple")).size shouldBe 1
  }

  test("q_label_drift: ONE embeddings scan — the vector count rides the centroid aggregate") {
    val p = plan("q_label_drift", "simple")
    p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 1
    (p should not).include("CartesianProduct")
  }

  test("q_cell_sample: assignment is a pure projection; per-cell trim runs map-side") {
    val p = plan("q_cell_sample")
    (p should not).include("Join") // literal-centroid argmin, no cell join
    p should include("WindowGroupLimit") // quota trims before the shuffle
    // one window exchange + the output-sort range exchange, nothing else
    "Exchange hashpartitioning".r.findAllIn(plan("q_cell_sample", "simple")).size shouldBe 1
  }

  test("q_rrf3: fusion joins are equi full-outer — never cartesian/nested-loop") {
    val p = plan("q_rrf3")
    (p should not).include("CartesianProduct")
    // the scorers' broadcast-tiny-query-vs-corpus NL joins are the
    // designed ANN shape (same as ann_topk); the FUSION folds must
    // stay equi joins
    (p should not).include("BroadcastNestedLoopJoin FullOuter")
    p should include("FullOuter")
  }

  test("q_source_drift: single documents scan feeds every histogram aggregate") {
    val p = plan("q_source_drift", "simple")
    p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 1
    (p should not).include("CartesianProduct")
  }

  test("q_forget: the cascade probe inherits the incremental broadcast shape") {
    val p = plan("q_forget")
    // request selection + band probe broadcast; the corpus never
    // shuffles for the candidate join
    p should include("BroadcastHashJoin")
    (p should not).include("CartesianProduct")
    (p should not).include("SortMergeJoin [band")
  }

  test("q_oov: the vocabulary broadcasts — token stream never shuffles for membership") {
    val p = plan("q_oov")
    p should include("TakeOrderedAndProject") // vocab = top-K artifact
    p should include("BroadcastHashJoin")
    (p should not).include("SortMergeJoin")
  }

  test("q_redact: pure single-scan projection — the scrub never shuffles or joins") {
    val p = plan("q_redact", "simple")
    (p should not).include("Join")
    p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 1
  }

  test("q_curriculum and q_mixture: join-free / broadcast-weights shapes hold") {
    (plan("q_curriculum", "simple") should not).include("Join")
    val m = plan("q_mixture")
    (m should not).include("CartesianProduct") // 1-row bottleneck broadcast-NL is fine
    m should include("BroadcastHashJoin") // weights join
  }

  test("q_bursts: EAGER + cached — served from the materialized burst table; totals join broadcast") {
    // the operator persists its (batch, word) spine across both
    // consumers (one parquet scan fills it) and materializes the burst
    // table before returning — the served plan reads the cache, and the
    // only join in the lineage is the broadcast of the batches-sized
    // totals
    val p = plan("q_bursts", "simple")
    p should include("InMemoryTableScan")
    p should include("BroadcastHashJoin")
    (p should not).include("SortMergeJoin")
    (p should not).include("CartesianProduct")
  }

  test("q_cell_medoids: fitted-cell assignment is a projection; one medoid aggregate, no sort-merge") {
    val p = plan("q_cell_medoids", "simple")
    // centroid re-attach broadcasts; the only shuffle is the cell-keyed
    // min-struct aggregate (plus AQE bookkeeping) — never a window sort
    // over whole cells
    p should include("BroadcastHashJoin")
    (p should not).include("SortMergeJoin")
    (p should not).include("Window")
  }

  test("q_mixed_lang: ONE documents scan, join-free — chunk votes fold through windows") {
    val p = plan("q_mixed_lang", "simple")
    p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 1
    (p should not).include("Join")
  }

  test("q_scd2_pit: the as-of union-window shape — no range join, no cartesian") {
    val p = plan("q_scd2_pit", "simple")
    p should include("Window")
    (p should not).include("CartesianProduct")
    (p should not).include("BroadcastNestedLoopJoin")
  }

  test("q_scd2: the MERGE shape — one full-outer key join, history never re-scanned") {
    val p = plan("q_scd2", "simple")
    p should include("FullOuter")
    // customer is read once for the history side and once for the change
    // batch (two INPUTS, not a duplicated subtree); the closed rows ride
    // through the join, so no third scan exists
    p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 2
    (p should not).include("CartesianProduct")
  }

  test("q_span_removal: EAGER + cached — served from the materialized output; nothing cartesian in the lineage") {
    // the operator persists + materializes its reassembled output and
    // releases the internal gram/token caches before returning (the
    // q_bursts discipline): the served plan reads the cache, and span
    // detection is a min window over the gram key (r19: one exchange,
    // no join-back) — no pair generation anywhere
    val p = plan("q_span_removal", "simple")
    p should include("InMemoryTableScan")
    (p should not).include("CartesianProduct")
  }

  test("q_corpus_card_diff: bands + two cards compose without a cartesian; the id diff is the one full-outer merge join") {
    val p = plan("q_corpus_card_diff", "simple")
    p should include("FullOuter")
    (p should not).include("CartesianProduct")
    // the datasheet cards keep their window folds; the final source-keyed
    // stitches stay equi-joins
    p should include("Window")
  }

  test("ann_indexed: the stored-index probe partition-prunes on cell_id and plans no join") {
    val p = plan("ann_indexed")
    p should include regex "PartitionFilters: \\[[^\\]]*cell_id"
    (p should not).include("Join")
  }

  test("q_scd2_del: the tombstone merge keeps the MERGE shape — one full-outer key join, history never re-scanned") {
    val p = plan("q_scd2_del", "simple")
    p should include("FullOuter")
    // history side + change side: two scans, no third (the op column
    // rides the change projection, nothing new shuffles)
    p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 2
    (p should not).include("CartesianProduct")
  }

  test("q_scd2_erase: the hard-erase is one broadcast anti-join over the history — nothing cartesian, no extra history scan") {
    val p = plan("q_scd2_erase", "simple")
    p should include("LeftAnti")
    p should include("BroadcastHashJoin")
    (p should not).include("CartesianProduct")
  }

  test("q_hybrid_retrieval: the cross-modality fusion joins stay equi — nothing cartesian, the rank join is full-outer on (query, neighbor)") {
    val p = plan("q_hybrid_retrieval", "simple")
    p should include("FullOuter")
    (p should not).include("CartesianProduct")
  }

  test("q_bm25_indexed: the stored-postings probe pushes the term IN filter to the scan; corpus text is never read") {
    val p = plan("q_bm25_indexed")
    p should include regex "PushedFilters: \\[[^\\]]*In\\(term"
    (p should not).include("documents.parquet")
  }

  test("ann_compacted: the compacted-store probe keeps cell_id partition pruning and the committed-view generation filter; no join") {
    val p = plan("ann_compacted")
    p should include regex "PartitionFilters: \\[[^\\]]*cell_id"
    p should include regex "PartitionFilters: \\[[^\\]]*ingest_batch"
    (p should not).include("Join")
  }

  test("ann_forget: after the physical apply the probe plan is clean — partition pruning intact, the cleared deletion anti-join optimized away") {
    val p = plan("ann_forget")
    p should include regex "PartitionFilters: \\[[^\\]]*cell_id"
    // deletes were applied and cleared at compact: deletedIds is an empty
    // local relation, so PropagateEmptyRelation removes the anti-join
    (p should not).include("Join")
  }

  test("q_hybrid_indexed: one plan carries BOTH store probes — term IN pushed to the postings scan, cell_id partition pruning on the vector index, rank join full-outer, nothing cartesian, corpus text never read") {
    val p = plan("q_hybrid_indexed")
    p should include regex "PushedFilters: \\[[^\\]]*In\\(term"
    p should include regex "PartitionFilters: \\[[^\\]]*cell_id"
    p should include("FullOuter")
    (p should not).include("CartesianProduct")
    (p should not).include("documents.parquet")
  }

  test("q_bm25_multi: the union of all query terms pushes to ONE postings slice scan; corpus text never read") {
    val p = plan("q_bm25_multi")
    p should include regex "PushedFilters: \\[[^\\]]*In\\(term"
    (p should not).include("documents.parquet")
  }

  test("q_ann_filtered: the predicate-filtered probe keeps cell_id partition pruning and plans no join") {
    val p = plan("q_ann_filtered")
    p should include regex "PartitionFilters: \\[[^\\]]*cell_id"
    (p should not).include("Join")
  }

  test("q_ann_refined: the exact re-rank is broadcast-joined candidate fetch — nothing cartesian") {
    val p = plan("q_ann_refined", "simple")
    p should include("BroadcastHashJoin")
    (p should not).include("CartesianProduct")
  }

  test("q_bm25_forget: the post-forget probe still pushes the term IN filter to the postings scan") {
    val p = plan("q_bm25_forget")
    p should include regex "PushedFilters: \\[[^\\]]*In\\(term"
    (p should not).include("documents.parquet")
  }

  test("q_rag_answer: the passage fetch is a broadcast point-join of the k-row selection — one documents scan, the corpus never shuffles") {
    // the MMR selection collects to a LocalRelation during construction;
    // what remains IS the serving fetch: docs ⋈ broadcast(k rows)
    val p = plan("q_rag_answer")
    p should include("BroadcastHashJoin")
    (p should not).include("SortMergeJoin")
    (p should not).include("CartesianProduct")
    p.sliding("documents.parquet".length)
      .count(_ == "documents.parquet") shouldBe 1
  }

  test("store-served refine tail: the index probe keeps cell_id partition pruning through the STORED quantizer; the rerank fetch against the vec store's liveView is a broadcast point-join") {
    import spark.implicits._
    import graft.llm.Similarity
    import graft.streaming.{VecStoreIngest, VectorIndexIngest}
    val dir = java.nio.file.Files.createTempDirectory("plan_served").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val quant = Similarity.trainIvfPqQuantizer(
      emb, Seq(7L, 123L, 247L, 331L, 433L), Seq(11L, 57L, 201L, 401L), 4)
    VectorIndexIngest.ingestBatch(emb, s"$dir/idx", quant, 0L)
    VecStoreIngest.ingestBatch(emb, s"$dir/vecs", 0L)
    val vecs = VecStoreIngest.view(spark, s"$dir/vecs")
    def fmt(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // probe THROUGH the read-back model: the inlined probe lists still
    // land in the scan's partition filters (directory pruning), and the
    // store-served path plans no join
    val probe = Similarity.ivfPqProbe(
      VectorIndexIngest.index(spark, s"$dir/idx"),
      VectorIndexIngest.quantizer(spark, s"$dir/idx"),
      Similarity.collectVectors(vecs, Seq(0L, 1L, 2L)), nprobe = 2, k = 20)
    val pp = fmt(probe)
    pp should include regex "PartitionFilters: \\[[^\\]]*cell_id"
    (pp should not).include("embeddings.parquet") // raw corpus never read
    // the exact-rerank fetch: candidate ids broadcast against the store
    // view — an id-keyed point fetch, never a corpus shuffle
    val pf = fmt(Similarity.refineExact(vecs,
      Seq((0L, 1L), (0L, 2L), (1L, 3L)).toDF("query_id", "neighbor_id"),
      Seq(0L, 1L), k = 2))
    pf should include("BroadcastHashJoin")
    (pf should not).include("SortMergeJoin")
    (pf should not).include("CartesianProduct")
    (pf should not).include("embeddings.parquet")
  }
}

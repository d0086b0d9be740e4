package graft

/** Physical-plan assertions for the scale claims in SCALE.md — these
  * lock the plan SHAPE, which is what survives (or dies at) 100 TB:
  * filters pushed to the scan, columns pruned, one shuffle where one is
  * claimed, dims broadcast but facts never, the dot product native, and
  * no Cartesian product anywhere. Planning only (one marked exception:
  * the seam-reuse test executes a tiny in-memory frame, because AQE
  * stage reuse is observable only at runtime).
  */
class PlanShapeSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q1 pushes the shipdate filter into the parquet scan") {
    val p = plan("q1_pricing")
    // each pushed filter independently — filter ORDER in the list is
    // not a stable contract across Spark optimizer versions
    assert(p.contains("PushedFilters: ["), p.take(3000))
    assert(p.contains("IsNotNull(l_shipdate)"), p.take(3000))
    assert(p.contains("LessThanOrEqual(l_shipdate"), p.take(3000))
  }

  test("tokenize prunes the documents scan to doc_id + text") {
    val p = plan("tokenize")
    assert(p.contains("ReadSchema") && p.contains("text:string"), p.take(2000))
    assert(!p.contains("source:string") && !p.contains("lang:string"),
      "scan reads columns the query never uses:\n" + p.take(2000))
  }

  test("wordstats is one scan + one first_words kernel, zero exchanges") {
    // a document is one row: its first-seen dedup is row-local, so the
    // canonical query must not shuffle, and the kernel runs once per
    // document (not copied into both explode and words_count)
    val p = plan("wordstats")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges === 0, s"expected no shuffle, got $exchanges:\n${p.take(3000)}")
    val kernels = "first_words\\(".r.findAllIn(p).size
    assert(kernels === 1, s"expected one kernel call, got $kernels:\n${p.take(3000)}")
  }

  test("q5 broadcasts the three dims and shuffles the fact-fact joins") {
    // At the toy SF the size-based planner would broadcast the facts
    // too; disabling auto-broadcast exposes the STRUCTURAL shape — the
    // explicit broadcast() hints survive, size-based ones don't. This
    // is exactly the 100 TB situation, where no fact fits an executor.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = plan("q5_region_revenue")
      val bcast = "BroadcastHashJoin".r.findAllIn(p).size
      assert(bcast === 3, s"expected nation/region/supplier broadcast, got $bcast")
      val shuffleJoins =
        "SortMergeJoin".r.findAllIn(p).size + "ShuffledHashJoin".r.findAllIn(p).size
      assert(shuffleJoins >= 2, s"fact-fact joins must stay shuffle joins:\n${p.take(3000)}")
    } finally spark.conf.set(key, old)
  }

  test("q18 shape: single lineitem scan pruned to 2 columns, top-k never sorts globally") {
    val p = plan("q18_big_orders")
    // the agg subquery's sum is REUSED — exactly one lineitem scan
    assert("lineitem\\.parquet".r.findAllIn(p).size === 1,
      s"q18 must scan lineitem once (sum_qty reused from the subquery):\n${p.take(3000)}")
    // ... and that scan reads only (l_orderkey, l_quantity) of 11 cols
    assert(p.contains("l_quantity") && !p.contains("l_extendedprice"),
      "lineitem scan reads columns q18 never uses:\n" + p.take(3000))
    assert(p.contains("TakeOrderedAndProject"),
      s"q18 top-100 must be TakeOrderedAndProject, not a global sort:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the fact-derived big-orders side must NOT be a structural
    // broadcast: with size-based broadcasting off (the 100 TB
    // situation), both joins stay shuffle joins for AQE to re-plan
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p2 = plan("q18_big_orders")
      val shuffleJoins =
        "SortMergeJoin".r.findAllIn(p2).size + "ShuffledHashJoin".r.findAllIn(p2).size
      assert(shuffleJoins === 2,
        s"q18's two joins must stay shuffle joins:\n${p2.take(3000)}")
    } finally spark.conf.set(key, old)
  }

  test("similarity operators use the native dot product, not HOFs") {
    for (q <- Seq("emb_topk", "emb_ann_lsh", "emb_ann_ivf", "emb_neardup",
        "emb_ann_lsh_scaled", "emb_ann_ivf_scaled")) {
      val p = plan(q)
      assert(p.contains("dot_product_long"), s"$q lost the codegen dot:\n${p.take(2000)}")
      assert(!p.contains("zip_with"), s"$q still has the HOF dot:\n${p.take(2000)}")
    }
  }

  test("IVF assignment exchange is reused, not recomputed per join side") {
    // annIvf references its assigned frame three times (join side a,
    // join side b, final output); the expensive n·K assignment must run
    // once — ReuseExchange collapses the identical subtrees. Executes,
    // since reuse is decided at runtime under AQE. (annLsh's sides are
    // size-dependent — at toy SF they become broadcasts — so only the
    // IVF shape is asserted.)
    val df = SparkEntry.queries("emb_ann_ivf")(spark, dir)
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      s"emb_ann_ivf recomputes its assignment:\n${p.take(3000)}")
  }

  test("events_rolling is one shuffle + ONE WindowExec for all rolling aggs") {
    val p = plan("events_rolling")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"rolling aggs should shuffle once on the key:\n${p.take(3000)}")
    assert("Window ".r.findAllIn(p).size === 1,
      s"both rolling aggregates must share one WindowExec:\n${p.take(3000)}")
  }

  test("rel_zorder is a pure narrow projection — zero exchanges") {
    val p = plan("rel_zorder")
    assert(!p.contains("Exchange"),
      s"the Morton interleave must not shuffle:\n${p.take(2000)}")
    assert(p.contains("*(1) Project"), // the WholeStageCodegen star marker
      s"bit arithmetic fell out of codegen:\n${p.take(2000)}")
  }

  test("rel_rollup computes every hierarchy level in one Expand + agg pass") {
    val p = plan("rel_rollup")
    assert(p.contains("Expand"), s"rollup did not plan an Expand:\n${p.take(2000)}")
    // one shuffle for the grouped agg (partial → final), none per level
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"rollup shuffles more than the single grouped agg:\n${p.take(3000)}")
  }

  test("hybrid search branches off the checkpointed hit table, not the corpus") {
    // one corpus pass for both scorers: after the hit-table checkpoint
    // the final plan must not rescan documents.parquet per ranking
    val p = plan("text_hybrid_search")
    assert(!p.contains("documents.parquet"),
      s"hybrid search re-reads the corpus after the checkpoint:\n${p.take(2000)}")
  }

  test("rel_semi_anti plans real semi/anti joins, not inner + distinct") {
    val p = plan("rel_semi_anti")
    assert(p.contains("LeftSemi"), s"semi branch degenerated:\n${p.take(2000)}")
    assert(p.contains("LeftAnti"), s"anti branch degenerated:\n${p.take(2000)}")
  }

  test("q6_forecast pushes every predicate into the scan; no joins") {
    val p = plan("q6_forecast")
    // the PushedFilters list is elided in toString past a few entries,
    // and its ordering is not a stable contract — assert presence of
    // each pushed filter independently
    assert(p.contains("PushedFilters: ["),
      s"q6 has no pushed filters at all:\n${p.take(2500)}")
    Seq("IsNotNull(l_shipdate)", "IsNotNull(l_discount)").foreach { f =>
      assert(p.contains(f),
        s"q6 predicate $f did not reach the parquet scan:\n${p.take(2500)}")
    }
    assert(!p.contains("Join"), s"q6 must be join-free:\n${p.take(2000)}")
  }

  test("text_scripts is a zero-exchange narrow projection") {
    val p = plan("text_scripts")
    assert(!p.contains("Exchange"),
      s"script counting must not shuffle:\n${p.take(2000)}")
  }

  test("LM scoring never plans a window sort; retention is hash-aggs only") {
    // graph_communities / emb_contrastive are excluded only because
    // they inherit knnGraph's rank window (a WindowGroupLimit partial
    // top-k, asserted separately) — their OWN argmaxes are max_by aggs.
    for (q <- Seq("text_lm_score", "text_lm_bigram", "events_retention")) {
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q plans a window where a hash-agg suffices:\n${p.take(2500)}")
    }
  }

  test("events_winsorize band lookup stays on the ranking shuffle") {
    val p = plan("events_winsorize")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"winsorize must shuffle once on the key:\n${p.take(3000)}")
  }

  test("events_outliers_mad runs both median passes on ONE key shuffle") {
    val p = plan("events_outliers_mad")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"MAD outliers must shuffle once on the key:\n${p.take(3000)}")
  }

  test("events_scd2 runs both window passes on ONE shuffle + sort") {
    val p = plan("events_scd2")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"scd2 must shuffle once on the key:\n${p.take(3000)}")
    assert("Sort \\[".r.findAllIn(p).size <= 2,
      s"scd2 re-sorts between compression and lead():\n${p.take(3000)}")
  }

  test("docs_pack runs ONE corpus scan through the distributed prefix sum") {
    val p = plan("docs_pack")
    assert("documents\\.parquet".r.findAllIn(p).size <= 2, // data + offsets branch
      s"prefix scan multiplies corpus scans:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket offsets are not broadcast:\n${p.take(3000)}")
  }

  test("no CartesianProduct in any query; BNLJ only where designed") {
    // Lineage-truncated subtrees (DedupClusters' pairs, the graph
    // operators' edge lists) appear here as `Scan ExistingRDD`, so
    // this gate cannot see inside them — their producing pipelines are
    // covered by their own battery entries (neardup_*, emb_knn_graph),
    // whose full plans DO pass through this loop.
    for ((name, fn) <- SparkEntry.queries) {
      val p = fn(spark, dir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name plans a Cartesian product")
      // broadcast K-row scoring passes (IVF assignment / query set) and
      // the broadcast 1-row corpus-stats crossJoin (BM25's N and SDL)
      val bnljOk =
        Set("emb_topk", "emb_ann_ivf", "emb_ann_ivf_scaled", "emb_ann_ivf_kmeans",
          // same IVF n·K broadcast assignment pass (frozen = reloaded artifacts)
          "emb_ann_ivfpq", "emb_ann_ivfpq_scaled", "emb_ann_ivfpq_frozen",
          "emb_ann_ivfpq_probed", "emb_ann_recall_probed",
          "emb_semdedup", // same IVF n·K broadcast assignment pass
          "docs_coverage_sample", // same IVF broadcast assignment pass (cells input)
          "text_bm25", "text_collocations", "text_search", "text_hybrid_search",
          "text_hashed_features", "text_lm_score", "docs_drift", "graph_triangles",
          // 1-row doc-count broadcast feeding the idf-bits projection
          "text_tfidf_sim",
          "docs_mixture_temperature",
          // 1-row totals broadcast (DSIR) and the docs×classes n·K
          // scoring grid + 1-row train-count broadcast (NB classifier)
          "docs_dsir", "docs_classifier",
          // 1-row sketch-result broadcast for the rank-contract pass
          "rel_approx_quantiles",
          // four 1-row count aggregates broadcast-crossed into the
          // one-row recall report (Eval.pairRecall) — the text banding
          // recall reports share the exact same report tail
          "emb_neardup_recall", "neardup_minhash_recall",
          "neardup_minhash_banded_recall", "neardup_simhash_recall",
          "multimodal_phash_recall", // same Eval.pairRecall report tail
          // broadcast query-batch scoring pass (l2TopK), same as
          // emb_topk; the recall report adds Eval.topKRecall's 1-row
          // count crossJoins on top — the frontier is 8 such reports
          // unioned
          "emb_topk_l2", "emb_ann_recall", "emb_ann_recall_m16",
          "emb_ann_frontier")
      if (!bnljOk(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans an unexpected nested-loop join:\n${p.take(2000)}")
    }
  }

  test("docs_classifier argmin is an aggregation with partials, not a window") {
    // min(struct) aggregates with map-side partials (one row per doc
    // leaves each map partition before the shuffle); a row_number
    // window would shuffle the whole docs×classes grid. SortAggregate
    // is expected — struct buffers aren't hash-mutable, same as every
    // max_by argmax here — the assert is on the absence of a window
    // and the presence of the partial pass.
    val p = plan("docs_classifier")
    assert(!p.contains("WindowExec") && !p.contains("Window ["),
      s"classifier plans a per-doc window:\n${p.take(3000)}")
    assert(p.contains("partial_min"),
      s"classifier argmin lost its map-side partial:\n${p.take(3000)}")
  }

  test("emb_pq_search top-k is a WindowGroupLimit; docs_dup_ngrams uses ONE window") {
    assert(plan("emb_pq_search").contains("WindowGroupLimit"),
      "ADC top-k not pushed into a partial group limit")
    val dup = plan("docs_dup_ngrams")
    val windows = "WindowGroupLimit|Window \\[".r.findAllIn(dup).size
    assert(windows === 1, // the gaps-and-islands pass over duplicated positions
      s"expected exactly 1 window in docs_dup_ngrams, got $windows:\n${dup.take(3000)}")
  }

  test("docs_domain_cap rank filter is a WindowGroupLimit") {
    // the anti-domination cap must prune map-side: a million-page
    // domain ships k·partitions rows to the final per-domain sort,
    // never the domain's whole row set
    assert(plan("docs_domain_cap").contains("WindowGroupLimit"),
      "domain-cap rank<=k not pushed into a partial group limit")
  }

  test("docs_coverage_sample rank filter is a WindowGroupLimit") {
    // the per-cell top-k must prune map-side: the exchange then carries
    // O(cells · perCell) candidates, not the joined corpus
    assert(plan("docs_coverage_sample").contains("WindowGroupLimit"),
      "coverage-sample rank<=k not pushed into a partial group limit")
  }

  test("emb_pq_codes encodes via the in-row codebook fold, not a grid sort-agg") {
    // the r9 soak OOM lesson: the n·m·K subvector×centroid grid through
    // a struct-buffered SortAggregate was a memory cliff; the fold plan
    // has NO aggregate after the codebook broadcast join — the argmin
    // lives inside a projection over the packed array column.
    val p = plan("emb_pq_codes")
    assert(!p.contains("SortAggregate"),
      s"pq encode regressed to the grid sort-agg:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"packed codebook is not broadcast:\n${p.take(3000)}")
  }

  test("text_bm25 ranks with a WindowGroupLimit partial top-k") {
    val p = plan("text_bm25")
    assert(p.contains("WindowGroupLimit"),
      s"BM25 rank filter not pushed into a partial top-k:\n${p.take(3000)}")
  }

  test("events_asof is one shuffle + one sort, not a range join") {
    // the union-window as-of plan: exchanges only for the two
    // event-type aggregations + the key partition, and NO join node
    // ranging over timestamps
    val p = plan("events_asof")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of degenerated into a range join:\n${p.take(3000)}")
    val windowSorts =
      "Sort \\[user_id".r.findAllIn(p).size
    assert(windowSorts <= 2,
      s"as-of re-sorts the union more than expected:\n${p.take(3000)}")
  }

  test("events_topk_user gets the WindowGroupLimit partial top-k") {
    // row_number + rank<=k must be rewritten into a per-partition group
    // limit BEFORE the shuffle (Spark's WindowGroupLimit) — each map
    // task forwards ≤ k rows per key instead of whole sorted groups.
    val p = plan("events_topk_user")
    assert(p.contains("WindowGroupLimit"),
      s"rank filter not pushed into a partial top-k:\n${p.take(3000)}")
  }

  test("decontamination broadcasts the benchmark gram set; corpus never shuffles") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1") // kill size-based broadcasts; the HINT must carry
      val p = plan("docs_decontaminate")
      assert(p.contains("BroadcastHashJoin"),
        s"benchmark grams not broadcast:\n${p.take(3000)}")
    } finally spark.conf.set(key, old)
  }

  test("stratified sampling is a broadcast join + narrow filter (no corpus shuffle)") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = plan("docs_sample_stratified")
      assert(p.contains("BroadcastHashJoin"),
        s"rates table not broadcast:\n${p.take(3000)}")
      assert(!p.contains("Exchange hashpartitioning"),
        s"sampling must not shuffle the corpus:\n${p.take(3000)}")
    } finally spark.conf.set(key, old)
  }

  test("repetition stats are a narrow projection — zero shuffles") {
    // per-doc property ⇒ nothing corpus-sized moves: no exchange at all
    val p = plan("text_repetition")
    assert(!p.contains("Exchange"),
      s"repetitionStats shuffles a per-doc computation:\n${p.take(3000)}")
  }

  test("sessionize plans ONE shuffle and ONE sort for lag + running sum + rollup") {
    val p = plan("events_sessionize")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1,
      s"expected a single user_id shuffle, got $exchanges:\n${p.take(3000)}")
    val sorts = "\\bSort \\[".r.findAllIn(p).size
    assert(sorts === 1,
      s"lag and running-sum share one window spec → one sort, got $sorts:\n${p.take(3000)}")
  }

  test("materialized-once seams actually reuse: one shuffle feeds every consumer") {
    // The one EXECUTING test in this suite, because AQE stage reuse is
    // a runtime decision — the static plan shows no ReusedExchange.
    // The seam contract (SCALE.md round-10): the expensive narrow
    // signature/postings pipeline ends in one repartition whose
    // canonical exchange every consumer shares, so the hashing runs
    // once. If a refactor drops the seam (or breaks canonical
    // equality between the self-join sides), the reuse count here
    // goes to zero and the recompute tax silently returns.
    import spark.implicits._
    val docs = Seq.tabulate(120) { i =>
      (i.toLong, s"tok${i % 7} tok${(i + 1) % 5} tok${(i + 2) % 11} " +
        s"tok${(i + 3) % 13} alpha beta gamma delta")
    }.toDF("doc_id", "text")
    def reuseCount(df: org.apache.spark.sql.DataFrame): Int = {
      df.queryExecution.toRdd.count() // drive AQE to the final plan
      "ReusedExchange".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    }
    assert(reuseCount(operators.NearDup.minHashPairs(docs)) >= 1,
      "minHashPairs: shingle seam not reused")
    assert(reuseCount(operators.TextAnalysis.winnowPairs(docs)) >= 1,
      "winnowPairs: postings seam not reused")
    val bin = docs.select(docs("doc_id"), docs("text").cast("binary").as("payload"))
    assert(reuseCount(operators.Multimodal.pHashPairs(bin)) >= 1,
      "pHashPairs: signature seam not reused")
  }
}

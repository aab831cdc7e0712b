package graft

import org.scalatest.funsuite.AnyFunSuite

/** Scale-critical plan properties, asserted against the physical plans so a
  * regression (a lost pushdown, a forced broadcast of a fact-scale table, a
  * global sort where top-k should plan) fails the build, not the review.
  * Uses the pre-AQE sparkPlan — these are static properties. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.sparkPlan.toString

  /** Column sets of every scan in the plan — FileScan (`ReadSchema:
    * struct<...>`) or, if any suite sharing this session has cached a
    * relation these queries read (CacheManager substitutes a cached plan
    * into every matching subtree), the `InMemoryTableScan [cols]` output
    * list. Pruning pins assert on these so they hold in either form
    * without clearing the shared session's cache (a clearCache here would
    * permanently un-persist every memoized mart for the rest of the
    * JVM). */
  private def scanColumnSets(p: String): Seq[Set[String]] = {
    val im = "InMemoryTableScan \\[([^\\]]*)\\]".r.findAllMatchIn(p).map(
      _.group(1).split(",").map(_.trim.takeWhile(_ != '#')).toSet).toSeq
    val fs = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(
      _.group(1).split(",").map(_.trim.takeWhile(_ != ':')).toSet).toSeq
    im ++ fs
  }

  test("filtered scan pushes predicates into the parquet reader") {
    val p = plan("q01_scan_filter_project")
    assert(p.contains("PushedFilters: ["))
    assert(p.contains("l_discount") && p.contains("l_quantity"))
  }

  test("committed events layout: the date range AND the manifest " +
      "visibility are both PartitionFilters — invisible deliveries and " +
      "out-of-range days prune as directories, not row filters") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val root = java.nio.file.Files.createTempDirectory("graft_plan_ev")
      .toString + "/t"
    graft.ops.Layout.writeEventsByDayCommitted(ev, root)
    val p = graft.ops.Layout.eventsBetweenCommitted(spark, root,
        "2024-01-01", "2024-01-02")
      .queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(pf.contains("event_date"),
      s"date range must be a partition filter:\n$p")
    assert(pf.contains("batch_id"),
      s"manifest visibility must be a partition filter:\n$p")
  }

  test("top-k plans TakeOrderedAndProject, not a global sort") {
    assert(plan("q13_topk_orders").contains("TakeOrderedAndProject"))
    assert(plan("q11_screener").contains("TakeOrderedAndProject"))
  }

  test("aggregation has a partial (map-side) stage") {
    val p = plan("q15_agg_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("partial_"))
  }

  test("screener broadcasts only the bounded dimension") {
    val p = plan("q11_screener")
    assert(p.contains("BroadcastHashJoin"))
    // the fact-scale joins must NOT carry a broadcast hint: filings-side
    // joins plan as non-broadcast at scale (AQE decides; no hint forces it)
    val q4 = SparkEntry.queries("q04_join_facts_filings")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!q4.contains("ResolvedHint"))
  }

  test("grouped banded quantile: broadcast-only joins, map-side histogram, " +
      "no cartesian") {
    val p = plan("q181_quantile_banded_by_group")
    // group stats and bin targets are groups-sized: both joins broadcast
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // the histogram agg does its work map-side (tiny-key shuffle)
    assert(p.contains("partial_count") || p.contains("partial_"))
  }

  test("events hourly agg groups by window with partial aggregation") {
    val p = plan("q29_events_hourly")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_"))
  }

  test("sessionize plans ONE sort for both window functions") {
    val p = plan("q33_sessionize")
    // lag + running sum over the same (user_id; ts, event_id) order share a
    // single Sort below the Window operators
    val sorts = "(?m)^\\s*[+:]?-? *\\*?\\(?\\d*\\)? ?Sort ".r
      .findAllIn(p).size
    val windowSorts = p.split("\n").count(l => l.trim.startsWith("+- Sort") ||
      l.trim.startsWith(":- Sort") || l.trim.startsWith("Sort "))
    assert(windowSorts <= 2, s"expected shared sort, got:\n$p") // 1 window sort + 1 output sort
  }

  test("native kernels appear in the similarity plans (codegen'd, not HOF)") {
    assert(plan("q24_cosine_topk").contains("graft_dot"))
    assert(plan("q21_minhash_neardup").contains("graft_minhash_sig"))
    assert(plan("q28_fingerprint").contains("graft_window_mins"))
  }

  test("IVF assignment is the exchange-free NearestCells fold (r20): no corpus window, no corpus exchange") {
    val emb = graft.Tables.embeddings(spark, dir)
    val p = graft.llm.Similarity.ivfAssignWith(emb,
      graft.llm.Similarity.seedCentroids(emb, 8))
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_nearest_cells"), s"expected the native kernel:\n$p")
    assert(!p.contains("Window"), s"assignment ranked through a window again:\n$p")
    // the only exchange allowed is the directory's own 1-row fold; the
    // CORPUS side must reach the explode without shuffling
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus shuffled for assignment:\n$p")
  }

  test("decontamination broadcasts the benchmark side (corpus never shuffles on grams)") {
    val p = plan("q50_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"expected broadcast semi-join:\n$p")
  }

  test("kmeans training broadcasts centroids every round; corpus never sort-merges") {
    // The per-round assignment (what kmeansTrain executes each Lloyd round;
    // its returned frame is post-checkpoint, so pin the round plan itself)
    // must broadcast the nlist-sized centroid table against the corpus — a
    // SortMergeJoin would mean the corpus shuffles once per round.
    val emb = graft.Tables.embeddings(spark, dir)
    val p = graft.llm.Similarity.ivfAssignWith(emb,
      graft.llm.Similarity.seedCentroids(emb, 8))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"expected broadcast assignment:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus sort-merged per round:\n$p")
  }

  test("trend windows share one exchange+sort across lag/lead/frame functions") {
    val p = plan("q55_trend_windows")
    // all four window functions partition by cik alone and order by
    // fiscal_year: exactly ONE single-column cik exchange must feed them
    // (the statements build below shuffles on (cik, fiscal_year[, tag]) —
    // different keys, matched out by the closing paren after one column).
    // executedPlan, not sparkPlan: EnsureRequirements inserts the exchanges.
    val q = SparkEntry.queries("q55_trend_windows")(spark, dir)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning\\(cik#\\d+, \\d+\\)".r
      .findAllIn(q).size
    assert(exchanges === 1, s"expected one cik-only exchange:\n$q")
  }

  test("semdedup reuses ONE cell exchange across self-join sides and output") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // `assigned` feeds three consumers (both self-join sides + the decision
    // table); all three repartitions must stay canonically identical so the
    // runtime executes one exchange, not three
    val ex = SparkEntry.queries("q57_semdedup")(spark, dir)
      .queryExecution.sparkPlan.collect { case e: ShuffleExchangeExec => e }
      .filter(_.outputPartitioning.toString.contains("cell"))
    assert(ex.size === 3, s"expected three cell repartitions, got ${ex.size}")
    // the two embedding-carrying self-join sides must stay canonically
    // identical (one physical exchange at runtime); the decision branch is
    // ALLOWED to diverge — column pruning drops the embedding below its
    // repartition, which is the cheaper plan
    val joinSides = ex.filter(_.output.exists(_.name == "embedding"))
    assert(joinSides.size === 2 &&
      joinSides(0).canonicalized == joinSides(1).canonicalized,
      "self-join sides diverged: the cell exchange can no longer be reused")
  }

  test("bloom decontamination probes the sketch map-side before any gram join") {
    val p = plan("q58_bloom_decontam")
    assert(p.contains("might_contain") || p.contains("graft_might_contain"),
      s"expected a Bloom probe filter:\n$p")
    assert(p.contains("bloom_filter_agg") || p.contains("graft_bloom_agg") ||
      p.contains("Subquery"), s"expected the sketch subquery:\n$p")
  }

  test("heavy hitters aggregate has a partial (map-side) sketch stage") {
    val p = plan("q59_heavy_hitters")
    assert(p.contains("partial_graft_mg_topk"),
      s"expected map-side partial Misra-Gries stage:\n$p")
  }

  test("incremental agg merge is exchange-free (reuses partials' partitioning)") {
    // executedPlan: EnsureRequirements decides the merge's distribution.
    // Stored + delta partials each shuffle once on the group keys; the
    // union'd re-aggregation must NOT add a third exchange — both inputs
    // are already hash-partitioned on those keys.
    val p = SparkEntry.queries("q69_incremental_agg")(spark, dir)
      .queryExecution.executedPlan.toString
    val beforeSort = p.split("Union").head // exchanges above the union: sort only
    val n = "Exchange hashpartitioning".r.findAllIn(beforeSort).size
    assert(n === 0, s"merge re-agg added a hash exchange:\n$p")
  }

  test("sliding windows and SCD2 are single-shuffle window plans") {
    for (q <- Seq("q74_sliding_windows", "q70_scd2_filings")) {
      val p = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      val n = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(n === 1, s"$q expected exactly one hash exchange:\n$p")
    }
  }

  test("dsv2 scan carries its pushed filters and pruned schema") {
    val p = SparkEntry.queries("q68_dsv2_ticker_scan")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft-jsonl"), p)
    assert(p.contains("GreaterThanOrEqual(ticker,TKR1)") &&
      p.contains("LessThan(ticker,TKR3)"),
      s"expected the range conjuncts in PushedFilters:\n$p")
  }

  test("hard negatives ranks via the bounded top-k aggregate (r21), no windows") {
    val p = SparkEntry.queries("q72_hard_negatives")(spark, dir)
      .queryExecution.executedPlan.toString
    // ObjectHashAggregate over graft_topk_ord_ids with a partial (map-side,
    // k-bounded) stage — the straggler guarantee the salted two-phase
    // window spelling (r20) bought with a second exchange+sort
    assert(p.contains("partial_graft_topk_ord_ids"),
      s"top-k not partial-aggregated map-side:\n$p")
    assert(!"\\bWindow\\b".r.findAllIn(p).hasNext,
      s"window rank re-appeared:\n$p")
  }

  test("full-param screener keeps the q11 shape: broadcast dim + top-k, no global sort") {
    val p = plan("q92_screener_full_params")
    assert(p.contains("BroadcastHashJoin"), s"dim not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k planned a sort:\n$p")
  }

  test("approx robust outliers partial-aggregates the sketch map-side; stats broadcast back") {
    val p = plan("q93_robust_outliers_approx")
    // two sketch aggregations, each with a partial stage — the shuffle
    // carries sketch states, never raw values
    assert("partial_graft_quantile_sketch".r.findAllIn(p).size >= 2,
      s"sketch not partial-aggregated:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"per-source stats not broadcast:\n$p")
  }

  test("dup-span coverage prunes to 3 columns and never hints the gram join") {
    val p = plan("q96_dup_span_coverage")
    val scans = scanColumnSets(p)
    assert(scans.nonEmpty &&
      scans.forall(_.subsetOf(Set("doc_id", "text", "source"))),
      s"scan not pruned ($scans):\n$p")
    assert(p.contains("partial_"), s"no map-side partial agg:\n$p")
    // gram-frequency side is corpus-vocabulary-scale: the join must stay
    // AQE's call (broadcast at toy SF is fine; a HINT would force it at 100TB)
    val q = SparkEntry.queries("q96_dup_span_coverage")(spark, dir)
    val opt = q.queryExecution.optimizedPlan.toString
    assert(!opt.contains("ResolvedHint"), s"forced join strategy:\n$opt")
    // the df build must REUSE the probe's gram exchange at runtime (AQE
    // stage reuse over the canonically-equal subtrees — the struct-count
    // spelling exists exactly to keep them equal): scan + tokenize +
    // explode, the dominant cost, runs once
    q.collect()
    val executed = q.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange"),
      s"gram exchange not shared — corpus explode runs twice:\n$executed")
  }

  test("dup-span extraction reuses the positional gram exchange; despan joins intervals back") {
    // q117: same ReuseExchange discipline as q96 — the positional explode
    // (the dominant cost) must feed both the df build and the probe once
    val q = SparkEntry.queries("q117_dup_spans")(spark, dir)
    q.collect()
    val executed = q.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange"),
      s"positional gram exchange not shared:\n$executed")
    // q118: the rewriter's corpus side prunes to the doc columns and never
    // hints the span join (interval counts are data-dependent; AQE's call)
    val r = SparkEntry.queries("q118_despan_corpus")(spark, dir)
    val opt = r.queryExecution.optimizedPlan.toString
    assert(!opt.contains("ResolvedHint"), s"forced join strategy:\n$opt")
    val scans = scanColumnSets(r.queryExecution.executedPlan.toString)
    assert(scans.nonEmpty &&
      scans.forall(_.subsetOf(Set("doc_id", "text", "source"))),
      s"despan scan not pruned: $scans")
  }

  test("landing-layout flatten: the per-query plan is a scan+sort, no Generate") {
    val p = plan("q109_json_flatten_landing")
    // the shred happened once at ingest: the query path must carry no
    // explode (Generate) and no collect_list nesting — just the columnar
    // scan of the landing table plus the output sort
    assert(!p.contains("Generate"), s"explode in the amortized path:\n$p")
    assert(!p.contains("collect_list"), s"nesting in the amortized path:\n$p")
    assert(p.contains("/shredded_landing_"), s"not reading the landing layout:\n$p")
  }

  test("indexed rrf fusion: postings bucket-pruned + term-pushed, codes cell-pruned, no text scan") {
    val base = graft.llm.Selection.retrievalIndex(spark, dir)
    val q = graft.llm.Selection.rrfFusionIndexed(spark, base,
      Tables.embeddings(spark, dir), Seq("hash", "join", "window"),
      candidates = 64)
    val p = q.queryExecution.sparkPlan.toString
    // lexical leg: the postings scan prunes to the query terms' bucket
    // directories and pushes the term predicate into parquet
    // (the commit-visibility batch_id predicate shares the filter list,
    // so term_bucket need not be its first element)
    assert("PartitionFilters: \\[[^\\]]*term_bucket#\\d+ IN".r
      .findFirstIn(p).isDefined,
      s"postings not bucket-pruned:\n$p")
    assert(p.contains("In(term"), s"term predicate not pushed:\n$p")
    // semantic leg: the codes scan carries the STATIC literal cell set as
    // a partition filter (the driver-resolved probe — the contract; DPP
    // was only ever the fallback and the planner rightly drops the
    // redundant subquery now that the commit-visibility filter sits in
    // the same PartitionFilters) — directories outside the probed cells
    // never open
    assert(p.contains("cell") &&
      "cell#\\d+ IN \\(".r.findFirstIn(p).isDefined,
      s"codes scan not statically cell-pruned:\n$p")
    // neither leg scans the corpus text: the only non-layout input is the
    // embeddings vector store (query fetch + candidate re-rank)
    assert(!p.contains("documents.parquet"),
      s"full-corpus text scan inside the indexed composition:\n$p")
  }

  test("phrase search is one narrow pass: no explode, no join, 2-column scan") {
    val p = plan("q122_phrase_search")
    // the shifted-position intersection is a projection over the tokenized
    // array — a Generate (explode) or a self-join here would shuffle
    // corpus-scale token rows for what one pass computes in place
    assert(!p.contains("Generate"), s"explode in the phrase plan:\n$p")
    assert(!p.toLowerCase.contains("join"), s"join in the phrase plan:\n$p")
    // only (doc_id, text) is read
    assert(scanColumnSets(p).exists(_ == Set("doc_id", "text")),
      s"phrase scan not pruned to (doc_id, text):\n$p")
  }

  test("indexed phrase search reads pruned postings, never the corpus text") {
    val p = plan("q123_phrase_from_index")
    assert(p.contains("PartitionFilters") && p.contains("term_bucket"),
      s"postings not bucket-pruned:\n$p")
    assert(!p.contains("documents.parquet"),
      s"corpus text scan inside the index-served phrase plan:\n$p")
    assert(!p.contains("Generate"), s"explode in the phrase plan:\n$p")
  }

  test("PPS sample rank-limits BEFORE both shuffles (WindowGroupLimit both phases)") {
    val p = plan("q97_pps_sample")
    assert("\\bWindow\\b".r.findAllIn(p).size >= 2, p) // salted local + global
    // Spark 4 rank-limit pushdown: a Partial WindowGroupLimit caps each map
    // task's output at k before the exchange — the property that keeps one
    // mega-source from shipping its whole stratum to one reducer
    assert(p.contains("WindowGroupLimit"), s"rank limit not pushed:\n$p")
    val scans = scanColumnSets(p)
    assert(scans.nonEmpty &&
      scans.forall(_.subsetOf(Set("doc_id", "source", "n_chars"))),
      s"scan not pruned — text must not be read ($scans):\n$p")
  }

  test("zipf slope ranks two-phase with pushed rank limits") {
    val p = plan("q99_zipf_slope")
    assert("\\bWindow\\b".r.findAllIn(p).size >= 2, p)
    assert(p.contains("WindowGroupLimit"), s"rank limit not pushed:\n$p")
    assert(p.contains("partial_"), s"token count has no map-side stage:\n$p")
  }

  test("PQ search broadcasts codebook/table/queries; no non-broadcast cartesian") {
    val p = plan("q98_pq_recall_gate")
    assert(p.contains("BroadcastHashJoin"), s"ADC join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a corpus-scale cartesian crept in:\n$p")
  }

  test("cluster-safe split broadcasts only the 1-row leakage scalar") {
    val p = plan("q95_cluster_safe_split")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"leak scalar not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"non-broadcast cartesian:\n$p")
  }

  test("bm25 plans top-k + broadcast df; overlap prune precedes the explode") {
    val p = plan("q100_bm25_rank")
    assert(p.contains("TakeOrderedAndProject"), s"top-k planned a sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"df table not broadcast:\n$p")
    assert(p.contains("arrays_overlap"), s"pre-explode prune missing:\n$p")
  }

  test("bpe pair counts plan top-k + map-side partials; survivors never rescan the corpus") {
    val p = plan("q103_bpe_pair_counts")
    assert(p.contains("TakeOrderedAndProject"), s"top-k planned a sort:\n$p")
    assert(p.contains("partial_"), s"pair count has no map-side stage:\n$p")
    // q101 aggregates documents ⋈ label mart once — a rank-per-cluster
    // spelling would add a second corpus pass + window
    val p101 = plan("q101_neardup_survivors")
    assert(!p101.contains("Window"), s"survivor rule should not need a window:\n$p101")
  }

  test("ivfadc joins stay broadcast; no corpus-scale cartesian") {
    val p = plan("q104_ivfadc_recall_gate")
    assert(p.contains("BroadcastHashJoin"), s"ADC/cell joins not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a corpus-scale cartesian crept in:\n$p")
  }

  test("dsir broadcasts the bucket table; Gumbel draw ranks two-phase, limits pushed") {
    val p = plan("q110_dsir_resample")
    assert(p.contains("BroadcastHashJoin"), s"bucket-ratio table not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"non-broadcast cartesian crept in:\n$p")
    assert(p.contains("WindowGroupLimit"), s"rank limit not pushed:\n$p")
    assert(p.contains("partial_"), s"bucket counts have no map-side stage:\n$p")
  }

  test("bpe encode keeps the trainer's shape: 1-row winners broadcast, no cartesian") {
    // The per-round winner pick lives behind its lazy localCheckpoint (its
    // own sub-plan); what THIS plan must show is each winner entering the
    // replace chain as a 1-row broadcast, the final doc aggregation with a
    // map-side partial stage, and no non-broadcast cartesian anywhere.
    val p = plan("q111_bpe_encode")
    assert(!p.contains("CartesianProduct"), s"non-broadcast cartesian crept in:\n$p")
    assert(p.contains("partial_"), s"doc aggregation has no map-side stage:\n$p")
    assert("BroadcastNestedLoopJoin BuildRight".r.findAllIn(p).size >= 3,
      s"winners not broadcast into the replace chain:\n$p")
  }

  test("bounded nesting parallelizes over (cik, doc_year), not cik alone") {
    val q16 = SparkEntry.queries("q16_json_flatten")(spark, dir)
      .queryExecution.executedPlan.toString
    val q94 = SparkEntry.queries("q94_json_flatten_bounded")(spark, dir)
      .queryExecution.executedPlan.toString
    // the document-level exchange: cik-only for q16 (the reference-faithful
    // 37-document shape), (cik, doc_year) for the bounded tier
    assert("Exchange hashpartitioning\\(cik#\\d+, \\d+\\)".r
      .findAllIn(q16).nonEmpty, s"q16 lost its cik document key:\n$q16")
    assert("Exchange hashpartitioning\\(cik#\\d+, doc_year#\\d+, \\d+\\)".r
      .findAllIn(q94).nonEmpty, s"q94 not keyed on (cik, doc_year):\n$q94")
  }

  test("reference-LM scoring broadcasts the model probes; corpus scans stay 4-column") {
    val p = plan("q150_lm_perplexity")
    // unigram probes ×2 + per-lang totals are hinted broadcasts; the bigram
    // model join is deliberately UNhinted (reference-bounded, AQE's call)
    assert("BroadcastHashJoin".r.findAllMatchIn(p).size >= 3, p)
    assert(!p.contains("CartesianProduct"), p)
    // the reference slice is a pushed filter of the documents scan
    assert(p.contains("EqualTo(source,src0)"), p)
    // nothing reads beyond the 4 columns the pass needs
    assert(scanColumnSets(p).forall(
      _.subsetOf(Set("doc_id", "lang", "text", "source"))), p)
    // per-doc aggregation keeps its map-side partial stage
    assert(p.contains("partial_"), p)
  }

  test("indexed JL prefilter scans only the narrow projected mart; wide store point-fetched") {
    val p = plan("q164_jl_indexed")
    // the corpus-wide pass reads (vec_id, p) from jl_projected — never the
    // 64-float embedding column; the embeddings scans serve the 1-row query
    // side and the candidate point-fetch only
    val projScans = scanColumnSets(p).filter(_.contains("p"))
    assert(projScans.nonEmpty && projScans.forall(_.subsetOf(
      Set("vec_id", "p"))), p)
    // both top-k stages stay local-heap + merge
    assert("TakeOrderedAndProject".r.findAllMatchIn(p).size === 2, p)
    // candidates and the query row broadcast; the wide store never shuffles
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("graph pagerank: rank⋈edges joins aggregate with map-side partials, no cartesian") {
    val p = plan("q155_graph_pagerank")
    assert(!p.contains("CartesianProduct"), p)
    // 4 iterations -> 4 dst-keyed aggregations, each with a partial stage
    assert("partial_sum".r.findAllMatchIn(p).size >= 4, p)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan REGRESSION pins for the scale-critical properties
  * documented in PLANS.md: these are the plan shapes that must survive
  * a 100 TB / 1000-executor scale-up, asserted mechanically so a
  * refactor that silently loses a pushed filter, adds a shuffle, or
  * degrades a top-k into a global sort fails here instead of in
  * production. Plans are inspected at sf0.001 (shape, not size).
  */
class PlanPropertiesSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  private def countOf(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("q_knn_topk: per-partition heap top-k, never a global sort") {
    val p = plan("q_knn_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Sort "), s"global sort would ship all rows:\n$p")
  }

  test("q_tpch_pricing: filter pushed to the scan, ONE exchange (map-side partial agg)") {
    val p = plan("q_tpch_pricing")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"shipdate filter must reach the parquet scan:\n$p")
    assert(countOf(p, "Exchange") == 1,
      s"expected exactly one shuffle (partial -> final agg):\n$p")
  }

  test("q_knn_batch: rank <= k compiles to WindowGroupLimit, queries broadcast") {
    val p = plan("q_knn_batch")
    assert(p.contains("WindowGroupLimit"), s"group-limit pushdown lost:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query side must broadcast:\n$p")
  }

  test("q_ivf_partitioned_topk: probe is a partition filter on the cell layout") {
    val p = plan("q_ivf_partitioned_topk")
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      s"probe must partition-prune, not scan all cells:\n$p")
  }

  test("tombstone queries: pruned scan + broadcast anti-join — tombstones never an In-literal list") {
    for (name <- Seq("q_ivf_tombstone_topk", "q_ivfpq_tombstone_topk")) {
      val p = plan(name)
      assert(p.contains("PartitionFilters") && p.contains("cell"),
        s"$name: tombstone serving must still partition-prune:\n$p")
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
        s"$name: exclusion must be a broadcast anti-join:\n$p")
      assert(!p.contains("vec_id#") || !"""In\(vec_id[^)]{200,}""".r.findFirstIn(p).isDefined,
        s"$name: tombstone ids must not be pushed as a growing literal list:\n$p")
    }
  }

  test("demoted IVF probes serve from the partitioned layout: partition filter, no assignment window") {
    // q_ivf_topk / q_ivf_kmeans_topk were demoted from in-place probing
    // (round 6): their plans must now be partition-pruned scans of the
    // cell layout with NO per-query full-table assignment (which would
    // appear as a row_number Window over every vector).
    for (name <- Seq("q_ivf_topk", "q_ivf_kmeans_topk", "q_ivf_kmeans_partitioned_topk")) {
      val p = plan(name)
      assert(p.contains("PartitionFilters") && p.contains("cell"),
        s"$name: probe must partition-prune, not scan all cells:\n$p")
      assert(!p.contains("Window"),
        s"$name: serving must not run a per-query assignment window:\n$p")
    }
  }

  test("PQ serving scans stored codes only: no encode pass, vector table never read") {
    // q_pq_topk serves from the persisted (vec_id, codes) table; the
    // query vector rides as ADC-LUT literals. A plan that reads the
    // embedding column is re-encoding per query — the thing stored
    // codes exist to avoid.
    val p = plan("q_pq_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("embedding"),
      s"ADC serving must never read the raw vectors:\n$p")
    assert(!p.contains("Exchange"),
      s"stored-code ADC is scan+project+top-k, shuffle-free:\n$p")
  }

  test("q_ivfpq_topk: partition-pruned code scan, no vector reads, no window") {
    val p = plan("q_ivfpq_topk")
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      s"IVF-PQ probe must open only probed cells' code files:\n$p")
    assert(!p.contains("embedding"),
      s"IVF-PQ serving must never read the raw vectors:\n$p")
    assert(!p.contains("Window"), s"no per-query assignment window:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_ivf_batch_topk: union-of-probes partition filter, one pruned vector scan") {
    val p = plan("q_ivf_batch_topk")
    assert(countOf(p, "PartitionFilters: [cell") == 1,
      s"exactly ONE pruned vector scan serves the whole batch:\n$p")
    // probe pairs and the collected query vectors ride as local
    // relations: the 1 pruned stored scan is the only scan. Constant
    // in batch size — the point is NOT a scan per query.
    assert(countOf(p, "Scan parquet") == 1, s"unexpected scan count:\n$p")
    assert(p.contains("LocalTableScan"), s"probe pairs must be a local relation:\n$p")
    // candidate rank = bounded-heap aggregate (no sort of the pairs),
    // and no probe window is left in the plan
    assert(p.contains("ObjectHashAggregate"),
      s"per-query top-k must be the heap aggregate, not a sort/rank:\n$p")
    assert(!p.contains("Window"), s"no probe or rank window may appear:\n$p")
  }

  test("fused batch queries: pruned scan + heap merge — no joins, no windows, no sorts in-plan") {
    // the fused kernels' probe formation runs EAGERLY (collect of the
    // <=C cell ids + the Q*nprobe query payload a BroadcastExchange
    // would ship anyway); the returned plan is exactly: partition-pruned
    // scan -> mapPartitions (score + per-query heaps) -> heap-merge
    // aggregate -> explode. Nothing pair-proportional survives.
    for (name <- Seq("q_ivf_batch_fused_topk", "q_cosine_batch_fused_topk",
                     "q_mips_batch_fused_topk")) {
      val p = plan(name)
      assert(p.contains("PartitionFilters: [cell"),
        s"$name: fused kernel must still partition-prune:\n$p")
      assert(p.contains("ObjectHashAggregate"),
        s"$name: the per-query merge must be the heap aggregate:\n$p")
      assert(!p.contains("Window"), s"$name: no rank window may appear:\n$p")
      assert(!p.contains("Join"), s"$name: no pair-level join may appear:\n$p")
      assert(countOf(p, "Scan parquet") == 1,
        s"$name: exactly the pruned stored scan:\n$p")
    }
  }

  test("q_cluster_representatives: size count and rank share ONE cluster_id shuffle") {
    val p = plan("q_cluster_representatives")
    assert(countOf(p, "hashpartitioning(cluster_id") <= 1,
      s"the count-over and rank-over windows must reuse one cluster_id exchange:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_bm25_topk: one narrow scoring scan + broadcast stats, heap top-k, no global sort") {
    val p = plan("q_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Sort "), s"top-k must never globally sort the corpus:\n$p")
    // "Exchange" == 2 counts the broadcast (substring of BroadcastExchange)
    // + exactly ONE shuffle: the single-row stats aggregation. The
    // scoring scan itself is shuffle-free (per-row tf from the token
    // array — no explode, no (doc, term) exchange).
    assert(countOf(p, "BroadcastExchange") == 1, s"stats row must broadcast:\n$p")
    assert(countOf(p, "Exchange") == 2,
      s"expected the stats partial-agg shuffle as the ONLY shuffle:\n$p")
  }

  test("q_hybrid_rrf: both rank windows run over ALREADY-truncated k-row pools") {
    val df = SparkEntry.queries("q_hybrid_rrf")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // two pool top-ks + the final fused top-k; the two rank numberings
    // (a sorted-array posexplode per pool, not a partition-less Window)
    // sit above them, so no ranking ever sees a corpus-sized input
    assert(countOf(p, "TakeOrderedAndProject") == 3,
      s"lexical pool, semantic pool, and fusion must each heap-truncate:\n$p")
    assert(!p.contains("Window"), s"ranks must not come from a global window:\n$p")
    val ranks = df.queryExecution.sparkPlan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(ranks.size == 2, p)
    ranks.foreach(g => assert(g.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.TakeOrderedAndProjectExec]), s"rank over an untruncated pool:\n$g"))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_quality_gate: ONE window (the corpus-sorting threshold pass), thresholds broadcast") {
    // the exact gate's threshold pass window-sorts the whole scored
    // corpus — that is its documented cost as the oracle anchor; the
    // pin is that the GATE side adds no second rank pass
    val p = plan("q_quality_gate")
    assert(countOf(p, "Window") == 1,
      s"only the threshold computation may sort/rank; the gate itself must stay narrow:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"S-row thresholds must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_quality_gate_approx: NO sort anywhere — sketch thresholds, one hash agg, narrow filter") {
    val p = plan("q_quality_gate_approx")
    assert(!p.contains("Window"), s"the approx gate must never rank the corpus:\n$p")
    assert(!p.contains("Sort"), s"the approx gate must never sort the corpus:\n$p")
    assert(p.contains("approx_percentile") || p.contains("ApproximatePercentile"),
      s"thresholds must come from the GK sketch aggregate:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"S-row thresholds must broadcast:\n$p")
  }

  test("q_stratified_sample: constant rank cutoff compiles to map-side WindowGroupLimit") {
    val p = plan("q_stratified_sample")
    assert(p.contains("WindowGroupLimit"),
      s"partitions must pre-truncate per stratum before the exchange:\n$p")
  }

  test("q_diversified_topk: per-group quota is a WindowGroupLimit, final cut a TakeOrdered — no corpus sort") {
    val p = plan("q_diversified_topk")
    assert(p.contains("WindowGroupLimit"),
      s"the constant per-source cutoff must pre-truncate map-side:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the global k over quota survivors must be a heap cut, not a sort:\n$p")
  }

  test("q_range_search: eligible cells form a partition filter on the layout") {
    val p = plan("q_range_search")
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      s"range serve must partition-prune by cell:\n$p")
  }

  test("q_maxsim_pruned_topk: token probes form a partition filter on the doc-vector layout") {
    val p = plan("q_maxsim_pruned_topk")
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      s"pruned maxsim must partition-prune by cell:\n$p")
  }

  test("q_range_search_filtered: predicate pushed INTO the pruned scan, cells still a partition filter") {
    val p = plan("q_range_search_filtered")
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      s"filtered range serve must still partition-prune by cell:\n$p")
    assert(p.contains("PushedFilters") && p.contains("vec_id"),
      s"the serving predicate must reach the parquet scan (PushedFilters):\n$p")
  }

  test("q_maxsim_batch_topk: ONE pruned scan serves the whole token-bag batch, probes broadcast") {
    val p = plan("q_maxsim_batch_topk")
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      s"batch maxsim must partition-prune to the union of probed cells:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"probe pairs and token bags must broadcast, never shuffle the scan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_orders_above_avg: the correlated subquery decorrelates to one aggregate + equi-join") {
    val p = plan("q_orders_above_avg")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"decorrelation must not leave a per-row or cross join:\n$p")
    assert(p.contains("HashAggregate"), s"the per-customer mean must be ONE aggregate:\n$p")
    assert(p.contains("Join") && p.contains("o_custkey"),
      s"the aggregate must join back on the correlation key:\n$p")
  }

  test("q_dedup_incremental: md5 anti-join, corpus reduced to distinct digests before the join") {
    val p = plan("q_dedup_incremental")
    assert(p.contains("LeftAnti"), s"known content must drop via anti join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the corpus side must aggregate (distinct md5) below the join —
    // never ship corpus text through the join
    assert(p.contains("HashAggregate"), p)
  }

  test("q_ivfpq_rerank_batch_topk: candidate JOIN on the raw vectors, no Q*R id literals") {
    val p = plan("q_ivfpq_rerank_batch_topk")
    assert(p.contains("ObjectHashAggregate"),
      s"the final exact rank must be the heap aggregate:\n$p")
    // the rerank's raw-vector read meets the shortlist through a
    // broadcast hash join — NEVER a collect + In(vec_id, ...) literal
    // list, whose plan would grow with batch x shortlist (the 100-TB
    // serving-path plan bomb flagged in round 8)
    assert(!p.contains("In(vec_id"),
      s"shortlist must join, not push Q*R id literals:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate relation must broadcast onto the vector scan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_knn_graph_blocked: cell equi-join, no cartesian product of the table against itself") {
    val p = plan("q_knn_graph_blocked")
    assert(!p.contains("CartesianProduct"),
      s"the blocked kNN graph must pair vectors via the cell equi-join:\n$p")
  }

  test("q_cosine_batch_topk: union-of-probes partition filter, one pruned unit-vector scan") {
    val p = plan("q_cosine_batch_topk")
    assert(countOf(p, "PartitionFilters: [cell") == 1,
      s"exactly ONE pruned unit-vector scan serves the whole batch:\n$p")
    // probe pairs and the collected query vectors ride as local
    // relations: the 1 pruned stored scan is the only scan, constant
    // in batch size
    assert(countOf(p, "Scan parquet") == 1, s"unexpected scan count:\n$p")
    assert(p.contains("LocalTableScan"), s"probe pairs must be a local relation:\n$p")
    // candidate rank = bounded-heap aggregate; no probe window is left
    assert(p.contains("ObjectHashAggregate"),
      s"per-query top-k must be the heap aggregate, not a sort/rank:\n$p")
    assert(!p.contains("Window"), s"no probe or rank window may appear:\n$p")
  }

  test("q_pq_batch_topk: ONE code scan serves the whole batch, LUTs broadcast") {
    // exactly 2 scans: the stored code table (once, for ALL queries)
    // and the 8-row query side — NOT a code scan per query
    val p = plan("q_pq_batch_topk")
    assert(countOf(p, "Scan parquet") == 2,
      s"batch ADC must scan the code table exactly once for all queries:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the per-query LUT side must broadcast:\n$p")
    // round 9: the per-query rank is the bounded-heap aggregate — the
    // full code-scan candidate set is never sorted (no window at all
    // in this plan: there is no nprobe probe side here)
    assert(p.contains("ObjectHashAggregate"),
      s"per-query top-k must be the heap aggregate:\n$p")
    assert(!p.contains("WindowGroupLimit"),
      s"no rank window may remain in the batch ADC plan:\n$p")
  }

  test("q_ivfpq_batch_topk: union-of-probes partition filter, one pruned code scan") {
    val p = plan("q_ivfpq_batch_topk")
    assert(countOf(p, "PartitionFilters: [cell") == 1,
      s"exactly ONE pruned code scan serves the whole batch:\n$p")
    // probe pairs and the LUTs are built on the driver from the
    // collected queries and ride as local relations: the pruned code
    // scan is the only scan, constant in Q
    assert(countOf(p, "Scan parquet") == 1, s"unexpected scan count:\n$p")
    assert(p.contains("LocalTableScan"), s"probe pairs must be a local relation:\n$p")
    // candidate rank = bounded-heap aggregate; no probe window is left
    assert(p.contains("ObjectHashAggregate"),
      s"per-query top-k must be the heap aggregate, not a sort/rank:\n$p")
    assert(!p.contains("Window"), s"no probe or rank window may appear:\n$p")
  }

  test("q_knn_rewrite_topk: naive crossJoin plan is served by the partitioned IVF copy") {
    val df = SparkEntry.queries("q_knn_rewrite_topk")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      s"IndexRewriteRule must turn the naive scan into a partition-pruned probe:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    // exactness at nprobe = C: same rows as the naive plan un-rewritten
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = SparkEntry.queries("q_knn_topk")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === exact, "nprobe = C rewrite must reproduce the exact result")
  }

  test("q_knn_filtered: predicate pushed INTO the partition-pruned scan") {
    val p = plan("q_knn_filtered")
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      s"probe must partition-prune:\n$p")
    assert(p.contains("GreaterThanOrEqual(vec_id,100)"),
      s"the ANN predicate must reach the scan's PushedFilters:\n$p")
  }

  test("q_embedding_neardups_blocked: no cartesian product of the table against itself") {
    val p = plan("q_embedding_neardups_blocked")
    assert(!p.contains("CartesianProduct"), s"blocking must prevent the n^2 join:\n$p")
  }

  test("q_token_counts: one shuffle between partial and final aggregation") {
    val p = plan("q_token_counts")
    assert(countOf(p, "Exchange") == 1, s"explode -> partial agg -> ONE shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_sessionize: window and aggregation share a single user_id shuffle") {
    val p = plan("q_sessionize")
    assert(countOf(p, "Exchange") == 1,
      s"window + agg must reuse one user_id partitioning:\n$p")
  }

  test("q_sample_bernoulli / q_domain_mix: shuffle-free narrow filters, pruned scans") {
    // Bernoulli is pure map-side; the mix's counting pass is a separate
    // job — the declared OUTPUT plan (what runs per-batch at scale)
    // must stay a narrow filter reading only the needed columns.
    val pb = plan("q_sample_bernoulli")
    assert(!pb.contains("Exchange"), s"sampling must not shuffle:\n$pb")
    assert(pb.contains("struct<doc_id:bigint,source:string>"),
      s"scan must prune to the 2 output columns:\n$pb")
    val pm = plan("q_domain_mix")
    assert(!pm.contains("Exchange"), s"domain mix output must not shuffle:\n$pm")
    assert(pm.contains("struct<doc_id:bigint,lang:string>"),
      s"scan must prune to the 2 output columns:\n$pm")
  }

  test("q_interval_clicks: bucket equi-join, never a nested-loop/cartesian range join") {
    val p = plan("q_interval_clicks")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the range predicate must ride the bucket equi-join as a residual:\n$p")
    assert(p.contains("Generate"), s"interval side must explode to its buckets:\n$p")
  }

  test("q_editdist_pairs / q_triangle_counts: blocked pair generation, no cartesian product") {
    for (name <- Seq("q_editdist_pairs", "q_triangle_counts")) {
      // the distributed triangle plan: at this scale the edges fit the driver path
      val p = graft.operators.Graph.distributedOnly(plan(name))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name: candidate generation must stay an equi-join:\n$p")
    }
  }

  test("q_weighted_sample: shuffle-free narrow filter, pruned scan") {
    val p = plan("q_weighted_sample")
    assert(!p.contains("Exchange"), s"weighted sampling must not shuffle:\n$p")
    assert(p.contains("struct<doc_id:bigint,source:string,n_chars:bigint>"),
      s"scan must prune to the 3 output columns:\n$p")
  }

  test("q_moving_avg: ONE shuffle up to the daily aggregate; frame windows over it") {
    // daily agg partial->final is one exchange; the frame window runs on
    // the (event_type)-partitioned aggregate — its exchange + sort are
    // over ≤(days × types) rows, never raw events
    val p = plan("q_moving_avg")
    assert(p.contains("Window"), p)
    assert(countOf(p, "Exchange") <= 2,
      s"expected agg exchange + window repartition only:\n$p")
  }

  test("q_dup_spans: gram-count + island merge, no pair join, bounded exchanges") {
    val p = plan("q_dup_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span detection must never pair windows with windows:\n$p")
    // gram-hash count (partial -> final) + ONE doc_id exchange shared by
    // the lag window, the span-id running sum, and the span aggregation
    // — pinned as the HASH exchanges; the pre-fan-out spread
    // (Skew.spreadToCores, round-robin over narrow doc rows) appears
    // once per spanWindows consumer (the counts agg and the window
    // join). Two narrow doc-row shuffles, not one — the measured win
    // (3.4 -> 1.2 s: the gram-hash explode stops running single-task)
    // dwarfs them; if the duplication ever matters, checkpoint the
    // spread output instead of widening this bound.
    assert(countOf(p, "Exchange hashpartitioning") <= 2,
      s"expected the gram-count shuffle + one shared doc_id shuffle:\n$p")
    assert(countOf(p, "Exchange") - countOf(p, "BroadcastExchange")
      - countOf(p, "Exchange hashpartitioning") <= 2,
      s"non-hash exchanges must be the spread's round-robin only:\n$p")
  }

  test("q_span_dedup: stats count+min in ONE aggregate pass, no cartesian rebuild") {
    val p = plan("q_span_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"rebuild must stay a doc-keyed anti-join:\n$p")
    // the gram stats (count, min first_occ) must come out of a single
    // grouped aggregation, not two passes over the windows
    assert(p.contains("count(1)") && p.contains("min("),
      s"gram stats must compute count and min together:\n$p")
  }

  test("q_semdedup: the only cross is the broadcast centroid assignment") {
    val p = plan("q_semdedup")
    assert(!p.contains("CartesianProduct"),
      s"pair generation must block on the cell key:\n$p")
    // assignment = corpus x C-row local centroid relation (the declared
    // IVF pattern); the pair join itself must be an equi-join on cell
    assert(countOf(p, "BroadcastNestedLoopJoin") <= 2,
      s"only the centroid-assignment crosses may be nested-loop:\n$p")
  }

  test("q_bigram_nll: LM tables join broadcast, one doc_id aggregation") {
    val p = plan("q_bigram_nll")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"scoring joins must be equi-joins:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin"),
      s"LM tables must hash-join (vocabulary-sized side):\n$p")
  }

  test("runtime bloom-filter semi-join reduction fires on a selective shuffled join") {
    // Spark's InjectRuntimeFilter: a selective filter on one join side
    // gets a bloom filter built and pushed into the OTHER side's scan —
    // the optimizer-native form of semi-join reduction (at 100 TB this
    // is TBs of fact rows dropped before the shuffle). Pin that our
    // join shapes stay eligible: lowered thresholds stand in for the
    // production sizes local test data can't reach.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val lineitem = graft.sources.Tables.lineitem(spark, sfDir)
      val orders = graft.sources.Tables.orders(spark, sfDir)
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val p = lineitem.join(orders,
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        s"runtime bloom filter must be injected into the fact-side scan:\n$p")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("PII queries are shuffle-free narrow scans with pruned columns") {
    // spans: scan → project → matcher sweep → explode; redact: scan →
    // replace chain. Neither has any reason to exchange, and neither
    // should read columns the injection/rules don't touch.
    for (name <- Seq("q_pii_spans", "q_pii_redact")) {
      val p = plan(name)
      assert(countOf(p, "Exchange") == 0,
        s"$name must be a narrow map-side pass, found a shuffle:\n$p")
      assert(p.contains("ReadSchema") && !p.contains("lang:"),
        s"$name: unused corpus columns must prune from the scan:\n$p")
    }
  }

  test("image decode/resize queries are shuffle-free codec passes") {
    // encode→decode (and decode→resize→encode→decode) are per-row
    // mapPartitions chains — one narrow pass over documents, no joins,
    // no aggregation, nothing to exchange
    for (name <- Seq("q_image_decode", "q_image_resize", "q_audio_decode")) {
      val p = plan(name)
      assert(countOf(p, "Exchange") == 0,
        s"$name must be a narrow codec pass, found a shuffle:\n$p")
      assert(p.contains("MapPartitions"),
        s"$name: the batched codec boundary must be a MapPartitions:\n$p")
    }
  }

  test("cosine/MIPS rewrite queries: probe fired (cell gate in plan), top-k stays a heap") {
    for (name <- Seq("q_cosine_rewrite_topk", "q_mips_rewrite_topk")) {
      val p = plan(name)
      assert(p.contains("cell"),
        s"$name: the index rewrite must fire (no cell gate in the plan):\n$p")
      assert(p.contains("TakeOrderedAndProject"),
        s"$name: top-k must stay a per-partition heap:\n$p")
    }
  }

  test("cosine/MIPS similarity-floor range queries: lossless pruning fired (cell gate in plan)") {
    for (name <- Seq("q_cosine_range_rewrite", "q_mips_range_rewrite")) {
      val p = plan(name)
      assert(p.contains("cell"),
        s"$name: the similarity-floor rewrite must fire (no cell gate in the plan):\n$p")
    }
  }

  test("vector distance kernels stay inside whole-stage codegen") {
    // codegen spans only appear in the FINAL adaptive plan — execute
    // through the SAME QueryExecution (a sink write would clone it)
    val df = SparkEntry.queries("q_l2_distance")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen'd operators print with a "*(n) " stage prefix — the
    // Project carrying the l2 kernel must have one
    assert("""\*\(\d+\) Project \[[^\n]*l2_distance_sq""".r.findFirstIn(p).isDefined,
      s"distance projection must codegen:\n$p")
  }

  test("video/GIF frame queries are shuffle-free codec passes") {
    for (name <- Seq("q_video_frames", "q_gif_frames")) {
      val p = plan(name)
      assert(countOf(p, "Exchange") == 0,
        s"$name must be a narrow codec pass, found a shuffle:\n$p")
      assert(p.contains("MapPartitions"),
        s"$name: the batched codec boundary must be a MapPartitions:\n$p")
    }
  }

  test("q_dsir_weights: lambda table broadcast, no cartesian over the corpus") {
    val p = plan("q_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"the bucket-bounded λ table must BROADCAST to the gram stream:\n$p")
    assert(countOf(p, "BroadcastNestedLoopJoin") <= 1,
      s"only the 1-row totals cross join may be nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no corpus-scale cartesian anywhere in DSIR:\n$p")
  }

  test("q_dsir_sample / q_proximity_topk / q_card_luhn: bounded top-k, pushed terms, no shuffle") {
    val ps = plan("q_dsir_sample")
    assert(ps.contains("TakeOrderedAndProject"),
      s"the Gumbel-top-k must stay a per-partition heap:\n$ps")
    val pp = plan("q_proximity_topk")
    assert(pp.contains("EqualTo(term") || pp.contains("In(term") ||
      pp.contains("isnotnull(term"),
      s"proximity terms must push into the postings scan:\n$pp")
    assert(pp.contains("TakeOrderedAndProject"), s"bounded top-k:\n$pp")
    val pl = plan("q_card_luhn")
    assert(countOf(pl, "Exchange") == 0,
      s"card+Luhn is one narrow matcher+checksum pass:\n$pl")
  }

  test("q_temperature_mix: narrow map-side filter after the bounded counting pass") {
    val p = plan("q_temperature_mix")
    assert(countOf(p, "Exchange") == 0,
      s"the serving plan is a pure filter (rates are plan literals):\n$p")
  }
}

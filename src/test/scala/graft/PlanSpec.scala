package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Pack
import org.apache.spark.sql.functions.expr

/** Physical-plan regression guards: the scale properties the perf work
  * established must survive future edits — broadcasts on dim joins, anti
  * joins on dedup gates, top-k instead of global sorts, column-pruned
  * scans, no cross products outside the intentionally-bounded ANN
  * broadcast. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def plan(name: String): String = {
    val df = Pack.byName(name).fn(spark, TestSpark.sf0001)
    df.count()
    df.queryExecution.executedPlan.toString
  }

  import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
  import graft.plans.EditDistance
  import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
  import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
  import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}

  /** Full physical-tree walk that descends through AQE wrappers, query
    * stages, and exchange reuse — `collect` alone stops at stage borders. */
  private def walk(pl: SparkPlan): Seq[SparkPlan] = {
    val kids = pl match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case r: ReusedExchangeExec    => Seq(r.child)
      case o                        => o.children
    }
    pl +: kids.flatMap(walk)
  }

  /** Build-side subtrees of BNLJ nodes that are NOT bounded by a grouping
    * aggregate (one row per group, e.g. the k-row per-centroid collapse).
    * Nonempty ⇒ an unbounded (vector-vs-vector) nested-loop join. */
  private def unboundedBnljBuilds(exec: SparkPlan): Seq[String] =
    walk(exec).collect { case b: BroadcastNestedLoopJoinExec => b }.flatMap { b =>
      val build = b.buildSide match {
        case BuildRight => b.right
        case BuildLeft  => b.left
      }
      val bounded = walk(build).exists {
        case agg: BaseAggregateExec => agg.groupingExpressions.nonEmpty
        case _                      => false
      }
      if (bounded) None else Some(build.toString)
    }

  test("agg_group_topk: broadcast dim join + TakeOrderedAndProject, pruned lineitem scan") {
    val p = plan("agg_group_topk")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_extendedprice:double,l_discount:double>"),
      "lineitem scan must read only the three needed columns")
  }

  test("j2 dedup gate: broadcast LEFT ANTI with DISTINCT build side") {
    val p = plan("j2_dedup_anti_join_row")
    assert(p.contains("LeftAnti") && p.contains("BroadcastExchange"))
  }

  test("j4 existence probe: LEFT SEMI") {
    assert(plan("j4_dedup_exists_key").contains("LeftSemi"))
  }

  test("sort_topk avoids a global sort") {
    val p = plan("sort_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"), "top-k must not range-shuffle")
  }

  test("st1 watermark filter is pushed to the scan after AQE resolves the scalar") {
    val p = plan("st1_incremental_watermark")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThan(o_orderdate"),
      s"watermark must reach the parquet reader:\n$p")
  }

  test("bitmap distinct partial-aggregates BEFORE the shuffle (buffers ride the exchange)") {
    val p = plan("agg_bitmap_distinct")
    val partial = p.indexOf("partial_graft_bitmap_card")
    val exchange = p.indexOf("Exchange hashpartitioning")
    assert(partial >= 0, s"the bitmap aggregate must partial-aggregate map-side:\n$p")
    // toString prints top-down: the partial agg must sit BELOW (after)
    // the (key, seg) exchange — the shuffle carries one fixed 8 KiB
    // buffer per (key, segment) per mapper, never raw id rows
    assert(p.lastIndexOf("Exchange hashpartitioning") < partial,
      s"the shuffle must consume partial bitmap buffers, not raw ids:\n$p")
    assert(exchange >= 0)
  }

  test("join hints reach the planner: SHUFFLE_HASH / MERGE / BROADCAST each select their strategy") {
    graft.queries.Pack.byName("sql_join_hints").fn(spark, TestSpark.sf0001).count()
    def planWith(hint: String): String = spark.sql(
      s"""SELECT /*+ $hint(c) */ o.o_orderkey, c.c_mktsegment
         |FROM hint_orders o JOIN hint_customer c ON o.o_custkey = c.c_custkey
         |WHERE o.o_orderkey % 25 = 0""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(planWith("SHUFFLE_HASH").contains("ShuffledHashJoin"),
      "SHUFFLE_HASH must override the default broadcast")
    assert(planWith("MERGE").contains("SortMergeJoin"))
    assert(planWith("BROADCAST").contains("BroadcastHashJoin"))
  }

  test("LATERAL top-k decorrelates to WindowGroupLimit + broadcast join — not a per-row rescan") {
    val p = plan("sql_lateral_topk")
    assert(p.contains("WindowGroupLimit"),
      s"the correlated LIMIT must lower to the rank-limit pushdown:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the nation dim must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LATERAL must not execute as a per-outer-row rescan:\n$p")
  }

  test("minhash LSH has no cross product (band-key equi-join only)") {
    val p = plan("dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q1 aggregation is partial+final hash aggregate") {
    val p = plan("q1_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(!p.contains("SortAggregate"))
  }

  test("agg_month_filter pushes the calendar range to the scan") {
    val p = plan("agg_month_filter")
    assert(p.contains("GreaterThanOrEqual(o_orderdate") && p.contains("LessThan(o_orderdate"),
      s"month range must be pushed:\n$p")
  }

  test("salted skew aggregate is two cascaded partial+final hash aggregates") {
    val p = plan("agg_salted_skew")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial+final at both the salted and fold-out level:\n$p")
    assert(!p.contains("SortAggregate"))
  }

  test("salted skew join scatters on (key, salt) — the salt reaches the join keys") {
    val p = plan("join_skew_salted")
    assert("__salt".r.findAllIn(p).size >= 2,
      s"both sides must carry the salt into the join:\n$p")
    assert(p.contains("xxhash64"),
      s"the fact side must scatter via the stable hash, not a random salt:\n$p")
  }

  test("range-band join broadcasts the band dim (BNLJ, no cartesian)") {
    val p = plan("join_range_bands")
    assert(p.contains("BroadcastNestedLoopJoin"), s"band dim must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("ann_ivf_drift_eval: centroids broadcast, no unbounded cross join (r15)") {
    // the drift monitor's scale contract: the long-form centroid table
    // rides a broadcast hash join into both distance passes, the probe
    // cross-join's build side is the BOUNDED per-bucket centroid collapse
    // (one row per bucket), and the corpus explode never cartesians
    val df = Pack.byName("ann_ivf_drift_eval").fn(spark, TestSpark.sf0001)
    df.count()
    val exec = df.queryExecution.executedPlan
    val p = exec.toString
    assert(!p.contains("CartesianProduct"))
    assert(unboundedBnljBuilds(exec).isEmpty,
      "every BNLJ build side must be a grouped (per-bucket) aggregate")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"centroid table must broadcast:\n$p")
  }

  test("bloom semi join filters the probe before the exact LeftSemi") {
    val p = plan("join_semi_bloom")
    assert(p.contains("LeftSemi"))
    val filterIdx = p.indexOf("UDF(knownnotnull(l_orderkey")
    val joinIdx = p.indexOf("LeftSemi")
    assert(filterIdx >= 0, s"bloom prefilter must appear in the plan:\n$p")
    assert(filterIdx > joinIdx,
      "bloom filter must sit below (after, in toString order) the semi join it feeds")
  }

  test("gap-fill join is an equi-join on (user, day), no cartesian") {
    val p = plan("resample_gapfill")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("Generate explode"), s"day spine must come from explode(sequence):\n$p")
  }

  test("ranking window family computes all five functions over one exchange") {
    val p = plan("window_rank_family")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"all window functions must share one partitioning:\n$p")
    assert("Window".r.findAllIn(p).size <= 2,
      "rank/dense_rank/row_number/ntile/percent_rank should fuse into few Window ops")
  }

  test("partitioned warehouse read prunes to the filtered partition") {
    val p = plan("s10_scan_partition_pruned")
    assert(p.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"status filter must prune partitions, not scan+filter:\n$p")
    assert(!p.contains("PushedFilters: [IsNotNull(o_orderstatus"),
      "partition column must not degrade to a data filter")
  }

  test("levenshtein predicate gains the length-difference guard (custom rule)") {
    val p = Pack.byName("f35_levenshtein").fn(spark, TestSpark.sf0001)
    val optimized = p.queryExecution.optimizedPlan.toString
    assert(optimized.contains("abs((length(") || optimized.contains("abs(length("),
      s"LevenshteinPrefilter must inject the cheap guard:\n$optimized")
    // value preservation is covered by the DuckDB oracle, which compares
    // the rule-on result against plain SQL levenshtein
    assert(p.count() > 0)
  }

  test("thresholded levenshtein gets no length guard (its -1 would flip)") {
    // levenshtein(a, b, 2) is -1 past the threshold, so -1 <= 4 holds for
    // this pair although its lengths differ by 10; a guard would drop it
    val s = spark
    import s.implicits._
    val df = s.sparkContext.parallelize(Seq(("", "aaaaaaaaaa")), 1).toDF("a", "b")
      .filter(expr("levenshtein(a, b, 2) <= 4"))
    val optimized = graft.plans.LevenshteinPrefilter(df.queryExecution.optimizedPlan)
    assert(!optimized.toString.contains("abs("), s"no guard expected:\n$optimized")
  }

  test("q3 join: date filters pushed to both fact scans, top-10 without global sort") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("GreaterThan(l_shipdate"), "lineitem date filter must be pushed")
    assert(p.contains("LessThan(o_orderdate"), "orders date filter must be pushed")
    assert(p.contains("BroadcastHashJoin"), "the customer dim must broadcast")
  }

  test("cube lowers to one Expand + partial/final aggregate (single scan)") {
    val p = plan("agg_cube")
    assert(p.contains("Expand"), "CUBE must use Expand, not a union of scans")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert("FileScan".r.findAllIn(p).size == 1, s"CUBE must scan once:\n$p")
  }

  test("deterministic mode aggregates before the window sees any raw rows") {
    val p = plan("agg_mode_deterministic")
    val aggIdx = p.indexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && winIdx < p.lastIndexOf("HashAggregate"),
      "the group-count aggregate must run below the ranking window")
  }

  test("moment-based corr is one partial+final aggregate pass, no window") {
    val p = plan("agg_corr_stats")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(!p.contains("Window"), "stats must come from moments, not windows")
    assert("FileScan".r.findAllIn(p).size == 1)
  }

  test("LSH ANN candidate join is a bucket equi-join (no cartesian rerank)") {
    val p = plan("ann_lsh_topk")
    assert(!p.contains("CartesianProduct"))
    // the only nested-loop is the bounded numPlanes-vector broadcast
    assert(p.contains("BroadcastHashJoin"),
      s"bucket match must hash-join query and corpus sides:\n$p")
  }

  test("keep-latest dedup is one exchange + bounded heap: no sort, no self-join") {
    val p = plan("dedup_keep_latest")
    assert(p.contains("TopKPerKey"), "must run through the custom operator")
    assert(!p.contains("Join"), "must not self-join")
    assert(!p.contains("Window"), "must not pay a window sort")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"single key repartition expected:\n$p")
  }

  test("unpivot lowers to Expand (zero-shuffle melt)") {
    val p = plan("reshape_unpivot")
    assert(p.contains("Expand"), s"unpivot must be an Expand, not a union of scans:\n$p")
    assert("FileScan".r.findAllIn(p).size == 1, "melt must scan lineitem once")
  }

  test("bottom-k hash sample runs the bounded heap, not a window sort") {
    val p = plan("sample_bottomk")
    assert(p.contains("TopKPerKey"), "must run through the custom operator")
    assert(!p.contains("Window"), "must not pay a full per-stratum sort")
  }

  test("islands merge is one exchange feeding windows and both aggregations") {
    val p = plan("window_islands")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"windows + per-island and per-user aggs must share the user_id exchange:\n$p")
  }

  test("URL canonicalization is one exchange, no UDF on the per-row path") {
    val p = plan("dedup_url_canonical")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"render + canonicalize must stay narrow; only the canonical-form " +
        s"groupBy may shuffle:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"the canonicalizer must lower to codegen'd built-ins:\n$p")
  }

  test("funnel stages are shrinking equi-joins, never a window over raw events") {
    val p = plan("funnel_conversion")
    assert(!p.contains("Window"), s"funnel must not window the raw stream:\n$p")
    assert(!p.toLowerCase.contains("cartesianproduct"),
      "stage joins must stay equi-joins (the final 1x1x1 count join is broadcast)")
  }

  test("decontamination broadcasts the eval gram set; train side never gram-shuffles") {
    val p = plan("decon_ngram_overlap")
    assert(p.contains("BroadcastHashJoin"), s"eval grams must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "the training side must not shuffle by gram for the overlap join")
  }

  test("duplicate-shingle fraction: salted gram counting, no occurrence-level gram partition") {
    val p = plan("dedup_shingle_dupfrac")
    // document frequencies pre-aggregate per (gram, salt) BEFORE any
    // gram-keyed exchange — a hot boilerplate gram spreads over S buckets
    assert("HashAggregate\\(keys=\\[gram#\\d+, _salt#\\d+\\], functions=\\[partial_count"
      .r.findAllIn(p).nonEmpty,
      s"df-count must pre-aggregate per (gram, salt) map-side:\n$p")
    // the only gram-ONLY exchange carries the collapsed ≤S-rows-per-gram
    // frame into the window sum — never raw occurrences
    assert("Exchange hashpartitioning\\(gram#\\d+, \\d+\\)".r.findAllIn(p).size == 1,
      s"only the collapsed (gram,salt) counts may exchange by gram alone:\n$p")
    // the dup-mark join-back keys on (gram, salt), so occurrence rows of
    // one hot gram never co-locate
    assert("\\[gram#\\d+, _salt#\\d+\\], \\[gram#\\d+, _salt#\\d+\\], LeftOuter"
      .r.findAllIn(p).nonEmpty,
      s"dup-mark join-back must key on (gram, salt):\n$p")
  }

  test("asof nearest rides one key exchange for both direction carries") {
    val p = plan("asof_join_nearest")
    // single-key user_id partitioning = the carry exchange (the signups
    // prep agg exchanges on (user_id, ts) and must not be counted)
    assert("Exchange hashpartitioning\\(user_id#\\d+L?, \\d+\\)".r.findAllIn(p).size == 1,
      s"backward and forward carries must share the user_id exchange:\n$p")
    assert("Window".r.findAllIn(p).size == 2,
      s"B and F carries must collapse to one Window operator each:\n$p")
  }

  test("pair alignment broadcasts centroids and filters before the pair join") {
    val p = plan("multimodal_pair_align")
    assert(p.contains("BroadcastHashJoin"), s"centroid join must broadcast:\n$p")
    assert(!p.toLowerCase.contains("cartesianproduct"))
  }

  test("band join runs the custom sweep operator, not a join+filter") {
    val p = plan("join_band_custom")
    assert(p.contains("BandJoin"), s"must plan the custom operator:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"no built-in join may appear under the band query:\n$p")
  }

  test("pageRank's DataFrame superstep, the path past the gate, shuffles its rank join") {
    import spark.implicits._
    val withDeg = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "outdeg")
    val ranks = Seq((1L, 0.5), (2L, 0.5)).toDF("node", "rank")
    // disable size-estimate auto-broadcast so only the plan's own choice shows
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = graft.ext.Graph.superstep(withDeg, ranks, n = 2, 0.85, 0.15)
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        s"past the gate the rank join must be a shuffled join:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Total shuffle exchanges across EVERY execution a query triggers
    * (iterative queries run many sub-jobs; the returned frame's plan alone
    * hides them). Counted by the record's plan walker — reused exchanges
    * and cache reads are free (TimeQuery.nodes). */
  private def shuffleExchangesAcross(name: String): Int = {
    // measure COLD: a warm BoundedCache/CacheManager entry absorbs its
    // upstream exchanges (InMemoryTableScan counts 0), so a warm count
    // holds in one suite ordering and overflows standalone — the budgets
    // below are pinned to cold-run counts and stay order-independent
    graft.ext.BoundedCache.clear()
    spark.catalog.clearCache()
    val total = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
        total.addAndGet(graft.tools.TimeQuery.nodes(qe.executedPlan).count(
          _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])); ()
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    // events of earlier executions are still queued on the bus, and the
    // new listener would count them
    org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark)
    spark.listenerManager.register(l)
    try {
      Pack.byName(name).fn(spark, TestSpark.sf0001).count()
      org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark)
    } finally spark.listenerManager.unregister(l)
    total.get
  }

  // Exchange-count budgets for the heavy queries: a future edit that
  // silently adds a shuffle (an extra groupBy+join, a lost broadcast)
  // blows the ceiling. Pinned to the measured counts at sf0.001 — the
  // tree-walk count is deterministic for a fixed fixture and iteration
  // schedule (pagerank: 3 setup + 1 per superstep × 5).
  // dedup_cluster_cc went 12 → 13 in r9: the +1 is simhashPairs'
  // cardinality fence — a deliberate scalar count over the already-
  // persisted signature frame (one single-partition agg exchange), the
  // price of refusing unbounded all-pairs input.
  for ((name, budget) <- Seq(
      // r18 optimization round: under the rank-broadcast gate the cached
      // edge frame is pre-partitioned by dst once (a lazy persist built
      // inside the first superstep's job), which makes every superstep's
      // dst aggregation reuse that partitioning — the only visible
      // exchanges left are each driver action's own SinglePartition
      // count-agg: 8 (3 setup + 1 per superstep × 5) → 5 (one per job).
      // 5 → 2 when the supersteps under the gate became RDD jobs: the
      // loop's SQL executions are the node count over the cached edge set
      // (0: the walker stops at the cache read), the result's count and
      // the caller's count (1 each). That is not every shuffle the query
      // runs: the real total is 6 shuffle stages, adding the edge set's
      // distinct inside the cache and three RDD shuffles that are not plan
      // nodes (the node count's, and the index pass's by src and by dst).
      // PageRankPathsSpec pins pageRank's own shuffle stages (5 with its
      // result count, none per superstep)
      "graph_pagerank" -> 2,
      "dedup_cluster_cc" -> 13,
      "text_tfidf_sim_topk" -> 8,
      // 8 → 4: measured with the PQ code table present (the test runs
      // the query once first); 8 was the count of the JVM that built it
      "ann_pq_adc_topk" -> 4,
      // continuation-session heavy queries, same pinned-cold-count rule:
      // common-neighbors = adj degree agg + wedge agg + final sort feed;
      // fuzzy dedup rides the persisted LSH candidate frame (1); PRF's 7
      // are its two inverted-index passes + two top-k windows + scoring
      "graph_common_neighbors" -> 3,
      "dedup_fuzzy_levenshtein" -> 1,
      "retrieval_prf_expansion" -> 7,
      // round-10 heavy queries, pinned at their measured cold counts
      // (3/4/5): the gated broadcasts keep every per-round vote/argmax
      // and the wedge/close passes exchange-free — label propagation's 3
      // are the edge build + adj distinct + seed distinct; triangle's 4
      // are edge build + canon distinct + degree agg + the one fused
      // wedge+close count; containment's 5 are the jaccardPairs shape
      // (salted df count ×2, sizes, shared-gram agg, final sort feed)
      // with the two directed readings EXPANDED in-pass, not unioned
      // r18: the adjacency is pre-partitioned by x under the gate (lazy
      // persist, built inside round 1's jobs) — the per-round vote and
      // argmax exchanges disappear from the executed plans (2 per round
      // → 0, see plans/r18) and the visible count stays at the three
      // driver actions' own SinglePartition count-aggs
      "graph_label_propagation" -> 3,
      "graph_triangle_count" -> 4,
      "dedup_containment" -> 5,
      // continuation batch: the leakage-safe split's cold count is ONE
      // visible exchange — the signature aggregations build inside the
      // BoundedCache'd InMemoryRelations (cache builds are the train-
      // once cost, not per-query), the band-candidate and verify joins
      // broadcast at fixture scale, and count() prunes the final sort.
      // A corpus-sized shuffle sneaking into the verify stage blows this
      "split_leakage_safe" -> 1,
      // e2e pipeline: fingerprint agg, contamination doc-agg, cumsum's
      // chunk agg + offset window feed, shard manifest agg, sort feed —
      // six for five chained stages; a per-stage corpus re-shuffle
      // sneaking in pushes past this immediately
      "pipeline_curation_e2e" -> 6,
      // IVF-PQ serving: LUT agg + probed-vec join feed + codes join +
      // ADC rollup + heap feed + rank window — the codes⋈cells corpus
      // shuffle the review removed would reappear ABOVE this budget
      "ann_ivfpq_topk" -> 6)) {
    test(s"$name stays within its shuffle-exchange budget ($budget)") {
      // a persisted train-once table (IVF centroids, PQ codes, band index)
      // is built only when it is missing from disk, and its build's
      // exchanges would count in whichever JVM runs first: run once, so
      // every JVM measures with the tables present
      Pack.byName(name).fn(spark, TestSpark.sf0001).count(): Unit
      val got = shuffleExchangesAcross(name)
      assert(got <= budget, s"$name now triggers $got shuffle exchanges " +
        s"(budget $budget) — a new shuffle crept into the pipeline")
    }
  }

  // Warm-JVM rerun of the retained-result loops: a second run of the same
  // query canonicalizes to the SAME logical plan, so the retention
  // eviction (Fixpoint's, through BoundedCache) must happen BEFORE the new
  // run persists — evicting afterwards removes the shared cache entry out
  // from under the frame just returned and the caller's first action
  // recomputes the whole loop lineage (label propagation regressed
  // 3 → 10 shuffles exactly this way when a prior suite had already run
  // the query in the same JVM).
  for ((name, budget) <- Seq(
      "graph_label_propagation" -> 3,
      "graph_pagerank" -> 2)) {
    test(s"$name budget holds on a warm rerun (retention eviction order)") {
      shuffleExchangesAcross(name): Unit // warm the retained result
      val got = shuffleExchangesAcross(name)
      assert(got <= budget, s"$name triggers $got shuffle exchanges on a " +
        s"warm rerun (budget $budget) — the retained previous result was " +
        "evicted after the identical-plan re-persist, killing the live " +
        "cache entry")
    }
  }

  // per-source running totals/ordinals ride the chunked two-level prefix
  // sum — a plain per-source window would serialize each source onto one
  // task at any corpus size
  for ((name, part, ord) <- Seq(
      ("mixture_token_budget", "source", "doc_id"),
      ("text_pack_sequences", "source", "doc_id"),
      ("sample_mixture", "source", "doc_id"),
      ("sample_stratified", "event_type", "event_id"))) {
    test(s"$name cumsum is chunk-partitioned — no single-partition-per-group window") {
      val p = plan(name)
      // the corpus-side running total windows over (group, chunk): each
      // task holds at most `span` rows of one group, never a whole group
      assert(s"windowspecdefinition\\($part#\\d+, _chunk#\\d+L?, $ord#\\d+L? ASC"
        .r.findAllIn(p).nonEmpty,
        s"the row-level cumsum must partition by ($part, chunk):\n$p")
      // the only group-ONLY window runs over the collapsed per-chunk sums
      // (~n/span rows); its input must be the chunk aggregate, not raw rows
      assert("Window \\[sum\\(_csum#\\d+L?\\)".r.findAllIn(p).size == 1,
        s"per-group offsets must come from the collapsed chunk frame:\n$p")
      assert(s"windowspecdefinition\\($part#\\d+, $ord".r.findAllIn(p).isEmpty,
        s"no window may order the raw row stream within a group alone:\n$p")
    }
  }

  test("exact-substring dedup: anti-join cover removal, salted gram stages, no cartesian") {
    val p = plan("dedup_exact_substring")
    assert(p.contains("LeftAnti"), s"cover removal must be an anti join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // corpus-wide gram counts pre-aggregate per (gram, salt); duplicate
    // starts come from a semi join keyed (gram, salt) — no stage holds a
    // hot gram's full occurrence set on one task
    assert("HashAggregate\\(keys=\\[gram#\\d+, _salt#\\d+\\], functions=\\[partial_count"
      .r.findAllIn(p).nonEmpty,
      s"gram counting must pre-aggregate per (gram, salt) map-side:\n$p")
    assert("\\[gram#\\d+, _salt#\\d+\\], \\[gram#\\d+, _salt#\\d+\\], LeftSemi"
      .r.findAllIn(p).nonEmpty,
      s"duplicate-start selection must semi-join on (gram, salt):\n$p")
    // covered-position dedup keeps its map-side partial aggregate (the
    // overlapping-span blowup collapses before the (doc,pos) exchange)
    assert("HashAggregate\\(keys=\\[doc_id#\\d+L?, pos#\\d+\\], functions=\\[\\], output".r
      .findAllIn(p).size >= 2,
      s"covered dedup must partial-aggregate before its exchange:\n$p")
  }

  test("semantic dedup pair comparison is a bucket equi-join, never a vector cross product") {
    val df = Pack.byName("dedup_semantic_keep").fn(spark, TestSpark.sf0001)
    df.count()
    val exec = df.queryExecution.executedPlan
    val p = exec.toString
    assert(!p.contains("CartesianProduct"),
      s"the SemDeDup pair join must stay bucket-confined:\n$p")
    // nested-loop joins may appear only as the bounded k-row stored-
    // centroid broadcast feeding the bucket ASSIGNMENT (same shape as
    // the IVF probe path): the BUILD side must be the per-centroid
    // grouping aggregate (one row per bucket), never a raw vector frame.
    // Checked structurally per BNLJ node — mere presence of some bounded
    // operator elsewhere in the plan must not excuse a vector-vs-vector
    // nest-loop (the r7 vacuous-guard finding).
    unboundedBnljBuilds(exec).foreach { build =>
      fail(s"BroadcastNestedLoopJoin builds a non-aggregated (unbounded) side — " +
        s"vector-vs-vector cross product:\n$build")
    }
    assert("Join \\[ab#\\d+\\], \\[bb#\\d+\\], Inner".r.findAllIn(p).nonEmpty,
      s"pair comparison must equi-join on the assigned bucket:\n$p")
    // the assignment is computed ONCE (cached) and via the bounded-heap
    // argmax, not a window sort
    assert(p.contains("InMemoryTableScan"),
      s"the bucket assignment must be cached for its three consumers:\n$p")
  }

  test("BNLJ detector flags an injected vector-vs-vector cross join (guard is not vacuous)") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val injected = emb.crossJoin(
      emb.select(col("vec_id").as("v2"), col("embedding").as("e2")))
    val offenders = unboundedBnljBuilds(injected.queryExecution.executedPlan)
    assert(offenders.nonEmpty,
      "the detector must flag a raw vector-vs-vector nested-loop build; " +
        "if it passes this injection it is vacuous")
  }

  test("PQ ADC query serves stored codes — no codebook training in the timed path") {
    val p = plan("ann_pq_adc_topk")
    assert(p.contains("pqcodes_"),
      s"the ADC scan must read the persisted PQ code table:\n$p")
    // the only raw-embedding scans allowed are the QUERY side (vec_id<10
    // pushed down); a full-corpus embeddings scan means the query is
    // re-encoding / re-training per run (the r8 bench-variance source)
    val corpusScans = p.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("embeddings.parquet") &&
        !l.contains("LessThan(vec_id,10)")).toSeq
    assert(corpusScans.isEmpty,
      s"full-corpus embeddings scan in the ADC query path (training leak):\n" +
        corpusScans.mkString("\n"))
  }

  test("ANN refine: exact re-rank stays candidate-bounded (broadcast equi-joins, no cross product)") {
    for (name <- Seq("ann_pq_refine_topk", "ann_sq8_refine_topk")) {
      val df = Pack.byName(name).fn(spark, TestSpark.sf0001)
      df.count()
      val exec = df.queryExecution.executedPlan
      val p = exec.toString
      assert(!p.contains("CartesianProduct"),
        s"$name: the exact stage must join candidates, never cross:\n$p")
      // the refine stage's joins are equi (on nid then qid) with the
      // candidate set and query block broadcast — the corpus fetches
      // full-precision vectors map-side. The only nest-loop the plan may
      // carry is the retriever scans' own QUERY-block broadcast (the
      // vec_id<10 pushed filter — ≤|Q| rows by construction, the
      // bruteTopK shape); a build side WITHOUT that filter would be a
      // corpus frame, i.e. a leaked vector cross product.
      unboundedBnljBuilds(exec)
        .filterNot(_.toString.contains("LessThan(vec_id,10)"))
        .foreach { build =>
          fail(s"$name: BNLJ builds an unbounded non-query side — the " +
            s"refine stage leaked a vector cross product:\n$build")
        }
      assert(p.contains("BroadcastHashJoin"),
        s"$name: candidate/query sides must broadcast into the corpus scan:\n$p")
    }
  }

  test("live JDBC scan: range-partitioned parallel read, WHERE pushed into the remote SQL") {
    val p = plan("s8_scan_jdbc_live")
    assert(p.contains("JDBCRelation(ORDERS_SLICE) [numPartitions=4]"),
      s"the JDBC read must split into range-bounded partitions:\n$p")
    assert(p.contains("PushedFilters: [*IsNotNull(o_custkey), *GreaterThan(o_custkey,0)]"),
      s"the filter must push into the remote query (starred = fully remote):\n$p")
  }

  test("OOV rate broadcasts the vocabulary; corpus side never token-shuffles for the probe") {
    val p = plan("text_oov_rate")
    assert(p.contains("BroadcastHashJoin"), s"vocab must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "the corpus must not shuffle by token for the vocab probe")
  }

  test("KS drift test: every ECDF window reads pre-binned aggregates, never raw events") {
    val df = Pack.byName("stats_ks_test").fn(spark, TestSpark.sf0001)
    df.count()
    val exec = df.queryExecution.executedPlan
    val wins = walk(exec).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, s"the cumulative ECDF must be a window:\n$exec")
    // the window partitions by event_type alone — safe ONLY because its
    // input is the (event_type, bucket) aggregate (<= 100 rows per type
    // at any corpus size); a window over raw events would serialize each
    // event_type's full history onto one task. The binned frame is
    // BoundedCache-persisted, so the walk must descend into the cached
    // relation's plan to find the aggregate.
    def walkCached(pl: SparkPlan): Seq[SparkPlan] = walk(pl).flatMap {
      case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        im +: walkCached(im.relation.cachedPlan)
      case o => Seq(o)
    }
    wins.foreach { w =>
      assert(walkCached(w.child).exists {
        case a: BaseAggregateExec => a.groupingExpressions.nonEmpty
        case _                    => false
      }, s"ECDF window input must be the binned aggregate, got:\n${w.child}")
    }
  }

  test("hard-negative mining: query block broadcasts; corpus streams scan-to-join unshuffled") {
    val df = Pack.byName("mine_hard_negatives").fn(spark, TestSpark.sf0001)
    df.count()
    val exec = df.queryExecution.executedPlan
    val bnlj = walk(exec).collect { case b: BroadcastNestedLoopJoinExec => b }
    assert(bnlj.size == 1, s"exactly one broadcast scoring join expected:\n$exec")
    val stream = bnlj.head.buildSide match {
      case BuildRight => bnlj.head.left
      case BuildLeft  => bnlj.head.right
    }
    assert(!walk(stream).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
      s"the corpus side must reach the scoring join without a shuffle:\n$stream")
  }

  test("fuzzy dedup verifies banded-LSH candidates: equi-joins only, no cross product") {
    val df = Pack.byName("dedup_fuzzy_levenshtein").fn(spark, TestSpark.sf0001)
    df.collect() // run this plan itself, so AQE finalizes its codegen stages
    val exec = df.queryExecution.executedPlan
    val p = exec.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation and text fetch must stay equi-joins:\n$p")
    // the verifier is the compiled bit-parallel kernel: graft_levenshtein
    // evaluated inside a whole-stage codegen stage (not crossing the
    // stage's InputAdapter borders), and Spark's DP appears nowhere
    def stage(pl: SparkPlan): Seq[SparkPlan] = pl match {
      case _: InputAdapter => Nil
      case o               => o +: o.children.flatMap(stage)
    }
    val compiled = walk(exec).collect { case w: WholeStageCodegenExec => w }
      .exists(w => stage(w.child).exists(_.expressions.exists(_.exists(_.isInstanceOf[EditDistance]))))
    assert(compiled,
      s"the verification stage must call graft_levenshtein inside WholeStageCodegen:\n$p")
    assert("(?<!\\w)levenshtein\\(".r.findFirstIn(p).isEmpty,
      s"Spark's levenshtein DP must not appear in the plan:\n$p")
  }

  test("dense rerank cascade: candidate and embedding joins are equi-joins, no cross product") {
    val p = plan("retrieval_rerank_dense")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the dense stage must score only id-joined candidates:\n$p")
  }

  test("bucketed SMB join consumes bucket files with zero join exchanges") {
    val p = plan("join_bucketed_smb")
    assert(p.contains("SortMergeJoin"), s"must sort-merge over buckets:\n$p")
    // the single hash exchange is the aggregation ABOVE the join (keyed
    // on o_orderpriority); the join itself must read bucket files with
    // no exchange on either input
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1 &&
      !p.contains("Exchange hashpartitioning(o_orderkey") &&
      !p.contains("Exchange hashpartitioning(l_orderkey"),
      s"bucketing must eliminate the join-key exchanges:\n$p")
    assert("Bucketed: true".r.findAllIn(p).size == 2,
      s"both scans must read bucketed layout:\n$p")
  }

  test("agent_route_tables: top-20 via TakeOrdered, broadcast star join, pruned scans, " +
       "unused view columns never compute") {
    val p = plan("agent_route_tables")
    // rule 6 (LIMIT 20) must plan as top-k, one per routed answer —
    // never a global sort of the aggregate
    assert("TakeOrderedAndProject\\(limit=20".r.findAllIn(p).size == 3,
      s"all three routed answers must plan as limit-20 top-k:\n$p")
    // the carrefour star join broadcasts both dims (part + the sliced
    // orders keys); nothing sort-merges or cross-joins
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2 &&
      !p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"dims must broadcast:\n$p")
    // column pruning through the temp views: the lineitem scan reads only
    // the four columns the routed answer needs — the mp/bank views' many
    // derived columns (hora_pago, payer_name, …) never compute, and both
    // orders-backed answers read two columns each
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint," +
      "l_linenumber:int,l_extendedprice:double>"),
      s"lineitem scan must be pruned to 4 columns:\n$p")
    assert("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>".r
      .findAllIn(p).size == 2,
      s"mp/bank answers must each read only 2 orders columns:\n$p")
    // partial aggregation rides below every exchange (map-side combine)
    assert("partial_sum".r.findAllIn(p).size == 3,
      s"every answer must partial-aggregate before its exchange:\n$p")
  }
}

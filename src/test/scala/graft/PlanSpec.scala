package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Plan-shape regression locks for the scale contracts the README/SURVEY
  * claim: dimension joins broadcast, parquet scans carry pushed filters
  * and pruned schemas, top-n-per-group pre-prunes, and the dedup pipeline
  * never goes quadratic. These are the properties a 100 TB run depends
  * on; value-correctness alone would not catch losing one.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def executedPlan(name: String): String = {
    val df = Registry.all(name).fn(spark, sfDir)
    df.write.format("noop").mode("overwrite").save() // let AQE finalize
    df.queryExecution.executedPlan.toString
  }

  test("q03: dimension joins broadcast; scans push filters and prune columns") {
    val p = executedPlan("tpch_q03_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast under AQE")
    assert(p.contains("PushedFilters: ["), "parquet scan must carry pushed filters")
    assert(!p.toLowerCase.contains("cartesianproduct"))
    // column pruning: lineitem scan must not read all 7 columns
    assert(p.contains("ReadSchema"), p.linesIterator.take(5).mkString("\n"))
  }

  test("q05: five-table join tree stays broadcast + shuffle, no nested loop") {
    val p = executedPlan("tpch_q05_local_supplier_volume")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.toLowerCase.contains("cartesianproduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("join strategy flip: broadcast and sort-merge give identical results") {
    // At 100 TB a "small" dim can cross the broadcast threshold and the
    // planner falls back to shuffle joins — results must not depend on
    // which strategy won. Run q03 under the default threshold (dims
    // broadcast) and with broadcasting disabled (forced shuffle join),
    // and require the same rows from structurally different plans.
    val name = "tpch_q03_shipping_priority"
    val broadcastRows = Registry.all(name).fn(spark, sfDir)
      .collect().map(_.toString).sorted
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = Registry.all(name).fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save() // let AQE finalize
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        "threshold -1 must force the non-broadcast strategy")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffle join, got:\n${p.linesIterator.take(12).mkString("\n")}")
      val shuffleRows = df.collect().map(_.toString).sorted
      assert(shuffleRows.sameElements(broadcastRows),
        "join results must be identical across broadcast and shuffle strategies")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE flip: adaptive re-planning must not change results") {
    val name = "tpch_q05_local_supplier_volume"
    val aqeRows = Registry.all(name).fn(spark, sfDir).collect().map(_.toString).sorted
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val rows = Registry.all(name).fn(spark, sfDir).collect().map(_.toString).sorted
      assert(rows.sameElements(aqeRows),
        "q05 results must be identical with AQE on and off")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("shuffle-partition invariance: partial-agg merge order cannot leak into results") {
    // 2 vs 32 shuffle partitions changes how many partial aggregates
    // merge and in what order — the exact-decimal-sum discipline exists
    // so this flip is invisible. q01 carries the sums that would drift
    // first if a float sum snuck back in.
    val name = "tpch_q01_pricing_summary"
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def rowsAt(n: String): Array[String] = {
      spark.conf.set("spark.sql.shuffle.partitions", n)
      Registry.all(name).fn(spark, sfDir).collect().map(_.toString).sorted
    }
    try assert(rowsAt("2").sameElements(rowsAt("32")),
      "q01 must be bit-identical at 2 and 32 shuffle partitions")
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("tpcds bench heavies: dims broadcast, no nested loop anywhere") {
    // the four headline TPC-DS shapes (q64 snowflake self-join, q72
    // triple-fact chain, q95 semi-join chain, q67 rollup window): the
    // reference benches TPC-DS at sf10000, where a single nested-loop or
    // an unbroadcast dim is the difference between minutes and days
    for (q <- Seq("tpcds_q64_composite_resale", "tpcds_q72_inventory_chain",
        "tpcds_q95_multi_warehouse")) {
      val p = executedPlan(q)
      assert(!p.toLowerCase.contains("cartesianproduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q must never plan a nested loop:\n${p.linesIterator.take(15).mkString("\n")}")
      assert(p.contains("BroadcastHashJoin"), s"$q's dims must broadcast")
    }
    val p67 = executedPlan("tpcds_q67_rollup_topk")
    assert(p67.contains("WindowGroupLimit"),
      "q67's rk <= 10 must pre-prune per-partition before the full sort")
    assert(!p67.toLowerCase.contains("cartesianproduct"))
  }

  test("asof join plans one window over the union — no join operator at all") {
    for (q <- Seq("events_asof_join", "events_asof_forward")) {
      val p = executedPlan(q)
      assert(!p.contains("Join"),
        s"$q must ride the union+window shape, never a per-key range join:\n" +
          p.linesIterator.take(30).mkString("\n"))
      assert(p.contains("Window"), s"$q's nearest-event carry must be a window")
    }
  }

  test("sliced as-of: the big union shuffles once; boundary carry stays small") {
    // the SCALE_r14 claim: both window columns share one partition+order
    // spec (one WindowExec span over ONE exchange of the union), the
    // boundary aggregation runs on the window's partitioning without a
    // further exchange of the big side, and only the small boundary frame
    // moves for the join-back — so total exchanges stay bounded (union
    // side + boundary-carry re-key + broadcast/shuffle of the tiny
    // boundary), never a second shuffle of the full corpus
    val p = executedPlan("events_asof_sliced")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3,
      s"sliced as-of must not re-shuffle the big side ($exchanges exchanges):\n" +
        p.linesIterator.take(40).mkString("\n"))
    assert(p.contains("Window"), "both phases ride window evaluation")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.toLowerCase.contains("cartesianproduct"))
  }

  test("change feed: one scan of the table, tombstones broadcast, no big-side shuffle") {
    // the readChanges contract (SCALE_r15 fourth sitting, tightened in
    // r17): insert and delete events derive from ONE pass over the
    // to-snapshot — the tombstone seq-sets reduce on the (small) sidecar
    // and broadcast in, and the only hash-partitioned exchanges are the
    // sidecar reduction and the test query's own final aggregate — never
    // a shuffle of the table. r17 split the file set at planning time:
    // this table's files all predate the range anchor, so the plan must
    // take the delete-only fast path — an INNER broadcast join with NO
    // event-array Generate at all (unmatched rows exit at the probe);
    // the two-event explode exists only for files committed in-range.
    val p = executedPlan("ddl_mor_changes_read")
    assert(!p.contains("SortMergeJoin") && !p.toLowerCase.contains("cartesianproduct"),
      "the feed must broadcast-join the tombstone reduction, never shuffle the table:\n" +
        p.linesIterator.take(40).mkString("\n"))
    assert(p.contains("BroadcastHashJoin"), "tombstone seq-sets must broadcast")
    assert(!p.contains("Generate"),
      "pre-anchor files take the delete-only path: no per-row event explode:\n" +
        p.linesIterator.take(40).mkString("\n"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"feed must add no table-side exchange ($exchanges hash exchanges):\n" +
        p.linesIterator.take(40).mkString("\n"))
  }

  test("llm_sample_per_class pre-prunes map-side via WindowGroupLimit") {
    val p = executedPlan("llm_sample_per_class")
    assert(p.contains("WindowGroupLimit"),
      "the per-class top-k must prune below the exchange:\n" +
        p.linesIterator.take(25).mkString("\n"))
  }

  test("bucketed range join plans a hash join on buckets, never a nested loop") {
    val p = executedPlan("join_range_bucketed")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.toLowerCase.contains("cartesianproduct"),
      "the BETWEEN predicate must ride the bucket equi-join, not a nested loop:\n" +
        p.linesIterator.take(30).mkString("\n"))
    assert(p.contains("__rj_bucket"), "join keys must include the quantized bucket id")
  }

  test("timestamp range join plans the bucket equi-join on the temporal domain") {
    val p = executedPlan("events_time_in_window")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.toLowerCase.contains("cartesianproduct"),
      "timestamp containment must ride the bucket equi-join, not a nested loop:\n" +
        p.linesIterator.take(30).mkString("\n"))
    assert(p.contains("__rj_bucket"), "join keys must include the quantized bucket id")
  }

  test("interval-overlap join plans a hash join on buckets, never a nested loop") {
    val p = executedPlan("join_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.toLowerCase.contains("cartesianproduct"),
      "the overlap predicate must ride the bucket equi-join:\n" +
        p.linesIterator.take(30).mkString("\n"))
    assert(p.contains("__rj_bucket"), "join keys must include the quantized bucket id")
  }

  test("q06: single scan with pushed range filters, no shuffle except final agg") {
    val p = executedPlan("tpch_q06_forecast_revenue")
    assert(p.contains("PushedFilters: ["))
    assert(p.contains("HashAggregate"))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"))
  }

  test("top-n per group pre-prunes below the sort (WindowGroupLimit)") {
    val p = executedPlan("window_topn_per_group")
    assert(p.contains("WindowGroupLimit"), p.linesIterator.take(8).mkString("\n"))
  }

  test("partsupp queries (q02/q11/q20) decorrelate: hash joins, no cartesian") {
    for (name <- Seq("tpch_q02_min_cost_supplier", "tpch_q11_important_stock",
        "tpch_q20_excess_stock_supplier")) {
      val p = executedPlan(name)
      assert(!p.toLowerCase.contains("cartesianproduct"), s"$name: no cartesian")
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
        s"$name: correlated subqueries must lower to joins")
    }
  }

  test("tpcds q3/q19 star joins broadcast their dims, no nested loop") {
    for (name <- Seq("tpcds_q3_brand_by_year", "tpcds_q19_cross_border_brand")) {
      val p = executedPlan(name)
      assert(p.contains("BroadcastHashJoin"), s"$name: dims must broadcast")
      assert(!p.toLowerCase.contains("cartesianproduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$name: no nested loop")
      assert(p.contains("PushedFilters: ["), s"$name: filters must push to the scan")
    }
  }

  test("tpcds q36 rollup ranks on the aggregated side (window after agg)") {
    val p = executedPlan("tpcds_q36_rollup_rank")
    assert(p.contains("Expand"), "rollup lowers to Expand")
    assert(p.contains("Window"), "rank must survive")
    assert(p.indexOf("Window") < p.indexOf("Expand"),
      "window must sit above the rollup aggregate, not under it")
  }

  test("minhash dedup plan: hash joins only, candidate join keys on (band, bucket)") {
    val df = Registry.all("llm_dedup_minhash").fn(spark, sfDir)
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.toLowerCase.contains("cartesian"), "candidate generation must never cross-join")
    assert(p.contains("band") && p.contains("bucket"))
    // bucket width must be a map-side-combinable aggregate + join back,
    // never count(1).over(partitionBy(band, bucket)) — the window form
    // sorts a degenerate bucket onto ONE task before the cap can act
    assert(!p.contains("Window"),
      "no window sort on the raw banded frame — bucket width must aggregate map-side")
  }

  test("tpcds q88 pivot: eight single-row buckets join as broadcast, one scan each") {
    val p = executedPlan("tpcds_q88_count_buckets")
    // each bucket is a global aggregate to ONE row; the pivot is seven
    // broadcast joins of single-row sides — never a shuffled join
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "single-row bucket joins must broadcast")
    assert(!p.toLowerCase.contains("cartesianproduct"))
    assert(p.contains("PushedFilters: ["), "band predicates must reach the scans")
  }

  test("fixed-point sum: q01, q67, q14_2 and the FILTER aggregate carry Dsum8's hi/lo buffers") {
    // plan only: q67, q14_2 and agg_filter_clause spell the plain decimal
    // sum, so only FixedPointSum puts the two-long buffer there — a lost
    // rule would stay oracle-green. Each sums a cast (q14_2's inside CASE
    // branches), so Dsum8 gets the DOUBLE: a DECIMAL(30,8) input costs
    // decimal compares per row.
    for (name <- Seq("tpch_q01_pricing_summary", "tpcds_q67_rollup_topk",
        "tpcds_q14_2_period_compare", "agg_filter_clause")) {
      val plan = Registry.all(name).fn(spark, sfDir).queryExecution.optimizedPlan
      val dsums = plan.flatMap(_.expressions.flatMap(_.collect {
        case d: org.apache.spark.sql.catalyst.expressions.aggregate.Dsum8 => d
      }))
      assert(dsums.nonEmpty && dsums.forall(d =>
        d.aggBufferAttributes.map(_.name).take(2) == Seq("hi", "lo") &&
          d.child.dataType == org.apache.spark.sql.types.DoubleType), s"$name:\n$plan")
    }
  }

  test("tpcds q67/q89/q98 window-over-agg: window sits above the aggregate") {
    for (name <- Seq("tpcds_q67_rollup_topk", "tpcds_q89_monthly_deviation",
        "tpcds_q98_class_ratio", "tpcds_q47_lag_lead_deviation")) {
      val p = executedPlan(name)
      assert(p.contains("Window"), s"$name: window must survive")
      assert(p.contains("HashAggregate"), s"$name: aggregate below the window")
      assert(!p.toLowerCase.contains("cartesianproduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$name: no nested loop")
    }
  }

  test("tpcds q14 channel intersection: semi joins against the part set, no nested loop") {
    val p = executedPlan("tpcds_q14_cross_channel")
    assert(p.contains("LeftSemi"), "IN (SELECT pk ...) must lower to a semi join")
    assert(!p.toLowerCase.contains("cartesianproduct"))
  }

  test("tpcds q1 correlated above-average screen decorrelates to joins") {
    val p = executedPlan("tpcds_q1_returns_above_avg")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "correlated scalar subquery must lower to a join against the per-nation means")
    assert(!p.toLowerCase.contains("cartesianproduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("tpcds q69 EXISTS/NOT EXISTS lower to semi + anti joins") {
    val p = executedPlan("tpcds_q69_channel_exclusive")
    assert(p.contains("LeftSemi"), "EXISTS must lower to a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must lower to an anti join")
    assert(!p.toLowerCase.contains("cartesianproduct"))
  }

  test("tpcds q78 returns exclusion lowers to an anti join, no nested loop") {
    val p = executedPlan("tpcds_q78_clean_order_growth")
    assert(p.contains("LeftAnti"), "NOT EXISTS returns screen must lower to an anti join")
    assert(!p.toLowerCase.contains("cartesianproduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("tpcds q25 temporal EXISTS lowers to a semi join with a range condition") {
    val p = executedPlan("tpcds_q25_repeat_revenue")
    assert(p.contains("LeftSemi"), "temporal EXISTS must lower to a semi join")
    assert(!p.toLowerCase.contains("cartesianproduct"))
  }

  test("distributed 6-col sort plans a range-partitioned global sort") {
    val p = executedPlan("sort_distributed_6col")
    assert(p.toLowerCase.contains("rangepartitioning"),
      "full ORDER BY must exchange on rangepartitioning (distributed sort), not a single partition")
    assert(p.contains("Sort"))
  }

  test("tpcds q64 composite-key self-join: dims join the aggregate, no nested loop") {
    val p = executedPlan("tpcds_q64_composite_resale")
    assert(p.contains("HashAggregate"))
    assert(!p.toLowerCase.contains("cartesianproduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("tpcds q49/q58/q90 single-pass conditional aggregates: one scan, no union re-scan") {
    for (name <- Seq("tpcds_q49_dual_rank", "tpcds_q58_channel_band", "tpcds_q90_am_pm")) {
      val p = executedPlan(name)
      assert(p.contains("HashAggregate"), s"$name")
      assert(!p.contains("Union"), s"$name: conditional sums must share one scan, not union branches")
    }
  }

  test("tpcds q23/q65 agg-funnels: fact shuffles once per agg key, no nested loop") {
    for (name <- Seq("tpcds_q23_frequent_best", "tpcds_q65_low_revenue_parts",
        "tpcds_q31_share_shift", "tpcds_q59_year_over_year")) {
      val p = executedPlan(name)
      assert(p.contains("HashAggregate"), s"$name: aggregates must hash")
      assert(!p.toLowerCase.contains("cartesianproduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$name: no nested loop")
    }
  }

  private def factScans(plan: String, table: String): Int =
    plan.linesIterator.count(l =>
      (l.contains("Scan parquet") || l.contains("FileScan")) && l.contains(table))

  test("tpcds q4 pivot folds the growth tower into ONE fact scan") {
    // the oracle runs q4's literal 4-way CTE self-join; the Spark plan
    // must NOT — under CTE inlining the tower rescans lineitem four
    // times, and the whole point of the pivot rewrite is one pass
    val p = executedPlan("tpcds_q4_growth_tower")
    assert(factScans(p, "lineitem") == 1,
      s"growth tower must scan lineitem exactly once, saw ${factScans(p, "lineitem")}")
    assert(!p.toLowerCase.contains("cartesianproduct"))
  }

  test("tpcds q72 inventory chain: dims broadcast, filters pushed, no cartesian") {
    val p = executedPlan("tpcds_q72_inventory_chain")
    assert(p.contains("BroadcastHashJoin"), "part/supplier dims must broadcast")
    assert(p.contains("PushedFilters: ["), "p_size/priority filters must reach the scans")
    assert(!p.toLowerCase.contains("cartesianproduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("tpcds q95 multi-hop membership lowers to semi joins") {
    val p = executedPlan("tpcds_q95_multi_warehouse")
    assert(p.contains("LeftSemi"), "both IN probes must lower to semi joins")
    assert(!p.toLowerCase.contains("cartesianproduct"))
  }

  test("llm_sequence_packing windows per shard, never a single global partition") {
    val p = executedPlan("llm_sequence_packing")
    assert(p.contains("Window"))
    assert(p.contains("hashpartitioning(shard"),
      "the pack cumsum must partition by shard — a global-order window is a 1-partition bottleneck")
  }

  test("llm_embedding_quantize plans map-side only: no exchange below the sort") {
    val df = Registry.all("llm_embedding_quantize").fn(spark, sfDir)
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.contains("Join") && !p.contains("Aggregate"),
      "quantization is per-row expression work; nothing may shuffle or aggregate")
  }

  test("llm_decontaminate broadcasts the benchmark fingerprints, corpus never shuffles on content") {
    val p = executedPlan("llm_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "the eval shingle set must broadcast; a shuffled containment join moves the corpus")
    assert(!p.toLowerCase.contains("cartesianproduct"))
  }

  test("llm_decontaminate_triaged: term filter sits below the posting shuffle; candidate cut and eval shingles broadcast into the verify") {
    val p = executedPlan("llm_decontaminate_triaged")
    // inverted-index access without an index: the BM25 posting build must
    // filter tokens to the query list BEFORE the (doc_id, term) shuffle
    val gen = p.linesIterator.filter(_.contains("Generate explode")).mkString("\n")
    assert(p.contains("IN (dup,join,filter,scan)"),
      s"query-term filter must appear on the exploded token stream:\n$gen")
    assert(p.contains("HashAggregate"), "posting build must aggregate")
    // the verify stage must consume the topK-bounded candidate set and
    // the eval shingle set as BROADCASTS — the corpus never shuffles on
    // shingle content
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "candidate cut and eval shingles must both broadcast into the verify")
    assert(!p.toLowerCase.contains("cartesianproduct"))
  }

  test("bigram-LM scored joins: hot stop-word keys salt into cells; values unchanged") {
    import org.apache.spark.sql.functions.{array_repeat, col, concat_ws, lit, xxhash64}
    // Planted stop-word regime: one bigram ("zz","zz") dominates the
    // (w1, w2) join key distribution. AQE's OptimizeSkewedJoin CANNOT
    // split these joins — its pattern needs Sort-over-shuffle-stage on
    // both sides, but the count-table side is an aggregate whose grouping
    // partitioning the join reuses (Sort(HashAggregate(stage))), so the
    // rule never matches (measured: its debug log fires for a plain
    // skewed join, never for this plan). The engine therefore salts hot
    // keys itself from the count table (NgramLm.saltedLeftJoin); this
    // locks the salted shape and its value-neutrality.
    val d = Tables.t(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val skew = spark.range(4000)
      .select(xxhash64(col("id")).as("doc_id"),
        concat_ws(" ", array_repeat(lit("zz"), 60)).as("text"))
    val corpus = d.unionByName(skew)
    def run(saltRows: Long) = {
      val df = graft.llm.NgramLm.bigramCrossEntropy(
        corpus, "doc_id", "text", ref = corpus, saltRows = saltRows)
      // collect() drives df's OWN QueryExecution so the adaptive plan
      // finalizes in place (a noop write plans a separate execution)
      val rows = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      (df.queryExecution.executedPlan.toString, rows)
    }
    val (p, salted) = run(saltRows = 1000L) // (zz,zz) count ≈ 236k ≫ 1000
    assert(p.contains("__salt"),
      s"hot keys must salt: no __salt join key in:\n${p.take(3000)}")
    val (_, plain) = run(saltRows = Long.MaxValue) // salting disengaged
    assert(salted == plain, "salting must not change any xent value")
  }

  test("tpcds q75 delta: one aggregate feeds both self-join legs' shapes, no nested loop") {
    val p = executedPlan("tpcds_q75_brand_decline")
    assert(p.contains("HashAggregate"))
    assert(!p.toLowerCase.contains("cartesianproduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("tpcds q44 best/worst: rank-to-rank join hashes, part dims broadcast") {
    val p = executedPlan("tpcds_q44_best_worst")
    assert(p.contains("BroadcastHashJoin"), "part lookups must broadcast")
    assert(!p.toLowerCase.contains("cartesianproduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("tpcds q92 excess-discount decorrelates to a per-part aggregate join") {
    val p = executedPlan("tpcds_q92_excess_discount")
    assert(p.contains("HashAggregate"),
      "the correlated AVG must lower to a standalone per-part aggregate")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
    assert(!p.toLowerCase.contains("cartesianproduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("segment dedup joins on the segment hash, never a cross product") {
    val p = executedPlan("llm_dedup_segments")
    assert(!p.toLowerCase.contains("cartesianproduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("xxhash64"), "segments must travel as 64-bit hashes, not strings")
  }

  test("tpcds q94 lowers EXISTS to semi and NOT EXISTS to anti against the fact") {
    val p = executedPlan("tpcds_q94_exclusive_ship")
    assert(p.contains("LeftSemi"), "EXISTS over the self-joined fact must lower to a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS returns screen must lower to an anti join")
    assert(!p.toLowerCase.contains("cartesianproduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("mixture apply broadcasts the solved rates; the corpus never shuffles") {
    val p = executedPlan("llm_mixture_apply")
    assert(p.contains("BroadcastHashJoin"), "the tiny rate table must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the corpus side must not shuffle to meet the rate table")
  }

  test("semantic dedup: map-only assignment, hash joins only within clusters") {
    val p = executedPlan("llm_dedup_semantic")
    assert(!p.toLowerCase.contains("cartesianproduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the intra-cluster self-join must key on the cluster id, never go quadratic")
    assert(p.contains("cosine_similarity"),
      "assignment and verify must ride the native codegen'd cosine kernel")
    assert(!p.contains("Window"),
      "cluster width must aggregate map-side, never a window sort over the cluster")
  }

  test("trained IVF: bounded centroid crosses only, candidates hash on the cell id") {
    // the raw OPERATOR plan (the registry entry wraps it in the
    // brute-force differencing oracle, whose non-equi join is
    // legitimately a nested loop over the 20-query slice)
    import org.apache.spark.sql.functions.col
    val e = graft.Tables.t(spark, sfDir, "embeddings")
    val cents = graft.llm.Kmeans.train(e, "vec_id", "embedding", k = 16, iters = 2)
    val df = graft.llm.Similarity.ivfTopKTrained(
      e.filter(col("vec_id") < 20), e, "vec_id", "embedding",
      k = 3, centroids = cents, nprobe = 8)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("cartesianproduct"))
    // every nested loop must be a Cross against the bounded k-row
    // centroid table (the corpus/query cell-scoring broadcasts; the
    // pre-AQE tree duplicates the corpus-side subplan under the
    // bucket-width derivation, so up to 4 copies appear) — the
    // candidate join itself must hash on (bucket, salt), never cross
    val bnlj = "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(p).toList
    assert(bnlj.forall(_.contains("Cross")) && bnlj.length <= 4,
      s"only the k-row centroid table may cross — found: $bnlj")
    assert(p.contains("cosine_similarity"),
      "cell scoring and re-rank must ride the native codegen'd cosine kernel")
  }

  test("keepFirst plans as WindowGroupLimit: no partition materializes past rank 1") {
    val p = executedPlan("llm_dedup_keep_first")
    assert(p.contains("WindowGroupLimit"),
      "the rank<=1 filter must lower to WindowGroupLimit (TopNRowNumber), " +
        "not a full window sort over every group")
  }

  test("ngram LM scoring: the only nested loop is the 1-row vocabulary cross") {
    val p = executedPlan("llm_ngram_lm_score")
    assert(!p.toLowerCase.contains("cartesianproduct"))
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1,
      s"count-table joins must hash on (w1, w2)/w1 — found $bnlj nested loops")
  }

  test("mixture weights is one map-side-combined aggregation") {
    val p = executedPlan("llm_mixture_weights")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "the mixture solve is a single aggregation, no join anywhere")
  }

  test("tpcds q16 nation-exclusive screen lowers to semi + anti, no nested loop") {
    val p = executedPlan("tpcds_q16_nation_exclusive")
    assert(p.contains("LeftSemi"), "EXISTS must lower to a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must lower to an anti join")
    assert(!p.toLowerCase.contains("cartesianproduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("tpcds q33/q56/q60 dim-filtered unions: IN-subquery dims semi-join, no nested loop") {
    for (name <- Seq("tpcds_q33_dim_filtered_union", "tpcds_q56_color_union",
        "tpcds_q60_type_union")) {
      val p = executedPlan(name)
      assert(p.contains("LeftSemi"), s"$name: the dim IN-subquery must lower to a semi join")
      assert(!p.toLowerCase.contains("cartesianproduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$name: no nested loop")
    }
  }

  test("tpcds q70 rank-restricted rollup: nation pre-filter semi-joins, window above agg") {
    val p = executedPlan("tpcds_q70_ranked_rollup")
    assert(p.contains("LeftSemi"), "the ranked nation set must arrive as a semi join")
    assert(p.contains("Expand"), "ROLLUP lowers to Expand")
    assert(!p.toLowerCase.contains("cartesianproduct"))
  }

  test("tpcds q84 dim chain: inline band table broadcasts; returns semi-join; no cartesian") {
    // the 2-row VALUES income-band join is range-conditioned, so a
    // BROADCAST nested loop over 2 rows is the correct plan — what must
    // never appear is a cartesian product or a shuffled nested loop
    val p = executedPlan("tpcds_q84_dim_chain")
    assert(p.contains("LeftSemi"), "the having-returned IN-subquery must lower to a semi join")
    assert(!p.toLowerCase.contains("cartesianproduct"))
  }

  test("tpcds q11/q74 growth screens: grouped CTE self-joins stay hash joins") {
    for (name <- Seq("tpcds_q11_channel_growth", "tpcds_q74_orders_growth")) {
      val p = executedPlan(name)
      assert(p.contains("HashAggregate"), s"$name")
      assert(!p.toLowerCase.contains("cartesianproduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$name: no nested loop")
    }
  }

  test("substring spans: fingerprints shuffle, not window strings; canon agg combines map-side") {
    val p = executedPlan("llm_dedup_substring_spans")
    assert(p.contains("xxhash64"),
      "window fingerprints must travel as 64-bit hashes, not 16-token strings")
    assert(p.contains("partial_min"),
      "canonical selection must be a map-side-combinable min(struct), not a sorted row_number")
    assert(!p.toLowerCase.contains("cartesianproduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("quality prune: rank and class count share one shuffle") {
    import org.apache.spark.sql.functions.{col, length}
    val d = Tables.t(spark, sfDir, "documents")
    val df = llm.Sampling.qualityPrune(d, "doc_id", "source", length(col("text")), 600)
    df.write.format("noop").mode("overwrite").save()
    val p = df.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1,
      s"row_number and count must ride ONE cls-partition exchange, found $shuffles")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions (SURVEY §4): the declarative plans must keep the
  * optimizations Catalyst gives for free — pushdown, pruning, broadcast,
  * partial aggregation — since those are what make the same code hold at
  * 100 TB. Guards against regressions that stay correct but stop scaling. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  val sf = SparkFixture.sf001

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString

  test("filter_pred pushes predicates into the parquet scan") {
    val p = plan("filter_pred")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("StringStartsWith(p_type,PROMO"), p)
  }

  test("project_arith prunes the scan to referenced columns only") {
    val p = plan("project_arith")
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_comment") && !p.contains("l_shipmode"),
           s"scan reads unreferenced columns:\n$p")
  }

  test("join_inner_bhj broadcasts the dimension side") {
    assert(plan("join_inner_bhj").contains("BroadcastHashJoin"))
  }

  test("join_inner_smj / shj honor their physical-strategy hints") {
    assert(plan("join_inner_smj").contains("SortMergeJoin"))
    assert(plan("join_inner_shj").contains("ShuffledHashJoin"))
  }

  test("join_multiway broadcasts both small dims (no dim-side shuffle)") {
    val p = plan("join_multiway")
    assert(p.sliding("BroadcastHashJoin".length)
            .count(_ == "BroadcastHashJoin") >= 2, p)
  }

  test("join_bucketed: storage-bucketed SMJ, no exchange below the join") {
    val p = plan("join_bucketed")
    assert(p.contains("SortMergeJoin"), p)
    // both scans read bucket-aligned splits; the ONLY hash exchange in the
    // whole plan is the post-join groupBy (join_inner_smj has three)
    assert(p.sliding("Exchange hashpartitioning".length)
            .count(_ == "Exchange hashpartitioning") == 1, p)
  }

  test("agg_groupby is partial+final (map-side combine before the shuffle)") {
    val p = plan("agg_groupby")
    assert(p.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2,
           p)
  }

  test("sim_topk: native cosine in plan, top-k pushed below the shuffle") {
    val p = plan("sim_topk")
    assert(p.contains("graft_cosine"), p)
    assert(!p.contains("CodegenFallback"), p)
    // Spark 4 plans rn<=k as a partial WindowGroupLimit before the
    // exchange — each partition ships only its local top-k.
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("topk_global plans as TakeOrderedAndProject (no full global sort)") {
    assert(plan("topk_global").contains("TakeOrderedAndProject"))
  }

  test("AQE splits a skewed SMJ partition at runtime (skew=true in final plan)") {
    // The runtime half of the skew story (join_salted is the manual
    // half): one key holds ~95% of the left side, thresholds are scaled
    // to fixture size, and after execution AQE's final plan must show
    // the skewed partition split (skew=true on the SortMergeJoin).
    import spark.implicits._
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.5",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force SMJ
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // v = xxhash64(id): incompressible payload, so the hot partition's
      // SHUFFLE BYTES (what skew detection measures) reflect its row
      // count — a constant-key-only row compresses away the skew.
      val left = spark.range(300000)
        .select(when(col("id") % 20 =!= 0, lit(7L)).otherwise(col("id"))
                  .as("k"), xxhash64(col("id")).as("v"))
      val right = spark.range(1000)
        .select(col("id").as("k2"), (col("id") * 2).as("w"))
      val joined = left.hint("merge").join(right, col("k") === col("k2"))
        .agg(count(lit(1)).as("n"), max("v").as("mv"), sum("w").as("sw"))
      // collect() (1 row) executes THIS QueryExecution — a write action
      // would clone the plan and leave this one isFinalPlan=false.
      // 285000 rows share k=7 (matching k2=7) + ids 0,20,...,980 match
      // their own k2 = 285050 joined rows.
      assert(joined.collect().head.getLong(0) == 285050L)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), s"AQE did not split the skew:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("scan_dpp plants a dynamic-pruning subquery on the fact scan") {
    // No literal event_type predicate exists in the query; the partition
    // filter must be the runtime subquery derived from the dim filter.
    val p = plan("scan_dpp")
    assert(p.contains("dynamicpruningexpression"),
           s"no dynamic partition pruning on the partitioned scan:\n$p")
  }

  test("join_bloom plants might_contain on the probe-side scan") {
    // The query pins its physical plan under scoped confs; AQE may still
    // re-shape the join at runtime, but the injected bloom filter lives
    // in the logical plan and must survive into the executed plan.
    val df = SparkEntry.queries("join_bloom")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"),
           s"no runtime bloom filter on the probe side:\n$p")
    assert(p.contains("bloom_filter_agg"),
           s"no bloom build side in the plan:\n$p")
  }

  test("sink_parquet_sorted pushes the range predicate into the scan") {
    val p = plan("sink_parquet_sorted")
    assert(p.contains("GreaterThanOrEqual(l_orderkey,1000"), p)
    assert(p.contains("LessThanOrEqual(l_orderkey,3000"), p)
  }

  test("join_asof_native plans the custom AsOfJoinExec (strategy fired)") {
    val p = plan("join_asof_native")
    assert(p.contains("AsOfJoin"), p)
    // co-partitioned: exactly one exchange per side feeding the merge
    assert(p.sliding("Exchange hashpartitioning".length)
            .count(_ == "Exchange hashpartitioning") >= 2, p)
  }

  test("join_asof_native equals the composed window formulation") {
    val native = SparkEntry.queries("join_asof_native")(spark, sf).collect()
    val window = SparkEntry.queries("join_asof")(spark, sf).collect()
    assert(native.toSeq == window.toSeq)
  }

  test("join_lateral decorrelates to a ranked window, not per-row re-execution") {
    val p = plan("join_lateral")
    // the LATERAL ORDER BY/LIMIT must lower to a window/group-limit over
    // the orders side — a correlated nested loop would show Nested in the
    // physical plan
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("WindowGroupLimit") || p.contains("Window"), p)
  }

  test("cell_bulkload_layout plans a range repartition (the HFile shuffle)") {
    val p = plan("cell_bulkload_layout")
    assert(p.contains("Exchange rangepartitioning"), p)
  }

  test("agg_salted is two aggregation stages on the salted then bare key") {
    val p = plan("agg_salted")
    assert(p.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 4,
           p)
  }

  test("anomaly_zscore broadcasts the stats side back onto the fact scan") {
    assert(plan("anomaly_zscore").contains("BroadcastHashJoin"))
  }

  test("ts_resample joins spine and buckets without exchanging raw events twice") {
    val p = plan("ts_resample")
    // the per-bucket aggregate must be partial+final (map-side combine)
    assert(p.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2,
           p)
  }

  test("fn_variant parses each row's JSON exactly once (no re-parse per path)") {
    val p = SparkEntry.queries("fn_variant")(spark, sf)
      .queryExecution.optimizedPlan.toString
    val n = "parse_json|parseJson".r.findAllIn(p).length
    assert(n == 1, s"expected exactly one variant parse, found $n:\n$p")
  }

  test("ts_ohlc is one partial+final aggregate — no Window over raw events") {
    val p = plan("ts_ohlc")
    assert(!p.contains("Window"), p)
    // struct min/max buffers aren't hash-able, so Spark picks
    // SortAggregate — what matters for scale is the MAP-SIDE PARTIAL
    // (one candidate row per (type, day) per task crosses the wire)
    assert(p.contains("partial_min"), p)
  }

  test("sink_cells_nested: recursive flatten stays a shuffle-free projection") {
    val p = plan("sink_cells_nested")
    // the flatten itself adds NO shuffle: the only exchanges allowed
    // are the output orderBy's range partition and the ONE
    // scale-adaptive input fanout (T.fanout — REPARTITION_BY_NUM on
    // event_id BELOW the generators; absent at production split
    // counts), never a flatten-induced aggregation/join exchange
    assert(p.sliding("Exchange hashpartitioning".length)
            .count(_ == "Exchange hashpartitioning") <= 1, p)
    assert(!p.contains("Exchange hashpartitioning") ||
           p.contains("REPARTITION_BY_NUM"), p)
  }

  test("profile_table: exact distincts without the ×5 Expand multiplier") {
    val p = plan("profile_table")
    assert(!p.contains("Expand"), s"multi-distinct Expand is back:\n$p")
    // each single-distinct agg partial-dedupes before its exchange
    assert(p.contains("partial_count(distinct"), p)
  }

  test("win_rolling_corr parallelism is bucketed, not one task per event type") {
    val p = plan("win_rolling_corr")
    // every data-sized window/exchange must key on (event_type, bk) —
    // the old shape (5-way ceiling) keyed windows on event_type alone
    assert("windowspecdefinition\\(event_type#\\d+, bk#".r
             .findFirstIn(p).isDefined, p)
    assert("windowspecdefinition\\(event_type#\\d+, ts_us".r
             .findFirstIn(p).isEmpty,
           s"found a per-type whole-timeline window:\n$p")
  }

  test("dedup_embedding scores pairs with the native cosine expression") {
    val p = plan("dedup_embedding")
    assert(p.contains("graft_cosine"),
           s"silent fallback off the codegen cosine path:\n$p")
    assert(!p.contains("CodegenFallback"), p)
  }

  test("dedup_near / dedup_ngram score pairs with the fused jaccard expression") {
    Seq("dedup_near", "dedup_ngram").foreach { q =>
      val p = plan(q)
      assert(p.contains("graft_jaccard"),
             s"$q fell back off the fused codegen jaccard path:\n$p")
    }
  }

  test("sink_cells_variant: runtime variant walk is generator-only (no hash shuffle)") {
    val p = plan("sink_cells_variant")
    // one generator walks each whole document; no level is a
    // checkpointed scan
    assert(p.contains("Generate explode(variant_leaves("), p)
    assert(!p.contains("ExistingRDD"), p)
    // the variant walk itself is generator-only: the only hash
    // exchange allowed is the ONE scale-adaptive input fanout
    // (T.fanout, below the generators; absent at production split
    // counts) — never a walk-induced aggregation/join exchange
    assert(p.sliding("Exchange hashpartitioning".length)
            .count(_ == "Exchange hashpartitioning") <= 1, p)
    assert(!p.contains("Exchange hashpartitioning") ||
           p.contains("REPARTITION_BY_NUM"), p)
  }

  test("filter_not_in_null plans the null-aware anti join (not a plain anti)") {
    // the trailing `true` on the BHJ is isNullAwareAntiJoin — a plain
    // anti join prints "LeftAnti, BuildRight" with no flag
    val p = plan("filter_not_in_null")
    assert(p.contains("LeftAnti, BuildRight, true"),
           s"no null-aware anti join marker:\n$p")
  }

  test("q7_volume: disjunctive nation pair stays broadcast, no nested loop") {
    val p = plan("q7_volume")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.sliding("BroadcastHashJoin".length)
            .count(_ == "BroadcastHashJoin") >= 4, p)
  }

  test("udf_sql: the SQL UDF body inlines — no function call survives the optimizer") {
    val p = SparkEntry.queries("udf_sql")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!p.contains("graft_tier") && !p.contains("graft_rk"),
           s"SQL UDF not inlined:\n$p")
    assert(p.contains("lpad"), p) // the body itself is present instead
  }

  test("q5_local_supplier broadcasts every dim (only lineitem-orders shuffles)") {
    val p = plan("q5_local_supplier")
    assert(p.sliding("BroadcastHashJoin".length)
            .count(_ == "BroadcastHashJoin") >= 4, p)
  }

  test("q4_priority: EXISTS decorrelates to a semi join, never a nested loop") {
    val p = plan("q4_priority")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q16_supplier_cnt: null-free NOT IN plans as a PLAIN anti join") {
    // the blocklist key is non-nullable, so Catalyst must use the cheap
    // anti join — the trailing `true` flag would mean the null-aware
    // variant (that case is filter_not_in_null's contract)
    val p = plan("q16_supplier_cnt")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("LeftAnti, BuildRight, true"),
           s"unexpected null-aware anti join:\n$p")
  }

  test("q21_waiting_supplier: EXISTS + NOT EXISTS = one semi and one anti join") {
    val p = plan("q21_waiting_supplier")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q6_forecast: every predicate reaches the parquet scan; no join") {
    val p = plan("q6_forecast")
    // the timestamp window pushes because the COLUMN is uncast — the
    // scan's PushedFilters list leads with it (the list itself prints
    // truncated, so the full predicates are asserted on the Filter node)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(p.contains(">= 1996-01-01 00:00:00)"), p)
    assert(p.contains(">= 0.02)") && p.contains("<= 0.04)"), p)
    assert(p.contains("< 24.0)"), p)
    assert(!p.contains("Join"), s"Q6 must be join-free:\n$p")
  }

  test("q13_cust_distribution: zero-preserving left join under two agg levels") {
    val p = plan("q13_cust_distribution")
    assert(p.contains("LeftOuter"), p)
    // orders-per-customer partial+final, then customers-per-count
    // partial+final = four HashAggregates
    assert(p.sliding("HashAggregate".length)
            .count(_ == "HashAggregate") >= 4, p)
  }

  test("q15_top_supplier: the quarter is scanned ONCE (checkpoint cut)") {
    // rev is localCheckpoint-cut, so neither the broadcast max branch
    // nor the probe side can re-scan lineitem — the executed plan reads
    // the checkpointed RDD, and lineitem appears in NO scan node
    val p = plan("q15_top_supplier")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("lineitem.parquet"),
           s"broadcast max branch re-scans lineitem:\n$p")
  }

  test("q9_product_profit joins partsupp on the COMPOSITE key in one shuffle") {
    val p = plan("q9_product_profit")
    // the (l_partkey, l_suppkey) composite join must be an equi hash
    // join (shuffled or broadcast after AQE), never a nested loop
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q19_discounted: per-side implications of the OR-of-ANDs are extracted") {
    // the three (brand, size, quantity) conjunct groups OR-ed in the
    // join condition must yield side-local filters BELOW the join:
    // the brand/size union on the part scan, the quantity envelope on
    // the lineitem scan — neither side may scan full
    val p = plan("q19_discounted")
    assert(p.contains("BroadcastHashJoin"), p)
    // substrings skip the #exprId suffixes the Filter nodes print
    assert(p.contains("= Brand#3) AND (p_size"),
           s"part-side OR extraction missing:\n$p")
    assert(p.contains(">= 1.0) AND (l_quantity"),
           s"lineitem-side quantity envelope missing:\n$p")
  }

  test("join_fuzzy_shuffled takes the shuffled fallback, not a broadcast") {
    // the documented huge-catalog fallback: the blocked fuzzy join must
    // exchange BOTH sides on the block key and hash-join there, with no
    // broadcast anywhere (the broadcast twin is join_fuzzy itself)
    val p = plan("join_fuzzy_shuffled")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
           s"catalog side still broadcasts:\n$p")
  }

  test("q22_idle_customers: scalar broadcast + anti join on the filtered side") {
    // the single-row avg-balance build is the ONLY nested-loop broadcast
    // allowed (a 1-row cross join); the NOT EXISTS must be a hash anti
    // join, and the urgent-order filter must sit below it
    val p = plan("q22_idle_customers")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("1-URGENT"), s"orders filter not below the anti join:\n$p")
  }

  test("layout_hilbert: ten unrolled levels stay inside whole-stage codegen") {
    // execute first: the adaptive plan only renders its WholeStageCodegen
    // spans once finalized
    val df = SparkEntry.queries("layout_hilbert")(spark, sf)
    assert(df.collect().nonEmpty) // finalize THIS execution's adaptive plan
    val p = df.queryExecution.executedPlan
      .asInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec]
      .executedPlan.toString
    // `*(n)` prefixes = whole-stage-codegen'd operators; every one of
    // the ten per-bit Project layers must carry one
    assert(p.linesIterator.count(l => l.contains("Project [") &&
                                      l.contains("*(")) >= 20, p)
    // no hash shuffle anywhere: the only exchange is the final range sort
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("RunCollector counts a two-stage action's jobs and shuffle bytes, stably, with no sleep") {
    import java.util.concurrent.CountDownLatch
    val collector = RunCollector(spark)
    // Holds the shared listener queue at each run's first task end until
    // the action has returned, then 100 ms more: counters read without
    // waiting for the bus would miss every later job and task event.
    @volatile var gate = new CountDownLatch(0)
    val holder = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val g = gate
        if (g.getCount > 0) { g.await(); Thread.sleep(100) }
      }
    }
    def run() = {
      val g = new CountDownLatch(1)
      gate = g
      collector.measure {
        val n = spark.range(0, 100000, 1, 4).repartition(3).count()
        g.countDown()
        n
      }
    }
    spark.sparkContext.addSparkListener(holder)
    val ((n1, r1), (n2, r2)) =
      try (run(), run()) finally spark.sparkContext.removeSparkListener(holder)
    assert(n1 == 100000L && n2 == 100000L)
    assert(r1.jobs >= 2, r1)
    assert(r1.shuffleWriteBytes > 0L, r1)
    assert((r2.jobs, r2.shuffleWriteBytes, r2.memSpill, r2.diskSpill) ==
           (r1.jobs, r1.shuffleWriteBytes, r1.memSpill, r1.diskSpill))
  }
}

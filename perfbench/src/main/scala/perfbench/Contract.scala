package perfbench

import org.apache.spark.sql.SparkSession

import graft.{QueryModule, SparkEntry}

/** Traced pass over the `SparkEntry.queries` contract, one JSON record
  * per key and pass, split into the layers:
  *  - body: the query function itself (fixture staging, eager
  *    checkpoints, collects, schema reads), with its jobs and their call
  *    sites;
  *  - plan: analysis of the returned DataFrame, optimization and
  *    physical planning of the noop write, from their
  *    `QueryPlanningTracker`s, and whether `IndexRoute`,
  *    `FuseJaccard` or the as-of join strategy fired;
  *  - exec: jobs, tasks, task time, shuffle, spill and GC of the noop
  *    write, which forces full execution as `graft.Bench` does.
  * Every key runs in each of `Passes` passes. */
object Contract {
  /** Pass 1 pays cold fixture staging; pass 2 is warm. */
  val Passes = 2

  private def jstr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.append('"').toString
  }

  /** key → name of the `QueryModule` that declares it. */
  private def modules: Map[String, String] = {
    val f = SparkEntry.getClass.getDeclaredField("modules")
    f.setAccessible(true)
    f.get(SparkEntry).asInstanceOf[Seq[QueryModule]]
      .flatMap(m => m.queries.keys.map(_ -> m.getClass.getSimpleName.stripSuffix("$")))
      .toMap
  }

  def run(spark: SparkSession, sfDir: String, out: String): Int = {
    require(sfDir.nonEmpty && out.nonEmpty, "contract needs --sf-dir and --out")
    val tr = new Tracer(true, spark)
    val moduleOf = modules
    val keys = SparkEntry.queries.toSeq.sortBy(_._1)
    // untimed warm-up, as graft.Bench does
    locally {
      val n = spark.read.parquet(s"$sfDir/nation.parquet")
      n.groupBy("n_regionkey").count().join(n, "n_regionkey").orderBy("n_name")
        .write.mode("overwrite").format("noop").save()
    }
    val w = new java.io.PrintWriter(out, "UTF-8")
    var failed = 0
    for (pass <- 1 to Passes; ((k, fn), i) <- keys.zipWithIndex) {
      tr.drain()
      tr.op = pass * 100000 + i
      val t0ms = System.currentTimeMillis()
      val nPlans = tr.synchronized(tr.plans.size)
      var err = ""
      var analysisMs = 0.0
      val t0 = System.nanoTime()
      try tr.span("key") {
        val df = tr.span("body") { fn(spark, sfDir) }
        // a DataFrame is analysed when the body builds it; the noop
        // write only re-checks the analysed plan
        analysisMs = df.queryExecution.tracker.phases.get("analysis").fold(0.0)(_.durationMs.toDouble)
        tr.span("run") { df.write.mode("overwrite").format("noop").save() }
      } catch { case e: Throwable => err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
      val totalS = (System.nanoTime() - t0) / 1e9
      tr.drain()
      val mine = tr.spans.filter(_.op == tr.op)
      def sp(n: String) = mine.find(_.name == n)
      val bodyJobs = sp("body").fold(Seq.empty[JobRec])(tr.jobsUnder)
      val runJobs = sp("run").fold(Seq.empty[JobRec])(tr.jobsUnder)
      val plans = tr.synchronized(tr.plans.drop(nPlans).filter(_.atMs >= t0ms).toSeq)
      // the noop write completes last: its execution is the key's last
      val runPlan = if (err.isEmpty) plans.lastOption else None
      val sites = bodyJobs.groupBy(_.callSite).map { case (s, js) => jstr(s) + ":" + js.size }
      def num(v: Double) = java.lang.Double.toString(v)
      if (err.nonEmpty) failed += 1
      w.println(Seq(
        "key" -> jstr(k), "module" -> jstr(moduleOf.getOrElse(k, "")), "pass" -> pass.toString,
        "ok" -> (err.isEmpty).toString, "error" -> jstr(err),
        "total_s" -> num(totalS),
        "body_s" -> num(sp("body").fold(0.0)(_.ns / 1e9)),
        "run_s" -> num(sp("run").fold(0.0)(_.ns / 1e9)),
        "body_jobs" -> bodyJobs.size.toString,
        "body_schema_jobs" -> bodyJobs.count(_.callSite.startsWith("parquet at")).toString,
        "body_job_sites" -> sites.mkString("{", ",", "}"),
        "body_task_s" -> num(bodyJobs.map(_.runMs).sum / 1e3),
        "query_execs" -> plans.map(p => jstr(p.func)).mkString("[", ",", "]"),
        "plan_analysis_ms" -> num(analysisMs + runPlan.fold(0.0)(_.analysisMs)),
        "plan_optimizer_ms" -> num(runPlan.fold(0.0)(_.optimizerMs)),
        "plan_physical_ms" -> num(runPlan.fold(0.0)(_.physicalMs)),
        "rule_ms_IndexRoute" -> num(plans.map(_.ruleMs.getOrElse("IndexRoute", 0.0)).sum),
        "rule_ms_FuseJaccard" -> num(plans.map(_.ruleMs.getOrElse("FuseJaccard", 0.0)).sum),
        "fired_IndexRoute" -> plans.exists(_.ruleFired("IndexRoute")).toString,
        "fired_FuseJaccard" -> plans.exists(_.ruleFired("FuseJaccard")).toString,
        "fired_AsOfStrategy" -> plans.exists(_.asOf).toString,
        "run_jobs" -> runJobs.size.toString,
        "run_tasks" -> runJobs.map(_.tasks).sum.toString,
        "run_task_s" -> num(runJobs.map(_.runMs).sum / 1e3),
        "run_shuffle_write_bytes" -> runJobs.map(_.shuffleWrite).sum.toString,
        "run_spill_bytes" -> runJobs.map(_.spill).sum.toString,
        "gc_ms" -> (bodyJobs ++ runJobs).map(_.gcMs).sum.toString,
      ).map { case (a, b) => s""""$a":$b""" }.mkString("{", ",", "}"))
      w.flush()
      System.err.println(f"[contract] pass $pass ${i + 1}%3d/${keys.size} $k%-40s ${totalS}%.2f s" +
        (if (err.nonEmpty) s" FAILED $err" else ""))
    }
    w.close()
    tr.stop()
    if (failed == 0) 0 else 1
  }
}

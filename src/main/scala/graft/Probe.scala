package graft

/** Ad-hoc perf probe:
  * `sbt "runMain graft.Probe <query>[,<query>...] [reps] [sfDir]"` runs
  * contract queries in isolation (noop sink, like Bench) and prints one
  * JSON line per run: seconds, Spark jobs (iteration/fixpoint keys pay
  * per-level driver actions, so jobs per run is the direct evidence for
  * scheduling-overhead work), shuffle bytes written, memory/disk spill,
  * peak execution memory and whether the run ran out of memory.
  *
  * Memory pressure (MEMORY_PRESSURE.md): run under a clamped heap
  * (`SPARK_DRIVER_MEM=4g`) to show the heaviest keys finish with no OOM;
  * `GRAFT_FORCE_SPILL=1` also lowers the engine's own force-spill
  * thresholds (the knobs Spark's test suites use), so every sort /
  * window / join buffer takes its real UnsafeExternalSorter spill path
  * at test SF, as a production executor does when a partition exceeds
  * its execution-memory share. `PROBE_EXPLAIN` prints each query's
  * executed plan after its runs. */
object Probe {
  private val ForceSpill = Map(
    "spark.shuffle.spill.numElementsForceSpillThreshold" -> "5000",
    "spark.sql.windowExec.buffer.spill.threshold" -> "1000",
    "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "1000",
    "spark.sql.sessionWindow.buffer.spill.threshold" -> "1000",
    "spark.sql.cartesianProductExec.buffer.spill.threshold" -> "1000")

  def main(args: Array[String]): Unit = {
    val names = args.headOption.toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    if (names.isEmpty || !names.forall(SparkEntry.queries.contains) ||
        (args.length > 1 &&
         !scala.util.Try(args(1).toInt).toOption.exists(_ > 0))) {
      System.err.println(
        "usage: runMain graft.Probe <query>[,<query>...] [reps] [sfDir]")
      sys.exit(1)
    }
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val force = sys.env.get("GRAFT_FORCE_SPILL").contains("1")
    val spark = GraftSession.local(
      extraConf = if (force) ForceSpill else Map.empty)
    val collector = RunCollector(spark)
    println(s"""{"mode":"${if (force) "forced" else "natural"}","heap":"${Runtime.getRuntime.maxMemory() / (1 << 20)}m","cpus":${spark.sparkContext.defaultParallelism},"sf":"$sfDir"}""")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { i =>
        val (oom, r) = collector.measure {
          try {
            fn(spark, sfDir).write.mode("overwrite").format("noop").save()
            false
          } catch {
            case e: Throwable
                if Option(e.getMessage).exists(_.contains("OutOfMemory")) ||
                   e.isInstanceOf[OutOfMemoryError] => true
          }
        }
        val sec = String.format(java.util.Locale.ROOT, "%.2f", Double.box(r.sec))
        println(s"""{"key":"$name","run":$i,"sec":$sec,"jobs":${r.jobs},"shuffleWriteBytes":${r.shuffleWriteBytes},"memSpill":${r.memSpill},"diskSpill":${r.diskSpill},"peakExecMem":${r.peakExecMem},"oom":$oom}""")
      }
      if (sys.env.contains("PROBE_EXPLAIN"))
        println(fn(spark, sfDir).queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}

package perfbench

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM; `perfbench/run.py` launches it.
  *
  * {{{
  * Main <ingest|serve> --seed N --seconds S --trace 0|1 --work DIR [--plant 1]
  * Main selftest --seed N --work DIR
  * Main contract --sf-dir DIR --work DIR --out FILE
  * }}}
  *
  * Workload runs print one `name value unit` line per metric, then the
  * result as one JSON line, and exit 1 when any output was wrong. */
object Main {
  final case class Args(mode: String, opts: Map[String, String]) {
    def get(k: String, d: String): String = opts.getOrElse(k, d)
  }

  /** `mode --name value ...` */
  def parse(argv: Array[String]): Args =
    Args(argv.headOption.getOrElse(""),
      argv.drop(1).grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  /** One local session with `cores` task slots and a single client: the
    * benchmark never runs more threads than the host has cores. Spark's
    * scratch space and warehouse stay under `work`. */
  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def fmt(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v")
    java.lang.Double.toString(v)
  }

  private def json(ms: Seq[M]): String =
    ms.map(m => s""""${m.name}": {"value": ${fmt(m.value)}, "unit": "${m.unit}"}""")
      .mkString("{", ", ", "}")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val work = new java.io.File(a.get("work", "perfbench/.work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val code = a.mode match {
      case w @ ("ingest" | "serve") =>
        val spark = session(work, cores)
        val sessionS = (System.currentTimeMillis() -
          java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
        val trace = a.get("trace", "0") == "1"
        val tr = new Tracer(trace, spark)
        val r = Workloads.run(w, spark, tr, work, a.get("seed", "1").toLong,
          a.get("seconds", "10").toDouble, a.get("plant", "0") == "1", sessionS)
        tr.stop()
        spark.stop()
        val shown = if (trace) r.layer else r.e2e
        (shown ++ r.info).foreach(m => println(f"${m.name}%-28s ${fmt(m.value)}%s ${m.unit}"))
        val correct = r.failed == 0
        // every metric of the run, traced or not, for perfbench/steady.py
        val all = s"""{"traced": $trace, "e2e": ${json(r.e2e)}, """ +
          s""""layer": ${json(r.layer)}, "info": ${json(r.info)}}"""
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/result.json"), all.getBytes("UTF-8"))
        println(s"""{"correct": $correct, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
                s""""metrics": ${json(shown)}}""")
        if (correct) 0 else 1
      case "selftest" =>
        val spark = session(work, cores)
        try SelfTest.run(spark, work, a.get("seed", "1").toLong) finally spark.stop()
      case "contract" =>
        val spark = session(work, cores)
        try Contract.run(spark, a.get("sf-dir", ""), a.get("out", ""))
        finally spark.stop()
      case other =>
        System.err.println(s"unknown mode '$other'")
        2
    }
    System.exit(code)
  }
}

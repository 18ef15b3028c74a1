package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe of every entry point (Bench, Verify,
  * Probe, PlanDump, Plans, Scale and the test fixture): `local[cpus]`
  * with as many shuffle partitions as cores, the library installed
  * through `graft.GraftExtensions` (SQL functions, AsOfStrategy,
  * IndexRoute), UTC session time, events.parquet's nanos
  * read as longs (SURVEY §1.2 T1), no UI, WARN logs. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, else every core of the host. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = envCpus,
            extraConf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft

/** Dump `.explain("formatted")` of contract queries to files — the
  * plan evidence for optimization rounds (plans/rNN/<query>_before/
  * _after.txt). Usage:
  * `sbt "runMain graft.PlanDump <outDir> <suffix> <sfDir> <query...>"`
  * — writes <outDir>/<query>_<suffix>.txt. Same session as Bench
  * ([[GraftSession.local]]). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: runMain graft.PlanDump <outDir> <suffix> <sfDir> <query...>")
    val (outDir, suffix, sfDir) = (args(0), args(1), args(2))
    val names = args.drop(3)
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}

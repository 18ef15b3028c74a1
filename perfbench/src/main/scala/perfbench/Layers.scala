package perfbench

/** Per-layer metrics of a traced run, over the timed window. The
  * `*.time_share` metrics are the layer's span time over the window.
  * Other times and counts are means per call into the layer (per flatten
  * call, per store write, per read op, per query execution) or, for the
  * execution layer, per op; a layer the workload never called reports 0. */
object Layers {
  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def metrics(run: Workloads.Run, tr: Tracer, nOps: Int, w0ms: Long, w1ms: Long,
              gcMs: Long, windowS: Double, cores: Int, docsWritten: Int): Seq[M] = {
    val timed = tr.spans.filter(_.op > 0)
    def named(n: String) = timed.filter(_.name == n).toSeq
    val flat = named("flatten")
    val writes = named("store.write")
    val plansSp = named("scan.plan")
    val execSp = named("scan.exec")
    val jobs = tr.synchronized(tr.jobs.values.filter(j => j.startMs >= w0ms && j.startMs <= w1ms).toSeq)
    // the whole-store count after the window is the only count query
    val plans = tr.synchronized(tr.plans.filter(p => p.atMs >= w0ms && p.func != "count").toSeq)
    val writeJobs = writes.map(tr.jobsUnder)
    val execJobs = execSp.map(tr.jobsUnder)
    val perOp = math.max(nOps, 1).toDouble
    val busyS = jobs.map(_.runMs).sum / 1e3
    def share(sp: Seq[Span]) = sp.map(_.ns).sum / 1e9 / windowS
    Seq(
      M("flatten.time_share", share(flat), "ratio"),
      M("store.write_time_share", share(writes), "ratio"),
      M("scan.time_share", share(plansSp ++ execSp), "ratio"),
      M("flatten.call_s", mean(flat.map(_.ns / 1e9)), "s/call"),
      M("flatten.jobs", mean(flat.map(s => tr.jobsUnder(s).size.toDouble)), "jobs/call"),
      M("flatten.cells_per_doc", if (docsWritten == 0) 0.0 else run.cellsWritten.toDouble / docsWritten, "cells/doc"),
      M("store.write_s", mean(writes.map(_.ns / 1e9)), "s/call"),
      M("store.write_jobs", mean(writeJobs.map(_.size.toDouble)), "jobs/call"),
      M("store.shuffle_write_bytes", mean(writeJobs.map(_.map(_.shuffleWrite).sum.toDouble)), "B/call"),
      M("store.files_written", mean(run.writeFiles.map(_._1.toDouble)), "files/call"),
      M("store.bytes_written", mean(run.writeFiles.map(_._2.toDouble)), "B/call"),
      M("scan.plan_ms", mean(plansSp.map(_.ns / 1e6)), "ms/read"),
      M("scan.exec_ms", mean(execSp.map(_.ns / 1e6)), "ms/read"),
      M("scan.partitions_planned", mean(run.scanInfo.map(_.partitions.toDouble)), "parts/read"),
      M("scan.files_selected", mean(run.scanInfo.map(_.filesSelected.toDouble)), "files/read"),
      M("scan.files_total", mean(run.scanInfo.map(_.filesTotal.toDouble)), "files/read"),
      M("scan.rows_returned", mean(run.readRows.map(_.toDouble)), "rows/read"),
      M("scan.records_read", mean(execJobs.map(_.map(_.recordsRead).sum.toDouble)), "rows/read"),
      M("plan.analysis_ms", mean(plans.map(_.analysisMs)), "ms/query"),
      M("plan.optimizer_ms", mean(plans.map(_.optimizerMs)), "ms/query"),
      M("plan.physical_ms", mean(plans.map(_.physicalMs)), "ms/query"),
      M("plan.rule_ms.IndexRoute", mean(plans.map(_.ruleMs.getOrElse("IndexRoute", 0.0))), "ms/query"),
      M("plan.rule_ms.FuseJaccard", mean(plans.map(_.ruleMs.getOrElse("FuseJaccard", 0.0))), "ms/query"),
      M("exec.jobs", jobs.size / perOp, "jobs/op"),
      M("exec.tasks", jobs.map(_.tasks).sum / perOp, "tasks/op"),
      M("exec.task_busy_s", busyS / perOp, "s/op"),
      M("exec.core_util", busyS / (windowS * cores), "ratio"),
      M("exec.job_gap_s", Tracer.gapMs(jobs, w0ms, w1ms) / 1e3 / perOp, "s/op"),
      M("exec.shuffle_write_bytes", jobs.map(_.shuffleWrite).sum / perOp, "B/op"),
      M("exec.spill_bytes", jobs.map(_.spill).sum / perOp, "B/op"),
      M("exec.gc_ms", gcMs / perOp, "ms/op"))
  }
}

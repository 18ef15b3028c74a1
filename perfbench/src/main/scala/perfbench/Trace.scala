package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call into one layer. `op` is the id of the op or contract key
  * that caused it; spans of one op share it. `parent` is 0 at the root. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
                      startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** Spark work of one job, summed over its tasks. */
final class JobRec(val id: Int, val span: Int, val startMs: Long,
                   val callSite: String) {
  var endMs: Long = -1L
  var tasks = 0
  var runMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var gcMs = 0L
  var recordsRead = 0L
}

/** Planning phases of one query execution, from its
  * `QueryPlanningTracker`, and whether its physical plan uses the
  * injected as-of join strategy. */
final case class PlanRec(func: String, atMs: Long, analysisMs: Double,
                         optimizerMs: Double, physicalMs: Double,
                         ruleMs: Map[String, Double], ruleFired: Set[String],
                         asOf: Boolean)

/** Spans around the benchmark's calls into each layer, plus the Spark
  * jobs and query executions they caused. With `on = false` every call
  * is a plain pass-through: no listener is registered and nothing is
  * recorded, so untraced runs measure the program alone.
  *
  * Jobs are attributed to spans exactly: the innermost open span's id is
  * set as a Spark local property, which every job submitted inside it
  * carries. Spans stay in memory until [[writeSpans]]. */
final class Tracer(val on: Boolean, spark: SparkSession) {
  import Tracer._
  private lazy val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  /** Id of the op whose spans are being recorded. */
  var op = 0

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .fold(0)(_.toInt)
      val site = e.stageInfos.sortBy(_.stageId).headOption.fold("")(_.name)
      jobs(e.jobId) = new JobRec(e.jobId, span, e.time, site)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.gcMs += m.jvmGCTime
        j.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit = {
      val t = qe.tracker
      def phase(n: String) = t.phases.get(n).fold(0.0)(_.durationMs.toDouble)
      val rules = t.rules.collect {
        case (name, r) if Tracked.exists(name.endsWith) =>
          Tracked.find(name.endsWith).get -> r
      }
      val rec = PlanRec(func, System.currentTimeMillis(),
        phase("analysis"), phase("optimization"), phase("planning"),
        rules.map { case (k, r) => k -> r.totalTimeNs / 1e6 },
        rules.collect { case (k, r) if r.numEffectiveInvocations > 0 => k }.toSet,
        qe.executedPlan.treeString(verbose = false).contains("AsOfJoin"))
      Tracer.this.synchronized { plans += rec }
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (on) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(SpanProp, prev)
        stack = stack.tail
        spans += Span(id, parent, name, op, t0, t1)
      }
    }

  /** Waits until every job the listener has seen has ended and the
    * listener bus has been quiet for a moment, so the records are
    * complete before they are read. */
  def drain(): Unit = if (on) {
    var last = -1
    var quiet = 0
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val (n, open) = synchronized {
        (jobs.size + plans.size + jobs.valuesIterator.map(_.tasks).sum,
         jobs.valuesIterator.exists(_.endMs < 0))
      }
      if (n == last && !open) quiet += 1 else quiet = 0
      last = n
    }
  }

  def stop(): Unit = if (on) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Ids of `s` and all spans below it. */
  def subtree(s: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] = kids.getOrElse(id, Nil).flatMap(k => go(k.id)).toSet + id
    go(s.id)
  }

  def jobsUnder(s: Span): Seq[JobRec] = {
    val ids = subtree(s)
    synchronized(jobs.values.filter(j => ids.contains(j.span)).toSeq)
  }

  /** Span duration minus the part of it its child spans cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (kids.nonEmpty) covered += curE - curS
    s.ns - covered
  }

  /** Writes every span, with its self time and job ids, as JSON lines. */
  def writeSpans(path: java.nio.file.Path): Unit = if (on) {
    val byParent = synchronized(jobs.values.groupBy(_.span))
    val lines = spans.sortBy(_.startNs).map { s =>
      val js = byParent.getOrElse(s.id, Nil).map(_.id).mkString("[", ",", "]")
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${selfNs(s)},"jobs":$js}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Records nothing; for set-up work that no metric covers. */
  val Off = new Tracer(false, null)
  val SpanProp = "perfbench.span"
  /** The injected optimizer rules whose time the trace reports. */
  val Tracked: Seq[String] = Seq("IndexRoute", "FuseJaccard")

  /** Total ms in [t0, t1] covered by no job. */
  def gapMs(jobs: Seq[JobRec], t0: Long, t1: Long): Long = {
    val iv = jobs.filter(_.endMs >= 0)
      .map(j => (math.max(j.startMs, t0), math.min(j.endMs, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) busy += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) busy += curE - curS
    (t1 - t0) - busy
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }
}

package graft

import scala.collection.mutable

import org.apache.spark.{GraftCoreShim, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
                                   SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What one measured block of driver work cost Spark. */
final case class RunStats(sec: Double, jobs: Int, shuffleWriteBytes: Long,
                          memSpill: Long, diskSpill: Long,
                          peakExecMem: Long)

/** The one listener behind every per-run counter (Probe, the substr
  * scale scenario, tests). [[measure]] tags the jobs its body starts
  * with a thread-local property, so concurrent jobs outside the block
  * are not counted. The tag is not the job group: a structured stream
  * sets its own job group on its execution thread, but inherits other
  * local properties, so the stream keys' jobs still count. After the
  * body it blocks until the listener bus has delivered every event
  * already posted, so the counters are complete when returned, with no
  * fixed sleep. */
final class RunCollector private (private val sc: SparkContext) {
  private val Tag = "graft.run"

  private final class Acc {
    var jobs = 0
    var shuffleWrite, memSpill, diskSpill, peakExec = 0L
  }
  private var nextId = 0L
  private val open = mutable.HashMap.empty[String, Acc]
  private val stageAcc = mutable.HashMap.empty[Int, Acc]

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      RunCollector.this.synchronized {
        for (p <- Option(e.properties); id <- Option(p.getProperty(Tag));
             acc <- open.get(id)) {
          acc.jobs += 1
          e.stageIds.foreach(stageAcc(_) = acc)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      RunCollector.this.synchronized {
        for (acc <- stageAcc.get(e.stageId); m <- Option(e.taskMetrics)) {
          acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          acc.memSpill += m.memoryBytesSpilled
          acc.diskSpill += m.diskBytesSpilled
          acc.peakExec = math.max(acc.peakExec, m.peakExecutionMemory)
        }
      }
  })

  /** Runs `body` and returns its result with what its jobs cost. */
  def measure[T](body: => T): (T, RunStats) = {
    val acc = new Acc
    val id = synchronized {
      nextId += 1
      open(nextId.toString) = acc
      nextId.toString
    }
    val prev = sc.getLocalProperty(Tag)
    try {
      sc.setLocalProperty(Tag, id)
      val t0 = System.nanoTime()
      val out = try body finally sc.setLocalProperty(Tag, prev)
      val sec = (System.nanoTime() - t0) / 1e9
      GraftCoreShim.awaitListeners(sc, 60000L)
      synchronized {
        (out, RunStats(sec, acc.jobs, acc.shuffleWrite, acc.memSpill,
                       acc.diskSpill, acc.peakExec))
      }
    } finally synchronized {
      open -= id
      stageAcc.filterInPlace((_, a) => a ne acc)
    }
  }
}

object RunCollector {
  private var current: RunCollector = _

  /** The collector of the session's SparkContext, registered once. */
  def apply(spark: SparkSession): RunCollector = synchronized {
    if (current == null || (current.sc ne spark.sparkContext))
      current = new RunCollector(spark.sparkContext)
    current
  }
}

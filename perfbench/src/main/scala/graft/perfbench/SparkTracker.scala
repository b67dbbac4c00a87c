package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Per-key Spark accounting, keyed by the `perfbench.tag` local property
  * the benchmark sets around its calls (falling back to the scheduler
  * pool, which is how the two streaming stages are told apart).
  *
  * For each key: jobs, job intervals (epoch ms, for in-job wall and
  * driver gaps), task CPU, task run time, shuffle bytes written and bytes
  * read from storage. Listener callbacks run on Spark's listener-bus
  * thread; readers call [[SparkTracker.drain]] first.
  */
class SparkTracker extends SparkListener {
  final class Acc {
    var jobs = 0
    val jobIntervals = ArrayBuffer.empty[(Long, Long)]
    var taskCpuNs = 0L
    var taskRunMs = 0L
    var shuffleWriteBytes = 0L
    var bytesRead = 0L
  }

  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

  private def acc(k: String): Acc = accs.computeIfAbsent(k, _ => new Acc)

  private def keyOf(p: java.util.Properties): String =
    if (p == null) "untagged"
    else Option(p.getProperty(SparkTracker.TagKey))
      .orElse(Option(p.getProperty("spark.scheduler.pool"))).getOrElse("untagged")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = keyOf(e.properties)
    e.stageIds.foreach(s => stageKey.put(s, k))
    jobStart.put(e.jobId, (k, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (k, t0) =>
      val a = acc(k)
      a.synchronized { a.jobs += 1; a.jobIntervals += ((t0, e.time)) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(Option(stageKey.get(e.stageId)).getOrElse("untagged"))
      a.synchronized {
        a.taskCpuNs += m.executorCpuTime
        a.taskRunMs += m.executorRunTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.bytesRead += m.inputMetrics.bytesRead
      }
    }
  }

  def get(k: String): Option[Acc] = Option(accs.get(k))
}

object SparkTracker {
  val TagKey = "perfbench.tag"

  /** Blocks until every posted listener event has been delivered. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Runs `f` with the benchmark tag set on this thread's jobs. */
  def tagged[T](spark: org.apache.spark.sql.SparkSession, tag: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try f finally sc.setLocalProperty(TagKey, prev)
  }
}

package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-wide counters at one instant. Differences of two snapshots give
  * the counts of the interval between them.
  */
final case class Counts(jobs: Long, stages: Long, taskMs: Long, inputBytes: Long,
    inputRecords: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
    catalystMs: Long, gcMs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, taskMs - o.taskMs,
    inputBytes - o.inputBytes, inputRecords - o.inputRecords, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill, catalystMs - o.catalystMs, gcMs - o.gcMs)
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages, taskMs + o.taskMs,
    inputBytes + o.inputBytes, inputRecords + o.inputRecords, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, spill + o.spill, catalystMs + o.catalystMs, gcMs + o.gcMs)
  def toMap: Map[String, Double] = Map("jobs" -> jobs, "stages" -> stages,
    "task_ms" -> taskMs, "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "catalyst_ms" -> catalystMs, "gc_ms" -> gcMs)
    .map { case (k, v) => k -> v.toDouble }
}

/** The benchmark's own SparkListener and QueryExecutionListener. It only
  * counts; it never changes what the program runs. Job intervals are kept
  * so that driver-only time (no job running) can be computed per span.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private var jobs, stages, taskMs, inputBytes, inputRecords = 0L
  private var shuffleRead, shuffleWrite, spill, catalystMs = 0L
  private val jobStarts = scala.collection.mutable.HashMap.empty[Int, Long]
  private val jobSpans = ArrayBuffer.empty[(Long, Long)] // epoch ms

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      inputBytes += m.inputMetrics.bytesRead
      inputRecords += m.inputMetrics.recordsRead
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { catalystMs += qe.tracker.phases.values.map(_.durationMs).sum }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot(spark: SparkSession): Counts = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      Counts(jobs, stages, taskMs, inputBytes, inputRecords, shuffleRead, shuffleWrite,
        spill, catalystMs, Probe.gcMs())
    }
  }

  /** Job intervals (epoch ms) overlapping [fromMs, toMs]. */
  def jobIntervals(fromMs: Long, toMs: Long): Seq[(Long, Long)] = synchronized {
    jobSpans.filter { case (s, e) => e >= fromMs && s <= toMs }.toSeq
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Probe {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

/** One traced interval: a layer boundary or a POST. Spans of one E-T-L
  * run or one query request share `req`.
  */
final case class Span(id: Int, name: String, parent: Int, req: String,
    startMs: Double, endMs: Double, counts: Map[String, Double]) {
  def ms: Double = endMs - startMs
}

/** In-memory span store, written out once the run ends. A parent span is
  * reserved before its children and recorded when it closes.
  */
final class Tracer(originNs: Long) {
  private val spans = ArrayBuffer.empty[Span]
  private var ids = 0
  def reserve(): Int = synchronized { ids += 1; ids }
  def relMs(ns: Long): Double = (ns - originNs) / 1e6
  def put(id: Int, name: String, parent: Int, req: String, startNs: Long, endNs: Long,
      counts: Map[String, Double]): Int = synchronized {
    spans += Span(id, name, parent, req, relMs(startNs), relMs(endNs), counts)
    id
  }
  def add(name: String, parent: Int, req: String, startNs: Long, endNs: Long,
      counts: Map[String, Double]): Int = put(reserve(), name, parent, req, startNs, endNs, counts)
  def all: Seq[Span] = synchronized(spans.sortBy(_.id).toSeq)
}

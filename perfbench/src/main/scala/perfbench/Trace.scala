package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as the timestamps of Spark's listener events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** A traced interval. `op` names the query or request it belongs to. */
final case class Span(id: Long, parent: Long, name: String, op: String,
                      start: Double, end: Double) {
  def ms: Double = end - start
  def iv: (Double, Double) = (start, end)
}

/** Spans kept in memory and written out once the run ends. Disabled
  * tracers record nothing; the benchmark's own timing goes through the
  * same calls either way.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)

  def nextId(): Long = ids.incrementAndGet()

  def record(id: Long, parent: Long, name: String, op: String,
             start: Double, end: Double): Unit =
    if (enabled) spans.add(Span(id, parent, name, op, start, end))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
}

/** Per-task counters summed over one stage. */
final class StageAgg {
  var busyMs = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var inputRecords = 0L
  var spillBytes = 0L
}

final case class JobRec(id: Int, start: Double, end: Double, stageIds: Seq[Int],
                        callSite: String, executionId: Option[Long])

/** Records Spark jobs, tasks, SQL executions and query planning phases
  * for the traced phase of a run. Registered from outside the engine.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobStarts = mutable.Map.empty[Int, SparkListenerJobStart]
  private val jobEnds = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, StageAgg]
  private val sqlCallSites = mutable.Map.empty[Long, String]
  private var planMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnds(e.jobId) = e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.busyMs += m.executorRunTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.inputRecords += m.inputMetrics.recordsRead
      a.spillBytes += m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlCallSites(s.executionId) = s.details }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPlanning(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPlanning(qe)

  private def addPlanning(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(p => p.endTimeMs - p.startTimeMs).sum
    synchronized { planMs += ms }
  }

  def planSeconds: Double = synchronized(planMs / 1000.0)
  def sqlCallSite(id: Long): Option[String] = synchronized(sqlCallSites.get(id))

  /** Finished jobs, in start order. */
  def jobs: Seq[JobRec] = synchronized {
    jobStarts.values.toSeq.sortBy(_.jobId).flatMap { s =>
      jobEnds.get(s.jobId).map { end =>
        val finalStage = s.stageInfos.maxBy(_.stageId)
        val exec = Option(s.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong)
        JobRec(s.jobId, s.time.toDouble, end.toDouble, s.stageIds, finalStage.details, exec)
      }
    }
  }

  /** Task counters of one job: the stages it ran first. */
  def jobAgg(j: JobRec): StageAgg = synchronized {
    val out = new StageAgg
    j.stageIds.filter(stageJob.get(_).contains(j.id)).flatMap(stages.get).foreach { a =>
      out.busyMs += a.busyMs; out.shuffleBytes += a.shuffleBytes
      out.shuffleRecords += a.shuffleRecords; out.inputRecords += a.inputRecords
      out.spillBytes += a.spillBytes
    }
    out
  }
}

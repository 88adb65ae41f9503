package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one run share `run`; `parent` is the id of
  * the enclosing span (-1 for a root). Times are epoch nanoseconds derived
  * from one clock so benchmark spans and Spark stage spans line up.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startNs: Long, endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** In-memory span buffer, written out once when the run ends. */
final class Tracer(val run: String) {
  private val spans = ArrayBuffer.empty[Span]
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs: Long = System.nanoTime() + epochOffsetNs
  def fromMillis(ms: Long): Long = ms * 1000000L

  def add(name: String, parent: Int, startNs: Long, endNs: Long): Int = synchronized {
    val id = spans.length
    spans += Span(id, name, parent, run, startNs, endNs)
    id
  }

  /** Times `f` as a span named `name` under `parent`; returns (result, span id). */
  def span[T](name: String, parent: Int = -1)(f: Int => T): (T, Int) = {
    val id = synchronized {
      val i = spans.length
      spans += Span(i, name, parent, run, nowNs, 0L)
      i
    }
    val r = f(id)
    synchronized { spans(id) = spans(id).copy(endNs = nowNs) }
    (r, id)
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Duration minus the part of the span its direct children cover. */
  def selfTimeS(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k =>
      (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))).filter(k => k._2 > k._1)
    (s.endNs - s.startNs - Tracer.unionNs(kids)) / 1e9
  }
}

object Tracer {
  /** Total length of the union of half-open intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Task metrics summed over one stage (peak execution memory is the sum of
  * per-task peaks).
  */
final class StageAgg(val stageId: Int) {
  var submittedMs = 0L; var completedMs = 0L; var tasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var deserMs = 0L; var resultSerMs = 0L
  var shWriteBytes = 0L; var shWriteRecords = 0L; var shWriteNs = 0L
  var shReadBytes = 0L; var fetchWaitMs = 0L; var spillBytes = 0L; var peakExecBytes = 0L
}

/** The benchmark's own SparkListener: per-stage task metrics, and the job
  * group each stage ran under (set per drained prefix or per query).
  */
final class StageListener extends SparkListener {
  val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageAgg]
  val stageGroup = scala.collection.mutable.HashMap.empty[Int, String]
  val jobGroups = ArrayBuffer.empty[String]

  private def agg(id: Int) = stages.getOrElseUpdate(id, new StageAgg(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroups += g
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = agg(e.stageInfo.stageId)
    a.submittedMs = e.stageInfo.submissionTime.getOrElse(0L)
    a.completedMs = e.stageInfo.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(e.stageId)
      a.tasks += 1
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
      a.deserMs += m.executorDeserializeTime; a.resultSerMs += m.resultSerializationTime
      a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
      a.shWriteNs += m.shuffleWriteMetrics.writeTime
      a.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakExecBytes += m.peakExecutionMemory
    }
  }

  def jobsIn(group: String): Int = synchronized(jobGroups.count(_ == group))
  def stagesIn(group: String): Seq[StageAgg] = synchronized(
    stages.values.filter(s => stageGroup.get(s.stageId).contains(group)).toList)
}

/** The benchmark's own QueryExecutionListener: planning-phase durations
  * (analysis, optimization, planning) of every finished execution, with
  * the wall-clock start of its first phase for attribution by time window.
  */
final class PlanListener extends QueryExecutionListener {
  val events = ArrayBuffer.empty[(Long, Double)] // (first phase start ms, phase seconds)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) synchronized {
      events += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum / 1e3))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def planSecondsBetween(startMs: Long, endMs: Long): Double = synchronized(
    events.filter(e => e._1 >= startMs && e._1 <= endMs).map(_._2).sum)
}

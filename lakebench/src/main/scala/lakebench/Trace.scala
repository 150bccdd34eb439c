package lakebench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed public call: the span at a layer boundary. Wall-clock
  * milliseconds place Spark's events inside it; nanoseconds time it.
  * `returnedNs` is when the public call returned (a DataFrame-returning
  * call's construction end); calls that return no DataFrame return at
  * the end of their work. */
final case class Span(id: Int, cycle: Int, cls: String, layer: String,
    startMs: Long, returnedMs: Long, endMs: Long,
    wallNs: Long, returnedNs: Long, ok: Boolean,
    traced: Boolean, cacheBlocks: Int, cacheBytes: Long)

/** A Spark job seen from outside: a child span of the public call that
  * set its job group (or, for jobs started on threads that do not
  * inherit the group, of the call whose interval holds its start). */
final class JobRec(val id: Int, val group: String, val startMs: Long,
    val stageIds: Seq[Int]) {
  var endMs: Long = -1L
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
}

/** Records every job with its task metrics, held in memory. */
final class JobListener extends SparkListener {
  private val byId = mutable.LinkedHashMap[Int, JobRec]()
  private val byStage = mutable.HashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val r = new JobRec(e.jobId, group, e.time, e.stageIds)
    byId(e.jobId) = r
    e.stageIds.foreach(byStage(_) = r)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    byStage.get(e.stageId).foreach { r =>
      r.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.inputBytes += m.inputMetrics.bytesRead
        r.inputRecords += m.inputMetrics.recordsRead
        r.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def jobs: Seq[JobRec] = synchronized(byId.values.toVector)
}

/** One executed query's planning phases (analysis, optimization,
  * planning), its execution time, and — for file writes — the output
  * directory's last path element. */
final case class PlanRec(startMs: Long, phasesMs: Map[String, Double],
    execNs: Long, writeTarget: Option[String])

final class PlanListener(captureWriteTarget: Boolean)
    extends QueryExecutionListener {
  private val recs = mutable.ArrayBuffer[PlanRec]()
  private val target = "(?s).*InsertIntoHadoopFsRelationCommand [^,]*/([A-Za-z0-9_]+),.*".r

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    if (phases.isEmpty) return
    val start = phases.values.map(_.startTimeMs).min
    val write =
      if (!captureWriteTarget) None
      else qe.logical.toString match {
        case target(name) => Some(name)
        case _ => None
      }
    // Phase times come in whole milliseconds; analysis of an already
    // analyzed DataFrame often rounds to 0, so it is taken from the
    // analyzer's per-rule nanosecond timings instead.
    val analysisMs = qe.tracker.rules.collect {
      case (rule, r) if rule.contains(".analysis.") => r.totalTimeNs
    }.sum / 1e6
    val ms = phases.map { case (k, p) => k -> p.durationMs.toDouble }.toMap +
      ("analysis" -> analysisMs)
    val rec = PlanRec(start, ms, durationNs, write)
    synchronized(recs += rec)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def plans: Seq[PlanRec] = synchronized(recs.toVector)
}

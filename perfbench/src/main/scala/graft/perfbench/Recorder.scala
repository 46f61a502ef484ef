package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-job record: wall interval, how to attribute it (SQL execution id,
  * stage call site), and the task metrics of every stage it ran. */
final class JobRec(val id: Int, val startMs: Long, val execId: Long, val callSite: String,
    val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
  @volatile var succeeded = true
  var tasks, failedTasks, stages = 0L
  var cpuNs, runMs, shuffleWrite, spill, input, output = 0L
}

/** Listens from outside the engine: a SparkListener for jobs, stages and
  * tasks, and a QueryExecutionListener for the planning phases of every
  * action. Installed only in traced passes and removed afterwards, so
  * untraced passes run with no listener of the benchmark's attached. */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val execDescriptions = new ConcurrentHashMap[Long, String]()
  private val stageToJob = new ConcurrentHashMap[Int, JobRec]()
  private val planningMs = new java.util.concurrent.atomic.AtomicLong

  def planningTotalMs: Long = planningMs.get

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Detaches after the listener bus has delivered every queued event. */
  def detach(): Unit = {
    waitForBus()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Listener events arrive asynchronously; poll until every started job
    * has seen its end event (bounded, so a lost event cannot hang a run). */
  def waitForBus(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    def pending = { var n = 0; jobs.values.forEach(j => if (j.endMs < 0) n += 1); n }
    while (pending > 0 && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    val rec = new JobRec(e.jobId, e.time, execId, site, e.stageIds)
    e.stageIds.foreach(s => stageToJob.put(s, rec))
    jobs.put(e.jobId, rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.get(e.jobId)).foreach { j =>
    j.succeeded = e.jobResult == JobSucceeded
    j.endMs = e.time
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageToJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized { j.stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageToJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (e.reason != org.apache.spark.Success) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.input += m.inputMetrics.bytesRead
          j.output += m.outputMetrics.bytesWritten
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execDescriptions.put(s.executionId, s.description)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPhases(qe)

  private def addPhases(qe: QueryExecution): Unit =
    qe.tracker.phases.values.foreach(p => planningMs.addAndGet(p.durationMs))

  def jobsJson: String = {
    val sb = new mutable.ArrayBuffer[String]
    jobs.values.forEach { j =>
      sb += Json.obj(
        "id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs, "ok" -> j.succeeded,
        "exec_id" -> j.execId,
        "exec_desc" -> Option(execDescriptions.get(j.execId)).getOrElse(""),
        "call_site" -> j.callSite, "stages" -> j.stages, "tasks" -> j.tasks,
        "failed_tasks" -> j.failedTasks, "cpu_ns" -> j.cpuNs, "run_ms" -> j.runMs,
        "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill, "input" -> j.input,
        "output" -> j.output)
    }
    sb.mkString("[", ",", "]")
  }
}

/** Minimal JSON writer for the report the Python side reads. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case Raw(s) => s
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  /** Already-serialized JSON embedded as is. */
  final case class Raw(json: String)
}

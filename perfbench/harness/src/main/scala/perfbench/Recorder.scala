package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON object writer for the harness's result records. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(kv.toMap)
}

/** Records, in memory, the raw events the Python side turns into the
  * per-layer metrics: one line per job, per task and per executed query.
  * Attached only in a traced run. Every job carries the scope (`pass|op`)
  * the harness set as a local property on the submitting thread;
  * `Pipeline`'s mart threads inherit it, and the mart itself is named by
  * the `pipeline: <mart>` job description `Pipeline` already sets. Every
  * job and every SQL execution also carries the graft frames of its call
  * site (the stack of the thread that submitted it, innermost first),
  * which name the graft operator whose eager action started it. A job
  * that Spark submits from its own threads (adaptive query stages,
  * broadcasts) has no graft frames of its own; it carries the id of the
  * SQL execution it belongs to, whose call site is the action's. */
final class Recorder(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  val lines = new ConcurrentLinkedQueue[String]()
  /** Scope of the query executions reported next; set by the harness
    * only after the listener bus has drained. */
  @volatile var scope: String = ""

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val p = j.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // the result stage is the job's last; its details are the job's call site
    val site = if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).details
    lines.add(Json.obj("kind" -> "job", "job" -> j.jobId, "t0" -> j.time,
      "stages" -> j.stageIds, "scope" -> prop(Recorder.ScopeKey),
      "desc" -> prop("spark.job.description"),
      "exec" -> prop(SQLExecution.EXECUTION_ID_KEY), "site" -> Recorder.graftFrames(site)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      lines.add(Json.obj("kind" -> "exec", "exec" -> x.executionId.toString,
        "site" -> Recorder.graftFrames(x.details)))
    case _ =>
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    val ok = j.jobResult == JobSucceeded
    lines.add(Json.obj("kind" -> "job_end", "job" -> j.jobId, "t1" -> j.time,
      "ok" -> ok))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val i = t.taskInfo
    val m = t.taskMetrics
    val failed = i.failed || i.killed
    if (m == null) {
      lines.add(Json.obj("kind" -> "task", "stage" -> t.stageId,
        "t0" -> i.launchTime, "t1" -> i.finishTime, "failed" -> failed))
    } else {
      val sr = m.shuffleReadMetrics
      lines.add(Json.obj("kind" -> "task", "stage" -> t.stageId,
        "t0" -> i.launchTime, "t1" -> i.finishTime, "failed" -> failed,
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime, "deser_ms" -> m.executorDeserializeTime,
        "fetch_ms" -> sr.fetchWaitTime,
        "sh_read" -> (sr.localBytesRead + sr.remoteBytesRead),
        "sh_write" -> m.shuffleWriteMetrics.bytesWritten,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "peak_mem" -> m.peakExecutionMemory,
        "in_bytes" -> m.inputMetrics.bytesRead,
        "in_rows" -> m.inputMetrics.recordsRead,
        "out_bytes" -> m.outputMetrics.bytesWritten,
        "out_rows" -> m.outputMetrics.recordsWritten))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe, ok = false)

  private def record(qe: QueryExecution, ok: Boolean): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    val files = collect(qe.executedPlan) {
      case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    lines.add(Json.obj("kind" -> "qe", "scope" -> scope, "plan_ms" -> planMs,
      "files" -> files, "ok" -> ok))
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Recorder {
  val ScopeKey = "perfbench.scope"

  /** The graft frames of a long-form call site, innermost first. */
  def graftFrames(site: String): Seq[String] =
    site.split('\n').map(_.trim).filter(_.startsWith("graft.")).toSeq
}

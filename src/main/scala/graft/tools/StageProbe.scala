package graft.tools

import scala.collection.concurrent.TrieMap

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

import graft.jobs.JobSession

/** One-off diagnostic main: run a single catalog query and print a
  * per-stage cost table — wall, Σ task time, max task time (the skew
  * signal), task count, shuffle read/write records — sorted by Σ task
  * time. This answers "WHICH stage is the 123 seconds" directly from the
  * scheduler instead of guessing from the plan.
  *
  * Usage: scripts/run.sh graft.tools.StageProbe <sfDir> <queryName>
  *        scripts/run.sh graft.tools.StageProbe <sfDir> --sweep [nameRegex]
  * Cores: `SPARK_GRAFT_CPUS`; conf overrides, e.g.
  * SPARK_GRAFT_EXTRA_CONF="spark.sql.adaptive.advisoryPartitionSizeInBytes=8m"
  * ([[graft.jobs.JobSession]]).
  */
object StageProbe {
  private final case class StageAgg(
      var name: String = "",
      var wallMs: Long = 0,
      var taskMs: Long = 0,
      var maxTaskMs: Long = 0,
      var cpuMs: Long = 0,
      var tasks: Int = 0,
      var shufReadRec: Long = 0,
      var shufWriteRec: Long = 0,
      var outRec: Long = 0)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val qname = args(1)
    val spark = JobSession.create("graft stage probe")

    val stages = TrieMap.empty[Int, StageAgg]
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val agg = stages.getOrElseUpdate(t.stageId, StageAgg())
        val m = t.taskMetrics
        if (m != null) agg.synchronized {
          val ms = t.taskInfo.duration
          agg.tasks += 1
          agg.taskMs += ms
          agg.maxTaskMs = math.max(agg.maxTaskMs, ms)
          agg.cpuMs += (m.executorCpuTime + m.executorDeserializeCpuTime) / 1000000
          agg.shufReadRec += m.shuffleReadMetrics.recordsRead
          agg.shufWriteRec += m.shuffleWriteMetrics.recordsWritten
          agg.outRec += m.outputMetrics.recordsWritten
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val info = s.stageInfo
        val agg = stages.getOrElseUpdate(info.stageId, StageAgg())
        agg.synchronized {
          agg.name = info.name.linesIterator.next().take(90)
          agg.wallMs = (for {
            done <- info.completionTime
            start <- info.submissionTime
          } yield done - start).getOrElse(-1L)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    if (qname == "--sweep") {
      // fan-out-skew sweep over the WHOLE catalog: for every query, the
      // stage table reduces to the skew verdict — the stage with the
      // largest max-task where that task is also a large share of the
      // stage's wall AND the stage matters to the query (its wall is a
      // real fraction of the query wall). AQE cannot see join fan-out
      // (it sizes by shuffle INPUT bytes), so this is the detector for
      // the q134/q75 class of serialized-expansion stages.
      // optional 3rd arg: regex filter over query names (chunked sweeps)
      val filter = if (args.length > 2) args(2).r else ".*".r
      val names = graft.SparkEntry.queries.keys.toSeq.sorted
        .filter(n => filter.findFirstIn(n).isDefined)
      println("query,wall_s,worst_stage,stage_wall_s,max_task_s," +
        "stage_task_s,tasks,skew_share")
      for (name <- names) {
        stages.clear()
        graft.ext.Caches.releaseAll()
        spark.catalog.clearCache()
        val fn = graft.SparkEntry.queries(name)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val wall = (System.nanoTime() - t0) / 1e9
          ListenerBus.drain(spark.sparkContext)
          // consider stages that cost ≥ 10% of the query wall; report the
          // one whose max task dominates its own stage wall the most
          val mat = stages.toSeq.filter(_._2.wallMs >= wall * 100)
          val worst = mat.sortBy { case (_, a) =>
            -(a.maxTaskMs.toDouble / math.max(a.wallMs, 1)) }.headOption
          worst match {
            case Some((id, a)) =>
              val share = a.maxTaskMs.toDouble / math.max(a.wallMs, 1)
              println(f"$name,$wall%.1f,$id,${a.wallMs / 1e3}%.1f," +
                f"${a.maxTaskMs / 1e3}%.1f,${a.taskMs / 1e3}%.1f," +
                f"${a.tasks},$share%.2f")
            case None =>
              println(f"$name,$wall%.1f,-,0,0,0,0,0")
          }
        } catch {
          case e: Exception =>
            println(s"$name,ERROR,${e.getClass.getSimpleName},,,,,")
        }
      }
      spark.stop()
      return
    }

    val fn = graft.SparkEntry.queries(qname)
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    ListenerBus.drain(spark.sparkContext)

    println(f"query=$qname wall=$wall%.1fs  (stages by total task time)")
    println(f"${"stage"}%6s ${"wall_s"}%8s ${"task_s"}%8s ${"max_t_s"}%8s " +
      f"${"cpu_s"}%8s ${"tasks"}%6s ${"shufR"}%12s ${"shufW"}%12s  name")
    stages.toSeq.sortBy(-_._2.taskMs).take(25).foreach { case (id, a) =>
      println(f"$id%6d ${a.wallMs / 1e3}%8.1f ${a.taskMs / 1e3}%8.1f " +
        f"${a.maxTaskMs / 1e3}%8.1f ${a.cpuMs / 1e3}%8.1f ${a.tasks}%6d " +
        f"${a.shufReadRec}%12d ${a.shufWriteRec}%12d  ${a.name}")
    }
    spark.stop()
  }
}

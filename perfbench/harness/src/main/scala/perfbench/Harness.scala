package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.io.Source

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.jobs.Pipeline
import graft.queries.ParityQueries
import graft.sources.Tables

/** One benchmark run of one workload, in one JVM, driven by a plan file
  * that `perfbench/run.py` writes (`key=value` lines). It writes raw
  * result records, one JSON object per line, to the plan's `out` path; the
  * Python side checks outputs and turns the records into metrics.
  *
  * The run is a closed loop with one client thread: set-up (session, the
  * workload's own set-up, untimed warm-up passes), then timed passes back
  * to back until `seconds` have elapsed. The first
  * warm-up pass writes every operation's output as parquet for the DuckDB
  * oracle; every pass records an order-independent digest of every output,
  * so a pass whose output drifts from the checked one is caught. */
object Harness {
  /** The recommendation mart's date slice and distance, as in q75. */
  private val MartDate = "2024-01-20"
  private val MartMaxKm = 2000.0
  private val MartProcessedAt = "2024-02-01 00:00:00"
  /** Untimed passes before the timed ones: the first pays for the JIT's
    * cold start and the content-keyed store's cold builds; with one only,
    * the timed passes of `iterative` still got faster pass by pass while
    * C2 compiled the driver's code. */
  val WarmupPasses = 2
  /** Timed passes run until the plan's `seconds` have passed, and at
    * least this many: the median of three passes drops a pass that a
    * momentary stall of the host slowed. */
  val MinTimedPasses = 3
  /** q75's read-back of the recommendation mart: the frame its oracle checks. */
  private val RecSchema = "user_left BIGINT, user_right BIGINT, " +
    "processed_dttm STRING, local_time TIMESTAMP, zone_id INT"

  final class Plan(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"plan has no '$k'"))
    def int(k: String): Int = apply(k).toInt
    def list(k: String): Seq[String] = apply(k).split(',').map(_.trim).filter(_.nonEmpty).toSeq
  }

  object Plan {
    def load(path: String): Plan = {
      val src = Source.fromFile(path, "UTF-8")
      try new Plan(src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap)
      finally src.close()
    }
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def epochMs(): Double = System.currentTimeMillis().toDouble

  def session(plan: Plan): SparkSession = {
    val cpus = plan("cpus")
    // the same session settings graft.Bench uses, plus scratch locations
    // inside the run's work directory
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // graft.Bench collects every 30 s for its long catalog runs; here the
      // harness collects between passes, untimed, so a collection never
      // lands inside a timed pass
      .config("spark.cleaner.periodicGC.interval", "1h")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.local.dir", plan("work") + "/spark-local")
      .config("spark.sql.warehouse.dir", plan("work") + "/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: perfbench.Harness <plan file>")
    val plan = Plan.load(args(0))
    if (sys.env.get("SPARK_GRAFT_EXTRA_CONF").exists(_.nonEmpty))
      throw new IllegalStateException(
        "SPARK_GRAFT_EXTRA_CONF is set: the benchmark measures the default configuration only")
    val out = new PrintWriter(plan("out"), "UTF-8")
    val emit: String => Unit = l => out.synchronized { out.println(l); out.flush() }
    val t0 = System.nanoTime()
    val spark = session(plan)
    emit(Json.obj("kind" -> "session", "s" -> secs(t0), "spark" -> spark.version))
    try new Harness(plan, spark, emit).run()
    finally {
      spark.stop()
      out.close()
    }
  }
}

final class Harness(plan: Harness.Plan, spark: SparkSession,
                    emit: String => Unit) {
  import Harness._

  private val sc = spark.sparkContext
  private val cpus = plan.int("cpus")
  private val input = plan("input")
  private val work = plan("work")
  private val outputs = s"$work/outputs"
  private val traced = plan("trace") == "1"
  private val workload = plan("workload")
  private val ops: Seq[String] = if (workload == "marts") Seq("marts") else plan.list("queries")
  private val catalog = SparkEntry.queries
  private val recorder: Option[Recorder] =
    if (traced) Some(new Recorder(spark)) else None

  def run(): Unit = {
    writeOracles()
    val setupT0 = System.nanoTime()
    if (workload == "marts") writeLake()
    // a traced run records the warm-up passes too: the store's cold builds
    // run there
    recorder.foreach(_.attach())
    (1 to WarmupPasses).foreach(w => pass(s"w$w", writeOutputs = w == 1))
    emit(Json.obj("kind" -> "setup_done", "s" -> secs(setupT0), "epoch_ms" -> epochMs(),
      "store_cold" -> Tables.storeColdBuilds.get, "store_warm" -> Tables.storeWarmReads.get))

    calibrate("start")
    val cold0 = Tables.storeColdBuilds.get
    val warm0 = Tables.storeWarmReads.get
    val seconds = plan.int("seconds")
    val timedT0 = System.nanoTime()
    var n = 0
    val retained = Seq.newBuilder[Double]
    while (n < MinTimedPasses || secs(timedT0) < seconds) {
      n += 1
      pass(s"p$n", writeOutputs = false)
      retained += retainedHeap() / 1048576.0
    }
    recorder.foreach { r =>
      r.detach()
      r.lines.forEach(l => emit(l))
    }
    emit(Json.obj("kind" -> "timed_done", "passes" -> n, "s" -> secs(timedT0),
      "heap_mb" -> retained.result(),
      "store_cold" -> (Tables.storeColdBuilds.get - cold0),
      "store_warm" -> (Tables.storeWarmReads.get - warm0)))
    calibrate("end")
  }

  /** Heap in use once the garbage a pass left is gone, measured untimed
    * between passes, so no pass pays for the previous one's garbage either.
    * The ContextCleaner releases a pass's broadcasts and shuffles only
    * after a collection has found them unreachable, and the listener bus
    * holds the pass's events until delivered, so the bus is drained first
    * and full collections repeat until one frees less than a megabyte. */
  private def retainedHeap(): Long = {
    PerfbenchBus.drain(sc)
    val mem = ManagementFactory.getMemoryMXBean
    var used = Long.MaxValue
    var freed = Long.MaxValue
    var rounds = 0
    while (freed >= (1L << 20) && rounds < 5) {
      Thread.sleep(200)
      System.gc()
      val now = mem.getHeapMemoryUsage.getUsed
      freed = used - now
      used = now
      rounds += 1
    }
    used
  }

  /** graft.Bench's fixed epoch-calibration probe, once on each side of the
    * timed passes, outside set-up and outside every timed region. */
  private def calibrate(at: String): Unit = {
    setScope("cal", at)
    emit(Json.obj("kind" -> "cal", "at" -> at,
      "value" -> graft.Bench.calibrationWall(spark, cpus)))
  }

  /** SQL the Python side runs in DuckDB for each checked output. */
  private def writeOracles(): Unit = {
    val sql = SparkEntry.oracleSql
    val names = if (workload == "marts") Seq("q75_pipeline_sink") else ops
    val w = new PrintWriter(s"$work/oracle_sql.json", "UTF-8")
    try w.println(Json.value(names.flatMap(n => sql.get(n).map(n -> _)).toMap))
    finally w.close()
  }

  /** The q75-shaped lake: events partitioned by date, plus the geo table. */
  private def writeLake(): Unit = {
    val t0 = System.nanoTime()
    ParityQueries.refEventsFullForProbe(spark, input)
      .withColumn("date", to_date(col("event.datetime")))
      .write.partitionBy("date").mode("overwrite").parquet(s"$work/lake/events")
    ParityQueries.refGeoForProbe(spark, input)
      .write.mode("overwrite").parquet(s"$work/lake/geo")
    emit(Json.obj("kind" -> "lake", "s" -> secs(t0)))
  }

  private def setScope(p: String, op: String): Unit = {
    recorder.foreach { r =>
      PerfbenchBus.drain(sc)
      r.scope = s"$p|$op"
    }
    sc.setLocalProperty(Recorder.ScopeKey, s"$p|$op")
  }

  private def pass(p: String, writeOutputs: Boolean): Unit = {
    val t0 = epochMs()
    val cold = Tables.storeColdBuilds.get
    val warm = Tables.storeWarmReads.get
    val wall =
      if (workload == "marts") martPass(p, writeOutputs)
      else ops.map(q => queryOp(p, q, writeOutputs)).sum
    emit(Json.obj("kind" -> "pass", "pass" -> p, "wall_s" -> wall,
      "t0" -> t0, "t1" -> epochMs(),
      "store_cold" -> (Tables.storeColdBuilds.get - cold),
      "store_warm" -> (Tables.storeWarmReads.get - warm)))
  }

  /** Row count and order-independent digest (sum of per-row xxhash64). */
  private def digestCols(df: DataFrame) = Seq(
    count(lit(1)).as("rows"),
    sum(xxhash64(df.columns.toSeq.map(df.col): _*).cast("decimal(38,0)")).as("digest"))

  private def digest(df: DataFrame): (Long, String) = {
    val d = digestCols(df)
    val r = df.agg(d.head, d.tail: _*).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  private def opRecord(p: String, op: String, t0: Double, kv: (String, Any)*): Unit =
    emit(Json.obj(Seq("kind" -> "op", "pass" -> p, "op" -> op, "t0" -> t0,
      "t1" -> epochMs()) ++ kv: _*))

  /** One catalog query: build the frame (timed, including any eager
    * operator actions), then run it to the `noop` sink (timed), observing
    * its digest on the way. The first warm-up pass writes parquet instead,
    * for the oracle. */
  private def queryOp(p: String, name: String, writeOutputs: Boolean): Double = {
    // untimed: operators that cache internally must not hand their warm
    // cache to the next operation (as graft.Bench does between runs)
    spark.catalog.clearCache()
    graft.ext.Caches.releaseAll()
    setScope(p, name)
    val t0e = epochMs()
    val t0 = System.nanoTime()
    try {
      val df = catalog(name)(spark, input)
      val build = secs(t0)
      val obs = Observation(s"digest_${name}_$p")
      val d = digestCols(df)
      val observed = df.observe(obs, d.head, d.tail: _*)
      if (writeOutputs) observed.write.mode("overwrite").parquet(s"$outputs/$name")
      else observed.write.format("noop").mode("overwrite").save()
      val wall = secs(t0)
      val m = Await.result(obs.future, Duration(120, TimeUnit.SECONDS))
      opRecord(p, name, t0e, "ok" -> true, "wall_s" -> wall, "build_s" -> build,
        "exec_s" -> (wall - build), "rows" -> m.getLong(0), "digest" -> String.valueOf(m.get(1)))
      wall
    } catch {
      case e: Throwable =>
        val wall = secs(t0)
        System.err.println(s"[perfbench] $name failed in pass $p")
        e.printStackTrace()
        opRecord(p, name, t0e, "ok" -> false, "wall_s" -> wall, "error" -> e.toString)
        wall
    }
  }

  /** One `Pipeline.run`, timed; the marts are digested after it, untimed. */
  private def martPass(p: String, writeOutputs: Boolean): Double = {
    setScope(p, "pipeline")
    val t0e = epochMs()
    val t0 = System.nanoTime()
    val marts = s"$work/marts"
    try {
      Pipeline.run(spark, s"$work/lake/events", s"$work/lake/geo", marts,
        MartDate, MartMaxKm, Some(to_timestamp(lit(MartProcessedAt))))
      val wall = secs(t0)
      setScope(p, "check")
      val user = digest(spark.read.parquet(s"$marts/user_mart"))
      val zone = digest(spark.read.parquet(s"$marts/zone_mart"))
      val recs = spark.read.schema(RecSchema).parquet(s"$marts/recommendations")
        .select(col("user_left"), col("user_right"), col("zone_id"),
          col("processed_dttm"),
          date_format(col("local_time"), "yyyy-MM-dd HH:mm:ss").as("local_time"))
      if (writeOutputs) recs.write.mode("overwrite").parquet(s"$outputs/q75_pipeline_sink")
      val rec = digest(recs)
      opRecord(p, "marts", t0e, "ok" -> true, "wall_s" -> wall,
        "marts" -> Map(
          "user_mart" -> Map("rows" -> user._1, "digest" -> user._2),
          "zone_mart" -> Map("rows" -> zone._1, "digest" -> zone._2),
          "q75_pipeline_sink" -> Map("rows" -> rec._1, "digest" -> rec._2)))
      wall
    } catch {
      case e: Throwable =>
        val wall = secs(t0)
        System.err.println(s"[perfbench] marts failed in pass $p")
        e.printStackTrace()
        opRecord(p, "marts", t0e, "ok" -> false, "wall_s" -> wall, "error" -> e.toString)
        wall
    }
  }
}

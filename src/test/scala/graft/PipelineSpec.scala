package graft

import java.nio.file.Files

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.Pipeline

/** End-to-end chain test: fixture events/geo parquet on disk (events
  * partitioned by `date`, as the reference lake is) -> Pipeline.run in one
  * session -> all three marts read back and checked. Covers S3 (partition-
  * path read), S4 (overwrite sinks), and the O1-O3 orchestration surface.
  */
class PipelineSpec extends AnyFunSuite with SparkTestBase {
  import Fixtures._
  import spark.implicits._

  private val runDate = "2022-06-15"

  private lazy val fixtureDir: String = {
    val dir = Files.createTempDirectory("graft-pipeline").toString
    val eventsPath = s"$dir/events"
    val geoPath = s"$dir/geo"

    val rows =
      // user 1: 30-day Sydney residency (home), then Melbourne + Brisbane trips
      dailyRun(1L, "Sydney", "2022-05-01", 30) ++ Seq(
        msg(1L, "2022-06-01 09:00:00", cityCoord("Melbourne")._1,
          cityCoord("Melbourne")._2, id = 2001),
        msg(1L, "2022-06-02 09:00:00", cityCoord("Brisbane")._1,
          cityCoord("Brisbane")._2, id = 2002),
        // users 2,3: share channel alpha, never messaged, both near Sydney on runDate
        subscription(2L, "alpha", s"$runDate 10:00:00", -33.87, 151.21),
        subscription(3L, "alpha", s"$runDate 11:00:00", -33.86, 151.22),
        // users 4,5: share channel beta near Perth, but they messaged -> excluded
        subscription(4L, "beta", s"$runDate 10:00:00", -31.95, 115.86),
        subscription(5L, "beta", s"$runDate 10:30:00", -31.94, 115.87),
        msg(4L, s"$runDate 12:00:00", -31.95, 115.86, id = 2003, to = 5L))

    eventsDf(spark, rows).write.partitionBy("date").parquet(eventsPath)
    geoDf(spark).write.parquet(geoPath)
    dir
  }

  private def eventsPath = s"$fixtureDir/events"
  private def geoPath = s"$fixtureDir/geo"

  private lazy val outBase: String = {
    Pipeline.run(spark, eventsPath, geoPath, s"$fixtureDir/marts", runDate,
      100.0)
    s"$fixtureDir/marts"
  }

  test("user mart: schema, home/act city, travel route") {
    val um = spark.read.parquet(s"$outBase/user_mart")
    assert(um.columns.sorted.toSeq === Seq("act_city", "home_city", "local_time",
      "travel_array", "travel_count", "user_id"))
    val u1 = um.filter($"user_id" === 1)
      .select("act_city", "home_city", "travel_count", "travel_array")
      .as[(String, String, Long, Seq[String])].head()
    assert(u1 === (("Brisbane", "Sydney", 2L, Seq("Melbourne", "Brisbane"))))
    // user 4 sent a message (act city Perth, no home); user 5 only received
    assert(um.filter($"user_id" === 4).select("act_city").as[String].head() === "Perth")
    assert(um.filter($"user_id" === 5).count() === 0)
  }

  test("zone mart: pivot columns present, counts land in the right zones") {
    val zm = spark.read.parquet(s"$outBase/zone_mart")
    val expected = Seq("month", "week", "city_id",
      "week_message", "week_reaction", "week_subscription", "week_user",
      "month_message", "month_reaction", "month_subscription", "month_user")
    assert(zm.columns.sorted.toSeq === expected.sorted)
    // user 1's 30 Sydney messages all pre-aggregate into city_id 1 rows
    val sydneyMsgs = zm.filter($"city_id" === 1)
      .agg(sum("week_message")).as[Long].head()
    assert(sydneyMsgs === 30L)
  }

  test("recommendations: only the non-communicating same-channel pair, Sydney zone") {
    val rec = spark.read.parquet(s"$outBase/recommendations")
    assert(rec.columns.sorted.toSeq ===
      Seq("local_time", "processed_dttm", "user_left", "user_right", "zone_id"))
    val rows = rec.select("user_left", "user_right", "zone_id", "processed_dttm")
      .as[(Long, Long, Long, String)].collect()
    // reference quirk: both output columns carry the LEFT (greater) user id
    assert(rows.toSeq === Seq((3L, 3L, 1L, runDate)))
  }

  private def martRows(base: String, mart: String): Seq[String] =
    spark.read.parquet(s"$base/$mart").collect()
      .map(_.toString).sorted.toSeq

  private def partitionDirs(base: String, mart: String): Seq[String] =
    new java.io.File(s"$base/$mart").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq

  test("a failing mart fails the concurrent run, not just its thread") {
    // Pipeline.run submits the three marts from a thread pool (round-16
    // overlap); an exception inside any mart's thread must surface to the
    // caller — a silently-skipped mart would look like a successful run
    // with a missing output. Injected failure: the geo path points at the
    // EVENTS table, so every mart's plan analysis throws in its thread.
    val out = Files.createTempDirectory("graft-failprop").toString + "/marts"
    val e = intercept[Throwable] {
      Pipeline.run(spark, eventsPath, eventsPath, out, runDate, 100.0)
    }
    // all three marts fail here: one is thrown, the other two ride along
    // as suppressed (Spark attaches its own caller-stack trace as a
    // suppressed exception too, so count the analysis errors only)
    val marts = e.getSuppressed.filter(_.isInstanceOf[AnalysisException])
    assert(e.isInstanceOf[AnalysisException] && marts.length == 2,
      e.getSuppressed.map(_.getClass.getName).toSeq)
  }

  test("mid-chain crash rerun is safe: marts identical to a clean run") {
    // the retry semantics the reference gets from Airflow
    // (/root/reference/src/dags/project_dag.py:29-69): a pipeline that
    // died between sinks must be rerunnable from the top with no manual
    // cleanup. Simulated here as the worst recoverable state — step 1
    // landed, step 2 landed then one of its partitions was CORRUPTED by
    // the dying writer, step 3 never ran — then a full rerun, compared
    // mart-by-mart (rows AND partition layout) against a clean
    // single-shot run. processedAt pinned in both runs so the
    // recommendation mart is comparable.
    import graft.jobs.{UserMartJob, ZoneMartJob}
    import graft.sources.Sink
    val pinned = Some(to_timestamp(lit("2022-06-16 00:00:00")))
    val cleanBase = {
      val d = Files.createTempDirectory("graft-clean").toString + "/marts"
      Pipeline.run(spark, eventsPath, geoPath, d, runDate, 100.0, pinned)
      d
    }
    val crashBase = Files.createTempDirectory("graft-crash").toString +
      "/marts"
    val events = spark.read.parquet(eventsPath)
    val geo = spark.read.parquet(geoPath)
    // crashed attempt: steps 1 and 2 only (exactly Pipeline.run's sinks)
    Sink.writePartitionedSorted(UserMartJob.transform(events, geo),
      s"$crashBase/user_mart", "act_city", Seq("user_id"))
    Sink.writePartitionedSorted(ZoneMartJob.transform(events, geo),
      s"$crashBase/zone_mart", "month", Seq("week", "city_id"))
    // the dying writer left one zone_mart partition truncated to garbage
    val corrupted = new java.io.File(s"$crashBase/zone_mart").listFiles()
      .filter(_.isDirectory).head
    corrupted.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.write(f.toPath, Array[Byte](0, 1, 2)))
    // full rerun from the top — dynamic partition overwrite must replace
    // every partition it produces, corrupt or not, and write step 3
    Pipeline.run(spark, eventsPath, geoPath, crashBase, runDate, 100.0,
      pinned)
    Seq("user_mart", "zone_mart", "recommendations").foreach { m =>
      assert(partitionDirs(crashBase, m) === partitionDirs(cleanBase, m),
        s"$m partition layout diverged after rerun")
      assert(martRows(crashBase, m) === martRows(cleanBase, m),
        s"$m rows diverged after rerun")
    }
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.RecommendationJob
import Fixtures._

class RecommendationSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val (syLat, syLon) = cityCoord("Sydney")
  private val (peLat, peLon) = cityCoord("Perth")

  // channel chA: users 1,2,3 subscribed. 1 and 2 already messaged each other.
  // On the target date: 1,2,3 are near Sydney; 4 (chB with 5) is in Perth, 5 in
  // Sydney -> pair (5,4) fails the 100 km radius. Expected recommendation: (3,1),
  // (3,2) from chA within radius, never messaged.
  private val d = "2022-06-15"
  private lazy val allEvents = eventsDf(spark, Seq(
    subscription(1, "chA", "2022-06-01 10:00:00"),
    subscription(2, "chA", "2022-06-01 10:00:00"),
    subscription(3, "chA", "2022-06-01 10:00:00"),
    subscription(4, "chB", "2022-06-01 10:00:00"),
    subscription(5, "chB", "2022-06-01 10:00:00"),
    msg(1, "2022-06-02 10:00:00", syLat, syLon, id = 1, to = 2),
    msg(2, "2022-06-03 10:00:00", syLat, syLon, id = 2, to = 1)))
  private lazy val eventsAtDate = eventsDf(spark, Seq(
    msg(1, s"$d 10:00:00", syLat + 0.01, syLon + 0.01, id = 10, to = 2),
    msg(2, s"$d 11:00:00", syLat + 0.02, syLon + 0.02, id = 11, to = 1),
    msg(3, s"$d 12:00:00", syLat + 0.03, syLon + 0.03, id = 12, to = 1),
    msg(4, s"$d 10:00:00", peLat, peLon, id = 13, to = 5),
    msg(5, s"$d 10:00:00", syLat, syLon, id = 14, to = 4)))

  private lazy val mart = RecommendationJob.transform(
    allEvents, eventsAtDate, geoDf(spark), d, maxDistanceKm = 100.0).cache()

  test("recommends same-channel pairs within radius that never messaged") {
    // reference quirk: user_left == user_right == canonical (greater) user id,
    // so both expected pairs (3,1) and (3,2) surface as user_left=3
    assert(mart.count() === 2)
    assert(mart.select("user_left").as[Long].collect().toSeq === Seq(3L, 3L))
    assert(mart.select("user_right").as[Long].collect().toSeq === Seq(3L, 3L))
  }

  test("already-communicating pairs are anti-joined away") {
    val communicating = RecommendationJob.communicatingSubscribers(
      allEvents, RecommendationJob.subscribers(allEvents))
    val pairs = communicating.select("user_id", "message_to")
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((2L, 1L))) // canonicalized: greater id first
  }

  test("pairs beyond the radius are filtered (Perth-Sydney > 100 km)") {
    val wide = RecommendationJob.transform(
      allEvents, eventsAtDate, geoDf(spark), d, maxDistanceKm = 5000.0)
    assert(wide.count() === 3) // (3,1),(3,2) plus the chB pair (5,4)
  }

  test("emitPeerId=true carries the real peer instead of the quirk") {
    val subs = RecommendationJob.subscribers(allEvents)
    val communicating = RecommendationJob.communicatingSubscribers(allEvents, subs)
    val cands = RecommendationJob.possibleSubscribersToCommunicate(
      subs, communicating, eventsAtDate, d, 100.0, emitPeerId = true)
    val pairs = cands.select("user_left", "user_right")
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((3L, 1L), (3L, 2L)))
  }

  test("zone is the nearest city to the pair midpoint") {
    assert(mart.select("zone_id").distinct().as[Long].head() === 1L) // Sydney
    assert(mart.select("processed_dttm").distinct().as[String].head() === d)
  }

  test("gridZone scale tier is row-identical to the reference zone attach") {
    import org.apache.spark.sql.functions._
    val at = to_timestamp(lit("2022-06-15 02:00:00"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_left"), col("user_right"), col("zone_id"),
        col("processed_dttm"),
        date_format(col("local_time"), "yyyy-MM-dd HH:mm:ss"))
      .as[(Long, Long, Long, String, String)].collect().sorted.toSeq
    def candidates(ev: org.apache.spark.sql.DataFrame,
                   atDate: org.apache.spark.sql.DataFrame) = {
      val subs = RecommendationJob.subscribers(ev)
      RecommendationJob.possibleSubscribersToCommunicate(subs,
        RecommendationJob.communicatingSubscribers(ev, subs), atDate, d,
        5000.0)
    }
    // tie input, UserMartSpec's symmetric pattern: two cities mirrored
    // across the equator at (±10, 20), and users 1 and 2 (one channel,
    // never messaged) at (±1, 20), so the pair midpoint (0, 20) is an
    // EXACT haversine tie — the reference rule emits one row per tied city
    val tieGeo = Seq((1L, "North", 10.0, 20.0), (2L, "South", -10.0, 20.0))
      .toDF("id", "city", "lat", "lon")
    val tieCands = candidates(
      eventsDf(spark, Seq(subscription(1, "chT", "2022-06-01 10:00:00"),
        subscription(2, "chT", "2022-06-01 10:00:00"))),
      eventsDf(spark, Seq(msg(1, s"$d 10:00:00", 1.0, 20.0, id = 31, to = 9),
        msg(2, s"$d 10:00:00", -1.0, 20.0, id = 32, to = 9))))
    val inputs = Seq(
      (geoDf(spark), candidates(allEvents, eventsAtDate)), (tieGeo, tieCands))
    // the grid tier called directly: this test IS the tier proof
    try {
      val refs = inputs.map { case (geo, cands) =>
        val ref = rows(RecommendationJob.withZone(geo, cands, at))
        assert(rows(RecommendationJob.withZoneGrid(geo, cands, at)) === ref)
        ref
      }
      assert(refs.head.nonEmpty)
      assert(refs(1).map(_._3) === Seq(1L, 2L), refs(1)) // both tied cities
      // and the mart itself (below the plan-stat gate here) agrees
      assert(rows(RecommendationJob.transform(allEvents, eventsAtDate,
        geoDf(spark), d, maxDistanceKm = 5000.0, processedAt = at)) ===
        refs.head)
    } finally graft.ext.GridNearestJoin.releaseCaches()
  }

  test("auto zone tier: plan stats pick ref below the crossover, grid above") {
    // stats are plan-time (Range reports rows × 8 bytes) — no data moves.
    // The three branches: small/small -> reference shape; fact past the
    // measured 32 MiB crossover -> grid; dim past broadcastability -> grid
    // regardless of fact size (the 100 TB correctness guard).
    val smallFact = spark.range(1000L).toDF("x")
    val smallDim = spark.range(25L).toDF("id")
    assert(!RecommendationJob.chooseGridZone(smallFact, smallDim))
    val bigFact = spark.range(16L << 20).toDF("x") // 128 MiB plan estimate
    assert(RecommendationJob.chooseGridZone(bigFact, smallDim))
    val bigDim = spark.range(4L << 20).toDF("id") // 32 MiB > dim bound
    assert(RecommendationJob.chooseGridZone(smallFact, bigDim))
  }

  // ---- balanced-chunk pair tier (J6 hot-channel mitigation) ---------------

  // one viral channel (60 members, all near Sydney), one small channel, and
  // two members sharing BOTH channels so the cross-channel distinct is
  // exercised; one already-communicating pair exercises the anti-join
  private def hotChannelFixture(members: Int) = {
    val subs = (1 to members).map(u =>
      subscription(u.toLong, "viral", "2022-06-01 10:00:00")) ++
      Seq(subscription(1, "small", "2022-06-01 10:00:00"),
        subscription(2, "small", "2022-06-01 10:00:00"),
        subscription(members + 1L, "small", "2022-06-01 10:00:00"))
    val talked = Seq(
      msg(1, "2022-06-02 10:00:00", syLat, syLon, id = 900, to = 2),
      msg(2, "2022-06-03 10:00:00", syLat, syLon, id = 901, to = 1))
    val at = (1 to members + 1).map(u =>
      msg(u.toLong, s"$d 10:00:00", syLat + u * 1e-4, syLon + u * 1e-4,
        id = 2000L + u, to = 1))
    (eventsDf(spark, subs ++ talked), eventsDf(spark, at))
  }

  test("chunk pair tier is row-identical to the reference self-join shape") {
    val (ev, at) = hotChannelFixture(60)
    val subs = RecommendationJob.subscribers(ev)
    val communicating = RecommendationJob.communicatingSubscribers(ev, subs)
    // the tier follows pairChunk: 60 members < 2·2048 keeps the reference
    // shape, 60 > 2·chunk takes the chunk cells
    def pairs(chunk: Long) = RecommendationJob
      .possibleSubscribersToCommunicate(subs, communicating, at, d, 5000.0,
        emitPeerId = true, pairChunk = chunk)
      .select("user_left", "user_right")
      .as[(Long, Long)].collect().toSeq.sorted
    val ref = pairs(RecommendationJob.PairChunk)
    // chunk 8 over 60 members -> 8 chunks, 36 cells: every pair must meet
    // exactly once, already canonicalized (DESC numbering)
    val chunked = pairs(8L)
    // 60·59/2 viral pairs + (m+1,1),(m+1,2) small-channel pairs − the
    // anti-joined (2,1); the (1,2) pair shares BOTH channels — distinct
    assert(ref.size === 60 * 59 / 2 + 2 - 1)
    assert(chunked === ref)
    // few-chunk case: chunk 24 (60 > 2·24) -> 3 chunks, 6 cells; in both
    // chunked runs the 3-member "small" channel collapses to its single
    // (ch, 0, 0) cell with zero replication — still identical
    assert(pairs(24L) === ref)
  }

  test("auto pair tier: measured hottest-channel membership picks the tier") {
    val (ev, _) = hotChannelFixture(60)
    val subs = RecommendationJob.subscribers(ev)
    // 60 < 2·2048: the default bound keeps the reference shape
    assert(!RecommendationJob.chooseChunkedPairs(subs))
    // 60 > 2·8: a small chunk flips it
    assert(RecommendationJob.chooseChunkedPairs(subs, pairChunk = 8L))
    // empty subscriber set: no channel, never chunk
    assert(!RecommendationJob.chooseChunkedPairs(
      subs.filter($"user_id" < 0)))
  }

  test("chunk pair tier bounds max-task pair generation on a planted " +
      "hot channel; the reference shape serializes it") {
    // the PERFORMANCE claim, measured (the SkewSpec posture): disable
    // broadcast so the reference tier takes its at-scale plan (sort-merge
    // on the channel key — the 100 TB regime where the build side cannot
    // broadcast), AQE off so nothing re-splits, and compare per-task
    // shuffle-WRITE records on the pair-generating stage. AQE could not
    // help anyway: its skew detection sizes partitions by shuffle INPUT
    // bytes and the hot channel is tiny in, quadratic out.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val (ev, at) = hotChannelFixture(120)
    val subs = RecommendationJob.subscribers(ev)
    val communicating = RecommendationJob.communicatingSubscribers(ev, subs)
    class WriteListener extends SparkListener {
      val writes = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null && m.shuffleWriteMetrics.recordsWritten > 0)
          writes.add((te.stageId, m.shuffleWriteMetrics.recordsWritten))
      }
    }
    val savedBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the tier follows pairChunk: 120 members < 2·2048 keeps the
      // reference shape, 120 > 2·16 takes the chunk cells
      def maxShare(pairChunk: Long): Double = {
        val l = new WriteListener
        spark.sparkContext.addSparkListener(l)
        try {
          RecommendationJob.possibleSubscribersToCommunicate(subs,
            communicating, at, d, 5000.0, pairChunk = pairChunk)
            .count()
          // the listener bus is async: wait until events stop arriving
          val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
          var last = -1
          while (System.nanoTime() < deadline && l.writes.size() != last) {
            last = l.writes.size(); Thread.sleep(200)
          }
        } finally spark.sparkContext.removeSparkListener(l)
        // the pair-generating stage is the one writing the most records
        // (its shuffle write feeds the distinct's exchange)
        val byStage = l.writes.toArray(Array.empty[(Int, Long)])
          .groupBy(_._1).view.mapValues(_.map(_._2))
        val (_, perTask) = byStage.maxBy(_._2.sum)
        perTask.max.toDouble / perTask.sum
      }
      val refShare = maxShare(RecommendationJob.PairChunk)
      val chunkShare = maxShare(16L)
      // reference tier: the single viral join key serializes ~all of the
      // 120·119/2 pairs through one task
      assert(refShare > 0.9, s"refShare=$refShare")
      // chunk tier: 8 chunks -> 36 cells hash across the 4 shuffle
      // partitions; no task should own more than ~half the pair mass
      assert(chunkShare < 0.55, s"chunkShare=$chunkShare")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
    }
  }

  test("injected processedAt pins local_time (F5 made testable)") {
    import org.apache.spark.sql.functions._
    val pinned = RecommendationJob.transform(
      allEvents, eventsAtDate, geoDf(spark), d, maxDistanceKm = 100.0,
      processedAt = to_timestamp(lit("2022-06-15 02:00:00")))
    val lt = pinned.select(date_format(col("local_time"), "yyyy-MM-dd HH:mm:ss"))
      .distinct().as[String].collect().toSeq
    assert(lt === Seq("2022-06-15 12:00:00")) // UTC+10 (AEST, June = winter)
    // default path still produces a non-null wall-clock local_time
    assert(mart.filter(col("local_time").isNull).count() === 0)
  }
}

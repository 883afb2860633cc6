package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Behavioral, CdcApply, Graphs, PageRank, Quality, Scd2}

/** Behavioral + graph analytics operators (q107–q110): windowed funnel,
  * cohort retention, integer PageRank, basket lift.
  */
class AnalyticsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def ev(rows: (Long, Long, String)*) =
    rows.toDF("user_id", "t", "event_type")

  // ---- funnel --------------------------------------------------------------

  test("funnel anchors at the FIRST step-1 event (first-touch semantics)") {
    // user 1: signup@100 -> click@150 (in) ; a later signup@400 with a
    // click@450 must NOT re-anchor: the chain matched from t=100 already
    val out = Behavioral.funnelSteps(
      ev((1, 100, "signup"), (1, 150, "click"), (1, 400, "signup"),
        (1, 450, "click")),
      Seq("signup", "click"), horizonUs = 100L)
      .as[(Long, Long, Option[Long], Long)].collect().toMap2
    assert(out(1L) === ((100L, Some(150L), 2L)))
  }

  test("horizon bound is inclusive at exactly +H and broken at +H+1") {
    val in = Behavioral.funnelSteps(
      ev((1, 0, "signup"), (1, 100, "click")),
      Seq("signup", "click"), horizonUs = 100L)
    assert(in.select("stage").as[Long].head() === 2L)
    val outB = Behavioral.funnelSteps(
      ev((2, 0, "signup"), (2, 101, "click")),
      Seq("signup", "click"), horizonUs = 100L)
    assert(outB.select("stage").as[Long].head() === 1L)
    assert(outB.select("t_click").as[Option[Long]].head().isEmpty)
  }

  test("events BEFORE the anchor never match, and the chain is ordered") {
    // click precedes signup -> stage 1; purchase within horizon of signup
    // but with no click -> still stage 1 (steps are sequential, not a set)
    val out = Behavioral.funnelSteps(
      ev((1, 100, "click"), (1, 200, "signup"), (1, 250, "purchase")),
      Seq("signup", "click", "purchase"), horizonUs = 1000L)
    assert(out.select("stage").as[Long].head() === 1L)
  }

  test("users with no step-1 event produce no row") {
    val out = Behavioral.funnelSteps(
      ev((1, 100, "click"), (2, 50, "signup")),
      Seq("signup", "click"), horizonUs = 10L)
    assert(out.select("user_id").as[Long].collect().toSeq === Seq(2L))
  }

  // ---- cohort retention ----------------------------------------------------

  test("cohort retention buckets by fixed spans from the origin") {
    // origin 0, bucket 100: user 1 first at 50 (cohort 0), active at 150
    // (k=1) and 250 (k=2); user 2 first at 150 (cohort 1), active 160 (k=0)
    val out = Behavioral.cohortRetention(
      Seq((1L, 50L), (1L, 150L), (1L, 250L), (2L, 150L), (2L, 160L))
        .toDF("user_id", "t"),
      originUs = 0L, bucketUs = 100L)
      .as[(Long, Long, Long)].collect().toSet
    assert(out === Set((0L, 0L, 1L), (0L, 1L, 1L), (0L, 2L, 1L),
      (1L, 0L, 1L)))
  }

  test("retention cell counts distinct users, not events") {
    val out = Behavioral.cohortRetention(
      Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 15L))
        .toDF("user_id", "t"),
      originUs = 0L, bucketUs = 100L)
      .as[(Long, Long, Long)].collect().toSet
    assert(out === Set((0L, 0L, 2L)))
  }

  // ---- integer PageRank ----------------------------------------------------

  test("integer PageRank matches a driver-side computation on a star graph") {
    // 1 hub <-> 3 spokes, symmetrized: hub deg 3, spokes deg 1, N=4
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 0L), (2L, 0L),
      (3L, 0L)).toDF("src", "dst")
    val got = PageRank.pagerankInt(edges, iters = 2)
      .as[(Long, Long)].collect().toMap
    graft.ext.Caches.releaseAll()
    // driver-side twin of the same integer recurrence
    val n = 4L
    var r = Map(0L -> 1000000000L / n, 1L -> 1000000000L / n,
      2L -> 1000000000L / n, 3L -> 1000000000L / n)
    val deg = Map(0L -> 3L, 1L -> 1L, 2L -> 1L, 3L -> 1L)
    val tele = 15L * 1000000000L / (100L * n)
    for (_ <- 1 to 2) {
      val csum = Map(
        0L -> (r(1L) / deg(1L) + r(2L) / deg(2L) + r(3L) / deg(3L)),
        1L -> r(0L) / deg(0L), 2L -> r(0L) / deg(0L),
        3L -> r(0L) / deg(0L))
      r = r.keys.map(k => k -> (tele + 85L * csum(k) / 100L)).toMap
    }
    assert(got === r)
    assert(got(0L) > got(1L), "hub must outrank spokes")
  }

  test("PageRank symmetric fast path matches the general path bit-for-bit") {
    // symmetrized random graph (E ∪ swap(E)) — the q109 shape the flag
    // exists for: the fast path must produce the identical rank map while
    // skipping the sink probe and the per-iteration outer join
    val e0 = spark.range(300).select(
      (col("id") % 23).as("src"), (col("id") * 7919 % 23 + 100).as("dst"))
    val edges = e0.unionByName(e0.select(col("dst").as("src"),
      col("src").as("dst")))
    val general = PageRank.pagerankInt(edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    graft.ext.Caches.releaseAll()
    val fast = PageRank.pagerankInt(edges, iters = 3,
      assumeSymmetric = true).as[(Long, Long)].collect().toMap
    graft.ext.Caches.releaseAll()
    assert(fast === general)
  }

  test("integer PageRank is bit-identical under repartitioning") {
    val edges = spark.range(500).select(
      (col("id") % 37).as("src"), (col("id") * 7919 % 37).as("dst"))
      .filter(col("src") =!= col("dst"))
    val a = PageRank.pagerankInt(edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    graft.ext.Caches.releaseAll()
    val b = PageRank.pagerankInt(edges.repartition(13), iters = 3)
      .as[(Long, Long)].collect().toMap
    graft.ext.Caches.releaseAll()
    assert(a === b)
  }

  test("PageRank mass is conserved up to deterministic flooring loss") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val total = PageRank.pagerankInt(edges, iters = 3)
      .agg(sum("r")).as[Long].head()
    graft.ext.Caches.releaseAll()
    // each of N nodes can floor away < 1 nano-unit at the teleport term,
    // the damping div, and each contribution div, per iteration
    assert(total <= PageRank.Scale)
    assert(total > PageRank.Scale - 3 * 3 * 3)
  }

  test("PageRank ranks sink nodes and redistributes dangling mass") {
    // pure-sink star: three sources all pointing at node 3, which has no
    // out-edges — the natural web/citation shape. Node 3 must appear in
    // the output (it is in src ∪ dst) and its mass must be redistributed
    // each iteration, not silently dropped.
    val edges = Seq((0L, 3L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val got = PageRank.pagerankInt(edges, iters = 2)
      .as[(Long, Long)].collect().toMap
    graft.ext.Caches.releaseAll()
    // driver-side twin of the same integer recurrence with the uniform
    // dangling redistribution (d div n, truncating)
    val n = 4L
    val tele = 15L * 1000000000L / (100L * n)
    var r = (0L to 3L).map(_ -> 1000000000L / n).toMap
    for (_ <- 1 to 2) {
      val d = r(3L)
      val csum = Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
        3L -> (r(0L) + r(1L) + r(2L)))
      r = r.keys.map(k => k -> (tele + 85L * (csum(k) + d / n) / 100L)).toMap
    }
    assert(got === r)
    assert(got(3L) > got(0L), "sink must outrank its sources")
    val total = got.values.sum
    assert(total <= PageRank.Scale && total > PageRank.Scale - 40L,
      "dangling mass must be redistributed, not dropped")
  }

  // ---- basket lift ---------------------------------------------------------

  test("basket lift matches the hand-computed contingency") {
    // baskets: {a,b} {a,b} {a,c} {b} — N=4, s(a)=3 s(b)=3 s(c)=1,
    // co(a,b)=2 -> lift = 2*4/(3*3) = 0.888888...
    val bk = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L),
      (3L, 3L), (4L, 2L)).toDF("o", "p")
    val out = Behavioral.basketLift(bk, minsup = 2L)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 2L, 2L, 888888L)))
  }

  test("pairs are canonicalized p1 < p2 and minsup filters singletons") {
    val bk = Seq((1L, 5L), (1L, 3L), (2L, 3L), (2L, 5L), (3L, 9L),
      (3L, 3L)).toDF("o", "p")
    val out = Behavioral.basketLift(bk, minsup = 2L)
      .select("p1", "p2").as[(Long, Long)].collect().toSet
    assert(out === Set((3L, 5L))) // (3,9) occurs once -> filtered
  }

  // ---- SCD2 ----------------------------------------------------------------

  test("SCD2 collapses no-change events and chains validity half-open") {
    // key 1: v=10@100, 10@200 (no change), 20@300, 20@350, 10@400
    val ev = Seq((1L, 100L, Some(10.0), 1L), (1L, 200L, Some(10.0), 2L),
      (1L, 300L, Some(20.0), 3L), (1L, 350L, Some(20.0), 4L),
      (1L, 400L, Some(10.0), 5L))
      .toDF("key", "t", "v", "eid")
    val out = Scd2.build(ev, "eid")
      .as[(Long, Option[Double], Long, Option[Long], Long)]
      .collect().sortBy(_._5).toSeq
    assert(out === Seq(
      (1L, Some(10.0), 100L, Some(300L), 1L),
      (1L, Some(20.0), 300L, Some(400L), 2L),
      (1L, Some(10.0), 400L, None, 3L)))
  }

  test("SCD2 keeps a first NULL value and versions null transitions") {
    val ev = Seq((1L, 100L, None: Option[Double], 1L),
      (1L, 200L, Some(5.0), 2L), (1L, 300L, None: Option[Double], 3L),
      (1L, 400L, None: Option[Double], 4L))
      .toDF("key", "t", "v", "eid")
    val out = Scd2.build(ev, "eid")
      .as[(Long, Option[Double], Long, Option[Long], Long)]
      .collect().sortBy(_._5).toSeq
    assert(out === Seq(
      (1L, None, 100L, Some(200L), 1L),
      (1L, Some(5.0), 200L, Some(300L), 2L),
      (1L, None, 300L, None, 3L)))
  }

  test("SCD2 breaks timestamp ties by the tie column, deterministically") {
    val ev = Seq((1L, 100L, Some(1.0), 2L), (1L, 100L, Some(2.0), 1L))
      .toDF("key", "t", "v", "eid")
    val out = Scd2.build(ev, "eid")
      .as[(Long, Option[Double], Long, Option[Long], Long)]
      .collect().sortBy(_._5).toSeq
    assert(out === Seq(
      (1L, Some(2.0), 100L, Some(100L), 1L),
      (1L, Some(1.0), 100L, None, 2L)))
  }

  test("SCD2 merge == from-scratch build on a time-split stream") {
    // key 1 changes across the seam; key 2 repeats its value across the
    // seam (the no-change collapse must span the merge boundary); key 3
    // lives wholly before the cutoff (must pass through untouched); key 4
    // is NEW in the batch (opens version 1)
    val all = Seq(
      (1L, 100L, Some(10.0), 1L), (1L, 300L, Some(20.0), 2L),
      (1L, 900L, Some(30.0), 3L),
      (2L, 100L, Some(7.0), 4L), (2L, 800L, Some(7.0), 5L),
      (3L, 100L, Some(1.0), 6L),
      (4L, 700L, Some(9.0), 7L))
      .toDF("key", "t", "v", "eid")
    val dim = Scd2.build(all.filter($"t" <= 500L), "eid")
    val merged = Scd2.merge(dim, all.filter($"t" > 500L), "eid")
    val rebuilt = Scd2.build(all, "eid")
    assert(merged.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(merged).isEmpty)
    // and the seam semantics concretely: key 1 closes v2 at 900 and opens
    // v3; key 2 stays a single open version; key 4 opens version 1
    val m = merged.as[(Long, Option[Double], Long, Option[Long], Long)]
      .collect().toSet
    assert(m.contains((1L, Some(20.0), 300L, Some(900L), 2L)))
    assert(m.contains((1L, Some(30.0), 900L, None, 3L)))
    assert(m.contains((2L, Some(7.0), 100L, None, 1L)))
    assert(m.contains((4L, Some(9.0), 700L, None, 1L)))
  }

  test("SCD2 merge with an all-collapsing batch changes nothing") {
    val pre = Seq((1L, 100L, Some(5.0), 1L)).toDF("key", "t", "v", "eid")
    val dim = Scd2.build(pre, "eid")
    val batch = Seq((1L, 200L, Some(5.0), 2L)).toDF("key", "t", "v", "eid")
    val merged = Scd2.merge(dim, batch, "eid")
    assert(merged.exceptAll(dim).isEmpty && dim.exceptAll(merged).isEmpty)
  }

  // ---- Markov transitions --------------------------------------------------

  test("Markov transitions count consecutive pairs and normalize per source") {
    // user 1: a b a b ; user 2: a b  => (a->b): 3, (b->a): 1
    val ev = Seq((1L, 10L, "a", 1L), (1L, 20L, "b", 2L), (1L, 30L, "a", 3L),
      (1L, 40L, "b", 4L), (2L, 10L, "a", 5L), (2L, 20L, "b", 6L))
      .toDF("user_id", "t", "event_type", "eid")
    val out = Behavioral.markovTransitions(ev, "eid")
      .as[(String, String, Long, Long)].collect().toSet
    assert(out === Set(("a", "b", 3L, 1000000L), ("b", "a", 1L, 1000000L)))
  }

  test("Markov probabilities split by observed fan-out in integer micros") {
    // from a: 2x to b, 1x to c => 666666 and 333333 micros
    val ev = Seq((1L, 1L, "a", 1L), (1L, 2L, "b", 2L), (1L, 3L, "a", 3L),
      (1L, 4L, "c", 4L), (2L, 1L, "a", 5L), (2L, 2L, "b", 6L))
      .toDF("user_id", "t", "event_type", "eid")
    val out = Behavioral.markovTransitions(ev, "eid")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    assert(out(("a", "b")) === 666666L)
    assert(out(("a", "c")) === 333333L)
  }

  test("last event of a user emits no transition") {
    val ev = Seq((1L, 1L, "a", 1L)).toDF("user_id", "t", "event_type", "eid")
    assert(Behavioral.markovTransitions(ev, "eid").count() === 0L)
  }

  // ---- dyadic EWMA ---------------------------------------------------------

  test("dyadic EWMA weights strictly prior values by halving powers") {
    // key 1 values 80, 40, 8, 100: at the 4th row
    // ewma_num = 8/1 + 40/2 + 80/4 = 48, n_hist = 3
    val ev = Seq((1L, 10L, 80L, 1L), (1L, 20L, 40L, 2L), (1L, 30L, 8L, 3L),
      (1L, 40L, 100L, 4L)).toDF("key", "t", "v", "eid")
    val out = Behavioral.dyadicEwma(ev, k = 4, tieCol = "eid")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._2).toSeq
    assert(out === Seq(
      (1L, 10L, 80L, 0L, 0L),
      (1L, 20L, 40L, 80L, 1L),
      (1L, 30L, 8L, 40L + 40L, 2L),
      (1L, 40L, 100L, 8L + 20L + 20L, 3L)))
  }

  test("dyadic EWMA truncating divisions are exact integer ops") {
    // lags 7, 9, 11, 13 => 13/1 + 11/2 + 9/4 + 7/8 = 13+5+2+0 = 20
    val ev = (1 to 5).map(i => (1L, i.toLong * 10, Seq(7L, 9L, 11L, 13L,
      0L)(i - 1), i.toLong)).toDF("key", "t", "v", "eid")
    val last = Behavioral.dyadicEwma(ev, k = 4, tieCol = "eid")
      .filter(col("t") === 50L)
      .select("ewma_num", "n_hist").as[(Long, Long)].head()
    assert(last === ((20L, 4L)))
  }

  // ---- triangle counting ---------------------------------------------------

  test("triangle counts find each triangle once and credit all 3 corners") {
    // K4 on {1,2,3,4} has 4 triangles; each node sits in exactly 3
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("p1", "p2")
    val out = Graphs.triangleCounts(k4)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("open wedges and disconnected edges produce no triangles") {
    // path 1-2-3 (open wedge) + lone edge 8-9
    val g = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("p1", "p2")
    assert(Graphs.triangleCounts(g).count() === 0L)
    assert(Graphs.triangleCountsDegreeOriented(g).count() === 0L)
  }

  // ---- k-core ---------------------------------------------------------------

  // K4 on {10,11,12,13} + a pendant chain 13-20-21-22: at k = 2 the
  // chain's tail 22 has degree 1 and peels, which drops 21 to degree 1,
  // then 20 — three cascade rounds — while K4 (all degrees 3) survives
  // intact.
  private def pendantChain = Seq((10L, 11L), (10L, 12L), (10L, 13L),
    (11L, 12L), (11L, 13L), (12L, 13L), (13L, 20L), (20L, 21L), (21L, 22L))
    .toDF("p1", "p2")

  test("k-core peel cascades: a pendant chain peels round by round, the " +
      "planted clique survives with within-core degrees") {
    // The within-core degree must be the K4 degree, not the original
    // graph's (13 had degree 4 with the chain attached).
    val out = Graphs.kCore(pendantChain, k = 2).as[(Long, Long)]
      .collect().toMap
    assert(out === Map(10L -> 3L, 11L -> 3L, 12L -> 3L, 13L -> 3L))
  }

  test("k-core peel leaves only its final snapshot checkpointed") {
    // four peel rounds (three cascades + the stable one) each superseded
    // a snapshot; only the fixpoint, read lazily by the result, stays
    val (core, left) = persistedBy(Graphs.kCore(pendantChain, k = 2))
    assert(left <= 1, s"the peel left $left checkpoints")
    assert(core.count() === 4L)
  }

  test("k-core: a cycle is its own 2-core; a tree's 2-core is empty; " +
      "k = 3 dissolves the cycle") {
    val cycle = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("p1", "p2")
    assert(Graphs.kCore(cycle, 2).as[(Long, Long)].collect().toMap ===
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(Graphs.kCore(cycle, 3).count() === 0L)
    val tree = Seq((1L, 2L), (1L, 3L), (3L, 4L), (3L, 5L)).toDF("p1", "p2")
    assert(Graphs.kCore(tree, 2).count() === 0L)
  }

  test("k-core refuses loudly when maxRounds is below the cascade depth") {
    // chain of 4 pendant hops off a triangle needs 4 peel rounds + the
    // stable round; maxRounds = 2 must throw, not return a partial peel
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 7L)).toDF("p1", "p2")
    val e = intercept[IllegalStateException] {
      Graphs.kCore(g, k = 2, maxRounds = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // and with room it converges to the triangle
    assert(Graphs.kCore(g, k = 2, maxRounds = 12)
      .as[(Long, Long)].collect().toMap ===
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("capped coreness: tiers grade correctly and saturate at the cap") {
    // K6 on {1..6} (true coreness 5) with a pendant path 6-10-11: the
    // q164 operator at cap 4 must report 4 for the clique (saturated),
    // 1 for the path nodes (edge, no cycle)
    val k6 = (for {
      a <- 1L to 6L; b <- (a + 1) to 6L
    } yield (a, b)).toSeq
    val g = (k6 ++ Seq((6L, 10L), (10L, 11L))).toDF("p1", "p2")
    val coreness = Graphs.coreness(g, maxK = 4, maxRounds = 16)
      .as[(Long, Long)].collect().toMap
    assert((1L to 6L).forall(coreness(_) == 4L))
    assert(coreness(10L) === 1L && coreness(11L) === 1L)
  }

  test("incremental coreness equals the from-scratch k-core union " +
      "(monotonicity; seeded random graphs + a cascade fixture)") {
    // Graphs.coreness peels k from the (k−1)-core's edges; by k-core
    // nesting this must equal unioning independent from-scratch peels —
    // the round-11 verdict's incremental rewrite, pinned here so a future
    // edit can't quietly break the nesting argument (e.g. by restarting
    // each step from a node REPORT instead of the fixpoint edge frame).
    def fromScratch(g: org.apache.spark.sql.DataFrame,
                    maxK: Int): Map[Long, Long] =
      (1 to maxK).map { k =>
        Graphs.kCore(g, k, maxRounds = 16)
          .select(col("node"), lit(k.toLong).as("k"))
      }.reduce(_ unionByName _)
        .groupBy("node").agg(max("k").as("coreness"))
        .as[(Long, Long)].collect().toMap
    // cascade fixture: K4 + pendant chain (deep peel at k=2)
    val g0 = Seq((10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L),
      (11L, 13L), (12L, 13L), (13L, 20L), (20L, 21L), (21L, 22L))
      .toDF("p1", "p2")
    assert(Graphs.coreness(g0, maxK = 3, maxRounds = 16)
      .as[(Long, Long)].collect().toMap === fromScratch(g0, 3))
    val rnd = new scala.util.Random(77)
    for (p <- Seq(0.08, 0.25)) {
      val edges = (for {
        a <- 1L to 35L; b <- (a + 1) to 35L
        if rnd.nextDouble() < p
      } yield (a, b)).toDF("p1", "p2")
      val inc = Graphs.coreness(edges, maxK = 4, maxRounds = 16)
        .as[(Long, Long)].collect().toMap
      assert(inc === fromScratch(edges, 4), s"p=$p")
      assert(inc.nonEmpty, s"fixture at p=$p must have nodes")
    }
  }

  test("degree-oriented triangles equal the id-oriented form: K4, a hub " +
      "star + clique, and seeded random graphs") {
    // K4: the complete case
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("p1", "p2")
    assert(Graphs.triangleCountsDegreeOriented(k4)
      .as[(Long, Long)].collect().toMap ===
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // hub pathology: node 1 (LOW id, HIGH degree) is a star center over
    // 2..30 plus one closing edge 2-3 — exactly one triangle (1,2,3).
    // Under id orientation node 1 owns 29 out-edges (the Σout-deg² hot
    // key this variant exists to kill); degree orientation points every
    // star edge AT the hub. Both must count the single triangle.
    val hub = ((2L to 30L).map(i => (1L, i)) ++ Seq((2L, 3L)))
      .toDF("p1", "p2")
    val hubWant = Map(1L -> 1L, 2L -> 1L, 3L -> 1L)
    assert(Graphs.triangleCounts(hub)
      .as[(Long, Long)].collect().toMap === hubWant)
    assert(Graphs.triangleCountsDegreeOriented(hub)
      .as[(Long, Long)].collect().toMap === hubWant)
    // seeded Erdős–Rényi-ish graphs: equality across densities
    val rnd = new scala.util.Random(1234)
    for (p <- Seq(0.08, 0.2)) {
      val edges = (for {
        a <- 1L to 40L; b <- (a + 1) to 40L
        if rnd.nextDouble() < p
      } yield (a, b)).toDF("p1", "p2")
      val byId = Graphs.triangleCounts(edges)
        .as[(Long, Long)].collect().toMap
      val byDeg = Graphs.triangleCountsDegreeOriented(edges)
        .as[(Long, Long)].collect().toMap
      assert(byDeg === byId, s"p=$p")
      assert(byId.nonEmpty, s"fixture at p=$p must contain triangles")
    }
  }

  // ---- empirical CDF rank ----------------------------------------------------

  test("empiricalCdfMicro: strictly-below ppm ranks, ties rank low, " +
      "equals the rank()-window formulation") {
    import graft.operators.Quality
    // [5,5,7,9]: below(5)=0 -> 0; below(7)=2 -> 500000; below(9)=3 -> 750000
    val small = Seq((1L, 5L), (2L, 5L), (3L, 7L), (4L, 9L)).toDF("id", "v")
    val got = Quality.empiricalCdfMicro(small, "v", "r")
      .select($"id", $"r").as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 0L, 3L -> 500000L, 4L -> 750000L))
    // seeded random frame with heavy ties: the value-aggregate device
    // must equal the global rank() window it exists to avoid
    val rnd = new scala.util.Random(7)
    val data = (1L to 200L).map(i => (i, rnd.nextInt(12).toLong))
      .toDF("id", "v")
    val dev = Quality.empiricalCdfMicro(data, "v", "r")
      .select($"id", $"r").as[(Long, Long)].collect().toMap
    val w = org.apache.spark.sql.expressions.Window.orderBy($"v")
    val win = data.withColumn("r",
        expr("((rank() over (order by v) - 1) * 1000000) div 200"))
      .select($"id", $"r").as[(Long, Long)].collect().toMap
    assert(dev === win)
  }

  // ---- max-min fair shares ---------------------------------------------------

  test("max-min fair shares: cascade saturation, exact budget, caps " +
      "respected, remainder deterministic") {
    import graft.ext.Mixtures
    def run(caps: Seq[(String, Long)], budget: Long): Map[String, Long] =
      Mixtures.maxMinFairShares(caps.toDF("k", "c"), "k", "c", budget)
        .select($"k", $"alloc").as[(String, Long)].collect().toMap
    // cascade: a(10) and b(20) saturate, c takes the residue — Σ = budget
    assert(run(Seq(("a", 10L), ("b", 20L), ("c", 100L)), 60L) ===
      Map("a" -> 10L, "b" -> 20L, "c" -> 30L))
    // budget over total capacity: everyone saturates at cap
    assert(run(Seq(("a", 10L), ("b", 20L), ("c", 100L)), 200L) ===
      Map("a" -> 10L, "b" -> 20L, "c" -> 100L))
    // nothing saturates: equal split, remainder to the first domains in
    // (cap, key) order, and the +1 can never push past a cap (lemma in
    // the scaladoc: an unsaturated cap strictly exceeds its fair floor)
    assert(run(Seq(("a", 5L), ("b", 50L), ("c", 50L)), 14L) ===
      Map("a" -> 5L, "b" -> 5L, "c" -> 4L))
    // property: random caps/budgets — alloc ≤ cap, Σ = min(budget, Σcap),
    // and max-min fairness (an unsaturated domain's alloc is ≥ every
    // other domain's alloc − 1, the equal-level property)
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val caps = (1 to 8).map(i => (s"d$i", rnd.nextInt(100).toLong))
      val budget = rnd.nextInt(400).toLong
      val got = run(caps, budget)
      val capMap = caps.toMap
      assert(got.forall { case (k, a) => a >= 0 && a <= capMap(k) })
      assert(got.values.sum === math.min(budget, caps.map(_._2).sum))
      val unsat = got.filter { case (k, a) => a < capMap(k) }
      if (unsat.nonEmpty) {
        val floorLevel = unsat.values.min
        assert(got.values.forall(_ <= floorLevel + 1),
          s"equal-level violated: $got budget=$budget caps=$caps")
      }
    }
  }

  test("max-min fair shares: huge caps don't overflow the saturation test") {
    import graft.ext.Mixtures
    // cap·(k−i+1) here is ~4.6e18·3 ≫ Long.MaxValue — the multiplication
    // form would wrap negative and spuriously saturate every domain
    // (ADVICE r12); the division form must still allocate the full budget
    // to the unsaturated giants
    val huge = Long.MaxValue / 2
    val got = Mixtures.maxMinFairShares(
        Seq(("a", 10L), ("b", huge), ("c", huge)).toDF("k", "c"),
        "k", "c", 100L)
      .select($"k", $"saturated", $"alloc").as[(String, Boolean, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(
      "a" -> ((true, 10L)), "b" -> ((false, 45L)), "c" -> ((false, 45L))))
  }

  // ---- gap fill ------------------------------------------------------------

  test("gap fill densifies the span and carries the last value forward") {
    val d0 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-03")
    val d4 = java.sql.Date.valueOf("2024-01-05")
    val daily = Seq((1L, d0, 10L), (1L, d2, 30L), (1L, d4, 50L))
      .toDF("key", "day", "v")
    val out = Behavioral.gapFillDaily(daily)
      .select(col("day").cast("string"), col("v_filled"), col("filled"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq(
      ("2024-01-01", 10L, 0L), ("2024-01-02", 10L, 1L),
      ("2024-01-03", 30L, 0L), ("2024-01-04", 30L, 1L),
      ("2024-01-05", 50L, 0L)))
  }

  test("gap fill spans are per key, single-day keys stay single rows") {
    val daily = Seq(
      (1L, java.sql.Date.valueOf("2024-01-01"), 1L),
      (1L, java.sql.Date.valueOf("2024-01-02"), 2L),
      (2L, java.sql.Date.valueOf("2024-02-10"), 9L))
      .toDF("key", "day", "v")
    val out = Behavioral.gapFillDaily(daily)
    assert(out.count() === 3L)
    assert(out.filter(col("key") === 2L).count() === 1L)
  }

  // ---- CDC apply -----------------------------------------------------------

  private def tgt(rows: (Long, String, Long)*) =
    rows.toDF("key", "name", "bal_micro")
  private def chg(rows: (Long, Long, String, String, Long)*) =
    rows.map { case (k, s, o, n, b) =>
      (k, s, o, Option(n), if (o == "D") None else Some(b))
    }.toDF("key", "seq", "op", "name", "bal_micro")

  test("CDC apply: latest seq wins, upsert replaces, delete tombstones") {
    val out = CdcApply.run(
      tgt((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)),
      chg((1L, 5L, "U", "a1", 11L), (1L, 9L, "U", "a2", 12L),
        (2L, 7L, "D", null, 0L)))
      .as[(Long, String, Long)].collect().toSet
    assert(out === Set((1L, "a2", 12L), (3L, "c", 30L)))
  }

  test("CDC apply: upsert on an unseen key inserts; untouched rows survive") {
    val out = CdcApply.run(
      tgt((1L, "a", 10L)),
      chg((9L, 1L, "U", "new", 99L)))
      .as[(Long, String, Long)].collect().toSet
    assert(out === Set((1L, "a", 10L), (9L, "new", 99L)))
  }

  test("CDC apply: on a seq tie the delete beats the upsert") {
    val out = CdcApply.run(
      tgt((1L, "a", 10L)),
      chg((1L, 5L, "U", "res", 1L), (1L, 5L, "D", null, 0L)))
    assert(out.count() === 0L)
  }

  test("CDC apply: a delete then a LATER upsert resurrects the key") {
    val out = CdcApply.run(
      tgt((1L, "a", 10L)),
      chg((1L, 5L, "D", null, 0L), (1L, 6L, "U", "back", 2L)))
      .as[(Long, String, Long)].collect().toSet
    assert(out === Set((1L, "back", 2L)))
  }

  // ---- data quality --------------------------------------------------------

  test("snapshot diff classifies added, removed, changed; silent on same") {
    val before = tgt((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
    val after = tgt((1L, "a", 10L), (2L, "b2", 20L), (4L, "d", 40L))
    val out = Quality.snapshotDiff(before, after, "key")
      .as[(Long, String)].collect().toSet
    assert(out === Set((2L, "C"), (3L, "R"), (4L, "A")))
  }

  test("snapshot diff treats NULL payloads null-safely") {
    val b = Seq((1L, Option.empty[String], 5L), (2L, Some("x"), 6L))
      .toDF("key", "name", "bal_micro")
    val a = Seq((1L, Option.empty[String], 5L), (2L, Option.empty[String], 6L))
      .toDF("key", "name", "bal_micro")
    val out = Quality.snapshotDiff(b, a, "key")
      .as[(Long, String)].collect().toSet
    assert(out === Set((2L, "C"))) // null == null stays silent; x -> null is C
  }

  test("column profile computes all analyzers in one pass") {
    val df = Seq((1L, Some("x")), (2L, Some("y")), (3L, None),
      (4L, Some("x"))).toDF("id", "s")
    val out = Quality.profile(df, Seq("id", "s"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("id") === (("id", 4L, 0L, 4L, "1", "4")))
    assert(out("s") === (("s", 4L, 1L, 2L, "x", "y")))
  }

  test("constraint checks count violations exactly") {
    val child = Seq((1L, 10L, 5.0), (1L, 10L, -1.0), (2L, 99L, 3.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val parent = Seq(Tuple1(10L)).toDF("c_custkey")
    val out = Quality.checks(child, "o_orderkey",
      Some((parent, "o_custkey", "c_custkey")),
      ("price_positive", col("o_totalprice") > 0.0))
      .as[(String, Long)].collect().toMap
    assert(out === Map("pk_unique" -> 1L, "price_positive" -> 1L,
      "fk_exists" -> 1L))
  }

  // ---- mixture allocation + leakage-safe split (catalog-level) -------------

  private val sf = "/root/testdata/sf0.001"

  test("temperature mixture flattens shares and fills targets exactly") {
    val rows = SparkEntry.queries("q123_temperature_mixture")(spark, sf)
      .as[(String, Long, Long, Long, Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    // every language fills its target exactly (sampled == target)
    rows.values.foreach { case (_, n, _, t, sampled, _) =>
      assert(sampled.getOrElse(0L) === math.min(t, n),
        "sample must fill the target (capped by stratum size)")
    }
    // temperature flattening: the biggest stratum's sampling RATE is
    // below a smaller stratum's (sqrt compresses shares)
    val big = rows.values.maxBy(_._2)
    val small = rows.values.minBy(_._2)
    if (big._2 > small._2) {
      assert(big._4.toDouble / big._2 < small._4.toDouble / small._2,
        "temperature sampling must over-sample small strata relatively")
    }
    // targets sum to at most the configured total (floor rounding)
    assert(rows.values.map(_._4).sum <= 1000L)
  }

  test("leakage-safe split never places two copies of a text apart") {
    // sf0.1: the only driver scale whose corpus carries exact-dup groups
    val out = SparkEntry
      .queries("q124_leakage_safe_split")(spark, "/root/testdata/sf0.1")
      .groupBy("rep_id")
      .agg(countDistinct("split").as("nsplits"),
        count(lit(1)).as("members"))
    assert(out.filter(col("nsplits") > 1).count() === 0L,
      "all members of a dup group must share one split")
    // and the fixture actually exercises multi-member groups
    assert(out.filter(col("members") > 1).count() > 0L,
      "fixture must contain at least one exact-dup group")
  }

  private implicit class Map2Ops(
      rows: Array[(Long, Long, Option[Long], Long)]) {
    def toMap2: Map[Long, (Long, Option[Long], Long)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }
}

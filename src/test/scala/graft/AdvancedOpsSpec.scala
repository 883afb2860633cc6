package graft


import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AsOfJoin, ConnectedComponents, IntervalJoin}

class AsOfJoinSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def left = Seq(
    (1L, 10L, "2024-01-01 10:00:00"),
    (1L, 11L, "2024-01-01 12:00:00"),
    (1L, 12L, "2024-01-01 09:00:00"), // before every right row -> NULL
    (2L, 20L, "2024-01-01 12:00:00"), // exactly AT a right ts -> inclusive
    (3L, 30L, "2024-01-01 12:00:00")  // key with no right rows at all
  ).toDF("k", "ev", "ts").withColumn("ts", to_timestamp(col("ts")))

  private def right = Seq(
    (1L, "2024-01-01 09:30:00", 100.0),
    (1L, "2024-01-01 11:00:00", 200.0),
    (2L, "2024-01-01 12:00:00", 300.0)
  ).toDF("k", "ts", "v").withColumn("ts", to_timestamp(col("ts")))

  test("backward as-of picks the latest right row at-or-before each left ts") {
    val out = AsOfJoin.backward(left, right, Seq("k"), "ts", "ts", Seq("v"))
      .select("ev", "asof_v").as[(Long, Option[Double])].collect().toMap
    assert(out(10L) === Some(100.0)) // 10:00 -> 09:30 row
    assert(out(11L) === Some(200.0)) // 12:00 -> 11:00 row
    assert(out(12L) === None)        // 09:00 precedes every right row
    assert(out(20L) === Some(300.0)) // equal ts: inclusive
    assert(out(30L) === None)        // no right rows for key 3
  }

  test("left columns, row count, and schema survive") {
    val out = AsOfJoin.backward(left, right, Seq("k"), "ts", "ts", Seq("v"))
    assert(out.count() === left.count())
    assert(out.columns.toSeq === Seq("k", "ts", "ev", "asof_v"))
  }

  test("plans exactly one shuffle (the key hash), like a plain equi-join") {
    val out = AsOfJoin.backward(left, right, Seq("k"), "ts", "ts", Seq("v"))
    // string count, not a collect: AQE wraps unfinalized subplans so
    // ShuffleExchangeExec nodes are not yet reachable as tree nodes
    val plan = out.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles === 1, plan)
  }

  test("right rows with NULL timestamps are dropped, not forward-filled") {
    // unfiltered, a NULL-ts right row sorts FIRST (nulls-first, side 0) and
    // its payload would fabricate an "earliest known" match
    val rNull = Seq((3L, None: Option[String], 999.0),
      (1L, Some("2024-01-01 09:30:00"), 100.0))
      .toDF("k", "ts", "v").withColumn("ts", to_timestamp(col("ts")))
    val out = AsOfJoin.backward(left, rNull, Seq("k"), "ts", "ts", Seq("v"))
      .select("ev", "asof_v").as[(Long, Option[Double])].collect().toMap
    assert(out(30L) === None) // key 3's only right row has NULL ts
    assert(out(10L) === Some(100.0))
  }

  test("name collisions with left columns are refused, not silently merged") {
    intercept[IllegalArgumentException] {
      AsOfJoin.backward(left.withColumn("asof_v", lit(1)), right,
        Seq("k"), "ts", "ts", Seq("v"))
    }
    intercept[IllegalArgumentException] {
      AsOfJoin.backward(left.withColumn("v", lit(1)), right,
        Seq("k"), "ts", "ts", Seq("v"))
    }
  }

  test("matches the naive window-over-theta-join formulation on a big fixture") {
    // deterministic pseudo-random fixture: 40 keys, 2000 left, 400 right
    val l = spark.range(2000).select(
      (col("id") % 40).as("k"), col("id").as("ev"),
      timestamp_micros(col("id") * 7919 % 1000000000L).as("ts"))
    val r = spark.range(400).select(
      (col("id") % 40).as("k"),
      timestamp_micros(col("id") * 104729 % 1000000000L).as("ts"),
      (col("id") * 13 % 997).cast("double").as("v"))
      .groupBy("k", "ts").agg(max("v").as("v"))
    val fast = AsOfJoin.backward(l, r, Seq("k"), "ts", "ts", Seq("v"))
      .select("k", "ev", "asof_v")
    // the range condition must live IN the left join so left rows with no
    // prior right row survive with NULLs instead of vanishing
    val rr = r.withColumnRenamed("ts", "rts").withColumnRenamed("k", "rk")
    val naive = l.join(rr, col("k") === col("rk") && col("rts") <= col("ts"),
        "left")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k", "ev")
          .orderBy(col("rts").desc_nulls_last)))
      .filter(col("rn") === 1)
      .select(col("k"), col("ev"), col("v").as("asof_v"))
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
  }

  test("forward as-of picks the earliest right row at-or-after each left ts") {
    val out = AsOfJoin.forward(left, right, Seq("k"), "ts", "ts", Seq("v"))
      .select("ev", "asof_v").as[(Long, Option[Double])].collect().toMap
    assert(out(10L) === Some(200.0)) // 10:00 -> next is 11:00 row
    assert(out(11L) === None)        // 12:00 follows every key-1 right row
    assert(out(12L) === Some(100.0)) // 09:00 -> next is 09:30 row
    assert(out(20L) === Some(300.0)) // equal ts: inclusive
    assert(out(30L) === None)        // no right rows for key 3
  }

  test("forward: NULL left ts gets NULL payload; NULL right ts is dropped") {
    // a NULL-ts left row sorts LAST (asc_nulls_last) — its following frame
    // must contain no right row, mirroring the theta-join's NULL semantics
    val lNull = left.unionByName(
      Seq((1L, 99L, None: Option[String])).toDF("k", "ev", "ts")
        .withColumn("ts", to_timestamp(col("ts"))))
    val rNull = right.unionByName(
      Seq((3L, None: Option[String], 999.0)).toDF("k", "ts", "v")
        .withColumn("ts", to_timestamp(col("ts"))))
    val out = AsOfJoin.forward(lNull, rNull, Seq("k"), "ts", "ts", Seq("v"))
      .select("ev", "asof_v").as[(Long, Option[Double])].collect().toMap
    assert(out(99L) === None) // NULL left ts never matches
    assert(out(30L) === None) // key 3's only right row has NULL ts
    assert(out(10L) === Some(200.0))
  }

  test("forward plans exactly one shuffle and matches the naive formulation") {
    val l = spark.range(2000).select(
      (col("id") % 40).as("k"), col("id").as("ev"),
      timestamp_micros(col("id") * 7919 % 1000000000L).as("ts"))
    val r = spark.range(400).select(
      (col("id") % 40).as("k"),
      timestamp_micros(col("id") * 104729 % 1000000000L).as("ts"),
      (col("id") * 13 % 997).cast("double").as("v"))
      .groupBy("k", "ts").agg(max("v").as("v"))
    // plan contract on the shuffle-free small fixture (the big one's own
    // groupBy adds a legitimate aggregation exchange)
    val smallPlan = AsOfJoin.forward(left, right, Seq("k"), "ts", "ts", Seq("v"))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(smallPlan).size === 1,
      smallPlan)
    val fast = AsOfJoin.forward(l, r, Seq("k"), "ts", "ts", Seq("v"))
    val rr = r.withColumnRenamed("ts", "rts").withColumnRenamed("k", "rk")
    val naive = l.join(rr, col("k") === col("rk") && col("rts") >= col("ts"),
        "left")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k", "ev")
          .orderBy(col("rts").asc_nulls_last)))
      .filter(col("rn") === 1)
      .select(col("k"), col("ev"), col("v").as("asof_v"))
    val got = fast.select("k", "ev", "asof_v")
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty)
  }
}

class ConnectedComponentsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** `f` built on the driver path and again on the forced star rounds:
    * both must give the same rows under the same schema (column types and
    * nullability). Returns the rows, sorted.
    */
  private def bothPaths(f: => DataFrame): Seq[Row] = {
    val driver = f
    val stars = ConnectedComponents.forcingStarRounds(f)
    assert(driver.schema === stars.schema)
    val (d, s) = (sortedRows(driver), sortedRows(stars))
    assert(d === s, "driver union-find and star rounds disagree")
    d
  }

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    bothPaths(ConnectedComponents.run(edges.toDF("a", "b"), "a", "b"))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a long chain needs transitive propagation, not one hop") {
    // diameter-7 path: label 1 must travel the whole chain
    val chain = (1L to 7L).map(i => (i, i + 1))
    val comp = components(chain)
    assert(comp.values.toSet === Set(1L))
    assert(comp.keySet === (1L to 8L).toSet)
  }

  test("separate clusters keep separate min labels") {
    val comp = components(Seq((5L, 3L), (3L, 9L), (20L, 30L), (40L, 40L)))
    assert(comp(5L) === 3L && comp(3L) === 3L && comp(9L) === 3L)
    assert(comp(20L) === 20L && comp(30L) === 20L)
    assert(comp(40L) === 40L) // self-loop: singleton survives
  }

  test("duplicate and reversed edges change nothing") {
    val comp = components(Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L)))
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("null endpoints: same rows and schema on both paths") {
    // greatest/least skip a null, so (null, 5) is 5's self-loop; (null,
    // null) is one null vertex labeled null. Long and int ids alike; an
    // empty edge set labels nothing.
    val longs = bothPaths(ConnectedComponents.run(
      Seq((None, Some(5L)), (None, None), (Some(1L), Some(2L)))
        .toDF("a", "b"), "a", "b"))
    assert(longs === Seq(Row(1L, 1L), Row(2L, 1L), Row(5L, 5L),
      Row(null, null)).sortBy(_.toString))
    val ints = bothPaths(ConnectedComponents.run(
      Seq((None, Some(5)), (None, None), (Some(2), Some(1)))
        .toDF("a", "b"), "a", "b"))
    assert(ints === Seq(Row(1, 1), Row(2, 1), Row(5, 5), Row(null, null))
      .sortBy(_.toString))
    assert(bothPaths(ConnectedComponents.run(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")).isEmpty)
  }

  test("refuses to return partially-propagated labels at the iteration cap") {
    // an 8-vertex chain needs ~4 large/small-star rounds (incl. the
    // fixpoint-confirming one); capping at 2 must refuse, not mislabel
    val chain = (1L to 7L).map(i => (i, i + 1))
    intercept[IllegalStateException] {
      ConnectedComponents.forcingStarRounds(
        ConnectedComponents.run(chain.toDF("a", "b"), "a", "b", maxIters = 2))
    }
  }

  test("a 120-vertex chain converges in O(log n) rounds, not O(diameter)") {
    // the shape that kills plain min-label propagation: one chain-shaped
    // artifact (boilerplate with incremental counters) in a 100 TB dedup
    // graph. Large/small-star must label it correctly in ~log2(n) rounds.
    val chain = (1L to 119L).map(i => (i, i + 1))
    val (labels, rounds) = ConnectedComponents.forcingStarRounds(
      ConnectedComponents.runCounted(chain.toDF("a", "b"), "a", "b"))
    val comp = labels.as[(Long, Long)].collect().toMap
    assert(comp.keySet === (1L to 120L).toSet)
    assert(comp.values.toSet === Set(1L))
    assert(rounds <= 10, s"expected O(log n) convergence, took $rounds rounds")
  }

  test("the star rounds leave only the canon and final checkpoints") {
    // every superseded round snapshot is released once the next one is
    // materialized; only the canon edge set and the fixpoint stay, both
    // still read by the returned labels
    val chain = (1L to 119L).map(i => (i, i + 1))
    val ((labels, rounds), left) = persistedBy(
      ConnectedComponents.forcingStarRounds(
        ConnectedComponents.runCounted(chain.toDF("a", "b"), "a", "b")))
    assert(rounds > 2)
    assert(left <= 2, s"$rounds rounds left $left checkpoints")
    assert(labels.count() === 120L)
  }

  test("the driver path runs no star round and leaves no checkpoint") {
    // the labels are a local relation, so the canon checkpoint is released
    // as soon as its rows are on the driver
    val chain = (1L to 119L).map(i => (i, i + 1))
    val ((labels, rounds), left) = persistedBy(
      ConnectedComponents.runCounted(chain.toDF("a", "b"), "a", "b"))
    assert(rounds === 0)
    assert(left === 0, s"the driver path left $left checkpoints")
    assert(labels.count() === 120L)
  }

  test("the star rounds' job count stays pinned on a fixed fixture") {
    // the forced path's shape on the 8-vertex chain: the canon checkpoint,
    // four star rounds (each its stage-jobs plus the one fingerprint
    // action) and the final labels. An extra action per round, or a round
    // that re-derives its input, adds 4+ jobs, past the +2 flutter the
    // catalog bounds allow (PlanAuditSpec); the driver path pays the
    // checkpoint and one take, and its labels are a local scan
    val chain = (1L to 7L).map(i => (i, i + 1)).toDF("a", "b")
    def shape(f: => (DataFrame, Int)): (Int, Instrument.Counts) = {
      val (rounds, c) = Instrument.countStages(spark) {
        val (labels, rounds) = f
        labels.collect()
        rounds
      }
      (rounds, c)
    }
    val (starRounds, star) = shape(ConnectedComponents.forcingStarRounds(
      ConnectedComponents.runCounted(chain, "a", "b")))
    val (driverRounds, driver) =
      shape(ConnectedComponents.runCounted(chain, "a", "b"))
    info(s"star rounds: $starRounds rounds, ${star.jobs} jobs / " +
      s"${star.stages} stages; driver: ${driver.jobs} / ${driver.stages}")
    assert(starRounds === 4 && driverRounds === 0)
    assert(star.jobs <= StarJobs + 2 && star.stages <= StarJobs + 2,
      s"star rounds: ${star.jobs} jobs / ${star.stages} stages " +
        s"(bound $StarJobs)")
    assert(driver.jobs <= DriverJobs + 2 && driver.stages <= DriverJobs + 2,
      s"driver path: ${driver.jobs} jobs / ${driver.stages} stages " +
        s"(bound $DriverJobs)")
  }

  private val StarJobs = 39
  private val DriverJobs = 3

  /** Plain-Scala reference: every vertex of `edges` to the minimum id of
    * its component.
    */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def root(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = root(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (root(a), root(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> root(v)).toMap
  }

  /** One seeded graph on 2–13 vertex ids scattered over
    * [base, base + 1000): a chain, a star, a clique, self-loops only, or a
    * random multigraph (splits, loops, repeats), plus reversed and
    * duplicated copies of some of its edges.
    */
  private def graph(r: scala.util.Random, kind: Int,
                    base: Long): Seq[(Long, Long)] = {
    val n = 2 + r.nextInt(if (kind == 2) 6 else 12)
    val ids = r.shuffle((0L until 1000L).toVector).take(n).map(base + _)
    val edges = kind match {
      case 0 => ids.sliding(2).map(p => (p(0), p(1))).toSeq
      case 1 => ids.tail.map(v => (ids.head, v))
      case 2 => for (a <- ids; b <- ids if a < b) yield (a, b)
      case 3 => ids.map(v => (v, v))
      case _ => Seq.fill(n)((ids(r.nextInt(n)), ids(r.nextInt(n))))
    }
    edges ++ edges.filter(_ => r.nextInt(4) == 0).map(_.swap) ++
      edges.filter(_ => r.nextInt(6) == 0)
  }

  test("both paths match a union-find reference on 240 seeded graphs") {
    // the graphs live in disjoint id ranges, so all of them run as ONE
    // call per path; even-numbered graphs are int-typed (negative ids
    // among them) and widen to bigint in the union, odd ones sit past
    // 2^40
    val r = new scala.util.Random(20261019L)
    val graphs = (0 until 240).map { i =>
      val base = if (i % 2 == 1) (1L << 40) + i * 1000L
                 else if (i % 4 == 0) -1000L * (i + 1) else 1000L * i
      graph(r, i % 5, base)
    }
    val ints = graphs.indices.filter(_ % 2 == 0).flatMap(graphs)
      .map { case (a, b) => (a.toInt, b.toInt) }.toDF("a", "b")
    val longs = graphs.indices.filter(_ % 2 == 1).flatMap(graphs)
      .toDF("a", "b")
    val edges = ints.unionByName(longs)
    val expected = reference(graphs.flatten)
    def check(path: String, labels: DataFrame): Unit = {
      val got = labels.as[(Long, Long)].collect()
      assert(got.length === expected.size, s"$path: one row per vertex")
      val wrong = got.filter { case (v, c) => !expected.get(v).contains(c) }
      val eg = wrong.take(5).map { case (v, c) =>
        s"$v -> $c (want ${expected.get(v)})" }.mkString(", ")
      assert(wrong.length === 0,
        s"$path mislabels ${wrong.length} vertices, e.g. $eg")
    }
    check("driver union-find", ConnectedComponents.run(edges, "a", "b"))
    check("star rounds", ConnectedComponents.forcingStarRounds(
      ConnectedComponents.run(edges, "a", "b")))
  }

  test("merge folds batch edges into prior labels == from-scratch run") {
    // the incremental contract: merge(run(E1), E2) must equal run(E1 ∪ E2)
    // on every vertex either side mentions. E2 exercises all three event
    // kinds: extending a component (8→9), BRIDGING two prior components
    // (4→20 — both must adopt root 1), and a brand-new component (100,101).
    val e1 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (20L, 21L), (30L, 31L))
    val e2 = Seq((8L, 9L), (4L, 20L), (9L, 1L), (100L, 101L))
    val merged = bothPaths(ConnectedComponents.merge(
        ConnectedComponents.run(e1.toDF("a", "b"), "a", "b"),
        "id", "component", e2.toDF("a", "b"), "a", "b"))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = components(e1 ++ e2)
    assert(merged === scratch)
    assert(merged(21L) === 1L && merged(9L) === 1L) // bridged via 4→20, 9→1
    assert(merged(30L) === 30L)                     // untouched component
    assert(merged(100L) === 100L && merged(101L) === 100L)
  }

  test("fold == from-scratch run, and only touched components re-derive") {
    // the frontier contract (round-16): fold(run(E1), E2) equals
    // run(E1 ∪ E2) on labels, AND the untouched component (30,31) rides
    // the pass-through path — touched = 0 — while extended, bridged, and
    // brand-new vertices all carry touched = 1
    val e1 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (20L, 21L), (30L, 31L))
    val e2 = Seq((8L, 9L), (4L, 20L), (9L, 1L), (100L, 101L))
    val folded = bothPaths(ConnectedComponents.fold(
        ConnectedComponents.run(e1.toDF("a", "b"), "a", "b"),
        "id", "component", e2.toDF("a", "b"), "a", "b"))
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val scratch = components(e1 ++ e2)
    assert(folded.map(r => r._1 -> r._2).toMap === scratch)
    val touched = folded.map(r => r._1 -> r._3).toMap
    assert(touched(30L) === 0 && touched(31L) === 0) // pass-through
    assert(touched(1L) === 1 && touched(21L) === 1)  // affected components
    assert(touched(9L) === 1 && touched(100L) === 1) // batch-new vertices
    // exactly one row per vertex — the untouched/affected split is a
    // partition, not an overlap
    assert(folded.map(_._1).distinct.length === folded.length)
  }

  test("unfold retracts vertices == run on surviving edges, splits included") {
    // the deletion contract (round-16): dropping `touched`,
    // unfold(run(E), E, R) equals run(E') ∪ singletons where E' strips
    // every edge incident to R. The fixture exercises each regime:
    // path 1-2-3-4 with 2 retracted — a BRIDGE, so the component SPLITS
    // into singleton {1} and {3,4}; triangle 20-21-22 with 21 retracted —
    // stays connected through the surviving (20,22) edge; (30,31)
    // untouched — pass-through, touched = 0; (40,41) both retracted — the
    // component vanishes; 999 retracted but never in the graph — no-op
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L), (40L, 41L))
    val retr = Seq(2L, 21L, 40L, 41L, 999L)
    val out = bothPaths(ConnectedComponents.unfold(
        ConnectedComponents.run(e.toDF("a", "b"), "a", "b"),
        "id", "component", e.toDF("a", "b"), "a", "b",
        retr.toDF("rid"), "rid"))
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val comp = out.map(x => x._1 -> x._2).toMap
    assert(comp === Map(1L -> 1L, 3L -> 3L, 4L -> 3L,
      20L -> 20L, 22L -> 20L, 30L -> 30L, 31L -> 30L))
    val touched = out.map(x => x._1 -> x._3).toMap
    assert(touched(30L) === 0 && touched(31L) === 0) // pass-through
    assert(Seq(1L, 3L, 4L, 20L, 22L).forall(touched(_) === 1))
    assert(out.map(_._1).distinct.length === out.length)
  }

  test("star fixpoint handles merged clusters and preserves singletons") {
    // two chains bridged by one edge + a self-loop singleton + an isolated
    // pair — exercises re-rooting across the bridge and the left-join that
    // restores star-dropped vertices
    val edges = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L),
      (20L, 21L), (21L, 22L),
      (13L, 20L), // bridge: both chains are one component rooted at 10
      (40L, 40L), // self-loop singleton
      (50L, 51L))
    val comp = components(edges)
    assert((10L to 13L).forall(comp(_) === 10L))
    assert((20L to 22L).forall(comp(_) === 10L))
    assert(comp(40L) === 40L)
    assert(comp(50L) === 50L && comp(51L) === 50L)
  }
}

class IntervalJoinSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("closed bounds, overlaps, multi-bin spans — matches the theta-join") {
    val points = spark.range(1000)
      .select((col("id") * 37 % 5000).cast("double").as("p"))
    val intervals = spark.range(60).select(
      col("id").as("iv"),
      (col("id") * 83 % 4000).cast("double").as("lo"),
      // mix of tiny, bin-width and multi-bin spans (up to 2600 at width 500)
      ((col("id") * 83 % 4000) + (col("id") % 13) * 200).cast("double").as("hi"))
    val fast = IntervalJoin.pointInInterval(points, intervals,
      "p", "lo", "hi", binWidth = 500.0)
    val naive = points.join(intervals,
      col("p") >= col("lo") && col("p") <= col("hi"))
    assert(fast.count() > 0)
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
    assert(fast.count() === naive.count()) // exactly-once, no dedup needed
  }

  test("boundary points land inside on both ends") {
    val points = Seq(10.0, 20.0, 9.999, 20.001).toDF("p")
    val intervals = Seq((1L, 10.0, 20.0)).toDF("iv", "lo", "hi")
    val got = IntervalJoin.pointInInterval(points, intervals,
      "p", "lo", "hi", binWidth = 7.0).select("p").as[Double].collect().sorted
    assert(got.toSeq === Seq(10.0, 20.0))
  }

  test("empty and inverted intervals produce no matches") {
    val points = Seq(1.0, 2.0).toDF("p")
    val intervals = Seq((1L, 5.0, 3.0)).toDF("iv", "lo", "hi") // hi < lo
    assert(IntervalJoin.pointInInterval(points, intervals,
      "p", "lo", "hi", binWidth = 1.0).count() === 0)
  }

  test("internal-column collisions and shared columns are refused") {
    val points = Seq(1.0).toDF("p")
    val intervals = Seq((1L, 0.0, 2.0)).toDF("iv", "lo", "hi")
    // a pre-existing __bin would be silently overwritten then dropped
    intercept[IllegalArgumentException] {
      IntervalJoin.pointInInterval(points.withColumn("__bin", lit(1)),
        intervals, "p", "lo", "hi", binWidth = 1.0)
    }
    intercept[IllegalArgumentException] {
      IntervalJoin.pointInInterval(points,
        intervals.withColumn("__bin", lit(1)), "p", "lo", "hi", binWidth = 1.0)
    }
    // overlapping column sets would make the residual predicate ambiguous
    intercept[IllegalArgumentException] {
      IntervalJoin.pointInInterval(points.withColumn("iv", lit(1)),
        intervals, "p", "lo", "hi", binWidth = 1.0)
    }
  }

  test("a span exceeding the replication cap fails fast, naming itself") {
    val points = Seq(1.0).toDF("p")
    val intervals = Seq((1L, 0.0, 1e6)).toDF("iv", "lo", "hi")
    val e = intercept[Exception] {
      IntervalJoin.pointInInterval(points, intervals, "p", "lo", "hi",
        binWidth = 1.0, maxBinsPerInterval = 1000L).count()
    }
    // Spark wraps the raise_error in a SparkRuntimeException chain; the
    // message must surface the operator and the remedy
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m =>
      m != null && m.contains("IntervalJoin") && m.contains("binWidth")),
      s"unhelpful error: ${messages(e)}")
    // same inputs under a sufficient cap succeed
    assert(IntervalJoin.pointInInterval(points, intervals, "p", "lo", "hi",
      binWidth = 1.0, maxBinsPerInterval = 2000000L).count() === 1)
  }

  test("overlapPairs matches the per-key theta-join, exactly once per pair") {
    // 4 keys x 50 intervals each, spans 0..12 at width 5: plenty of pairs
    // crossing bin boundaries, so the positional dedup is load-bearing
    val iv = spark.range(200).select(
      (col("id") % 4).as("k"), col("id").as("iid"),
      (col("id") * 37 % 300).as("lo"),
      (col("id") * 37 % 300 + col("id") % 13).as("hi"))
    val fast = IntervalJoin.overlapPairs(iv, "k", "iid", "lo", "hi",
      binWidth = 5.0)
    val a = iv.select(col("k"), col("iid").as("id_a"), col("lo").as("lo_a"),
      col("hi").as("hi_a"))
    val b = iv.select(col("k"), col("iid").as("id_b"), col("lo").as("lo_b"),
      col("hi").as("hi_b"))
    val naive = a.join(b, Seq("k"))
      .filter(col("id_a") < col("id_b") &&
        col("lo_a") <= col("hi_b") && col("lo_b") <= col("hi_a"))
      .select("k", "id_a", "id_b", "lo_a", "hi_a", "lo_b", "hi_b")
    assert(fast.count() > 0)
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
    assert(fast.count() === naive.count()) // exactly-once across bins
  }

  test("overlapPairs: closed-bound touch overlaps, one-apart does not; keys separate") {
    val iv = Seq(
      (1L, 10L, 0L, 5L), (1L, 11L, 5L, 9L),  // touch at 5 -> pair
      (1L, 12L, 10L, 12L),                    // gap of 1 after 9 -> no pair
      (2L, 20L, 0L, 100L)                     // other key: pairs with nobody
    ).toDF("k", "iid", "lo", "hi")
    val got = IntervalJoin.overlapPairs(iv, "k", "iid", "lo", "hi",
        binWidth = 4.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().sorted
    assert(got.toSeq === Seq((10L, 11L)))
  }
}

class TopKByAggregateSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import graft.plans.TopKByAggregate.topkBy

  // pseudo-random fixture with deliberate score ties (score = id*7 % 97)
  private def fixture = spark.range(5000).select(
    (col("id") % 23).as("g"),
    (col("id") * 7 % 97).cast("double").as("s"),
    col("id").as("i"))

  private def windowForm(k: Int) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("s").desc, col("i"))
    fixture.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("g"), col("rn").cast("long").as("rnk"), col("s"), col("i"))
  }

  private def aggForm(k: Int) =
    fixture.groupBy("g").agg(topkBy(col("s"), col("i"), k).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.score").as("s"), col("col.id").as("i"))

  test("matches the window row_number idiom, ties broken by lower id") {
    val (a, w) = (aggForm(7), windowForm(7))
    assert(a.exceptAll(w).isEmpty && w.exceptAll(a).isEmpty)
    assert(a.count() === 23L * 7)
  }

  test("partial merge across many partitions changes nothing") {
    val parts = fixture.repartition(37)
      .groupBy("g").agg(topkBy(col("s"), col("i"), 5).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.score").as("s"), col("col.id").as("i"))
    val w = windowForm(5)
    assert(parts.exceptAll(w).isEmpty && w.exceptAll(parts).isEmpty)
  }

  test("k larger than the group emits the whole group, sorted") {
    val tiny = Seq((1L, 5.0, 10L), (1L, 9.0, 11L), (1L, 5.0, 7L))
      .toDF("g", "s", "i")
    val got = tiny.groupBy("g").agg(topkBy(col("s"), col("i"), 100).as("top"))
      .select(explode(col("top"))).select("col.score", "col.id")
      .as[(Double, Long)].collect().toSeq
    assert(got === Seq((9.0, 11L), (5.0, 7L), (5.0, 10L)))
  }

  test("sortedPairs leaves the buffer intact (eval on a LIVE buffer)") {
    // running window frames call update+eval per row on ONE buffer; an
    // in-place heap sort would leave duplicated worst elements behind
    val b = new graft.plans.TopKBuffer(3)
    b.add(5.0, 1L); b.add(9.0, 2L); b.add(7.0, 3L)
    assert(b.sortedPairs().toSeq === Seq((9.0, 2L), (7.0, 3L), (5.0, 1L)))
    // second eval on the same state must agree
    assert(b.sortedPairs().toSeq === Seq((9.0, 2L), (7.0, 3L), (5.0, 1L)))
    // further updates after an eval must still displace the true worst
    b.add(8.0, 4L)
    assert(b.sortedPairs().toSeq === Seq((9.0, 2L), (8.0, 4L), (7.0, 3L)))
  }

  test("running-window use (update+eval per row) stays correct") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("i"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // the final row of each group has seen the whole group: its running
    // top-k must equal the plain aggregate's
    val lastRow = fixture
      .withColumn("top", topkBy(col("s"), col("i"), 5).over(w))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")
          .orderBy(col("i").desc)))
      .filter(col("rn") === 1)
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.score").as("s"), col("col.id").as("i"))
    val w5 = windowForm(5)
    assert(lastRow.exceptAll(w5).isEmpty && w5.exceptAll(lastRow).isEmpty)
  }

  test("NULL scores and ids are skipped, like NULLS LAST beyond finite k") {
    val in = Seq((Some(1.0), Some(1L)), (None, Some(2L)), (Some(3.0), None))
      .toDF("s", "i").withColumn("g", lit(0))
    val got = in.groupBy("g").agg(topkBy(col("s"), col("i"), 3).as("top"))
      .select(explode(col("top"))).select("col.id").as[Long].collect().toSeq
    assert(got === Seq(1L))
  }
}

/** q106 — Duffield–Lund–Thorup priority sampling (rides the topk
  * aggregate: priorities are scores, the sample is the per-stratum top k).
  */
class PrioritySampleSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def priorityOn(docs: Seq[(Long, String, String)]) = {
    val dir = java.nio.file.Files.createTempDirectory("psample").toString
    docs.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.queries.AdvancedOps.queries("q106_priority_sample")(spark, dir)
  }

  test("priority sample: a stratum at-or-under k is kept whole and exact") {
    // 10 docs < k = 20: no (k+1)-th priority exists, tau is NULL, the
    // sample IS the stratum and est_w degrades to w — the estimator is
    // EXACT, not just unbiased, when nothing was left out
    val docs = (1L to 10L).map(i =>
      (i, (1 to i.toInt * 3).map(j => s"w$j").mkString(" "), "en"))
    val got = priorityOn(docs)
      .select("doc_id", "w", "est_w").as[(Long, Long, Double)].collect()
    assert(got.length === 10)
    assert(got.forall(r => r._3 === r._2.toDouble))
    assert(got.map(_._1).toSet === (1L to 10L).toSet)
  }

  test("priority sample: deterministic estimator band and weight " +
      "preference on the real corpus") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.queries.AdvancedOps
      .queries("q106_priority_sample")(spark, sf)
      .groupBy("lang").agg(count(lit(1)).as("k"),
        sum("est_w").as("est_total"), avg("w").as("mean_sampled_w"))
    val truth = graft.sources.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("lang"),
        graft.ext.TextAnalysis.tokenCount(col("text")).as("w"))
      .filter(col("w") > 0)
      .groupBy("lang").agg(sum("w").as("true_total"),
        avg("w").as("mean_corpus_w"))
    val rows = got.join(truth, "lang").collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      // every stratum has > k docs at sf0.001, so exactly k are kept
      assert(r.getAs[Long]("k") === 20L)
      val ratio = r.getAs[Double]("est_total") /
        r.getAs[Long]("true_total").toDouble
      // deterministic given the data (no RNG): the priority-sampling
      // subset-sum estimate from 20 rows sits well inside [0.4, 2.5]
      assert(ratio > 0.4 && ratio < 2.5, s"${r.getAs[String]("lang")}: $ratio")
      // w/u priorities prefer heavy docs: sampled mean exceeds corpus mean
      assert(r.getAs[Double]("mean_sampled_w") >
        r.getAs[Double]("mean_corpus_w"), r.toString)
    }
  }
}

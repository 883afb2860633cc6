package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.jobs.JobSession
import graft.operators.Graphs
import graft.sources.Tables

/** One-off diagnostic (round-10 verdict item 3): the triangle tiers' WIN
  * case, not just their parity case. The co-purchase graph of the fixture
  * is uniform — the id and degree orientations bench equal there
  * (since round 12 the CATALOG default q116 runs the degree tier and
  * q158 is the id-oriented control) — so this plants the exact pathology the degree tier
  * exists for: one celebrity node whose id sits at the MEDIAN of its
  * neighbors' ids, half below and half above.
  *
  * Why median, not low (a round-11 correction to the tier's own story —
  * measured, then re-derived): q116's shape enumerates DIRECTED PATHS
  * a→b→c via the join `e1.b = e2.a`, so the per-key work at a middle
  * node v is in(v)·out(v). A hub with the LOWEST id has in = 0 (every
  * edge leaves it) — measured completely harmless, 0.5 s at sf1. The
  * killer is the id-MEDIAN hub: in ≈ out ≈ h/2 puts h²/4 path rows
  * through ONE join key that no partitioning can split. Degree
  * orientation is immune regardless of where the hub's id falls: the
  * max-degree node's out-degree is 0, and every other out-degree is
  * O(√m).
  *
  * Both variants must count the SAME triangles (asserted via the
  * sum-of-per-node-counts invariant, 3 · n_triangles).
  *
  * Usage: run.sh graft.tools.TriangleHubBench <sfDir> [hubDeg]
  */
object TriangleHubBench {
  def main(args: Array[String]): Unit = {
    val spark = JobSession.create("graft triangle hub bench")
    val d = args(0)
    val hubDeg = args.lift(1).map(_.toLong).getOrElse(20000L)

    // q116/q158's co-purchase base (AnalyticsOps.coPurchaseEdges)
    val bk = Tables.lineitem(spark, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").cast("long").as("p"))
      .distinct()
    val base = bk.as("a").join(bk.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("p1"), col("b.p").as("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("co"))
      .filter(col("co") >= 2).select("p1", "p2")
    // the hub id sits between its two neighbor halves: `hubDeg`/2 lowest
    // partkeys below it, hubDeg/2 highest above it. Neighbor keys stay >= 1
    // and != hub so the canonical contract (p1 < p2, no self-loops) holds —
    // partkey 0 EXISTS in the fixture and an accidental (0,0) self-loop
    // manufactured a phantom triangle per hub edge before this guard.
    val keys = Tables.part(spark, d)
      .select(col("p_partkey").cast("long").as("p")).filter(col("p") >= 1)
    val (lo0, hi0) = keys.agg(min("p"), max("p")).head match {
      case r => (r.getLong(0), r.getLong(1))
    }
    val hub = (lo0 + hi0) / 2
    val half = (hubDeg / 2).toInt
    val nbrLo = keys.filter(col("p") < hub).orderBy(col("p")).limit(half)
      .select(col("p").as("p1"), lit(hub).as("p2"))
    val nbrHi = keys.filter(col("p") > hub).orderBy(col("p").desc).limit(half)
      .select(lit(hub).as("p1"), col("p").as("p2"))
    // pin + materialize so both variants time the COUNT, not the base join
    val edges = graft.ext.Caches.pin(
      base.unionByName(nbrLo).unionByName(nbrHi).distinct())
    val m = edges.count()
    println(s"edges=$m (hub=$hub, hubDeg=$hubDeg)")

    def time(name: String, df: => DataFrame): Long = {
      val t0 = System.nanoTime()
      val s = df.agg(sum("triangles")).head.getLong(0)
      println(f"$name: wall=${(System.nanoTime() - t0) / 1e9}%.1f s sum3tri=$s")
      s
    }
    // degree-oriented first so the id-oriented hot key cannot poison its
    // timing via leftover GC/shuffle pressure
    val b = time("degreeOriented(catalog q116 face)", Graphs.triangleCountsDegreeOriented(edges))
    val a = time("idOriented(q158 control)", Graphs.triangleCounts(edges))
    require(a == b, s"triangle sums diverge: id=$a degree=$b")
    spark.stop()
  }
}

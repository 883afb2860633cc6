package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.GridNearestJoin
import graft.functions.Geo
import graft.operators.NearestNeighborJoin

/** The grid-bucketed geo joins must be exactly equivalent to the brute-force
  * shapes they replace, and their plans must be equi-joins, not cartesians.
  */
class GridNearestJoinSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // deterministic pseudo-random points over lat [-60, 60), lon [-170, 170)
  private def points(n: Int, aMul: Long, bMul: Long) =
    (1 to n).map { i =>
      (i.toLong,
        -60.0 + (i * aMul % 1200) / 10.0,
        -170.0 + (i * bMul % 3400) / 10.0)
    }

  private lazy val src = points(300, 67, 131).toDF("id", "lat", "lon")
  private lazy val dim = points(500, 73, 179).toDF("site", "site_lat", "site_lon")

  test("grid nearest equals brute-force nearest on every row") {
    val grid = GridNearestJoin.nearest(src, dim,
        "lat", "site_lat", "lon", "site_lon",
        srcKey = Seq("id"), tieBreak = Seq(col("site")),
        cellDeg = 12.0, maxAbsLatDeg = 60.0)
      .select($"id", $"site", round($"distance", 6).as("d"))
    val brute = NearestNeighborJoin.nearestOne(src, dim,
        "lat", "site_lat", "lon", "site_lon",
        srcKey = Seq("id"), tieBreak = Seq(col("site")))
      .select($"id", $"site", round($"distance", 6).as("d"))
    assert(grid.count() === 300)
    assert(grid.except(brute).isEmpty && brute.except(grid).isEmpty)
  }

  test("grid nearest stays exact even when cells are too small (ring expansion)") {
    // 1° cells over sparse points: most rows miss the 3×3 neighborhood and
    // must be resolved by later, wider rings.
    val grid = GridNearestJoin.nearest(src, dim,
        "lat", "site_lat", "lon", "site_lon",
        srcKey = Seq("id"), tieBreak = Seq(col("site")),
        cellDeg = 1.0, maxAbsLatDeg = 60.0)
      .select($"id", $"site")
    val brute = NearestNeighborJoin.nearestOne(src, dim,
        "lat", "site_lat", "lon", "site_lon",
        srcKey = Seq("id"), tieBreak = Seq(col("site")))
      .select($"id", $"site")
    assert(grid.except(brute).isEmpty && brute.except(grid).isEmpty)
  }

  test("auto cell width tracks density and keeps results exact") {
    // cd = sqrt(target * area / n): shrinks as sqrt(1/density) — the rule
    // the sf1 scale run forced (fixed 3 deg grew candidates 100x on 10x
    // data). The sf0.1 fixture (20k sites, +-60 lat) must land on the
    // hand-sweep optimum ~3 deg; 10x the sites must shrink it ~sqrt(10)x.
    val cd01 = GridNearestJoin.autoCellDeg(20000, 60.0)
    val cd1 = GridNearestJoin.autoCellDeg(200000, 60.0)
    assert(cd01 > 2.5 && cd01 < 3.5, s"sf0.1 width $cd01")
    assert(math.abs(cd01 / cd1 - math.sqrt(10.0)) < 0.01)
    assert(GridNearestJoin.autoCellDeg(0, 60.0) === GridNearestJoin.GlobeCellDeg)
    // cellDeg <= 0 routes through the auto width; results stay exact
    val auto = GridNearestJoin.nearest(src, dim,
        "lat", "site_lat", "lon", "site_lon",
        srcKey = Seq("id"), tieBreak = Seq(col("site")),
        cellDeg = 0.0, maxAbsLatDeg = 60.0)
      .select($"id", $"site")
    val brute = NearestNeighborJoin.nearestOne(src, dim,
        "lat", "site_lat", "lon", "site_lon",
        srcKey = Seq("id"), tieBreak = Seq(col("site")))
      .select($"id", $"site")
    assert(auto.except(brute).isEmpty && brute.except(auto).isEmpty)
  }

  test("empty tieBreak keeps every tied dim row, like nearestAllTies") {
    // UserMartSpec's symmetric pattern: sites mirrored across the equator,
    // so (0, 20) is an EXACT haversine tie; (9, 20) is clearly North
    val s = Seq((1L, 0.0, 20.0), (2L, 9.0, 20.0)).toDF("id", "lat", "lon")
    val d = Seq((10L, 10.0, 20.0), (20L, -10.0, 20.0))
      .toDF("site", "site_lat", "site_lon")
    def grid(tieBreak: Seq[org.apache.spark.sql.Column]) =
      GridNearestJoin.nearest(s, d, "lat", "site_lat", "lon", "site_lon",
          srcKey = Seq("id"), tieBreak = tieBreak,
          cellDeg = 5.0, maxAbsLatDeg = 15.0)
        .select($"id", $"site").as[(Long, Long)].collect().toSet
    try {
      val allTies = NearestNeighborJoin.nearestAllTies(s, d,
          "lat", "site_lat", "lon", "site_lon")
        .select($"id", $"site").as[(Long, Long)].collect().toSet
      assert(allTies === Set((1L, 10L), (1L, 20L), (2L, 10L)))
      assert(grid(Nil) === allTies)
      // a unique tieBreak still returns exactly one row per source row
      assert(grid(Seq(col("site"))) === Set((1L, 10L), (2L, 10L)))
    } finally GridNearestJoin.releaseCaches()
  }

  test("ring widths triple until the neighborhood spans the globe") {
    assert(GridNearestJoin.ringWidths(1.0) === Seq(1.0, 3.0, 9.0, 27.0, 81.0, 243.0))
    assert(GridNearestJoin.ringWidths(6.0) === Seq(6.0, 18.0, 54.0, 162.0))
    assert(GridNearestJoin.ringWidths(200.0) === Seq(200.0)) // already global
    assert(GridNearestJoin.ringWidths(1.0).last >= GridNearestJoin.GlobeCellDeg)
  }

  test("multi-ring expansion is exact and never broadcasts the dimension") {
    // Geometry forcing ≥3 rings at cellDeg=1, maxAbsLat=10:
    //  - (1): dim 0.2° away → candidate in ring 1 (guard ~110 km) ⇒ certified
    //  - (2): nearest dim 5° of lon away (~556 km): rings 1–2 (1°/3° cells)
    //    have no candidate in the 3×3 neighborhood; ring 3 (9° cells, guard
    //    ~985 km) finds and certifies it. Two expansion hops beyond ring 1.
    //  - (3): nearest dim ~120° of lon away (~13 300 km) — farther than every
    //    intermediate guard, so only the terminal (globe-spanning,
    //    distributed-cartesian) ring resolves it.
    val s = Seq((1L, 0.0, 0.0), (2L, 0.0, 40.0), (3L, 9.0, -120.0))
      .toDF("id", "lat", "lon")
    val d = Seq((10L, 0.0, 0.2), (20L, 0.0, 45.0), (30L, 2.0, 100.0))
      .toDF("site", "site_lat", "site_lon")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val nn = GridNearestJoin.nearest(s, d,
        "lat", "site_lat", "lon", "site_lon",
        srcKey = Seq("id"), tieBreak = Seq(col("site")),
        cellDeg = 1.0, maxAbsLatDeg = 10.0)
      // no broadcast() hint anywhere in the operator's logical plan ...
      assert(!nn.queryExecution.analyzed.toString.toLowerCase.contains("hint"))
      // ... and with auto-broadcast off, the physical plan holds the
      // "never a driver-side broadcast of the dimension" contract
      val phys = nn.queryExecution.executedPlan.toString
      assert(!phys.contains("BroadcastExchange"), phys)
      assert(!phys.contains("BroadcastNestedLoopJoin"), phys)
      assert(!phys.contains("CartesianProduct"), phys)
      val got = nn.select($"id", $"site").as[(Long, Long)].collect().toMap
      assert(got === Map(1L -> 10L, 2L -> 20L, 3L -> 10L))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      GridNearestJoin.releaseCaches()
    }
  }

  test("radius pairs equal brute-force all-pairs within radius") {
    val r = 800.0
    val got = GridNearestJoin.radiusPairs(src, "id", "lat", "lon",
        radiusKm = r, maxAbsLatDeg = 60.0)
      .select($"id", $"id_b", round($"distance", 6).as("d"))
    val b = src.select($"id".as("id_b"), $"lat".as("lat_b"), $"lon".as("lon_b"))
    val brute = src.crossJoin(b)
      .filter($"id" < $"id_b")
      .withColumn("distance",
        Geo.haversineKmDet($"lat", $"lat_b", $"lon", $"lon_b"))
      .filter($"distance" < r)
      .select($"id", $"id_b", round($"distance", 6).as("d"))
    assert(brute.count() > 0)
    assert(got.except(brute).isEmpty && brute.except(got).isEmpty)
  }

  test("radius pairs plan is an equi-join, not a cartesian / nested loop") {
    val plan = GridNearestJoin.radiusPairs(src, "id", "lat", "lon",
        radiusKm = 800.0, maxAbsLatDeg = 60.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("antimeridian pairs are found: lon cells wrap at 180 degrees") {
    // points hugging both sides of the date line, physically ~11-22° apart
    val pts = Seq(
      (1L, 10.0, -179.5), (2L, 10.0, 179.5),  // 1° apart across the line
      (3L, -20.0, -170.0), (4L, -20.0, 172.0), // 18° apart across the line
      (5L, 30.0, 0.0)                          // far from everything
    ).toDF("id", "lat", "lon")
    val got = GridNearestJoin.radiusPairs(pts, "id", "lat", "lon",
        radiusKm = 2500.0, maxAbsLatDeg = 35.0)
      .select($"id", $"id_b").as[(Long, Long)].collect().toSet
    val b = pts.select($"id".as("id_b"), $"lat".as("lat_b"), $"lon".as("lon_b"))
    val brute = pts.crossJoin(b).filter($"id" < $"id_b")
      .withColumn("d", Geo.haversineKmDet($"lat", $"lat_b", $"lon", $"lon_b"))
      .filter($"d" < 2500.0)
      .select($"id", $"id_b").as[(Long, Long)].collect().toSet
    assert(brute.contains((1L, 2L)) && brute.contains((3L, 4L)))
    assert(got === brute)
    // and nearest() certifies correctly across the line too
    val src = Seq((10L, 10.0, -179.9)).toDF("id", "lat", "lon")
    val dim = Seq((20L, 10.0, 179.8), (21L, 10.0, -150.0))
      .toDF("site", "site_lat", "site_lon")
    val nn = GridNearestJoin.nearest(src, dim, "lat", "site_lat",
        "lon", "site_lon", Seq("id"), Seq(col("site")),
        cellDeg = 5.0, maxAbsLatDeg = 15.0)
      .select("site").as[Long].head()
    assert(nn === 20L) // the cross-line site is the true nearest
  }

  test("lon banding disables itself near the poles and stays safe") {
    assert(GridNearestJoin.lonBandDegFor(500.0, 89.9).isEmpty)
    val band = GridNearestJoin.lonBandDegFor(1500.0, 60.0)
    assert(band.exists(b => b > 27.0 && b < 28.0)) // 2·asin(sin(r/2R)/cos 60°)
  }
}

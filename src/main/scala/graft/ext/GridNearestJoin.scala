package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Geo

/** Grid-bucketed geo joins — the 100 TB path for the reference's
  * cross-join-based geo operators.
  *
  * The reference computes nearest-city via full cross join + windowed argmin
  * (`/root/reference/src/scripts/common_func.py:15-25`), which is O(rows ×
  * |dim|) and only survives because its dim is tiny. These operators bucket
  * coordinates into fixed-degree grid cells and turn the cross join into an
  * *equi-join* on cell ids, so Spark plans a hash/sort-merge join that
  * shuffles each side once — no nested-loop, no per-key cartesian.
  *
  * Exactness is preserved, not approximated: a candidate found within the
  * 3×3-cell neighborhood is certified as the global argmin whenever its
  * distance is below the guarantee radius (any point outside the
  * neighborhood is provably farther); the uncertified remainder — empty when
  * `cellDeg` suits the data density — widens the neighborhood ring
  * geometrically (3×3 → 9×9 → 27×27 …) until every row is certified, and
  * only a neighborhood that already spans the globe degenerates to a
  * *distributed* cartesian residue (never a driver-side broadcast of the
  * dimension — the operator holds its scales-beyond-the-broadcast-threshold
  * contract at every step). Longitude cells are modular (cell 0 adjoins
  * cell N-1), so antimeridian pairs are found and the certification argument
  * holds at every longitude.
  */
object GridNearestJoin {

  /** [[nearest]] pins one frame per non-terminal expansion ring (the
    * grid-join argmin, read by both the certified output and the next ring's
    * anti-join) in the shared [[Caches]] registry; this releases them all.
    */
  def releaseCaches(): Unit = Caches.releaseAll()

  private val R = Geo.EarthRadiusKm
  /** km per degree of latitude (R * π/180), rounded DOWN so bounds stay safe */
  private val KmPerLatDegFloor = 111.0

  /** Degrees of longitude such that two points with |lat| ≤ maxAbsLatDeg and
    * a larger lon separation are provably farther than `radiusKm` apart
    * (haversine ≥ 2R·asin(cos φmax · sin Δλ/2)). None when the latitude band
    * is so close to the pole that no lon separation guarantees the distance.
    */
  def lonBandDegFor(radiusKm: Double, maxAbsLatDeg: Double): Option[Double] = {
    val ratio = math.sin(radiusKm / (2 * R)) / math.cos(maxAbsLatDeg.toRadians)
    if (ratio >= 0.999) None
    else Some(2 * math.asin(ratio).toDegrees)
  }

  /** Lat band guaranteeing |Δlat| > band ⟹ distance > radiusKm. */
  def latBandDegFor(radiusKm: Double): Double = radiusKm / KmPerLatDegFloor

  /** Longitude cells are MODULAR: the circle is divided into
    * `floor(360/width)` cells of ≥ `width` degrees, so cell 0 and cell N-1
    * are neighbors and a pair straddling ±180° still meets (haversine is
    * wraparound-correct, so the cells must be too — missing this dropped
    * antimeridian pairs at sf0.1).
    */
  private def lonCellCount(widthDeg: Double): Int =
    math.max(1, math.floor(360.0 / widthDeg).toInt)

  private def lonCellOf(lon: Column, widthDeg: Double): Column = {
    val n = lonCellCount(widthDeg)
    val width = 360.0 / n
    pmod(floor((lon + lit(180.0)) / lit(width)).cast("long"), lit(n.toLong))
  }

  private def withCells(df: DataFrame, lat: String, lon: String,
                        latDeg: Double, lonDeg: Option[Double]): DataFrame = {
    val base = df.withColumn("__cell_lat", floor(col(lat) / lit(latDeg)).cast("long"))
    lonDeg match {
      case Some(w) => base.withColumn("__cell_lon", lonCellOf(col(lon), w))
      case None    => base.withColumn("__cell_lon", lit(0L))
    }
  }

  /** Explode each row to its 3×3 (or 3×1 without lon banding) neighborhood.
    * Lon neighbors are taken modulo the cell count and deduplicated — with
    * ≤3 cells the ±1 neighbors alias the same cell and a plain explode
    * would emit duplicate join matches.
    */
  private def withNeighborCells(df: DataFrame, lat: String, lon: String,
                                latDeg: Double, lonDeg: Option[Double]): DataFrame = {
    val base = df
      .withColumn("__o_lat", explode(typedLit(Seq(-1L, 0L, 1L))))
      .withColumn("__cell_lat",
        floor(col(lat) / lit(latDeg)).cast("long") + col("__o_lat"))
      .drop("__o_lat")
    lonDeg match {
      case Some(w) =>
        val n = lit(lonCellCount(w).toLong)
        val c = lonCellOf(col(lon), w)
        base
          .withColumn("__cell_lon", explode(array_distinct(array(
            pmod(c - 1 + n, n), c, pmod(c + 1, n)))))
      case None => base.withColumn("__cell_lon", lit(0L))
    }
  }

  /** Density-adaptive cell width: the width at which a 3×3 neighborhood
    * holds ~9·`targetPerCell` dim rows for a uniform spread over the
    * ±`maxAbsLatDeg` × 360° area. A FIXED width is the third instance of
    * the bucketing-parameter-vs-density trap this codebase has measured
    * (SRP band bits, IVF cell count): the sf1 scale run grew both q24
    * sides 10× and ring-1 candidates 100×, turning a 2.6 s query into
    * 75 s. Cell size must shrink as √(1/density); exactness never depends
    * on it (the ring expansion certifies every row at ANY width), so this
    * is purely a throughput knob. The sf0.1 hand-sweep optimum (3° at 20k
    * sites) is what this formula returns for target 4.
    */
  def autoCellDeg(dimRows: Long, maxAbsLatDeg: Double,
                  targetPerCell: Double = 4.0): Double = {
    val area = 2.0 * maxAbsLatDeg * 360.0
    val cd = math.sqrt(targetPerCell * area / math.max(dimRows, 1L))
    math.min(math.max(cd, 0.25), GlobeCellDeg)
  }

  /** Cell width at which the 3×3 neighborhood provably spans the globe:
    * lat ∈ [-90°, 90°] occupies lat cells {floor(-90/120), floor(90/120)} =
    * {-1, 0}, and the modular lon circle has floor(360/120) = 3 cells — both
    * entirely within ±1 of any occupied cell. At this width the ring join is
    * an exhaustive *distributed* cartesian (an equi-join over ≤ 6 distinct
    * cell keys), so its argmin is exact without any guard radius.
    */
  val GlobeCellDeg = 120.0

  /** The cell widths [[nearest]] iterates: `cellDeg`, ×3 per ring, ending at
    * the first width whose 3×3 neighborhood spans the globe (≥
    * [[GlobeCellDeg]]). Static — the ring count depends only on `cellDeg`,
    * never on the data, so the whole expansion is one lazy plan.
    */
  def ringWidths(cellDeg: Double): Seq[Double] = {
    require(cellDeg > 0, s"cellDeg must be positive, got $cellDeg")
    val partial = Iterator.iterate(cellDeg)(_ * 3)
      .takeWhile(_ < GlobeCellDeg).toSeq
    partial :+ (if (partial.isEmpty) cellDeg else partial.last * 3)
  }

  /** Exact nearest dim rows per source row via iterated grid equi-joins.
    *
    * Keeps every dim row ranked first (`rank() == 1`) by quantized
    * distance then `tieBreak`. With a unique `tieBreak` (a dim key) that
    * is exactly one row, the [[graft.operators.NearestNeighborJoin
    * .nearestOne]] contract; with an empty `tieBreak` it is every dim row
    * tied at the minimum distance, the
    * [[graft.operators.NearestNeighborJoin.nearestAllTies]] contract. The
    * dim side is hash-partitioned by cell instead of broadcast, so it
    * scales to dimension tables far beyond the broadcast threshold. Ties
    * are judged on the distance rounded to 1e-9 km, and so is
    * certification: a source row is certified iff its rounded minimum lies
    * strictly below the ring's rounded guard, so every dim row tied with it
    * is inside the same 3×3 neighborhood and passes with it (a dim row
    * outside lies beyond the guard, so it rounds to at least the rounded
    * guard). One deliberate divergence: source rows with NULL
    * coordinates are dropped here (they have no cell), where the cross
    * joins emit dim rows with NULL distance for them.
    *
    * Ring expansion: rows not certified within the 3×3 neighborhood at
    * `cellDeg` are re-joined at 3×`cellDeg` (then 9×, 27×, …) — each ring is
    * the same cell equi-join over the still-uncovered residue with a larger
    * guarantee radius. The terminal ring's width ≥ [[GlobeCellDeg]] makes the
    * neighborhood exhaustive, so the residue there resolves by a
    * *distributed* cartesian (equi-join over ≤ 6 cell keys) — the dimension
    * is never broadcast and never collected, at any ring. All rings are built
    * into one lazy plan (ring count is static, O(log₃(120/cellDeg))); at
    * runtime AQE's empty-relation propagation collapses rings whose residue
    * is already empty, so well-sized cells pay only the first join.
    *
    * @param cellDeg      grid cell size in degrees — pick ≈ the typical
    *                     nearest-neighbor distance; smaller cells = fewer
    *                     candidates but more ring-expansion rows. Pass a
    *                     value ≤ 0 to auto-tune from the dim's density
    *                     ([[autoCellDeg]]; costs one count() of the dim
    *                     side — the smaller frame by contract)
    * @param maxAbsLatDeg max |latitude| in the data; drives the certification
    *                     radius (longitude cells shrink towards the poles)
    */
  def nearest(src: DataFrame, dim: DataFrame,
              srcLat: String, dimLat: String,
              srcLon: String, dimLon: String,
              srcKey: Seq[String], tieBreak: Seq[Column],
              cellDeg: Double, maxAbsLatDeg: Double): DataFrame = {
    val cd = if (cellDeg > 0) cellDeg
             else autoCellDeg(dim.count(), maxAbsLatDeg)
    val rings = ringWidths(cd)
    // Contract: source rows with a NULL coordinate are dropped — they have
    // no cell and no defined distance. (nearestOne's cross join instead
    // emits an arbitrary tieBreak-ordered dim row with NULL distance for
    // them; that divergence is deliberate and documented here rather than
    // reproduced.) Filtering eagerly keeps every ring's anti-join residue
    // free of rows no ring could ever certify.
    var residue = src.filter(col(srcLat).isNotNull && col(srcLon).isNotNull)
    val parts = Seq.newBuilder[DataFrame]
    for ((ringDeg, i) <- rings.zipWithIndex) {
      val exhaustive = i == rings.size - 1
      val dimC = withCells(dim, dimLat, dimLon, ringDeg, Some(ringDeg))
      val srcC = withNeighborCells(residue, srcLat, srcLon, ringDeg, Some(ringDeg))
      val w = Window.partitionBy(srcKey.map(col): _*)
        .orderBy(round(col("distance"), 9).asc +: tieBreak.map(_.asc): _*)
      val best = srcC.join(dimC, Seq("__cell_lat", "__cell_lon"))
        .withColumn("distance", Geo.haversineKmDet(
          col(srcLat), col(dimLat), col(srcLon), col(dimLon)))
        .withColumn("__nn_rank", rank().over(w))
        .filter(col("__nn_rank") === 1)
        .drop("__nn_rank", "__cell_lat", "__cell_lon")
      if (exhaustive) {
        // neighborhood spans the globe: every dim row was a candidate, the
        // argmin is exact with no guard — nothing left to certify
        parts += best
      } else {
        // Any dim row outside this ring's 3×3 neighborhood differs by more
        // than ringDeg in lat (distance > 111·ringDeg) or in lon (distance >
        // 2R·asin(cosφmax·sin Δλ/2)); a best candidate within the smaller of
        // the two bounds is therefore the global argmin. Compared rounded,
        // as the ranking is: a rounded minimum below the rounded guard has
        // no tie outside the neighborhood, and its tied rows pass together.
        val latGuard = ringDeg * KmPerLatDegFloor
        val lonGuard = 2 * R * math.asin(
          math.cos(maxAbsLatDeg.toRadians) * math.sin((ringDeg / 2).toRadians))
        val rGuard = math.min(latGuard, lonGuard)
        // pinned: both the certified output and the next ring's anti-join
        // read this frame — uncached, Spark would recompute the whole grid
        // join twice per ring. Released via [[Caches.releaseAll]].
        val cached = Caches.pin(best)
        val certified = cached.filter(
          round(col("distance"), 9) < round(lit(rGuard), 9))
        parts += certified
        residue = residue.join(
          certified.select(srcKey.map(col): _*), srcKey, "left_anti")
      }
    }
    parts.result().reduce(_ unionByName _)
  }

  /** All point pairs within `radiusKm`, canonicalized (`key` < `key_b`), via
    * lat/lon band equi-join — the scale-safe form of the reference's
    * blow-up-then-filter J6 self-join (`project_step_3.py:121-132`).
    *
    * Join keys are `extraKeys` + lat band + (when the latitude range allows a
    * guarantee) lon band; one side is exploded to its ±1 neighbor bands, so
    * every qualifying pair meets exactly once per orientation and the
    * canonical filter keeps one. Output: `extraKeys`, left row columns, right
    * row columns suffixed `_b`, and `distance` (km).
    */
  def radiusPairs(points: DataFrame, key: String, lat: String, lon: String,
                  radiusKm: Double, maxAbsLatDeg: Double,
                  extraKeys: Seq[String] = Nil): DataFrame = {
    val latDeg = latBandDegFor(radiusKm)
    val lonDeg = lonBandDegFor(radiusKm, maxAbsLatDeg)
    val left = withNeighborCells(points, lat, lon, latDeg, lonDeg)
    val dataCols = points.columns.filterNot(extraKeys.contains)
    val right = withCells(
      dataCols.foldLeft(points)((df, c) => df.withColumnRenamed(c, s"${c}_b")),
      s"${lat}_b", s"${lon}_b", latDeg, lonDeg)
    left.join(right, extraKeys ++ Seq("__cell_lat", "__cell_lon"))
      .filter(col(key) < col(s"${key}_b"))
      .drop("__cell_lat", "__cell_lon")
      .withColumn("distance", Geo.haversineKmDet(
        col(lat), col(s"${lat}_b"), col(lon), col(s"${lon}_b")))
      .filter(col("distance") < lit(radiusKm))
  }
}

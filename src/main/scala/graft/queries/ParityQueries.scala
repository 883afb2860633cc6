package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Geo
import graft.sources.Tables

/** Typed row for the Dataset[T] façade (q42). */
case class OrderRow(o_custkey: Long, o_orderkey: Long, cents: Long)

/** Oracle coverage for the reference-job operators that round 1 exercised
  * only in unit tests: P1 nested-struct projection, W2 unordered-window
  * argmax + A1/A7 `first()` (made deterministic by a two-stage argmax that
  * leaves exactly one row per group), J5 3-key self-join, U1 `unionByName`
  * symmetrize (moved here from q12), and W1 coordinate-partitioned window-min
  * with the all-ties filter.
  *
  * Reference shapes: `project_step_1.py:22-26,42`, `project_step_3.py:63-69,
  * 76-80`, `common_func.py:17,21-22`.
  */
object ParityQueries extends Catalog {

  /** Reference-shaped multi-type events derived deterministically from the
    * driver's events table — the input grain for the end-to-end job oracles
    * (q46/q48/q49). Type mapping: click/purchase → message, view → reaction,
    * signup → subscription, error → registration. Every user "lives" in city
    * (user_id % 25), every 10th event "travels" to ((user_id + event_id) %
    * 25), every 7th event has NULL coordinates (exercising the
    * fill-from-last-message path), and messages address user_id +
    * (event_id % 5) - 2 (hitting real neighbors often enough to produce
    * communicating pairs). The identical arithmetic is spelled in the
    * DuckDB oracle CTEs.
    */
  private def refEventsFull(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val cityIdx = when(col("event_id") % 10 === 0,
      (col("user_id") + col("event_id")) % 25).otherwise(col("user_id") % 25)
    val etype = when(col("event_type") === "click" ||
        col("event_type") === "purchase", "message")
      .when(col("event_type") === "view", "reaction")
      .when(col("event_type") === "signup", "subscription")
      .otherwise("registration")
    val nullCoord = col("event_id") % 7 === 0
    ev.select(
      struct(
        when(etype === "message", col("user_id")).as("message_from"),
        when(etype === "message",
          col("user_id") + (col("event_id") % 5) - 2).as("message_to"),
        col("event_id").as("message_id"),
        lit(null).cast("string").as("message_ts"),
        col("ts").cast("string").as("datetime"),
        when(etype === "reaction", col("user_id")).as("reaction_from"),
        when(etype === "subscription" || etype === "registration",
          col("user_id")).as("user"),
        when(etype === "subscription",
          concat(lit("ch"), col("user_id") % 20)).as("subscription_channel")
      ).as("event"),
      etype.as("event_type"),
      when(nullCoord, lit(null).cast("double"))
        .otherwise(lit(-60) + cityIdx * 137 % 120 + lit(0.05)).as("lat"),
      when(nullCoord, lit(null).cast("double"))
        .otherwise(lit(-170) + cityIdx * 211 % 340 + lit(0.05)).as("lon"))
  }

  /** Accessors for the perfbench harness, which builds q75's lake from
    * these frames. */
  def refEventsFullForProbe(s: SparkSession, d: String): DataFrame =
    refEventsFull(s, d)
  def refGeoForProbe(s: SparkSession, d: String): DataFrame = refGeo(s, d)

  /** The reference's 25-city geo dimension, nation-derived (same formula as
    * GeoQueries.nationCities).
    */
  private def refGeo(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d).select(
      col("n_nationkey").as("id"),
      col("n_name").as("city"),
      (lit(-60) + col("n_nationkey") * 137 % 120).cast("double").as("lat"),
      (lit(-170) + col("n_nationkey") * 211 % 340).cast("double").as("lon"))

  /** Six real IANA zones keyed by nation — Darwin/Adelaide carry the
    * half-hour offsets, so the per-city variant is visibly not a constant
    * shift. Spark (JDK tzdb) and DuckDB (ICU) both speak IANA ids;
    * Australian rules have been stable since 2008.
    */
  private val AusZones = Seq("Australia/Sydney", "Australia/Perth",
    "Australia/Brisbane", "Australia/Darwin", "Australia/Adelaide",
    "Australia/Hobart")

  /** The composed user-mart job on derived inputs — q46 (reference
    * semantics: Sydney local time) and q144 (`perCityTz`: the geo dim
    * carries a timezone and local_time follows the act city). Every user
    * "lives" in city (user_id % 25) and "travels" to
    * ((user_id + event_id) % 25) on every 10th event; strictOrder and the
    * 0.05° offset keep the output engine-deterministic; minDays = 5.
    */
  private def derivedUserMart(s: SparkSession, d: String,
                              perCityTz: Boolean): DataFrame = {
    val ev = Tables.events(s, d)
    val cityIdx = when(col("event_id") % 10 === 0,
      (col("user_id") + col("event_id")) % 25).otherwise(col("user_id") % 25)
    val refEvents = ev.select(
      struct(
        col("user_id").as("message_from"),
        col("event_id").as("message_id"),
        col("ts").cast("string").as("message_ts"),
        col("ts").cast("string").as("datetime")).as("event"),
      lit("message").as("event_type"),
      (lit(-60) + cityIdx * 137 % 120 + lit(0.05)).as("lat"),
      (lit(-170) + cityIdx * 211 % 340 + lit(0.05)).as("lon"))
    val geo0 = refGeo(s, d)
    val geo =
      if (perCityTz) geo0.withColumn("timezone",
        element_at(array(AusZones.map(lit): _*),
          (col("id") % 6 + 1).cast("int")))
      else geo0
    graft.jobs.UserMartJob.transform(refEvents, geo, minDays = 5,
        strictOrder = true, perCityLocalTime = perCityTz)
      .select(col("user_id"),
        date_format(col("local_time"), "yyyy-MM-dd HH:mm:ss").as("local_time"),
        col("act_city"), col("home_city"),
        col("travel_count"), concat_ws(",", col("travel_array")).as("route"))
  }

  /** The whole three-branch user-mart DAG in DuckDB SQL — q46 (Sydney
    * hard-code) and q144 (`perCityTz`: the cities CTE carries the same
    * nation-keyed zone list as [[derivedUserMart]] and local_time converts
    * per act city). Derived message events -> nearest city (933 km min
    * city separation vs 7.8 km offset: no ties) -> argmax act-city /
    * gaps-and-islands home-city / route-change travel.
    */
  private def userMartOracleSql(perCityTz: Boolean): String = {
    val hav = Geo.haversineSqlText("lat_m", "lat", "lon_m", "lon")
    val tzList = AusZones.map(z => s"'$z'").mkString("[", ",", "]")
    val tzCities = if (perCityTz)
      s",\n    ($tzList)[n_nationkey % 6 + 1] AS tz" else ""
    val tzSel = if (perCityTz) ", tz" else ""
    val zone = if (perCityTz) "tz" else "'Australia/Sydney'"
    s"""WITH ev AS (
       |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS datetime,
       |    CASE WHEN event_id % 10 = 0 THEN (user_id + event_id) % 25
       |         ELSE user_id % 25 END AS ci
       |  FROM events),
       |msg AS (
       |  SELECT user_id, datetime,
       |    -60 + ci*137 % 120 + 0.05 AS lat_m,
       |    -170 + ci*211 % 340 + 0.05 AS lon_m
       |  FROM ev),
       |cities AS (
       |  SELECT n_name AS city,
       |    CAST(-60 + n_nationkey*137 % 120 AS DOUBLE) AS lat,
       |    CAST(-170 + n_nationkey*211 % 340 AS DOUBLE) AS lon$tzCities
       |  FROM nation),
       |nn AS (
       |  SELECT user_id, datetime, city$tzSel FROM (
       |    SELECT user_id, datetime, city$tzSel, $hav AS dist,
       |      min($hav) OVER (PARTITION BY user_id, datetime) AS dmin
       |    FROM msg CROSS JOIN cities)
       |  WHERE dist = dmin),
       |last_geo AS (
       |  SELECT user_id,
       |    strftime(timezone($zone, timezone('UTC', datetime)),
       |      '%Y-%m-%d %H:%M:%S') AS local_time,
       |    min(city) AS act_city
       |  FROM (SELECT *, max(datetime) OVER (PARTITION BY user_id) AS mdt
       |        FROM nn)
       |  WHERE datetime = mdt GROUP BY 1, 2),
       |days AS (SELECT DISTINCT user_id, CAST(datetime AS DATE) AS d, city
       |         FROM nn),
       |dr_t AS (
       |  SELECT user_id, d, city,
       |    dense_rank() OVER (PARTITION BY user_id ORDER BY d DESC) AS dr
       |  FROM days),
       |ranked AS (
       |  SELECT *, coalesce(lag(dr) OVER (PARTITION BY user_id, city
       |    ORDER BY d DESC), 0) AS ldr
       |  FROM dr_t),
       |isl AS (
       |  SELECT user_id, city, dr - rn AS diff, max(d) AS d, count(*) AS n
       |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, city
       |          ORDER BY d DESC) AS rn
       |        FROM ranked WHERE dr = ldr + 1)
       |  GROUP BY 1, 2, 3 HAVING count(*) >= 5),
       |home AS (
       |  SELECT user_id, min(city) AS home_city FROM (
       |    SELECT *, max(d) OVER (PARTITION BY user_id) AS md FROM isl)
       |  WHERE d = md GROUP BY 1),
       |stops AS (
       |  SELECT s.user_id, s.datetime, s.city FROM (
       |    SELECT *, lag(city) OVER (PARTITION BY user_id
       |      ORDER BY datetime, city) AS lc
       |    FROM (SELECT DISTINCT user_id, datetime, city FROM nn)) s
       |  LEFT JOIN home h ON s.user_id = h.user_id AND s.city = h.home_city
       |  WHERE (s.city != s.lc OR s.lc IS NULL) AND h.user_id IS NULL),
       |trav AS (
       |  SELECT user_id, count(city) AS travel_count,
       |    array_to_string(list(city ORDER BY datetime, city), ',') AS route
       |  FROM stops GROUP BY 1)
       |SELECT l.user_id, l.local_time, l.act_city, h.home_city,
       |  t.travel_count,
       |  coalesce(t.route, '') AS route
       |FROM last_geo l
       |LEFT JOIN home h ON l.user_id = h.user_id
       |LEFT JOIN trav t ON l.user_id = t.user_id""".stripMargin
  }

  /** DuckDB CTE text shared by the q48/q49 oracles: the [[refEventsFull]]
    * derivation (`shaped`) and the city dim (`cities`).
    */
  private val refEventsSql =
    """ev AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS dt,
      |    CASE WHEN event_type IN ('click','purchase') THEN 'message'
      |         WHEN event_type = 'view' THEN 'reaction'
      |         WHEN event_type = 'signup' THEN 'subscription'
      |         ELSE 'registration' END AS etype,
      |    CASE WHEN event_id % 10 = 0 THEN (user_id + event_id) % 25
      |         ELSE user_id % 25 END AS ci
      |  FROM events),
      |shaped AS (
      |  SELECT user_id, event_id, dt, etype,
      |    user_id + (event_id % 5) - 2 AS msg_to,
      |    CASE WHEN event_id % 7 = 0 THEN NULL
      |         ELSE -60 + ci*137 % 120 + 0.05 END AS lat,
      |    CASE WHEN event_id % 7 = 0 THEN NULL
      |         ELSE -170 + ci*211 % 340 + 0.05 END AS lon
      |  FROM ev),
      |cities AS (
      |  SELECT n_nationkey AS city_id,
      |    CAST(-60 + n_nationkey*137 % 120 AS DOUBLE) AS clat,
      |    CAST(-170 + n_nationkey*211 % 340 AS DOUBLE) AS clon
      |  FROM nation)""".stripMargin

  /** The full step-3 recommendation DAG in DuckDB SQL — channel subscribers,
    * communicating-pair anti-set, last-position-at-date radius pairs,
    * midpoint zone — shared by q49 (in-memory transform) and q75 (the same
    * DAG through real parquet sinks and re-reads; the storage round-trip
    * must be invisible, so the oracle is the same text).
    */
  private lazy val recommendationDagSql: String = {
    val havPair = Geo.haversineSqlText("lat_u", "lat_t", "lon_u", "lon_t")
    val havZone = Geo.haversineSqlText("lat_avg", "clat", "lon_avg", "clon")
    s"""WITH $refEventsSql,
       |subs AS (
       |  SELECT DISTINCT user_id, 'ch' || (user_id % 20) AS ch
       |  FROM shaped WHERE etype = 'subscription'),
       |sub_ids AS (SELECT DISTINCT user_id FROM subs),
       |mp AS (
       |  SELECT DISTINCT user_id AS mfrom, msg_to AS mto
       |  FROM shaped
       |  WHERE etype = 'message'
       |    AND user_id IN (SELECT user_id FROM sub_ids)
       |    AND msg_to IN (SELECT user_id FROM sub_ids)),
       |communicate AS (
       |  SELECT DISTINCT s1.user_id AS u, mp.mto AS t
       |  FROM subs s1
       |  JOIN mp ON mp.mfrom = s1.user_id
       |  JOIN subs s2 ON s2.user_id = mp.mto AND s2.ch = s1.ch),
       |comm_canon AS (
       |  SELECT u, t FROM (
       |    SELECT u, t FROM communicate
       |    UNION ALL SELECT t AS u, u AS t FROM communicate)
       |  WHERE u > t),
       |at_date AS (
       |  SELECT user_id, dt, lat, lon FROM shaped
       |  WHERE CAST(dt AS DATE) = DATE '2024-01-20'
       |    AND lat IS NOT NULL AND lon IS NOT NULL),
       |last_pos AS (
       |  SELECT user_id, lat, lon FROM (
       |    SELECT *, max(dt) OVER (PARTITION BY user_id) AS mdt
       |    FROM at_date) WHERE dt = mdt),
       |positioned AS (
       |  SELECT l.user_id, l.lat, l.lon, s.ch
       |  FROM last_pos l JOIN subs s USING (user_id)),
       |cand0 AS (
       |  SELECT DISTINCT p1.user_id AS u, p2.user_id AS t,
       |    p1.lat AS lat_u, p1.lon AS lon_u,
       |    p2.lat AS lat_t, p2.lon AS lon_t
       |  FROM positioned p1 JOIN positioned p2 ON p1.ch = p2.ch
       |  WHERE p1.user_id > p2.user_id),
       |cand AS (
       |  SELECT u, t, (lat_u + lat_t) / 2 AS lat_avg,
       |    (lon_u + lon_t) / 2 AS lon_avg
       |  FROM cand0 c
       |  WHERE NOT EXISTS (SELECT 1 FROM comm_canon cc
       |                    WHERE cc.u = c.u AND cc.t = c.t)
       |    AND $havPair < 2000.0),
       |zoned AS (
       |  SELECT u, city_id FROM (
       |    SELECT c.*, ci.city_id, $havZone AS dist,
       |      min($havZone) OVER (PARTITION BY lat_avg, lon_avg) AS dmin
       |    FROM cand c CROSS JOIN cities ci)
       |  WHERE dist = dmin)
       |SELECT u AS user_left, u AS user_right, city_id AS zone_id,
       |  '2024-01-20' AS processed_dttm,
       |  strftime(timezone('Australia/Sydney',
       |    timezone('UTC', TIMESTAMP '2024-02-01 00:00:00')),
       |    '%Y-%m-%d %H:%M:%S') AS local_time
       |FROM zoned""".stripMargin
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- P1 + W2 + P5 + A1/A7: struct projection, argmax, first -----------
    "q30_struct_last_event" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        struct(col("user_id").as("uid"), col("ts").as("ts"),
          col("event_type").as("et"), col("value").as("v"),
          col("event_id").as("eid")).as("event"))
      val flat = ev.select(
        col("event.uid").as("user_id"), col("event.ts").as("ts"),
        col("event.et").as("event_type"), col("event.v").as("value"),
        col("event.eid").as("event_id"))
      val wu = Window.partitionBy("user_id")
      flat
        .withColumn("max_ts", max("ts").over(wu))
        .filter(col("ts") === col("max_ts"))
        .withColumn("max_eid", max("event_id").over(wu))
        .filter(col("event_id") === col("max_eid"))
        .groupBy("user_id")
        .agg(first("event_type").as("last_type"),
          first("value").as("last_value"),
          first(unix_micros(col("ts"))).as("last_ts_us"))
    }),

    // ---- J5: 3-key equi self-join ------------------------------------------
    "q31_three_key_active" -> ((s, d) => {
      val days = Tables.events(s, d).select(
        col("event_type"), col("user_id"),
        date_format(to_date(col("ts")), "yyyy-MM-dd").as("d"), col("event_id"))
      val a = days.filter(col("event_id") % 2 === 0)
        .select("event_type", "user_id", "d").distinct()
      val b = days.filter(col("event_id") % 2 === 1)
        .select("event_type", "user_id", "d").distinct()
      a.join(b, Seq("event_type", "user_id", "d"))
    }),

    // ---- U1 + P7 + P3 + A8: symmetrize, canonicalize, distinct -------------
    "q32_sym_edges" -> ((s, d) => {
      val edges = Tables.events(s, d).select(
          col("user_id").as("user_a"),
          (get_json_object(col("props"), "$.k").cast("long") % 200).as("user_b"))
        .filter(col("user_b").isNotNull && col("user_b") =!= col("user_a"))
      val sym = edges.unionByName(edges.select(
        col("user_b").as("user_a"), col("user_a").as("user_b")))
      sym.filter(col("user_a") < col("user_b")).distinct()
    }),

    // ---- P4 + W5: route-change detection (lag with null first row) ---------
    // The reference's travel-route shape (project_step_1.py:98-99): keep rows
    // where the value differs from its lag OR the lag is null.
    "q36_route_changes" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("event_type") =!= col("prev_type") ||
          col("prev_type").isNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_changes"))
    }),

    // ---- from_json with an explicit schema (vs q16's path extraction) ------
    "q40_json_schema" -> ((s, d) => {
      val schema = "k LONG"
      Tables.events(s, d)
        .select(col("user_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL(schema))
            .getField("k").as("k"))
        .filter(col("k").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("k").as("k_sum"), max("k").as("k_max"))
    }),

    // ---- explicit window frame: trailing moving sum (rowsBetween) ----------
    // The reference uses only default frames; this covers the frame-spec
    // surface with an exact-integer trailing sum (deterministic order).
    "q41_moving_sum" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-3, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          round(col("o_totalprice") * 100).cast("long").as("p100"))
        .withColumn("trailing_4", (sum("p100").over(w) / 100.0))
        .select(col("o_custkey"), col("o_orderkey"), col("trailing_4"))
    }),

    // ---- typed Dataset[T] façade: case-class encoder + groupByKey ----------
    // mapGroups is deliberately the OPAQUE path (object iteration, outside
    // codegen) — the catalog's one demonstration of the typed API; every
    // other query stays declarative so Catalyst can optimize.
    "q42_typed_orders" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .as[OrderRow]
        .groupByKey(_.o_custkey)
        .mapGroups { (custkey, rows) =>
          val rs = rows.toSeq
          (custkey, rs.size.toLong, rs.map(_.cents).sum / 100.0,
            rs.map(_.o_orderkey).max)
        }
        .toDF("o_custkey", "n_orders", "total", "max_orderkey")
    }),

    // ---- S3: date-partitioned scan with partition pruning ------------------
    // The filter on `event_date` is a PartitionFilter on the Hive-layout
    // copy (see Tables.eventsPartitioned): directories for the other 29 days
    // are pruned at planning, not row-filtered at runtime —
    // PartitionedScanSpec pins that plan shape.
    "q45_partitioned_scan" -> ((s, d) => {
      Tables.eventsPartitioned(s, d)
        .filter(col("event_date") === to_date(lit("2024-01-15")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("events"),
          countDistinct(col("user_id")).as("users"),
          // floor-quantized, not round: `value` carries full-precision
          // doubles and Spark/DuckDB round() disagree at repr boundaries
          (sum(floor(col("value") * 1e6 + 0.5).cast("long")) / 1e6)
            .as("value_sum"))
    }),

    // ---- O1 end-to-end: the composed user-mart job on derived inputs -------
    // UserMartJob.transform (argmax act-city + gaps-and-islands home-city +
    // route-change travel array) over reference-shaped events derived
    // deterministically from the driver's events table: every user "lives"
    // in city (user_id % 25) and "travels" to ((user_id + event_id) % 25) on
    // every 10th event, so home/act/travel are all exercised. strictOrder
    // and the 0.05° offset keep the output engine-deterministic; the oracle
    // re-expresses the whole three-branch DAG in SQL. minDays = 5: consec-
    // utive *event*-day runs in the home city comfortably exceed it, noise
    // cities never do. travel_array joins to a string (arrays don't survive
    // the driver comparator).
    "q46_user_mart" -> ((s, d) => derivedUserMart(s, d, perCityTz = false)),

    // ---- the per-city local-time VARIANT (the reference's own commented
    // intent at project_step_1.py:52): the geo dimension carries a
    // timezone column (six real Australian zones by nation key — Darwin
    // and Adelaide exercise the half-hour offsets) and the user mart
    // reports each user's local time in their act city's zone instead of
    // hard-coded Sydney. Everything else is exactly q46; the oracle is
    // the same DAG with timezone(tz, ...) per city.
    "q144_user_mart_city_tz" -> ((s, d) =>
      derivedUserMart(s, d, perCityTz = true)),

    // ---- O1 end-to-end: the composed zone-mart job -------------------------
    // ZoneMartJob.transform (last-message coordinate fill -> pre-aggregate ->
    // nearest-zone -> week/month pivots) over the full multi-type derived
    // events; the NULL-coordinate rows exercise the fill path and the
    // "users without messages are dropped" reference quirk rides along.
    "q48_zone_mart" -> ((s, d) => {
      graft.jobs.ZoneMartJob.transform(refEventsFull(s, d), refGeo(s, d))
        .select(col("month"), col("week"), col("city_id"),
          col("week_message"), col("week_reaction"),
          col("week_subscription"), col("week_user"),
          col("month_message"), col("month_reaction"),
          col("month_subscription"), col("month_user"))
    }),

    // ---- O1+O2 end-to-end: the composed recommendation job -----------------
    // RecommendationJob.transform (shared-channel pairs minus communicating
    // pairs, last-position radius filter, midpoint zone) with the F5
    // wall-clock column pinned via the injected processedAt — the whole
    // step-3 DAG under one oracle, quirks (user_right = left user) included.
    "q49_recommendations" -> ((s, d) => {
      val ev = refEventsFull(s, d)
      val atDate = ev.filter(
        to_date(col("event.datetime")) === to_date(lit("2024-01-20")))
      graft.jobs.RecommendationJob.transform(ev, atDate, refGeo(s, d),
          date = "2024-01-20", maxDistanceKm = 2000.0,
          processedAt = to_timestamp(lit("2024-02-01 00:00:00")))
        .select(col("user_left"), col("user_right"), col("zone_id"),
          col("processed_dttm"),
          date_format(col("local_time"), "yyyy-MM-dd HH:mm:ss").as("local_time"))
    }),

    // ---- the same DAG, named for the GRID nearest-zone scale tier --------
    // RecommendationJob.transform takes the grid zone attach (distinct
    // midpoints → GridNearestJoin cell equi-join → hash join back) only
    // above chooseGridZone's plan-stat bounds. At catalog scale the inputs
    // sit below them, so this face takes the same gated path as q49, under
    // the SAME reference-form oracle; the grid tier's row identity with the
    // reference shape, ties included, is pinned in RecommendationSpec.
    "q148_recommendations_grid" -> ((s, d) => {
      val ev = refEventsFull(s, d)
      val atDate = ev.filter(
        to_date(col("event.datetime")) === to_date(lit("2024-01-20")))
      graft.jobs.RecommendationJob.transform(ev, atDate, refGeo(s, d),
          date = "2024-01-20", maxDistanceKm = 2000.0,
          processedAt = to_timestamp(lit("2024-02-01 00:00:00")))
        .select(col("user_left"), col("user_right"), col("zone_id"),
          col("processed_dttm"),
          date_format(col("local_time"), "yyyy-MM-dd HH:mm:ss").as("local_time"))
    }),

    // ---- S5/S6/O1/O2/O3 + S4: the WHOLE pipeline through real storage ------
    // The driver-contract surface end-to-end: a lake-shaped fixture (events
    // partitioned by date + geo dim) is WRITTEN to scratch parquet, then
    // Pipeline.runArgs — the same args path `main` uses — chains the three
    // jobs, each mart landing via Sink.writePartitionedSorted (dynamic
    // overwrite, one sorted file per partition value). The oracle checks the
    // RE-READ parquet of the final mart, so serialization, partition-column
    // type inference, and the date=… path-slice read are all inside the
    // checked path — not just the in-memory transforms (q46/q48/q49).
    "q75_pipeline_sink" -> ((s, d) => {
      val base = s"/tmp/graft_pipeline_e2e_${new java.io.File(d).getName}"
      // clean scratch: dynamic partition overwrite would otherwise
      // resurrect stale partitions left by a previous code version
      val fs = org.apache.hadoop.fs.FileSystem
        .get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      refEventsFull(s, d)
        .withColumn("date", to_date(col("event.datetime")))
        .write.partitionBy("date").mode("overwrite")
        .parquet(s"$base/events")
      refGeo(s, d).write.mode("overwrite").parquet(s"$base/geo")
      graft.jobs.Pipeline.runArgs(s, Array(
        s"$base/events", s"$base/geo", s"$base/marts",
        "2024-01-20", "2000.0", "2024-02-01 00:00:00"))
      // explicit schema, twice over: (a) zone_id is a partition DIR on disk
      // and must land back on q49's int (n_nationkey is int32), pinned
      // rather than inferred; (b) a sparse scale factor can produce an
      // EMPTY mart (zero part files), where schema inference has nothing
      // to read and a production consumer must still get an empty frame,
      // not an AnalysisException
      val recSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_left BIGINT, user_right BIGINT, processed_dttm STRING, " +
          "local_time TIMESTAMP, zone_id INT")
      s.read.schema(recSchema).parquet(s"$base/marts/recommendations")
        .select(col("user_left"), col("user_right"), col("zone_id"),
          col("processed_dttm"),
          date_format(col("local_time"), "yyyy-MM-dd HH:mm:ss")
            .as("local_time"))
    }),

    // ---- the WHOLE pipeline through real storage, named for the grid tier --
    // q75's exact storage round-trip. The recommendation mart takes q148's
    // grid zone attach only above chooseGridZone's plan-stat bounds; at
    // catalog scale the inputs sit below them, so this face takes the same
    // gated path as q75. Same oracle text as q49/q75/q148: the tier, the
    // sinks, and the re-read must all be invisible. Separate scratch base
    // so q75's run and this one never share dynamic-overwrite state within
    // a session.
    "q160_pipeline_grid" -> ((s, d) => {
      val base = s"/tmp/graft_pipeline_grid_${new java.io.File(d).getName}"
      val fs = org.apache.hadoop.fs.FileSystem
        .get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      refEventsFull(s, d)
        .withColumn("date", to_date(col("event.datetime")))
        .write.partitionBy("date").mode("overwrite")
        .parquet(s"$base/events")
      refGeo(s, d).write.mode("overwrite").parquet(s"$base/geo")
      graft.jobs.Pipeline.runArgs(s, Array(
        s"$base/events", s"$base/geo", s"$base/marts",
        "2024-01-20", "2000.0", "2024-02-01 00:00:00"))
      val recSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_left BIGINT, user_right BIGINT, processed_dttm STRING, " +
          "local_time TIMESTAMP, zone_id INT")
      s.read.schema(recSchema).parquet(s"$base/marts/recommendations")
        .select(col("user_left"), col("user_right"), col("zone_id"),
          col("processed_dttm"),
          date_format(col("local_time"), "yyyy-MM-dd HH:mm:ss")
            .as("local_time"))
    }),

    // ---- bucketed co-located join (zero-Exchange fact-dim join) ------------
    // both sides pre-bucketed on custkey: the join itself plans with NO
    // shuffle of either side (BucketedJoinSpec pins the Exchange-free plan);
    // only the final small rollup aggregates across buckets. The posture a
    // 100 TB warehouse keeps its repeatedly-joined tables in.
    "q52_bucketed_join" -> ((s, d) => {
      val (o, c) = Tables.bucketedOrdersCustomer(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("orders"),
          XDet.moneySum(col("o_totalprice"), 2).as("revenue"),
          countDistinct(col("o_custkey")).as("buyers"))
    }),

    // ---- W1 + P5: coordinate-partitioned window-min, all ties kept ---------
    "q33_coord_argmin" -> ((s, d) => {
      val coords = Tables.customer(s, d).select(
        ((col("c_custkey") % 7) * 10 - 30).cast("double").as("glat"),
        ((col("c_custkey") % 13) * 20 - 120).cast("double").as("glon"))
        .distinct()
      val cities = Tables.nation(s, d).select(col("n_nationkey"),
        (lit(-60) + col("n_nationkey") * 137 % 120).as("city_lat"),
        (lit(-170) + col("n_nationkey") * 211 % 340).as("city_lon"))
      val w = Window.partitionBy("glat", "glon")
      coords.crossJoin(broadcast(cities))
        .withColumn("dist", round(Geo.haversineKmDet(
          col("glat"), col("city_lat"), col("glon"), col("city_lon")), 9))
        .withColumn("dmin", min("dist").over(w))
        .filter(col("dist") === col("dmin"))
        .groupBy("glat", "glon")
        .agg(min("n_nationkey").as("city_key"), count(lit(1)).as("n_tied"))
    }),
  )

  override def oracles: Map[String, String] = Map(
    "q30_struct_last_event" ->
      """WITH ev AS (
        |  SELECT {'uid': user_id, 'ts': CAST(ts AS TIMESTAMP),
        |          'et': event_type, 'v': value, 'eid': event_id} AS event
        |  FROM events),
        |flat AS (
        |  SELECT (event).uid AS user_id, (event).ts AS ts,
        |         (event).et AS event_type, (event).v AS value,
        |         (event).eid AS event_id
        |  FROM ev),
        |m1 AS (SELECT * FROM (
        |  SELECT *, max(ts) OVER (PARTITION BY user_id) AS mts FROM flat)
        |  WHERE ts = mts),
        |m2 AS (SELECT * FROM (
        |  SELECT *, max(event_id) OVER (PARTITION BY user_id) AS meid FROM m1)
        |  WHERE event_id = meid)
        |SELECT user_id, first(event_type) AS last_type,
        |  first(value) AS last_value, first(epoch_us(ts)) AS last_ts_us
        |FROM m2 GROUP BY user_id""".stripMargin,

    "q31_three_key_active" ->
      """WITH days AS (
        |  SELECT event_type, user_id,
        |    strftime(CAST(CAST(ts AS TIMESTAMP) AS DATE), '%Y-%m-%d') AS d,
        |    event_id
        |  FROM events),
        |a AS (SELECT DISTINCT event_type, user_id, d FROM days
        |      WHERE event_id % 2 = 0),
        |b AS (SELECT DISTINCT event_type, user_id, d FROM days
        |      WHERE event_id % 2 = 1)
        |SELECT event_type, user_id, d FROM a JOIN b
        |  USING (event_type, user_id, d)""".stripMargin,

    "q32_sym_edges" ->
      """WITH e AS (
        |  SELECT user_id AS user_a,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) % 200 AS user_b
        |  FROM events),
        |f AS (SELECT * FROM e WHERE user_b IS NOT NULL AND user_b != user_a),
        |sym AS (SELECT user_a, user_b FROM f
        |        UNION ALL SELECT user_b AS user_a, user_a AS user_b FROM f)
        |SELECT DISTINCT user_a, user_b FROM sym WHERE user_a < user_b""".stripMargin,

    "q36_route_changes" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events),
        |lagged AS (
        |  SELECT *, lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) AS prev_type
        |  FROM e)
        |SELECT user_id, count(*) AS n_changes
        |FROM lagged
        |WHERE event_type != prev_type OR prev_type IS NULL
        |GROUP BY user_id""".stripMargin,

    "q40_json_schema" ->
      """SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS k_sum,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
        |FROM events
        |WHERE json_extract_string(props, '$.k') IS NOT NULL
        |GROUP BY user_id""".stripMargin,

    "q41_moving_sum" ->
      """SELECT o_custkey, o_orderkey,
        |  sum(CAST(round(o_totalprice*100) AS BIGINT)) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) / 100.0 AS trailing_4
        |FROM orders""".stripMargin,

    "q42_typed_orders" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) / 100.0
        |    AS total,
        |  max(o_orderkey) AS max_orderkey
        |FROM orders GROUP BY o_custkey""".stripMargin,

    "q45_partitioned_scan" ->
      """SELECT event_type, count(*) AS events,
        |  count(DISTINCT user_id) AS users,
        |  CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
        |    / 1000000.0 AS value_sum
        |FROM events
        |WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) = DATE '2024-01-15'
        |GROUP BY event_type""".stripMargin,

    // the whole three-branch user-mart DAG in SQL: derived message events ->
    // nearest city (933 km min city separation vs 7.8 km offset: no ties) ->
    // argmax act-city / gaps-and-islands home-city / route-change travel.
    // timezone(tz, timezone('UTC', ts)) = Spark's from_utc_timestamp,
    // independent of the DuckDB session timezone.
    "q46_user_mart" -> userMartOracleSql(perCityTz = false),

    // same DAG, local_time in the act city's own zone (the q144 variant)
    "q144_user_mart_city_tz" -> userMartOracleSql(perCityTz = true),

    // full zone-mart DAG: last-message fill -> (week, month, type, coord)
    // pre-aggregate -> per-coordinate nearest city -> conditional-agg pivots
    // anchored on observed (month, week, city) triples
    "q48_zone_mart" -> {
      val hav = Geo.haversineSqlText("lat_def", "clat", "lon_def", "clon")
      s"""WITH $refEventsSql,
         |last_msg AS (
         |  SELECT user_id, lat AS lat_last, lon AS lon_last FROM (
         |    SELECT *, row_number() OVER (PARTITION BY user_id
         |      ORDER BY dt DESC) AS rn
         |    FROM shaped WHERE etype = 'message') WHERE rn = 1),
         |with_geo AS (
         |  SELECT CAST(weekofyear(s.dt) AS INTEGER) AS week,
         |    CAST(month(s.dt) AS INTEGER) AS month, s.etype,
         |    coalesce(s.lat, l.lat_last) AS lat_def,
         |    coalesce(s.lon, l.lon_last) AS lon_def,
         |    count(*) AS cnt
         |  FROM shaped s JOIN last_msg l USING (user_id)
         |  GROUP BY 1, 2, 3, 4, 5),
         |wz AS (
         |  SELECT week, month, etype, cnt, city_id FROM (
         |    SELECT g.*, c.city_id, $hav AS dist,
         |      min($hav) OVER (PARTITION BY lat_def, lon_def) AS dmin
         |    FROM with_geo g CROSS JOIN cities c)
         |  WHERE dist = dmin),
         |wk AS (SELECT week, city_id,
         |  CAST(sum(CASE WHEN etype='message' THEN cnt END) AS BIGINT)
         |    AS week_message,
         |  CAST(sum(CASE WHEN etype='reaction' THEN cnt END) AS BIGINT)
         |    AS week_reaction,
         |  CAST(sum(CASE WHEN etype='subscription' THEN cnt END) AS BIGINT)
         |    AS week_subscription,
         |  CAST(sum(CASE WHEN etype='registration' THEN cnt END) AS BIGINT)
         |    AS week_user
         |  FROM wz GROUP BY 1, 2),
         |mo AS (SELECT month, city_id,
         |  CAST(sum(CASE WHEN etype='message' THEN cnt END) AS BIGINT)
         |    AS month_message,
         |  CAST(sum(CASE WHEN etype='reaction' THEN cnt END) AS BIGINT)
         |    AS month_reaction,
         |  CAST(sum(CASE WHEN etype='subscription' THEN cnt END) AS BIGINT)
         |    AS month_subscription,
         |  CAST(sum(CASE WHEN etype='registration' THEN cnt END) AS BIGINT)
         |    AS month_user
         |  FROM wz GROUP BY 1, 2)
         |SELECT a.month, a.week, a.city_id,
         |  wk.week_message, wk.week_reaction, wk.week_subscription,
         |  wk.week_user,
         |  mo.month_message, mo.month_reaction, mo.month_subscription,
         |  mo.month_user
         |FROM (SELECT DISTINCT month, week, city_id FROM wz) a
         |LEFT JOIN wk ON a.week = wk.week AND a.city_id = wk.city_id
         |LEFT JOIN mo ON a.month = mo.month AND a.city_id = mo.city_id""".stripMargin
    },

    // full recommendation DAG: channel subscribers, communicating-pair
    // anti-set, last-position-at-date radius pairs, midpoint zone; the
    // reference quirk (user_right carries the LEFT user) is mirrored, and
    // local_time comes from the same injected instant via the double-
    // timezone device
    "q49_recommendations" -> recommendationDagSql,

    // identical DAG semantics through real parquet sinks and re-reads: the
    // storage round-trip must be invisible, so the oracle is the same text
    "q75_pipeline_sink" -> recommendationDagSql,

    // the grid nearest-zone scale tier must be output-identical to the
    // reference form — same oracle text proves it hash-exactly
    "q148_recommendations_grid" -> recommendationDagSql,

    // grid tier + sinks + re-read, one oracle: the pipeline path with the
    // scale-tier zone attach must land the SAME mart bytes
    "q160_pipeline_grid" -> recommendationDagSql,

    "q52_bucketed_join" ->
      s"""SELECT c_mktsegment, count(*) AS orders,
         |  ${XDet.moneySumSql("o_totalprice", 2)} AS revenue,
         |  count(DISTINCT o_custkey) AS buyers
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment""".stripMargin,

    "q33_coord_argmin" -> {
      val hav = Geo.haversineSqlText("glat", "city_lat", "glon", "city_lon")
      s"""WITH coords AS (
         |  SELECT DISTINCT CAST((c_custkey % 7) * 10 - 30 AS DOUBLE) AS glat,
         |    CAST((c_custkey % 13) * 20 - 120 AS DOUBLE) AS glon
         |  FROM customer),
         |cities AS (
         |  SELECT n_nationkey,
         |    -60 + n_nationkey*137 % 120 AS city_lat,
         |    -170 + n_nationkey*211 % 340 AS city_lon
         |  FROM nation),
         |dists AS (
         |  SELECT glat, glon, n_nationkey, round($hav, 9) AS dist
         |  FROM coords CROSS JOIN cities),
         |mins AS (SELECT * FROM (
         |  SELECT *, min(dist) OVER (PARTITION BY glat, glon) AS dmin
         |  FROM dists) WHERE dist = dmin)
         |SELECT glat, glon, min(n_nationkey) AS city_key,
         |  count(*) AS n_tied
         |FROM mins GROUP BY glat, glon""".stripMargin
    },
  )
}

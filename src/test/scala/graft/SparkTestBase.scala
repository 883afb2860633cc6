package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One shared local session for all suites (getOrCreate dedups across
  * them), built by the mains' own factory at 4 cores so specs run the
  * settings the mains run. */
trait SparkTestBase {
  lazy val spark: SparkSession = graft.jobs.JobSession.create("graft tests", 4)

  /** `f`'s result and how many RDDs it left persisted — local checkpoints
    * included, which register as persisted RDDs when they are taken. */
  def persistedBy[T](f: => T): (T, Int) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = f
    (r, spark.sparkContext.getPersistentRDDs.keySet.diff(before).size)
  }
}

/** Reference-shaped fixtures (FIXTURES.md §A): messenger events with the nested
  * `event` struct, and an Australian-city geo dimension with real coordinates.
  */
object Fixtures {

  case class EvRow(
      message_from: Option[Long] = None,
      message_to: Option[Long] = None,
      message_id: Option[Long] = None,
      message_ts: Option[String] = None,
      datetime: Option[String] = None,
      reaction_from: Option[Long] = None,
      user: Option[Long] = None,
      subscription_channel: Option[String] = None,
      event_type: String = "message",
      lat: Option[Double] = None,
      lon: Option[Double] = None)

  /** message event at a point in time and space */
  def msg(from: Long, ts: String, lat: Double, lon: Double,
          id: Long = 0, to: Long = -1): EvRow =
    EvRow(message_from = Some(from), message_id = Some(id),
      message_ts = Some(ts), datetime = Some(ts),
      message_to = if (to >= 0) Some(to) else None,
      lat = Some(lat), lon = Some(lon))

  def subscription(user: Long, channel: String, ts: String,
                   lat: Double = 0, lon: Double = 0): EvRow =
    EvRow(user = Some(user), subscription_channel = Some(channel),
      datetime = Some(ts), event_type = "subscription",
      lat = Some(lat), lon = Some(lon))

  def reaction(from: Long, ts: String, lat: Double, lon: Double): EvRow =
    EvRow(reaction_from = Some(from), datetime = Some(ts),
      event_type = "reaction", lat = Some(lat), lon = Some(lon))

  def registration(user: Long, ts: String, lat: Double, lon: Double): EvRow =
    EvRow(user = Some(user), datetime = Some(ts),
      event_type = "registration", lat = Some(lat), lon = Some(lon))

  /** Pack flat rows into the reference's nested-events schema. */
  def eventsDf(spark: SparkSession, rows: Seq[EvRow]): DataFrame = {
    import spark.implicits._
    rows.toDF()
      .select(
        struct(col("message_from"), col("message_to"), col("message_id"),
          col("message_ts"), col("datetime"), col("reaction_from"),
          col("user"), col("subscription_channel")).as("event"),
        col("event_type"), col("lat"), col("lon"),
        to_date(col("datetime")).as("date"))
  }

  /** (id, city, lat, lon) — real coordinates so haversine goldens are checkable. */
  val cities: Seq[(Long, String, Double, Double)] = Seq(
    (1L, "Sydney", -33.8688, 151.2093),
    (2L, "Melbourne", -37.8136, 144.9631),
    (3L, "Brisbane", -27.4698, 153.0251),
    (4L, "Perth", -31.9505, 115.8605),
    (5L, "Adelaide", -34.9285, 138.6007))

  def geoDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    cities.toDF("id", "city", "lat", "lon")
  }

  def cityCoord(name: String): (Double, Double) = {
    val c = cities.find(_._2 == name).get
    (c._3, c._4)
  }

  /** n consecutive daily message events for `user` in `city` starting at startDay. */
  def dailyRun(user: Long, city: String, startDay: String, n: Int,
               idBase: Long = 1000): Seq[EvRow] = {
    val (la, lo) = cityCoord(city)
    val start = java.time.LocalDate.parse(startDay)
    (0 until n).map { i =>
      msg(user, s"${start.plusDays(i)} 12:00:00", la + 0.01, lo + 0.01,
        id = idBase + i)
    }
  }
}

package graft.jobs

import org.apache.spark.sql.SparkSession

/** The one place a graft main builds its SparkSession.
  *
  * The reference pins YARN + 3g/2-core executors (project_step_1.py:119-124); here
  * the master comes from the environment/spark-submit so the same jar runs on a real
  * cluster or local[N]. AQE is left on: it handles join-strategy switches, skew
  * splitting and shuffle-partition coalescing at run time, which is exactly what a
  * 100 TB run needs and costs nothing at test scale.
  *
  * Without a master from spark-submit or `MASTER`, the session is local with
  * [[localConf]]; `SPARK_GRAFT_CPUS` (default: the processor count) is the only
  * core-count knob. `SPARK_GRAFT_EXTRA_CONF` (comma-separated `k=v`) applies conf
  * overrides on either path; [[extraConf]] is what was applied, so a bench record
  * can name it.
  *
  * Catalog queries never call this: they run in the session they are given, and a
  * `getOrCreate` from inside one would hand back that session and rewrite its
  * runtime conf.
  */
object JobSession {

  /** Settings on both paths. */
  private val baseConf: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** The local path's settings at `cores` cores. */
  private def localConf(cores: Int): Map[String, String] = baseConf ++ Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.ui.enabled" -> "false",
    // ContextCleaner frees broadcast/shuffle state only after a driver GC
    // collects the weak references; the default periodicGC interval (30 min)
    // exceeds a whole catalog run, so broadcasts pile up until the heaviest
    // query hits memory churn (r4: q49 grew 10->20->42 s across its own runs;
    // stable at ~5 s in isolation).
    "spark.cleaner.periodicGC.interval" -> "30s",
    // the SQL status store retains metrics for every execution (default
    // 1000) even with the UI off — one session running the catalog keeps
    // thousands of execution graphs on the driver heap by the late alphabet
    // (r5: q46/q49 ran 2x their isolated time in the full bench)
    "spark.sql.ui.retainedExecutions" -> "8",
    "spark.ui.retainedJobs" -> "100",
    "spark.ui.retainedStages" -> "100")

  /** Cores of the local path: `SPARK_GRAFT_CPUS`, else the processor count. */
  private def localCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim)
    .filter(_.nonEmpty).map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Parse a `SPARK_GRAFT_EXTRA_CONF` value: comma-separated `k=v` entries,
    * keys and values trimmed. Values must not contain commas. A malformed
    * entry raises rather than being skipped, so an A/B never runs on a conf
    * it did not ask for. */
  def parseExtraConf(spec: String): Seq[(String, String)] =
    spec.split(',').toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => (k.trim, v.trim)
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not key=value")
      }
    }

  /** The overrides [[create]] applies from `SPARK_GRAFT_EXTRA_CONF`; empty
    * when it is unset or empty. */
  lazy val extraConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").filter(_.nonEmpty)
      .map(parseExtraConf).getOrElse(Nil)

  /** Everything [[create]] sets: the path's settings, then `extra` on top. */
  def sessionConf(cores: Int, clustered: Boolean,
                  extra: Seq[(String, String)]): Map[String, String] =
    (if (clustered) baseConf else localConf(cores)) ++ extra

  def create(appName: String): SparkSession = create(appName, localCores)

  /** As [[create]], with the local path at `cores` cores. */
  def create(appName: String, cores: Int): SparkSession = {
    val clustered = sys.props.contains("spark.master") || sys.env.contains("MASTER")
    val b = SparkSession.builder().appName(appName)
    sessionConf(cores, clustered, extraConf).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

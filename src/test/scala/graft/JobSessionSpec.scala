package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.JobSession

/** [[JobSession]] is the one place a graft main builds its session; these
  * pin what it sets. */
class JobSessionSpec extends AnyFunSuite with SparkTestBase {

  test("the local path pins UTC, UI off, the heap guards, and shuffle " +
      "partitions = cores; the cluster path leaves master to spark-submit") {
    val local = JobSession.sessionConf(6, clustered = false, Nil)
    assert(local("spark.master") === "local[6]")
    assert(local("spark.sql.shuffle.partitions") === "6")
    assert(local("spark.sql.session.timeZone") === "UTC")
    assert(local("spark.ui.enabled") === "false")
    assert(local("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(local("spark.sql.ui.retainedExecutions") === "8")
    assert(local("spark.ui.retainedJobs") === "100")
    assert(local("spark.ui.retainedStages") === "100")
    assert(local("spark.cleaner.periodicGC.interval") === "30s")
    val cluster = JobSession.sessionConf(6, clustered = true, Nil)
    assert(!cluster.contains("spark.master"))
    assert(!cluster.contains("spark.sql.shuffle.partitions"))
    assert(cluster("spark.sql.session.timeZone") === "UTC")
  }

  test("the test session is the factory's local path at 4 cores") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.master") === "local[4]")
    assert(conf.get("spark.ui.enabled") === "false")
    assert(conf.get("spark.sql.ui.retainedExecutions") === "8")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  test("SPARK_GRAFT_EXTRA_CONF: valid entries apply on top, a malformed " +
      "entry raises") {
    val extra = JobSession.parseExtraConf(
      " spark.sql.shuffle.partitions = 7,spark.sql.adaptive.enabled=false")
    assert(extra === Seq("spark.sql.shuffle.partitions" -> "7",
      "spark.sql.adaptive.enabled" -> "false"))
    val conf = JobSession.sessionConf(4, clustered = false, extra)
    assert(conf("spark.sql.shuffle.partitions") === "7")
    assert(conf("spark.sql.adaptive.enabled") === "false")
    assert(conf("spark.master") === "local[4]")
    for (bad <- Seq("spark.sql.adaptive.enabled", "a=1,,b=2", "=1"))
      intercept[IllegalArgumentException](JobSession.parseExtraConf(bad))
  }
}

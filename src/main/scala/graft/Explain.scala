package graft

/** Plan inspector: `scripts/run.sh graft.Explain q02_filter_scan ...` prints
  * the formatted physical plan of each named catalog query (all queries when
  * none named) against sf0.01 — the "is the filter pushed, is the dim
  * broadcast, is codegen wide" feedback loop.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.jobs.JobSession.create("graft explain")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { q =>
      println(s"===== $q =====")
      SparkEntry.queries(q)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

package graft.tools

/** One-off diagnostic main: print the plan-stat inputs and the resulting
  * zone-tier decision ([[graft.jobs.RecommendationJob.chooseGridZone]])
  * for the q148-shaped inputs at a given sfDir — the decision is pure
  * plan statistics, so this runs zero Spark jobs and answers "which tier
  * would the auto face take here" in seconds at any scale.
  *
  * Usage: scripts/run.sh graft.tools.ZoneTierProbe <sfDir>
  */
object ZoneTierProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.jobs.JobSession.create("graft zone tier probe")
    val ev = graft.queries.ParityQueries.refEventsFullForProbe(spark, sfDir)
    val geo = graft.queries.ParityQueries.refGeoForProbe(spark, sfDir)
    val factBytes = ev.queryExecution.optimizedPlan.stats.sizeInBytes
    val dimBytes = geo.queryExecution.optimizedPlan.stats.sizeInBytes
    val grid = graft.jobs.RecommendationJob.chooseGridZone(ev, geo)
    println(s"sfDir=$sfDir factBytes=$factBytes dimBytes=$dimBytes " +
      s"factBound=${graft.jobs.RecommendationJob.FactGridBoundBytes} " +
      s"dimBound=${graft.jobs.RecommendationJob.DimGridBoundBytes} " +
      s"tier=${if (grid) "grid" else "ref"}")
    spark.stop()
  }
}

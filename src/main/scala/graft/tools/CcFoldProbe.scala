package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Instrument
import graft.jobs.JobSession
import graft.operators.ConnectedComponents
import graft.queries.DataPipelineQueries.DupEdges
import graft.sources.Tables

/** One-off measurement main behind the frontier-only CC fold (round-16
  * verdict item 4): incorporate a batch of new near-dup edges into stored
  * cluster labels three ways and measure what the frontier restriction
  * actually buys —
  *
  *  - `refit`:  [[ConnectedComponents.run]] on E1 ∪ E2 from scratch
  *              (re-reads the HISTORICAL pair graph — the posture the
  *              maintenance family exists to avoid);
  *  - `merge`:  [[ConnectedComponents.merge]] — labels-as-edges ∪ batch,
  *              re-converging the star rounds over the WHOLE vertex set
  *              (q76's path: O(|vertices| + |batch|) per day);
  *  - `fold`:   [[ConnectedComponents.fold]] — star rounds over the
  *              affected neighborhood ∪ batch only; untouched components
  *              ride a pass-through scan (q187's path:
  *              O(|touched| + |batch|) per day).
  *
  * The expensive COMMON prefix (shingle → df → candidate → Jaccard pair
  * derivation for both the base graph and the batch) is materialized to
  * parquet scratch before any timing, so the rows isolate the maintenance
  * step itself. All three paths are asserted label-identical on the
  * shared vertex set before any number is printed. Wall is a 3-run
  * median; jobs/stages come from the first run ([[Instrument]]).
  *
  * Prints one JSON line per path plus a touched-fraction line; paste into
  * BENCH_SF1.json round{R}_updates.
  *
  * Usage: scripts/run.sh graft.tools.CcFoldProbe <sfDir>
  */
object CcFoldProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = JobSession.create("graft cc fold probe")

    // q187's exact split and edge derivation
    val (incoming, corpus) = DupEdges.split(Tables.documents(spark, sfDir))
    val shA = DupEdges.shingles(incoming).localCheckpoint(false)
    val shB = DupEdges.shingles(corpus).localCheckpoint(false)

    val scratch = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_ccprobe_${java.util.UUID.randomUUID.toString.take(8)}")
    def mat(name: String)(df: DataFrame): DataFrame = {
      val p = new java.io.File(scratch, name).getAbsolutePath
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }

    val baseEdges = mat("base_edges")(DupEdges.within(shB))
    val batchEdges = mat("batch_edges")(
      DupEdges.cross(shA, shB).unionByName(DupEdges.within(shA)))
    val labels = mat("labels")(
      ConnectedComponents.run(baseEdges, "id_a", "id_b"))

    require(labels.limit(1).count() > 0, s"no base labels under $sfDir")

    def timed(name: String)(build: => DataFrame): DataFrame = {
      var shape: Option[Instrument.Counts] = None
      var out: DataFrame = null
      val walls = (1 to 3).map { i =>
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        if (i == 1) {
          val (df, c) = Instrument.countStages(spark) {
            val d = build
            d.write.format("noop").mode("overwrite").save()
            d
          }
          shape = Some(c); out = df
        } else build.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"""{"path":"$name","wall_median":${walls(1)}%.2f,"walls":[${
        walls.map(w => f"$w%.2f").mkString(",")}],"jobs":${
        shape.fold(-1)(_.jobs)},"stages":${shape.fold(-1)(_.stages)}}""")
      out
    }

    val refit = timed("refit") {
      ConnectedComponents.run(
        baseEdges.unionByName(batchEdges), "id_a", "id_b")
    }
    val merged = timed("merge") {
      ConnectedComponents.merge(labels, "id", "component",
        batchEdges, "id_a", "id_b")
    }
    val folded = timed("fold") {
      ConnectedComponents.fold(labels, "id", "component",
        batchEdges, "id_a", "id_b")
    }

    // label-identity across the three paths (same min-id canonical root)
    val f = folded.select(col("id"), col("component"))
    val mDiff = merged.select(col("id"), col("component"))
      .exceptAll(f).count()
    val rDiff = refit.select(col("id"), col("component")).exceptAll(
      f.join(refit.select(col("id")).distinct(), Seq("id"), "left_semi"))
      .count()
    require(mDiff == 0 && rDiff == 0,
      s"paths disagree: merge-vs-fold $mDiff rows, refit-vs-fold $rDiff")

    val total = folded.count()
    val touched = folded.filter(col("touched") === 1).count()
    println(s"""{"vertices":$total,"touched":$touched,"touched_permille":${
      if (total > 0) touched * 1000 / total else -1},"batch_edges":${
      batchEdges.count()},"base_edges":${baseEdges.count()}}""")

    // ---- untouched-mass ladder -------------------------------------------
    // The fixture's label frame is tiny (thousands of vertices), so the
    // star rounds are trivially cheap and fold's endpoint semi-joins cost
    // more than they save — the frontier restriction's value is
    // proportional to the UNTOUCHED mass, which at fixture scale is ~0.
    // Measure the mechanism itself: inflate the stored labels with S
    // synthetic singleton components (ids from a disjoint high range,
    // never batch endpoints — exactly the "settled corpus history" a
    // production labeling carries), and time merge vs fold per S. merge
    // re-converges S + |base| star edges per batch; fold anti-joins the
    // singletons through untouched. The crossover S is the regime bound.
    val ladder = args.lift(2).getOrElse("0,1000000,10000000")
      .split(",").map(_.trim.toLong).filter(_ > 0).toSeq
    ladder.foreach { s =>
      val inflated = mat(s"labels_x$s")(
        labels.select(col("id"), col("component")).unionByName(
          spark.range(s).select(
            (col("id") + 1000000000L).as("id"),
            (col("id") + 1000000000L).as("component"))))
      def timedWall(build: => DataFrame): (Double, Int) = {
        var shape = -1
        val walls = (1 to 3).map { i =>
          spark.catalog.clearCache()
          System.gc()
          val t0 = System.nanoTime()
          if (i == 1) {
            val (_, c) = Instrument.countStages(spark)(
              build.write.format("noop").mode("overwrite").save())
            shape = c.jobs
          } else build.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        (walls(1), shape)
      }
      val (mW, mJ) = timedWall(ConnectedComponents.merge(
        inflated, "id", "component", batchEdges, "id_a", "id_b"))
      val (fW, fJ) = timedWall(ConnectedComponents.fold(
        inflated, "id", "component", batchEdges, "id_a", "id_b"))
      println(f"""{"ladder_singletons":$s,"merge_wall":$mW%.2f,"merge_jobs":$mJ,"fold_wall":$fW%.2f,"fold_jobs":$fJ}""")
    }

    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(scratch)
    spark.stop()
  }
}

package graft
import org.apache.spark.sql.functions._
/** Scale bench for the embedding/ANN tier: args = sfDir [runs].
  *
  * The corpus is spread over 32 partitions (and pinned) BEFORE timing: the
  * local sf parquet is a single ~5 MB row group, so the raw scan is one
  * split and every pre-exchange stage — the broadcast-join product and the
  * partial top-k/argmax aggregates, i.e. the entire cost of these
  * operators — would run single-threaded. That is a small-file artifact:
  * at cluster scale partial-aggregation parallelism IS scan parallelism,
  * and scan splits are abundant. The same harness runs at every sf, so
  * the cross-sf ratios measure the operator, not the file layout.
  */
object AnnScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = if (args.length > 1) args(1).toInt else 3
    val spark = graft.jobs.JobSession.create("graft ann scale bench")
    val vecs = graft.sources.Tables.embeddings(spark, sfDir)
      .repartition(32).localCheckpoint(true)
    println(s"corpus rows=${vecs.count()} sfDir=$sfDir runs=$runs")
    def time(label: String)(f: => Long): Unit = {
      val secs = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val n = f
        val s = (System.nanoTime() - t0) / 1e9
        println(f"  $label rows=$n sec=$s%.2f")
        s
      }.sorted
      println(f"$label median=${secs(secs.size / 2)}%.2f")
    }
    time("q25_knn_exact") {
      graft.ext.Similarity.knnExact(vecs, vecs.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", "vec_id", "embedding", k = 10).count()
    }
    time("q26_knn_ivf") {
      graft.ext.Similarity.knnIvf(vecs, vecs.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", "vec_id", "embedding",
        centroids = vecs.filter(col("vec_id") % 50 === 7),
        "vec_id", "embedding", k = 5, nprobe = 3).count()
    }
    time("q35_cosine_near_dups") {
      graft.ext.Similarity.cosineNearDups(vecs, "vec_id", "embedding",
        centroids = vecs.filter(col("vec_id") % 50 === 7),
        "vec_id", "embedding", minCosine = 0.4).count()
    }
    time("q88_quantized_rerank") {
      graft.ext.Similarity.knnRerank(vecs, vecs.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", "vec_id", "embedding", k = 5, m = 4).count()
    }
    time("q85_semantic_dedup_core") {
      graft.ext.Similarity.semanticDedupVerdict(vecs, "vec_id", "embedding",
        k = 0, iters = 2, minCosine = 0.95).count()
    }
    spark.stop()
  }
}

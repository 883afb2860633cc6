package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ext.Similarity
import graft.jobs.JobSession
import graft.sources.Tables

/** One-off diagnostic: mean recall@10 of the ANN tiers (IVF / plain PQ /
  * IVF-PQ at several nprobe values) on one sf dir — the measurement behind
  * q152's byte-budget claim. Usage: run.sh graft.tools.RecallSweep <sfDir>
  *
  * Second mode — `run.sh graft.tools.RecallSweep <sfDir> tf` — the
  * BIT-BUDGET sweep on the hashed-tf corpus (q157's frame): plain PQ and
  * OPQ-permuted PQ at (m, kc) ∈ 12/16/24/32 bits per vector, one exact
  * baseline. The round-10 claim under test: q157's sf0.1 recall collapse
  * (11‰/8‰) is the FIXED 12-bit codeword ceiling over a growing corpus,
  * not a defect of the chain — so recall must RISE with the bit budget at
  * fixed corpus. Rows land in BENCH_SF1.json.
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val spark = JobSession.create("graft recall sweep")
    val d = args(0)
    if (args.length > 1 && args(1) == "tf") { tfBitBudget(spark, d); spark.stop(); return }
    val vecs = Tables.embeddings(spark, d)
    val qs = vecs.filter(col("vec_id") % 50 === 0)
    val cents = vecs.filter(col("vec_id") % 50 === 7)
    val nCells = cents.count()
    val exact = graft.ext.Caches.pin(Similarity.knnExact(vecs, qs,
      "vec_id", "embedding", "vec_id", "embedding", k = 10))
    def mean(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(exact, approx, "query_id", "neighbor_id", 10)
        .agg(avg("recall_permille")).head().getDouble(0)

    val cbPlain = Similarity.collectCodebooks(Similarity.pqFit(
      vecs, "vec_id", "embedding", m = 4, kc = 8, iters = 2))
    println(f"cells=$nCells plainPQ=${mean(Similarity.pqTopK(vecs, qs,
      "vec_id", "embedding", "vec_id", "embedding", cbPlain, 10))}%.0f")

    val cbRes = Similarity.collectCodebooks(Similarity.pqFitResiduals(
      vecs, "vec_id", "embedding", cents, "vec_id", "embedding",
      m = 4, kc = 8, iters = 2))
    for (np <- Seq(3, 5, 8, nCells.toInt)) {
      println(f"ivfpq(data-vec cents) nprobe=$np recall=${mean(
        Similarity.ivfPqTopK(
          vecs, qs, "vec_id", "embedding", "vec_id", "embedding",
          cents, "vec_id", "embedding", cbRes, 10, np))}%.0f")
    }

    val km = Similarity.kmeansFit(vecs, "vec_id", "embedding",
      k = nCells.toInt, iters = 2)
    val cbKm = Similarity.collectCodebooks(Similarity.pqFitResidualsKm(
      vecs, "vec_id", "embedding", km, m = 4, kc = 8, iters = 2))
    for (np <- Seq(3, 5, 8, nCells.toInt)) {
      println(f"ivfpq(kmeans cents) nprobe=$np recall=${mean(
        Similarity.ivfPqTopKKm(
          vecs, qs, "vec_id", "embedding", "vec_id", "embedding",
          km, cbKm, 10, np))}%.0f")
    }
    spark.stop()
  }

  /** Bit-budget sweep over the hashed-tf corpus (q157's anisotropic frame,
    * 64 buckets, scale = 1): plain PQ vs OPQ-permuted PQ mean recall@10 at
    * m·log2(kc) ∈ {12, 16, 24, 32} bits/vector against one pinned exact
    * baseline.
    */
  private def tfBitBudget(spark: SparkSession, d: String): Unit = {
    val tf = graft.ext.Caches.pin(Similarity.hashedTfVectors(
      Tables.documents(spark, d), "doc_id", "text", buckets = 64))
    val qs = tf.filter(col("doc_id") % 50 === 0)
    val exact = graft.ext.Caches.pin(Similarity.knnExact(tf, qs,
      "doc_id", "tf", "doc_id", "tf", k = 10, scale = 1.0))
    def mean(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(exact, approx, "query_id", "neighbor_id", 10)
        .agg(avg("recall_permille")).head().getDouble(0)
    println(s"corpus=${tf.count()} queries=${qs.count()}")
    // (m, kc): 4x8=12b, 4x16=16b, 8x8=24b, 8x16=32b per vector
    for ((m, kc) <- Seq((4, 8), (4, 16), (8, 8), (8, 16))) {
      val bits = m * (31 - Integer.numberOfLeadingZeros(kc))
      val cbP = Similarity.collectCodebooks(Similarity.pqFit(
        tf, "doc_id", "tf", m = m, kc = kc, iters = 2, scale = 1.0))
      val rP = mean(Similarity.pqTopK(tf, qs,
        "doc_id", "tf", "doc_id", "tf", cbP, k = 10, scale = 1.0))
      val perm = Similarity.energyPermutation(tf, "doc_id", "tf",
        m = m, scale = 1.0)
      val ptf = Similarity.permuteVec(tf, "tf", perm)
      val pqs = ptf.filter(col("doc_id") % 50 === 0)
      val cbO = Similarity.collectCodebooks(Similarity.pqFit(
        ptf, "doc_id", "tf", m = m, kc = kc, iters = 2, scale = 1.0))
      val rO = mean(Similarity.pqTopK(ptf, pqs,
        "doc_id", "tf", "doc_id", "tf", cbO, k = 10, scale = 1.0))
      println(f"bits=$bits%2d m=$m kc=$kc plainPQ=$rP%.0f opqPQ=$rO%.0f")
    }
  }
}

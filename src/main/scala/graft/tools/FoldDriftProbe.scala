package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Similarity
import graft.jobs.JobSession
import graft.sources.Tables

/** One-off measurement main behind the chained-fold REFIT POLICY (round-15
  * verdict item 6): the q176/q177 scaladocs note chained folds are
  * sequential mini-batch, NOT one fold over the union — this measures what
  * that actually costs in assignment churn on a real fixture, per chain
  * length.
  *
  * For each N in the sweep the 10%-batch slice (vec_id % 10 == 9, the
  * q176 split) is divided into N sub-batches folded sequentially into the
  * base k-means state; the grown corpus is then assigned under (a) the
  * chained-fold centroids, (b) a single fold of the whole batch, and (c) a
  * from-scratch refit on the union. Because cluster LABELS are not
  * comparable across independent fits, churn is reported two ways, both
  * label-free:
  *  - `churn_bestmatch_permille`: 1000·(1 − matched/N) under the greedy
  *    max-overlap cell matching (a ceiling on true churn — greedy, not
  *    Hungarian, but exact here since k is small and overlaps are skewed);
  *  - `rand_permille`: the pair-counting Rand index of the two partitions
  *    (1000 = identical groupings), computed from the k×k contingency
  *    table — no label alignment needed at all.
  *
  * Prints one JSON line per N plus a summary line; paste into
  * BENCH_SF1.json round{R}_updates.
  *
  * Usage: scripts/run.sh graft.tools.FoldDriftProbe <sfDir> [k] [iters]
  *   [batchCounts=1,2,4,8]
  */
object FoldDriftProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val k = args.lift(1).map(_.toInt).getOrElse(8)
    val iters = args.lift(2).map(_.toInt).getOrElse(2)
    val batchCounts = args.lift(3).getOrElse("1,2,4,8")
      .split(",").map(_.trim.toInt).toSeq
    val spark = JobSession.create("graft fold drift probe")

    val all = Tables.embeddings(spark, sfDir)
    val base = all.filter(col("vec_id") % 10 =!= 9)
    val batchAll = all.filter(col("vec_id") % 10 === 9)
    val state0 = Similarity.kmeansState(base, "vec_id", "embedding",
      k = k, iters = iters).localCheckpoint()
    val refit = Similarity.kmeansFit(all, "vec_id", "embedding",
      k = k, iters = iters)

    def assignments(cent: DataFrame): Map[Long, Int] =
      Similarity.kmeansAssign(all, "vec_id", "embedding", cent)
        .select(col("vec_id"), col("cell"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

    val refitA = assignments(refit)
    val singleFoldA = assignments(
      Similarity.kmeansFold(state0, batchAll, "vec_id", "embedding")
        .select(col("cell"), col("centroid")))
    val n = refitA.size
    require(n > 0, s"no embeddings under $sfDir — nothing to measure")

    /** (bestmatch churn ‰, Rand index ‰) of two labelings over the same
      * id set — both label-permutation-free. */
    def agree(a: Map[Long, Int], b: Map[Long, Int]): (Long, Long) = {
      val cont = a.keysIterator
        .map(id => (a(id), b(id))).toSeq
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      // greedy max-overlap matching, one b-cell per a-cell
      var usedA = Set.empty[Int]
      var usedB = Set.empty[Int]
      var matched = 0L
      cont.toSeq.sortBy(-_._2).foreach { case ((ca, cb), c) =>
        if (!usedA.contains(ca) && !usedB.contains(cb)) {
          usedA += ca; usedB += cb; matched += c
        }
      }
      val churn = 1000L - matched * 1000L / n
      // Rand index from the contingency table: agreements =
      // C(n,2) − [Σ C(ai,2) + Σ C(bj,2) − 2·Σ C(nij,2)] disagreements
      def c2(x: Long) = x * (x - 1) / 2
      val sumIj = cont.valuesIterator.map(c2).sum
      val sumA = cont.toSeq.groupBy(_._1._1).values
        .map(g => c2(g.map(_._2).sum)).sum
      val sumB = cont.toSeq.groupBy(_._1._2).values
        .map(g => c2(g.map(_._2).sum)).sum
      val pairs = c2(n.toLong)
      val rand =
        if (pairs == 0) 1000L
        else (pairs - sumA - sumB + 2 * sumIj) * 1000L / pairs
      (churn, rand)
    }

    println(s"""{"probe":"fold_drift","sf":"$sfDir","k":$k,"iters":$iters,"rows":$n}""")
    val (sfChurn, sfRand) = agree(singleFoldA, refitA)
    println(s"""{"compare":"single_fold_vs_refit","churn_bestmatch_permille":$sfChurn,"rand_permille":$sfRand}""")

    // UNFOLD churn (round-16): retract the 10% slice from a state built
    // on the FULL corpus (the takedown case — subtraction is exact, so
    // this measures only the one-Lloyd-update-vs-fresh-refit gap on the
    // survivors, the same seed-lottery axis as the fold rows above)
    val stateAll = Similarity.kmeansState(all, "vec_id", "embedding",
      k = k, iters = iters)
    val unfolded = Similarity.kmeansUnfold(stateAll, batchAll,
      "vec_id", "embedding")
    val refitSurv = Similarity.kmeansFit(base, "vec_id", "embedding",
      k = k, iters = iters)
    def survAssignments(cent: DataFrame): Map[Long, Int] =
      Similarity.kmeansAssign(base, "vec_id", "embedding", cent)
        .select(col("vec_id"), col("cell"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ua = survAssignments(unfolded.select(col("cell"), col("centroid")))
    val ra = survAssignments(refitSurv)
    val nSurv = ra.size
    require(nSurv > 0, s"no survivor embeddings under $sfDir")
    val contU = ua.keysIterator.map(id => (ua(id), ra(id))).toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    var usedA = Set.empty[Int]; var usedB = Set.empty[Int]; var m = 0L
    contU.toSeq.sortBy(-_._2).foreach { case ((ca, cb), c) =>
      if (!usedA.contains(ca) && !usedB.contains(cb)) {
        usedA += ca; usedB += cb; m += c
      }
    }
    println(s"""{"compare":"unfold_vs_refit_on_survivors","churn_bestmatch_permille":${1000L - m * 1000L / nSurv},"survivors":$nSurv}""")
    batchCounts.foreach { nb =>
      var st = state0
      (0 until nb).foreach { i =>
        val slice = batchAll.filter(pmod(expr("vec_id div 10"), lit(nb)) === i)
        st = Similarity.kmeansFold(st, slice, "vec_id", "embedding")
          .localCheckpoint()
      }
      val chainedA = assignments(st.select(col("cell"), col("centroid")))
      val (cr, rr) = agree(chainedA, refitA)
      val (cs, rs) = agree(chainedA, singleFoldA)
      println(s"""{"n_folds":$nb,"vs_refit":{"churn_bestmatch_permille":$cr,"rand_permille":$rr},"vs_single_fold":{"churn_bestmatch_permille":$cs,"rand_permille":$rs}}""")
    }
    spark.stop()
  }
}

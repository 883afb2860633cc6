package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Similarity
import graft.sources.Tables

class SimilaritySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val vecs = Tables.embeddings(spark, sf)
  private lazy val queries = vecs.filter($"vec_id" % 20 === 0)

  test("native dotLong: exact sums, null/length edge semantics, both paths") {
    // codegen path (per-row over a frame)
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      (Seq(1000000L, -2000000L, 0L), Seq(3000000L, 4000000L, 9L)))
      .toDF("a", "b")
    assert(df.select(Similarity.dotLong($"a", $"b")).as[Long].collect().toSeq
      === Seq(32L, -5000000000000L))
    // interpreted path (constant folding evals driver-side)
    assert(spark.range(1).select(Similarity.dotLong(
        array(lit(2L), lit(3L)), array(lit(4L), lit(5L)))).as[Long].head()
      === 23L)
    // null array / mismatched lengths → null, matching the
    // zip_with+aggregate fold this expression replaced
    val edge = Seq(
      (Some(Seq(1L, 2L)), Some(Seq(1L))),
      (None: Option[Seq[Long]], Some(Seq(1L))))
      .toDF("a", "b")
    assert(edge.select(Similarity.dotLong($"a", $"b"))
      .collect().map(_.isNullAt(0)).toSeq === Seq(true, true))
  }

  test("quantized cosine matches a driver-side double computation") {
    val rows = vecs.filter($"vec_id".isin(0, 1)).orderBy("vec_id")
      .select("embedding").as[Seq[Float]].collect()
    val (a, b) = (rows(0).map(_.toDouble), rows(1).map(_.toDouble))
    def q(v: Seq[Double]) = v.map(x => math.floor(x * 1e6 + 0.5).toLong)
    val (qa, qb) = (q(a), q(b))
    val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
    val expected = dot / (math.sqrt(qa.map(x => x * x).sum.toDouble) *
      math.sqrt(qb.map(x => x * x).sum.toDouble))
    val got = vecs.filter($"vec_id" === 0).select($"embedding".as("a"))
      .crossJoin(vecs.filter($"vec_id" === 1).select($"embedding".as("b")))
      .select(Similarity.cosineFromQuantized(
        Similarity.quantize($"a"), Similarity.quantize($"b"),
        Similarity.dotLong(Similarity.quantize($"a"), Similarity.quantize($"a")),
        Similarity.dotLong(Similarity.quantize($"b"), Similarity.quantize($"b")))
        .as("cos"))
      .as[Double].head()
    assert(got === expected) // exact, not approximate: same IEEE ops
  }

  test("knnExact returns k ranked neighbors per query, self excluded") {
    val k = 5
    val res = Similarity.knnExact(vecs, queries,
      "vec_id", "embedding", "vec_id", "embedding", k)
    val n = queries.count()
    assert(res.count() === n * k)
    assert(res.filter($"query_id" === $"neighbor_id").count() === 0)
    // ranks are 1..k and cosines non-increasing within each query
    val bad = res.withColumn("prev",
        lag("cosine", 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy("rank")))
      .filter($"prev".isNotNull && $"prev" < $"cosine")
    assert(bad.count() === 0)

    // every search entry point shares the contract, on INT ids too: at
    // most k rows per query (per sweep arm), ranks 1..r without gaps,
    // non-increasing scores within a query, no self-match
    val iv = vecs.select($"vec_id".cast("int").as("vec_id"), $"embedding")
    val iq = iv.filter($"vec_id" % 20 === 0)
    val cent = iv.filter($"vec_id" % 20 === 7)
    val cbs = Similarity.collectCodebooks(Similarity.pqFit(vecs, "vec_id",
      "embedding", m = 4, kc = 4, iters = 1))
    val (ci, cv, qi, qv) = ("vec_id", "embedding", "vec_id", "embedding")
    val entries: Seq[(String, () => DataFrame)] = Seq(
      "knnExact" -> (() => Similarity.knnExact(iv, iq, ci, cv, qi, qv, k)),
      "hardNegatives" -> (() => Similarity.hardNegatives(iv, iq, ci, cv,
        qi, qv, k, maxCosMicro = 300000L)),
      "knnIvf" -> (() => Similarity.knnIvf(iv, iq, ci, cv, qi, qv,
        cent, "vec_id", "embedding", k, nprobe = 2)),
      "hardNegativesIvf" -> (() => Similarity.hardNegativesIvf(iv, iq, ci,
        cv, qi, qv, cent, "vec_id", "embedding", k, nprobe = 2,
        maxCosMicro = 300000L)),
      "knnIvfSweep" -> (() => Similarity.knnIvfSweep(iv, iq, ci, cv, qi, qv,
        cent, "vec_id", "embedding", k, nprobes = Seq(1, 3))),
      "pqTopK" -> (() => Similarity.pqTopK(iv, iq, ci, cv, qi, qv, cbs, k)),
      "ivfPqTopK" -> (() => Similarity.ivfPqTopK(iv, iq, ci, cv, qi, qv,
        cent, "vec_id", "embedding", cbs, k, nprobe = 2)),
      "knnRerank" -> (() => Similarity.knnRerank(iv, iq, ci, cv, qi, qv,
        k, m = 2)))
    entries.foreach { case (name, run) =>
      val out = run()
      val arm = if (out.columns.contains("nprobe")) $"nprobe" else lit(0L)
      val score = if (out.columns.contains("adc_dot")) $"adc_dot" else $"cosine"
      val rows = out.select(arm.cast("long"), $"query_id".cast("long"),
          $"rank", $"neighbor_id", score.cast("double"))
        .as[(Long, Long, Long, Long, Double)].collect()
      assert(rows.nonEmpty, name)
      rows.groupBy(r => (r._1, r._2)).foreach { case ((_, q), g) =>
        val byRank = g.sortBy(_._3)
        assert(byRank.length <= k, s"$name: query $q has ${g.length} rows")
        assert(byRank.map(_._3).toSeq === (1L to byRank.length.toLong),
          s"$name: query $q ranks ${byRank.map(_._3).toSeq}")
        assert(byRank.sliding(2).forall(p => p.length < 2 || p(0)._5 >= p(1)._5),
          s"$name: query $q scores ${byRank.map(_._5).toSeq}")
        assert(!g.exists(_._4 == q), s"$name: query $q matched itself")
      }
    }
  }

  test("hardNegatives: near-positives excluded before the heap, ranks " +
      "contiguous, equals knnExact minus the excluded tier") {
    // planted geometry against anchor (1,0,0,0): id 1 is a near-dup
    // (cos ≈ 0.99995 — the false negative that must NOT be mined), ids
    // 2..5 descend through hard (0.9, 0.8) to easy (0.5, 0.0) negatives
    val rows = Seq(
      (100L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0.999f, 0.01f, 0f, 0f)),
      (2L, Seq(0.9f, 0.43589f, 0f, 0f)),
      (3L, Seq(0.8f, 0.6f, 0f, 0f)),
      (4L, Seq(0.5f, 0.866f, 0f, 0f)),
      (5L, Seq(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val anchors = rows.filter($"vec_id" === 100L)
    val got = Similarity.hardNegatives(rows, anchors,
        "vec_id", "embedding", "vec_id", "embedding",
        k = 2, maxCosMicro = 950000L)
      .select($"rank", $"neighbor_id").as[(Long, Long)].collect().sorted
    assert(got.toSeq === Seq((1L, 2L), (2L, 3L)),
      s"expected hard negatives 2,3 in rank order, got ${got.toSeq}")
    // the same top-2 WITHOUT the exclusion puts the near-dup first —
    // proving the threshold (not luck) removed it
    val plain = Similarity.knnExact(rows, anchors,
        "vec_id", "embedding", "vec_id", "embedding", k = 2)
      .select($"rank", $"neighbor_id").as[(Long, Long)].collect().sorted
    assert(plain.toSeq === Seq((1L, 1L), (2L, 2L)))
  }

  test("IVF recall beats the scanned-fraction baseline; full probe = exact") {
    val k = 5
    val centroids = vecs.filter($"vec_id" % 20 === 7)
    val nCells = centroids.count().toInt
    val exact = Similarity.knnExact(vecs, queries,
        "vec_id", "embedding", "vec_id", "embedding", k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.knnIvf(vecs, queries,
        "vec_id", "embedding", "vec_id", "embedding",
        centroids, "vec_id", "embedding", k = k, nprobe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    // these embeddings are near-unstructured, so the bar is "cells carry
    // signal": recall well above the ~nprobe/nCells scanned fraction
    assert(recall >= 2.0 * 3.0 / nCells, s"recall=$recall cells=$nCells")
    assert(ivf.size === exact.size) // still returns full k per query
    // probing every cell must reproduce the exact result identically
    val full = Similarity.knnIvf(vecs, queries,
        "vec_id", "embedding", "vec_id", "embedding",
        centroids, "vec_id", "embedding", k = k, nprobe = nCells)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full === exact)
    // the same holds with the hard-negative cut: hardNegativesIvf at a
    // full probe is hardNegatives, row for row
    def hn(df: DataFrame) = df.select("query_id", "rank", "neighbor_id",
      "cosine").as[(Long, Long, Long, Double)].collect().toSet
    val cut = 300000L
    val hnExact = hn(Similarity.hardNegatives(vecs, queries,
      "vec_id", "embedding", "vec_id", "embedding", k, maxCosMicro = cut))
    val hnFull = hn(Similarity.hardNegativesIvf(vecs, queries,
      "vec_id", "embedding", "vec_id", "embedding",
      centroids, "vec_id", "embedding", k = k, nprobe = nCells,
      maxCosMicro = cut))
    // the cut bites (some exact neighbor is a near-positive) and holds
    assert(hnExact.map(r => (r._1, r._3)) != exact)
    assert(hnExact.nonEmpty && hnExact.forall(_._4 < 0.3))
    assert(hnFull === hnExact)
  }

  test("knnIvfSweep arms are bit-identical to standalone knnIvf runs") {
    val centroids = vecs.filter($"vec_id" % 20 === 7)
    val arms = Seq(1, 2, 3)
    val sweep = Similarity.knnIvfSweep(vecs, queries,
        "vec_id", "embedding", "vec_id", "embedding",
        centroids, "vec_id", "embedding", k = 4, nprobes = arms)
      .select("nprobe", "query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long, Long)].collect().groupBy(_._1)
    arms.foreach { np =>
      val solo = Similarity.knnIvf(vecs, queries,
          "vec_id", "embedding", "vec_id", "embedding",
          centroids, "vec_id", "embedding", k = 4, nprobe = np)
        .select("query_id", "rank", "neighbor_id")
        .as[(Long, Long, Long)].collect().toSet
      val arm = sweep(np.toLong).map(r => (r._2, r._3, r._4)).toSet
      assert(arm === solo, s"nprobe=$np prefix-slice arm diverged")
    }
  }

  test("SRP near-dups: planted high-cosine pairs found, banding recall-only") {
    // plant a near-identical copy (dim-0 nudge, cos ≈ 0.9987 on unit-norm
    // vectors) of every 10th vector; the SRP tier must surface exactly the
    // planted pairs at a 0.95 threshold — nothing else in this corpus is
    // above 0.52 — and every reported cosine must pass the threshold
    // (precision is exact verification, only recall is probabilistic)
    val planted = vecs.filter($"vec_id" % 10 === 3)
      .select(($"vec_id" + 100000L).as("vec_id"),
        transform($"embedding", (x, i) =>
          x.cast("double") + when(i === 0, lit(0.05)).otherwise(lit(0.0)))
          .as("embedding"))
    val base = vecs.select($"vec_id",
      transform($"embedding", x => x.cast("double")).as("embedding"))
    val expected = base.filter($"vec_id" % 10 === 3)
      .select($"vec_id").as[Long].collect()
      .map(id => (id, id + 100000L)).toSet
    val got = Similarity.srpNearDups(base.unionByName(planted),
        "vec_id", "embedding", dims = 64, bits = 64, bands = 8,
        minCosine = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === expected)
  }

  test("SRP hyperplane weights are deterministic, bounded, and FNV-derived") {
    val w = Similarity.hyperplaneWeights(64, 64)
    assert(w.length === 64 && w.forall(_.length === 64))
    assert(w.flatten.forall(v => v >= -500 && v <= 500))
    // spot-check against an independently computed double FNV-1a 64 fold
    // (double: single-fold rows over sequential indices are correlated —
    // see the hyperplaneWeights scaladoc)
    import graft.plans.Fnv1a64Ops.{hashLong, Offset}
    val h = hashLong(Offset, hashLong(Offset, 0L))
    assert(w(0)(0) === ((h % 1001) + 1001) % 1001 - 500)
    assert(w.map(_.toSeq).toSeq ===
      Similarity.hyperplaneWeights(64, 64).map(_.toSeq).toSeq)
  }

  test("IVF candidate join is an equi-join on the cell id (no cartesian)") {
    val centroids = vecs.filter($"vec_id" % 20 === 7)
    val plan = Similarity.knnIvf(vecs, queries,
        "vec_id", "embedding", "vec_id", "embedding",
        centroids, "vec_id", "embedding", k = 5, nprobe = 3)
      .queryExecution.executedPlan.toString
    // the only nested-loop allowed is against the broadcast centroid set;
    // corpus-vs-query candidates must come from the cell equi-join
    assert(plan.contains("cell"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("knnRerank equals knnExact when m*k covers the corpus") {
    val k = 5
    val n = vecs.count().toInt
    val exact = Similarity.knnExact(vecs, queries,
        "vec_id", "embedding", "vec_id", "embedding", k)
      .select($"query_id", $"rank", $"neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    val reranked = Similarity.knnRerank(vecs, queries,
        "vec_id", "embedding", "vec_id", "embedding", k, m = n / k + 1)
      .select($"query_id", $"rank", $"neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(reranked === exact)
  }

  test("knnRerank returns k exact-ranked rows per query at small m") {
    val k = 5
    val res = Similarity.knnRerank(vecs, queries,
      "vec_id", "embedding", "vec_id", "embedding", k, m = 3)
    assert(res.count() === queries.count() * k)
    // within the candidate set the final order is by the EXACT cosine
    val bad = res.withColumn("prev",
        lag("cosine", 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy("rank")))
      .filter($"prev".isNotNull && $"prev" < $"cosine")
    assert(bad.count() === 0)
  }

  // ---- deterministic k-means ----------------------------------------------

  /** driver-side re-implementation of the whole fit+assign pipeline — the
    * independent twin the DuckDB oracle also follows (seeds by signed FNV
    * rank, argmax-cosine assignment with cell tiebreak, sign·(|sum| div n)
    * integer-mean update, empty cells keep their centroid)
    */
  private def lloydReference(rows: Seq[(Long, Seq[Double])], k: Int,
                             iters: Int): Map[Long, (Int, Double)] = {
    import graft.plans.Fnv1a64Ops
    val q = rows.map { case (id, v) =>
      id -> v.map(x => math.floor(x * 1e6 + 0.5).toLong) }.toMap
    def cos(a: Seq[Long], b: Seq[Long]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum /
        (math.sqrt(a.map(x => x * x).sum.toDouble) *
          math.sqrt(b.map(x => x * x).sum.toDouble))
    val seeds = rows.map(_._1)
      .sortBy(id => (Fnv1a64Ops.hashLong(Fnv1a64Ops.Offset, id), id))
      .take(k)
    var cent: Map[Int, Seq[Long]] =
      seeds.zipWithIndex.map { case (id, i) => (i + 1) -> q(id) }.toMap
    def assign(): Map[Long, Int] = q.map { case (id, v) =>
      id -> cent.toSeq.map { case (c, cv) => (c, cos(v, cv)) }
        .minBy { case (c, s) => (-s, c) }._1
    }
    for (_ <- 1 to iters) {
      val byCell = assign().toSeq.groupBy(_._2)
        .view.mapValues(_.map { case (id, _) => q(id) }).toMap
      cent = cent.map { case (c, old) =>
        c -> byCell.get(c).fold(old) { vs =>
          old.indices.map { d =>
            val s = vs.map(_(d)).sum
            math.signum(s) * (math.abs(s) / vs.size)
          }
        }
      }
    }
    q.map { case (id, v) =>
      val (c, s) = cent.toSeq.map { case (c, cv) => (c, cos(v, cv)) }
        .minBy { case (c, s) => (-s, c) }
      id -> (c, s)
    }
  }

  test("kmeansFit + kmeansAssign match an independent driver-side Lloyd") {
    val rows = vecs.filter($"vec_id" < 60)
      .select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq
      .map { case (id, v) => (id, v.map(_.toDouble)) }
    val expected = lloydReference(rows, k = 4, iters = 2)
    val corpus = vecs.filter($"vec_id" < 60)
    val cent = Similarity.kmeansFit(corpus, "vec_id", "embedding",
      k = 4, iters = 2)
    val got = Similarity.kmeansAssign(corpus, "vec_id", "embedding", cent)
      .select($"vec_id", $"cell", $"cosine")
      .as[(Long, Int, Double)].collect()
      .map { case (id, c, s) => id -> (c, s) }.toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (id, (c, s)) =>
      assert(c === expected(id)._1, s"cell for $id")
      assert(s === expected(id)._2, s"cosine for $id") // exact: same IEEE ops
    }
  }

  test("kmeansFold is EXACT: folding a batch into stored state equals the " +
      "state computed on the union under the same centroids") {
    // the incremental-maintenance contract (round-14 item 6): because the
    // state stores exact per-dim SUMS (not lossy integer means), adding
    // the batch's sums reproduces the union's Lloyd update bit-for-bit —
    // an O(batch) fold with no base re-scan
    val base = vecs.filter($"vec_id" % 10 =!= 9 && $"vec_id" < 200)
    val batch = vecs.filter($"vec_id" % 10 === 9 && $"vec_id" < 200)
    val cent = Similarity.kmeansFit(base, "vec_id", "embedding",
      k = 4, iters = 1)
    val folded = Similarity
      .kmeansFold(Similarity.kmeansStateAt(cent, base, "vec_id", "embedding"),
        batch, "vec_id", "embedding")
      .select($"cell", $"centroid", $"sums", $"n")
      .as[(Int, Seq[Long], Seq[Long], Long)].collect().sortBy(_._1)
    val union = Similarity
      .kmeansStateAt(cent, base.unionByName(batch), "vec_id", "embedding")
      .select($"cell", $"sums", $"n")
      .as[(Int, Seq[Long], Long)].collect().sortBy(_._1)
    assert(folded.map(_._1).toSeq === union.map(_._1).toSeq)
    folded.zip(union).foreach { case ((c, cv, s, n), (_, us, un)) =>
      assert(s === us, s"sums for cell $c")
      assert(n === un, s"n for cell $c")
      val expected =
        if (un == 0L) cv // carry — nothing to compare the mean against
        else us.map(x => (if (x < 0) -1L else 1L) * (math.abs(x) / un))
      assert(cv === expected, s"centroid for cell $c")
    }
    // folds CHAIN with sequential mini-batch semantics: the second batch
    // is assigned under the first fold's UPDATED centroids (the freshest
    // model — deliberately not the same partition as one big fold under
    // the original centroids), but no row is ever lost or double-counted
    val b1 = batch.filter($"vec_id" % 20 === 9)
    val b2 = batch.filter($"vec_id" % 20 =!= 9)
    val chained = Similarity.kmeansFold(
        Similarity.kmeansFold(
          Similarity.kmeansStateAt(cent, base, "vec_id", "embedding"),
          b1, "vec_id", "embedding"),
        b2, "vec_id", "embedding")
      .select($"sums", $"n").as[(Seq[Long], Long)].collect().toSeq
    assert(chained.map(_._2).sum === folded.map(_._4).sum)
    // and the total scaled mass is conserved exactly (sums are exact ints)
    assert(chained.flatMap(_._1).sum === folded.flatMap(_._3.toSeq).sum)
  }

  test("kmeansFold drift bound: on separated clusters the folded model " +
      "assigns the grown corpus identically to a from-scratch refit") {
    // two tight clusters around orthogonal axes; the batch adds points to
    // both. Centroid VALUES differ between fold (one Lloyd step) and
    // refit (fresh seeds + 2 rounds), but every assignment agrees — the
    // measured-equivalence posture for the incremental path.
    val mk = (id: Long, axis: Int, eps: Float) =>
      (id, Array.tabulate(4)(d =>
        (if (d == axis) 1f else 0f) + (if (d == (axis + 1) % 4) eps else 0f)))
    val base = (0L until 40L).map(i =>
      mk(i, if (i % 2 == 0) 0 else 2, (i % 5).toFloat * 0.01f))
    val batch = (100L until 120L).map(i =>
      mk(i, if (i % 2 == 0) 0 else 2, (i % 7).toFloat * 0.01f))
    val baseDf = base.toDF("vec_id", "embedding")
    val batchDf = batch.toDF("vec_id", "embedding")
    val full = baseDf.unionByName(batchDf)
    val folded = Similarity.kmeansFold(
      Similarity.kmeansState(baseDf, "vec_id", "embedding", k = 2, iters = 2),
      batchDf, "vec_id", "embedding")
    val refit = Similarity.kmeansFit(full, "vec_id", "embedding",
      k = 2, iters = 2)
    def cells(cent: org.apache.spark.sql.DataFrame) =
      Similarity.kmeansAssign(full, "vec_id", "embedding", cent)
        .select($"vec_id", $"cell").as[(Long, Int)].collect().toMap
    val a = cells(folded.select($"cell", $"centroid"))
    val b = cells(refit)
    // cell LABELS may permute between the two fits; compare the partition
    val groupsA = a.groupBy(_._2).values.map(_.keySet).toSet
    val groupsB = b.groupBy(_._2).values.map(_.keySet).toSet
    assert(groupsA === groupsB)
    assert(groupsA.size === 2)
  }

  test("pqFold is EXACT: folding a batch into stored PQ state equals the " +
      "union state under the same codebooks") {
    // the kmeansFold exactness claim per subspace (round-14 q177)
    val base = vecs.filter($"vec_id" % 10 =!= 9 && $"vec_id" < 200)
    val batch = vecs.filter($"vec_id" % 10 === 9 && $"vec_id" < 200)
    val cbs = Similarity.pqFit(base, "vec_id", "embedding",
        m = 4, kc = 4, iters = 1)
      .collect().map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Long](2).toArray)).toSeq
    val folded = Similarity
      .pqFold(Similarity.pqStateAt(cbs, base, "vec_id", "embedding"),
        batch, "vec_id", "embedding")
      .select($"subspace", $"cell", $"centroid", $"sums", $"n")
      .as[(Int, Int, Seq[Long], Seq[Long], Long)].collect()
      .sortBy(r => (r._1, r._2))
    val union = Similarity
      .pqStateAt(cbs, base.unionByName(batch), "vec_id", "embedding")
      .select($"subspace", $"cell", $"sums", $"n")
      .as[(Int, Int, Seq[Long], Long)].collect().sortBy(r => (r._1, r._2))
    assert(folded.map(r => (r._1, r._2)).toSeq ===
      union.map(r => (r._1, r._2)).toSeq)
    folded.zip(union).foreach { case ((j, c, cv, s, n), (_, _, us, un)) =>
      assert(s === us, s"sums for ($j, $c)")
      assert(n === un, s"n for ($j, $c)")
      val expected =
        if (un == 0L) cv
        else us.map(x => (if (x < 0) -1L else 1L) * (math.abs(x) / un))
      assert(cv === expected, s"codeword for ($j, $c)")
    }
  }

  test("ivfPqFold is EXACT: folding a batch into stored residual-PQ state " +
      "equals the union state under the same frozen coarse layer") {
    // the composite-index maintenance contract (round-15): the coarse
    // quantizer is FROZEN, so base rows route and residualize identically
    // whether or not the batch exists — adding the batch's residual sums
    // reproduces the union's per-subspace Lloyd update bit-for-bit
    val base = vecs.filter($"vec_id" % 10 =!= 9 && $"vec_id" < 200)
    val batch = vecs.filter($"vec_id" % 10 === 9 && $"vec_id" < 200)
    val km = Similarity.kmeansFit(base, "vec_id", "embedding",
      k = 4, iters = 1)
    val cbs = Similarity.ivfPqState(base, "vec_id", "embedding", km,
        m = 4, kc = 4, iters = 1)
      .select($"subspace", $"cell", $"centroid")
      .collect().map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Long](2).toArray)).toSeq
    val folded = Similarity
      .ivfPqFold(
        Similarity.ivfPqStateAt(cbs, base, "vec_id", "embedding", km),
        batch, "vec_id", "embedding", km)
      .select($"subspace", $"cell", $"centroid", $"sums", $"n")
      .as[(Int, Int, Seq[Long], Seq[Long], Long)].collect()
      .sortBy(r => (r._1, r._2))
    val union = Similarity
      .ivfPqStateAt(cbs, base.unionByName(batch), "vec_id", "embedding", km)
      .select($"subspace", $"cell", $"sums", $"n")
      .as[(Int, Int, Seq[Long], Long)].collect().sortBy(r => (r._1, r._2))
    assert(folded.map(r => (r._1, r._2)).toSeq ===
      union.map(r => (r._1, r._2)).toSeq)
    folded.zip(union).foreach { case ((j, c, cv, s, n), (_, _, us, un)) =>
      assert(s === us, s"sums for ($j, $c)")
      assert(n === un, s"n for ($j, $c)")
      val expected =
        if (un == 0L) cv
        else us.map(x => (if (x < 0) -1L else 1L) * (math.abs(x) / un))
      assert(cv === expected, s"codeword for ($j, $c)")
    }
  }

  test("energyFold equals a from-scratch refit EXACTLY, and the folded " +
      "permutation is the union's permutation") {
    // the OPQ permutation's model is d associative sums — the one fold in
    // the maintenance family with NO mini-batch caveat: fold == refit
    val base = vecs.filter($"vec_id" % 10 =!= 9 && $"vec_id" < 200)
    val batch = vecs.filter($"vec_id" % 10 === 9 && $"vec_id" < 200)
    val union = base.unionByName(batch)
    val folded = Similarity.energyFold(
        Similarity.energyState(base, "vec_id", "embedding"),
        batch, "vec_id", "embedding")
      .select($"dim", $"energy", $"n")
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    val refit = Similarity.energyState(union, "vec_id", "embedding")
      .select($"dim", $"energy", $"n")
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    assert(folded === refit)
    val foldedDf = Similarity.energyFold(
      Similarity.energyState(base, "vec_id", "embedding"),
      batch, "vec_id", "embedding")
    assert(Similarity.permutationFromState(foldedDf, m = 4) ===
      Similarity.energyPermutation(union, "vec_id", "embedding", m = 4))
    // chained folds are ALSO exact here (associativity — no drift)
    val b1 = batch.filter($"vec_id" % 20 === 9)
    val b2 = batch.filter($"vec_id" % 20 =!= 9)
    val chained = Similarity.energyFold(
        Similarity.energyFold(
          Similarity.energyState(base, "vec_id", "embedding"),
          b1, "vec_id", "embedding"),
        b2, "vec_id", "embedding")
      .select($"dim", $"energy", $"n")
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    assert(chained === refit)
  }

  // ---- deletion/retraction folds (round-16: the unfold family) ------------

  private def stateRows(df: org.apache.spark.sql.DataFrame) =
    df.select($"cell", $"centroid", $"sums", $"n")
      .as[(Int, Seq[Long], Seq[Long], Long)].collect().sortBy(_._1).toSeq

  private def pqStateRows(df: org.apache.spark.sql.DataFrame) =
    df.select($"subspace", $"cell", $"centroid", $"sums", $"n")
      .as[(Int, Int, Seq[Long], Seq[Long], Long)].collect()
      .sortBy(r => (r._1, r._2)).toSeq

  test("kmeansUnfold retracts a takedown EXACTLY: survivors' state under " +
      "the same centroids, with a one-Lloyd-update centroid") {
    // the takedown-from-a-fresh-state case: every corpus row (retracted
    // ones included) was assigned under the state's own centroids, so
    // subtracting the takedown's sums under those centroids IS the
    // survivors' stateAt — no survivor re-scan
    val all = vecs.filter($"vec_id" < 200)
    val takedown = all.filter($"vec_id" % 10 === 9)
    val survivors = all.filter($"vec_id" % 10 =!= 9)
    val cent = Similarity.kmeansFit(all, "vec_id", "embedding",
      k = 4, iters = 1)
    val unfolded = stateRows(Similarity.kmeansUnfold(
      Similarity.kmeansStateAt(cent, all, "vec_id", "embedding"),
      takedown, "vec_id", "embedding"))
    val surv = stateRows(
      Similarity.kmeansStateAt(cent, survivors, "vec_id", "embedding"))
    assert(unfolded.map(_._1) === surv.map(_._1))
    unfolded.zip(surv).foreach { case ((c, cv, s, n), (_, _, us, un)) =>
      assert(s === us, s"sums for cell $c")
      assert(n === un, s"n for cell $c")
      val expected =
        if (un == 0L) cv
        else us.map(x => (if (x < 0) -1L else 1L) * (math.abs(x) / un))
      assert(cv === expected, s"centroid for cell $c")
    }
  }

  test("kmeansUnfoldAt inverts a fold: unfold(fold(S, B), B, centroidsOf(S))" +
      " == S, bit-for-bit on a fold-output S") {
    val base = vecs.filter($"vec_id" % 10 =!= 9 && $"vec_id" < 200)
    val batch = vecs.filter($"vec_id" % 10 === 9 && $"vec_id" < 200)
    val b1 = batch.filter($"vec_id" % 20 === 9)
    val b2 = batch.filter($"vec_id" % 20 =!= 9)
    val cent = Similarity.kmeansFit(base, "vec_id", "embedding",
      k = 4, iters = 1)
    val s0 = Similarity.kmeansStateAt(cent, base, "vec_id", "embedding")
      .localCheckpoint()
    val s1 = Similarity.kmeansFold(s0, b1, "vec_id", "embedding")
      .localCheckpoint()
    val s2 = Similarity.kmeansFold(s1, b2, "vec_id", "embedding")
    // full roundtrip on a fold-output state: S1 is itself a fold, so its
    // centroid is sign·(|sums| div n) of its own sums, and the unfold's
    // re-derive restores it exactly — centroid included
    assert(stateRows(Similarity.kmeansUnfoldAt(s2, b2, "vec_id", "embedding",
      s1.select($"cell", $"centroid"))) === stateRows(s1))
    // on a FRESH state (centroid = the fitted model, one Lloyd update
    // behind its own sums) the roundtrip restores sums and counts exactly;
    // the centroid comes back as the update half over S0's mass — the same
    // frame an empty-batch fold produces
    val back = stateRows(Similarity.kmeansUnfoldAt(s1, b1, "vec_id",
      "embedding", s0.select($"cell", $"centroid")))
    val fresh = stateRows(s0)
    assert(back.map(r => (r._1, r._3, r._4)) ===
      fresh.map(r => (r._1, r._3, r._4)))
    assert(back === stateRows(Similarity.kmeansFold(
      s0, base.filter(lit(false)), "vec_id", "embedding")))
  }

  // the foreign-batch refusal, once per member of the Lloyd family: twice
  // the corpus retracted from its own state must drive a count below zero
  Seq[(String, DataFrame => DataFrame)](
    "kmeansUnfold" -> { base =>
      val cent = Similarity.kmeansFit(base, "vec_id", "embedding",
        k = 4, iters = 1)
      Similarity.kmeansUnfold(
        Similarity.kmeansStateAt(cent, base, "vec_id", "embedding"),
        base.unionByName(base), "vec_id", "embedding")
    },
    "pqUnfold" -> { base =>
      Similarity.pqUnfold(Similarity.pqState(base, "vec_id", "embedding",
          m = 4, kc = 4, iters = 1),
        base.unionByName(base), "vec_id", "embedding")
    },
    "ivfPqUnfold" -> { base =>
      val km = Similarity.kmeansFit(base, "vec_id", "embedding",
        k = 4, iters = 1)
      Similarity.ivfPqUnfold(Similarity.ivfPqState(base, "vec_id",
          "embedding", km, m = 4, kc = 4, iters = 1),
        base.unionByName(base), "vec_id", "embedding", km)
    }
  ).foreach { case (name, unfoldDoubled) =>
    test(s"$name refuses a foreign batch loudly (negative cell count)") {
      val e = intercept[IllegalArgumentException] {
        unfoldDoubled(vecs.filter($"vec_id" < 100))
      }
      assert(e.getMessage.contains("negative"))
    }
  }

  // an UnfoldAt model with a cell the state lacks must not drop that
  // cell's rows silently: a k=4 (kc=4) state retracted under k=5 (kc=5)
  Seq[(String, (DataFrame, DataFrame) => DataFrame)](
    "kmeansUnfoldAt" -> { (base, batch) =>
      def fit(k: Int) = Similarity.kmeansFit(base, "vec_id", "embedding",
        k = k, iters = 1)
      Similarity.kmeansUnfoldAt(
        Similarity.kmeansStateAt(fit(4), base, "vec_id", "embedding"),
        batch, "vec_id", "embedding", fit(5))
    },
    "pqUnfoldAt" -> { (base, batch) =>
      def fit(kc: Int) = Similarity.collectCodebooks(Similarity.pqFit(base,
        "vec_id", "embedding", m = 4, kc = kc, iters = 1))
      Similarity.pqUnfoldAt(
        Similarity.pqStateAt(fit(4), base, "vec_id", "embedding"),
        batch, "vec_id", "embedding", fit(5))
    }
  ).foreach { case (name, unfoldAtLarger) =>
    test(s"$name refuses a fold-time model with cells the state lacks") {
      val base = vecs.filter($"vec_id" < 100)
      val e = intercept[IllegalArgumentException] {
        unfoldAtLarger(base, base.filter($"vec_id" % 10 === 9))
      }
      assert(e.getMessage.contains("fold-time model"))
    }
  }

  test("pqUnfold retracts a takedown EXACTLY per subspace, and pqUnfoldAt " +
      "inverts a fold on a fold-output state") {
    val all = vecs.filter($"vec_id" < 200)
    val takedown = all.filter($"vec_id" % 10 === 9)
    val survivors = all.filter($"vec_id" % 10 =!= 9)
    val cbs = Similarity.pqFit(all, "vec_id", "embedding",
        m = 4, kc = 4, iters = 1)
      .collect().map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Long](2).toArray)).toSeq
    val unfolded = pqStateRows(Similarity.pqUnfold(
      Similarity.pqStateAt(cbs, all, "vec_id", "embedding"),
      takedown, "vec_id", "embedding"))
    val surv = pqStateRows(
      Similarity.pqStateAt(cbs, survivors, "vec_id", "embedding"))
    assert(unfolded.map(r => (r._1, r._2)) === surv.map(r => (r._1, r._2)))
    unfolded.zip(surv).foreach { case ((j, c, cv, s, n), (_, _, _, us, un)) =>
      assert(s === us, s"sums for ($j, $c)")
      assert(n === un, s"n for ($j, $c)")
      val expected =
        if (un == 0L) cv
        else us.map(x => (if (x < 0) -1L else 1L) * (math.abs(x) / un))
      assert(cv === expected, s"codeword for ($j, $c)")
    }
    // fold inverse on a fold-output state (full equality incl. codewords)
    val base = all.filter($"vec_id" % 10 =!= 9)
    val b1 = all.filter($"vec_id" % 20 === 9)
    val b2 = all.filter($"vec_id" % 10 === 9 && $"vec_id" % 20 =!= 9)
    val s0 = Similarity.pqStateAt(cbs, base, "vec_id", "embedding")
    val s1 = Similarity.pqFold(s0, b1, "vec_id", "embedding")
      .localCheckpoint()
    val s2 = Similarity.pqFold(s1, b2, "vec_id", "embedding")
    val s1cbs = s1.select($"subspace", $"cell", $"centroid")
      .collect().map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Long](2).toArray)).toSeq
    assert(pqStateRows(Similarity.pqUnfoldAt(s2, b2, "vec_id", "embedding",
      s1cbs)) === pqStateRows(s1))
  }

  test("ivfPqUnfold retracts a takedown EXACTLY in the frozen coarse " +
      "layer's residual space") {
    val all = vecs.filter($"vec_id" < 200)
    val takedown = all.filter($"vec_id" % 10 === 9)
    val survivors = all.filter($"vec_id" % 10 =!= 9)
    val km = Similarity.kmeansFit(all, "vec_id", "embedding",
      k = 4, iters = 1)
    val cbs = Similarity.ivfPqState(all, "vec_id", "embedding", km,
        m = 4, kc = 4, iters = 1)
      .select($"subspace", $"cell", $"centroid")
      .collect().map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Long](2).toArray)).toSeq
    val unfolded = pqStateRows(Similarity.ivfPqUnfold(
      Similarity.ivfPqStateAt(cbs, all, "vec_id", "embedding", km),
      takedown, "vec_id", "embedding", km))
    val surv = pqStateRows(
      Similarity.ivfPqStateAt(cbs, survivors, "vec_id", "embedding", km))
    assert(unfolded.map(r => (r._1, r._2)) === surv.map(r => (r._1, r._2)))
    unfolded.zip(surv).foreach { case ((j, c, cv, s, n), (_, _, _, us, un)) =>
      assert(s === us, s"sums for ($j, $c)")
      assert(n === un, s"n for ($j, $c)")
      val expected =
        if (un == 0L) cv
        else us.map(x => (if (x < 0) -1L else 1L) * (math.abs(x) / un))
      assert(cv === expected, s"codeword for ($j, $c)")
    }
    // fold inverse under the SAME frozen coarse layer
    val base = all.filter($"vec_id" % 10 =!= 9)
    val s0 = Similarity.ivfPqStateAt(cbs, base, "vec_id", "embedding", km)
    val s1 = Similarity.ivfPqFold(s0, takedown, "vec_id", "embedding", km)
      .localCheckpoint()
    val b2 = all.filter($"vec_id" % 20 === 9)
    val s2 = Similarity.ivfPqFold(s1, b2, "vec_id", "embedding", km)
    val s1cbs = s1.select($"subspace", $"cell", $"centroid")
      .collect().map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Long](2).toArray)).toSeq
    assert(pqStateRows(Similarity.ivfPqUnfoldAt(s2, b2, "vec_id",
      "embedding", km, s1cbs)) === pqStateRows(s1))
  }

  test("energyUnfold IS a refit on the difference: survivors' state " +
      "row-for-row, roundtrip identity, and the survivors' permutation") {
    val all = vecs.filter($"vec_id" < 200)
    val takedown = all.filter($"vec_id" % 10 === 9)
    val survivors = all.filter($"vec_id" % 10 =!= 9)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"dim", $"energy", $"n")
        .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    val stateAll = Similarity.energyState(all, "vec_id", "embedding")
    val unfolded = Similarity.energyUnfold(stateAll, takedown,
      "vec_id", "embedding")
    assert(rows(unfolded) ===
      rows(Similarity.energyState(survivors, "vec_id", "embedding")))
    assert(Similarity.permutationFromState(unfolded, m = 4) ===
      Similarity.energyPermutation(survivors, "vec_id", "embedding", m = 4))
    // roundtrip: unfold(fold(S, B), B) == S exactly (associative sums)
    val s0 = Similarity.energyState(survivors, "vec_id", "embedding")
    assert(rows(Similarity.energyUnfold(
      Similarity.energyFold(s0, takedown, "vec_id", "embedding"),
      takedown, "vec_id", "embedding")) === rows(s0))
  }

  test("energyUnfold refuses a batch never folded in, at execution") {
    val state = Similarity.energyState(vecs.filter($"vec_id" < 50),
      "vec_id", "embedding")
    // 100 foreign vectors out of a 50-vector state: every dim's n < 0
    val foreign = vecs.filter($"vec_id" >= 100 && $"vec_id" < 200)
    val unfolded = Similarity.energyUnfold(state, foreign, "vec_id",
      "embedding")
    val e = intercept[Exception](unfolded.select($"dim").collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null &&
      m.contains("energyUnfold") && m.contains("negative")),
      s"unhelpful error: ${messages(e)}")
  }

  test("assignmentDrift: planted occupancy shift fires the refit flag, an " +
      "identical batch stays at tv 0, an empty batch reports NULLs") {
    // two orthogonal-axis centroids; base splits 50/50. A batch living
    // entirely on axis 0 has occupancy (1000, 0) vs base (500, 500):
    // tv = (|500-1000| + |500-0|)/2 = 500 >= 100 -> flag.
    val cent = Seq((1, Seq(1000000L, 0L, 0L, 0L)),
      (2, Seq(0L, 1000000L, 0L, 0L))).toDF("cell", "centroid")
    def mk(rows: Seq[(Long, Int)]) = rows.map { case (id, axis) =>
      (id, Array.tabulate(4)(d => if (d == axis) 1f else 0f))
    }.toDF("vec_id", "embedding")
    val base = mk((0L until 20L).map(i => (i, (i % 2).toInt)))
    val shifted = base.unionByName(
      mk((100L until 110L).map(i => (i, 0))))
    val driftShift = Similarity.assignmentDrift(shifted, "vec_id",
        "embedding", cent, col("vec_id") >= 100L)
      .orderBy("cell").collect()
    assert(driftShift.map(_.getLong(8)).toSeq === Seq(500L, 500L))
    assert(driftShift.map(_.getLong(9)).toSeq === Seq(1L, 1L))
    assert(driftShift(0).getLong(3) === 500L) // base share cell 1
    assert(driftShift(0).getLong(4) === 1000L) // batch share cell 1
    assert(driftShift(0).getLong(6) === 1000000L) // exact alignment
    // identical distribution: shares equal, tv 0, quiet
    val same = base.unionByName(
      mk((100L until 120L).map(i => (i, (i % 2).toInt))))
    val driftSame = Similarity.assignmentDrift(same, "vec_id",
        "embedding", cent, col("vec_id") >= 100L)
      .orderBy("cell").collect()
    assert(driftSame.map(_.getLong(8)).toSeq === Seq(0L, 0L))
    assert(driftSame.map(_.getLong(9)).toSeq === Seq(0L, 0L))
    // no batch rows at all: batch-side metrics NULL, flag never fires
    val driftEmpty = Similarity.assignmentDrift(base, "vec_id",
        "embedding", cent, col("vec_id") >= 100L)
      .orderBy("cell").collect()
    assert(driftEmpty.forall(_.isNullAt(4))) // batch share NULL
    assert(driftEmpty.forall(_.isNullAt(8))) // tv NULL
    assert(driftEmpty.map(_.getLong(9)).toSeq === Seq(0L, 0L))
  }

  test("kmeansFit is stable under repartitioning and never shrinks k") {
    val cent = Similarity.kmeansFit(vecs, "vec_id", "embedding",
      k = 8, iters = 2)
    val centShuffled = Similarity.kmeansFit(vecs.repartition(7),
      "vec_id", "embedding", k = 8, iters = 2)
    assert(cent.count() === 8)
    val a = cent.select($"cell", $"centroid").as[(Int, Seq[Long])]
      .collect().toMap
    val b = centShuffled.select($"cell", $"centroid").as[(Int, Seq[Long])]
      .collect().toMap
    assert(a === b)
  }

  test("autoSemanticK holds occupancy constant, then caps k at sqrt(n)") {
    // k ∝ n keeps the Σ|cell|² pair join linear (n·targetPerCell) — a
    // FIXED k measured 14.5× wall on 10× data; the floor reproduces the
    // hand-tuned sf0.01/sf0.1 value so small fixtures are unchanged; the
    // √n cap keeps the n·k assignment from becoming the quadratic term
    assert(Similarity.autoSemanticK(500) === 8)   // sf0.01: floor wins
    assert(Similarity.autoSemanticK(2040) === 8)  // sf0.1 augmented frame
    assert(Similarity.autoSemanticK(20000) === 79) // occupancy regime
    assert(Similarity.autoSemanticK(200000) === 448) // cap: ceil(sqrt(n))
    // occupancy rules below the crossover n = targetPerCell², cap above
    for (n <- Seq(10000L, 60000L))
      assert(n.toDouble / Similarity.autoSemanticK(n) <= 256.0)
    for (n <- Seq(100000L, 1000000L)) {
      val k = Similarity.autoSemanticK(n)
      assert(k === math.ceil(math.sqrt(n.toDouble)).toInt)
    }
  }

  test("literal and broadcast-argmax assignment paths agree exactly") {
    // the k-dispatch (LiteralAssignMaxK) must be invisible in results:
    // same argmax cosine, same lower-cell tiebreak, bit-identical cosines
    val q = vecs.limit(200)
      .select($"vec_id".as("__id"), Similarity.quantize($"embedding").as("__qv"))
      .withColumn("__qn", Similarity.dotLong($"__qv", $"__qv"))
    val cent = Similarity.kmeansFit(vecs, "vec_id", "embedding",
        k = 8, iters = 1)
      .select($"cell", $"centroid").collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).sortBy(_._1).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"__id", $"cell", $"__cos").as[(Long, Int, Double)]
        .collect().sortBy(_._1).toSeq
    assert(rows(Similarity.assignLiteral(q, cent))
      === rows(Similarity.assignArgmax(q, cent)))
  }

  test("semanticDedupVerdict drops exact replants to their source") {
    val base = vecs.filter($"vec_id" < 100).select($"vec_id", $"embedding")
    // exact duplicates at id+1000: identical vectors share every cosine, so
    // they land in the source's cell and die to it (min-id keep)
    val plants = base.filter($"vec_id" % 10 === 0)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
    val verdict = Similarity.semanticDedupVerdict(base.unionByName(plants),
      "vec_id", "embedding", k = 4, iters = 1, minCosine = 0.999)
    val dropped = verdict.filter($"keep" === 0)
      .select($"vec_id", $"dup_of").as[(Long, Long)].collect().toMap
    val expectedDrops = base.filter($"vec_id" % 10 === 0)
      .select($"vec_id").as[Long].collect().map(id => (id + 1000L) -> id).toMap
    assert(dropped === expectedDrops)
    assert(verdict.filter($"keep" === 1 && $"dup_of".isNotNull).count() === 0)
  }

  test("gramMatrix equals the driver-side cross-moment sums and is " +
      "repartition-stable") {
    val rows = Seq(
      ("a", Seq(1.0f, 2.0f, -1.0f)),
      ("a", Seq(0.5f, -0.25f, 3.0f)),
      ("b", Seq(2.0f, 0.0f, 1.0f)))
    val df = rows.toDF("grp", "vec")
    val got = Similarity.gramMatrix(df, "grp", "vec")
      .select("grp", "i", "j", "n", "s")
      .as[(String, Int, Int, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> ((r._4, r._5))).toMap
    // independent driver-side computation with the same quantization
    def q(x: Float): Long = math.floor(x.toDouble * 1e6 + 0.5).toLong
    val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
      for (i <- 1 to 3; j <- i to 3) yield (g, i, j) ->
        ((rs.size.toLong,
          rs.map(r => q(r._2(i - 1)) * q(r._2(j - 1))).sum))
    }
    assert(got === want)
    assert(got.size === 2 * 6) // 2 groups x upper triangle of 3x3
    val reparted = Similarity.gramMatrix(df.repartition(7), "grp", "vec")
      .select("grp", "i", "j", "n", "s")
      .as[(String, Int, Int, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> ((r._4, r._5))).toMap
    assert(reparted === got)
  }

  test("pcaTopComponent recovers a planted dominant direction") {
    // 40 vectors strongly along e1 with small e2/e3 noise: the Gram
    // matrix's top eigenvector must align with e1
    val rnd = new scala.util.Random(7)
    val planted = (1 to 40).map { _ =>
      val s = if (rnd.nextBoolean()) 1.0f else -1.0f
      ("x", Seq(s * (0.9f + rnd.nextFloat() * 0.1f),
        (rnd.nextFloat() - 0.5f) * 0.1f, (rnd.nextFloat() - 0.5f) * 0.1f))
    }
    val gram = Similarity.gramMatrix(planted.toDF("grp", "vec"), "grp", "vec")
      .select("i", "j", "s").as[(Int, Int, Long)].collect()
    val v = Similarity.pcaTopComponent(gram, d = 3)
    assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9)
    assert(math.abs(v(0)) > 0.99, s"component ${v.toSeq} must align with e1")
    // sign contract: largest-magnitude coordinate is positive
    assert(v(0) > 0)
    // determinism: a second run is bit-identical
    assert(Similarity.pcaTopComponent(gram, d = 3).toSeq === v.toSeq)
  }

  test("pqEncode is argmin-L2 (not cosine), ties to the lower cell") {
    // j=0: c1 = (4e6, 0) is COLINEAR with x's subvector (1e6, 0) — cosine
    // would pick it — but c2 = (1e6, 0.5e6) is far closer in L2
    // (0.25e12 vs 9e12): the code must be 2, pinning the metric.
    // j=1: x's subvector (1e6, 0) is equidistant from (1e6, 1e6) and
    // (1e6, -1e6) (dist² = 1e12 each): tie must go to cell 1.
    val cb = Seq(
      (0, 1, Array(4000000L, 0L)), (0, 2, Array(1000000L, 500000L)),
      (1, 1, Array(1000000L, 1000000L)), (1, 2, Array(1000000L, -1000000L)))
    val corpus = Seq((7L, Seq(1.0f, 0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.pqEncode(corpus, "vec_id", "embedding", cb)
      .as[(Long, Seq[Int])].collect().toSeq
    assert(got === Seq((7L, Seq(2, 1))))
  }

  test("pqTopK ranks by the hand-computed ADC lookup sum") {
    // codebook j=0: c1=(1e6,0), c2=(0,1e6); j=1: c1=(1e6,0), c2=(0,1e6).
    // corpus: a=(1,0,1,0)->codes(1,1), b=(0,1,1,0)->codes(2,1),
    //         c=(0,1,0,1)->codes(2,2)
    // query q=(1,0,0,1): lut dots j0: c1=1e12, c2=0; j1: c1=0, c2=1e12.
    // ADC: a = 1e12+0, b = 0+0, c = 0+1e12 -> ranking (a, c tie at 1e12 ->
    // lower id first), then b at 0.
    val cb = Seq(
      (0, 1, Array(1000000L, 0L)), (0, 2, Array(0L, 1000000L)),
      (1, 1, Array(1000000L, 0L)), (1, 2, Array(0L, 1000000L)))
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f, 1.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 1.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((9L, Seq(1.0f, 0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(corpus, queries, "vec_id", "embedding",
        "vec_id", "embedding", cb, k = 3)
      .orderBy("rank")
      .select("query_id", "rank", "neighbor_id", "adc_dot")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((9L, 1L, 1L, 1000000000000L),
      (9L, 2L, 3L, 1000000000000L), (9L, 3L, 2L, 0L)))
  }

  test("pqFit shape, determinism, and fit∘encode argmin self-consistency") {
    val rnd = new scala.util.Random(42)
    val corpus = (1L to 60L).map { i =>
      (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val cb = Similarity.collectCodebooks(Similarity.pqFit(
      corpus, "vec_id", "embedding", m = 4, kc = 3, iters = 2))
    assert(cb.size === 12)
    assert(cb.map(c => (c._1, c._2)).toSet ===
      (for (j <- 0 until 4; c <- 1 to 3) yield (j, c)).toSet)
    assert(cb.forall(_._3.length === 2))
    // determinism: a second fit is bit-identical
    val cb2 = Similarity.collectCodebooks(Similarity.pqFit(
      corpus, "vec_id", "embedding", m = 4, kc = 3, iters = 2))
    assert(cb2.map(c => (c._1, c._2, c._3.toSeq)) ===
      cb.map(c => (c._1, c._2, c._3.toSeq)))
    // every emitted code is the true argmin-L2 codeword of that subvector,
    // recomputed here from first principles over the quantized vectors
    val byJ = cb.groupBy(_._1)
    val qv = corpus.select(col("vec_id"),
        Similarity.quantize(col("embedding")).as("q"))
      .as[(Long, Seq[Long])].collect().toMap
    val codes = Similarity.pqEncode(corpus, "vec_id", "embedding", cb)
      .as[(Long, Seq[Int])].collect()
    codes.foreach { case (id, cs) =>
      cs.zipWithIndex.foreach { case (code, j) =>
        val sv = qv(id).slice(j * 2, (j + 1) * 2)
        val best = byJ(j).map { case (_, cell, w) =>
          val d2 = sv.zip(w).map { case (x, c) => (x - c) * (x - c) }.sum
          (d2, cell)
        }.minBy(identity)._2
        assert(code === best, s"id=$id j=$j")
      }
    }
  }

  test("recallAtK counts set hits per query; misses and extras don't score") {
    // q1: exact {10,11,12}, approx {11,12,13} -> 2 hits, 666 permille
    // q2: exact {20,21,22}, approx {}        -> 0 hits (LEFT join path)
    // q3: exact {30,31,32}, approx all 3 + an extra neighbor the exact
    //     side lacks (extras must not inflate recall) -> 1000 permille
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L),
      (2L, 22L), (3L, 30L), (3L, 31L), (3L, 32L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 11L), (1L, 12L), (1L, 13L), (3L, 30L), (3L, 31L),
      (3L, 32L), (3L, 33L))
      .toDF("query_id", "neighbor_id")
    val got = Similarity.recallAtK(exact, approx, "query_id", "neighbor_id",
        k = 3)
      .orderBy("query_id")
      .select("query_id", "evaluated", "hits", "recall_permille")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 3L, 2L, 666L), (2L, 3L, 0L, 0L),
      (3L, 3L, 3L, 1000L)))
  }

  test("energyPermutation deals dims round-robin by energy rank") {
    // one row, energies d2 > d0 > d3 > d1 (quantized squares 4e12, 1e12,
    // 2.5e11, 1e10): ranks (d2, d0, d3, d1); with m=2, sub=2 rank r lands
    // at (r%2)*2 + r/2, so perm = [d2, d3, d0, d1] — subspace 0 holds the
    // 1st+3rd energy, subspace 1 the 2nd+4th: the balanced deal, where
    // contiguous slices would pair {2nd,4th} against {1st,3rd}.
    val corpus = Seq((1L, Seq(1.0f, 0.1f, 2.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val perm = Similarity.energyPermutation(corpus, "vec_id", "embedding",
      m = 2)
    assert(perm === Seq(2, 3, 0, 1))
    val permuted = Similarity.permuteVec(corpus, "embedding", perm)
      .select("embedding").as[Seq[Float]].collect().head
    assert(permuted === Seq(2.0f, 0.5f, 1.0f, 0.1f))
  }

  test("energyPermutation matches a first-principles driver twin; " +
    "permuteVec preserves dot products") {
    val rnd = new scala.util.Random(7)
    // anisotropic: dim i scaled by (i % 5 + 1), so energies are unequal
    val rows = (1L to 40L).map { i =>
      (i, Seq.tabulate(8)(j => (rnd.nextFloat() * 2 - 1) * (j % 5 + 1)))
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val m = 4
    val perm = Similarity.energyPermutation(corpus, "vec_id", "embedding",
      m = m)
    // twin: quantize exactly like the operator, rank by (energy desc, dim)
    val qrows = rows.map(_._2.map(x =>
      math.floor(x.toDouble * 1e6 + 0.5).toLong))
    val energies = (0 until 8).map(d =>
      (d, qrows.map(v => v(d) * v(d)).sum))
    val ranked = energies.sortBy { case (d, e) => (-e, d) }.map(_._1)
    val expected = new Array[Int](8)
    ranked.zipWithIndex.foreach { case (dim, r) =>
      expected((r % m) * 2 + r / m) = dim
    }
    assert(perm === expected.toSeq)
    assert(perm.sorted === (0 until 8))
    // dots are permutation-invariant: quantized dot of the first two rows
    // is identical in permuted and original space
    val q = Similarity.quantize(col("embedding"))
    def firstDot(df: org.apache.spark.sql.DataFrame): Long = {
      val two = df.filter(col("vec_id") <= 2).select(q.as("qv"))
        .as[Seq[Long]].collect()
      two(0).zip(two(1)).map { case (a, b) => a * b }.sum
    }
    assert(firstDot(Similarity.permuteVec(corpus, "embedding", perm))
      === firstDot(corpus))
  }

  test("hashedTfVectors: dense FNV-bucket counts match a driver twin; " +
    "zero-token docs drop; non-power-of-two rejected") {
    val docs = Seq(
      (1L, "The cat  sat on\tthe MAT"),
      (2L, "cat cat cat"),
      (3L, "   "), // zero tokens -> no vector
      (4L, "tail token zoo"))
      .toDF("doc_id", "text")
    val got = Similarity.hashedTfVectors(docs, "doc_id", "text",
        buckets = 64)
      .orderBy("doc_id").as[(Long, Seq[Long])].collect().toSeq
    def twin(s: String): Seq[Long] = {
      val v = new Array[Long](64)
      s.trim.toLowerCase.split("[ \t\n\f\r]+").filter(_.nonEmpty)
        .foreach { w =>
          val h = graft.plans.Fnv1a64Ops.hashString(
            graft.plans.Fnv1a64Ops.Offset,
            org.apache.spark.unsafe.types.UTF8String.fromString(w))
          v(java.lang.Math.floorMod(h, 64L).toInt) += 1
        }
      v.toSeq
    }
    assert(got.map(_._1) === Seq(1L, 2L, 4L))
    assert(got === Seq((1L, twin("The cat  sat on\tthe MAT")),
      (2L, twin("cat cat cat")), (4L, twin("tail token zoo"))))
    // the repeated token really counts 3, in exactly one bucket
    assert(got(1)._2.sum === 3L && got(1)._2.count(_ > 0) === 1)
    intercept[IllegalArgumentException] {
      Similarity.hashedTfVectors(docs, "doc_id", "text", buckets = 48)
    }
  }
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * All similarity math runs on embeddings quantized to scaled longs
  * (`round(x · 1e6)`): every product and partial sum stays an exact integer
  * below 2^53, so the dot product is order-independent and bit-identical in
  * any engine, and the cosine derived from it (exact ints → correctly-rounded
  * sqrt/divide) is deterministic enough for hash-exact oracle comparison —
  * the same trick as `XDet.moneySum` for money columns.
  *
  * Scale shapes: [[knnExact]] is the O(|corpus|·|queries|) correctness
  * baseline (queries broadcast — use only with a bounded query set);
  * [[knnIvf]] is the 100 TB path — corpus rows are partitioned into coarse
  * cells (nearest centroid), queries probe only their `nprobe` closest
  * cells, and the candidate join is an equi-join on the cell id.
  */
object Similarity {

  val DefaultScale: Double = 1e6

  /** Density-adaptive cell count for [[semanticDedupVerdict]]: enough cells
    * that each holds ~`targetPerCell` rows, floored at `minK`, capped at
    * ⌈√n⌉. Constant occupancy keeps the within-cell pair join linear in
    * the corpus (Σ|cell|² = k·(n/k)² = n·targetPerCell) — a FIXED k grows
    * it n²/k (measured 14.5× wall on 10× data before the rule). The √n cap
    * is the other side of the same trade: assignment costs n·k dots, so
    * k ∝ n makes IT the n²/t term once n > t² ≈ 65k; k = √n is the
    * asymptotic balance point (both terms n^1.5). Below 65k rows the cap
    * never binds, so the sf0.01/sf0.1 fixtures land on the same k = 8 the
    * query originally hand-picked — the same
    * reproduce-the-tuned-small-scale-value shape as
    * [[graft.ext.GridNearestJoin.autoCellDeg]].
    */
  def autoSemanticK(n: Long, targetPerCell: Long = 256L, minK: Int = 8): Int = {
    val byOccupancy = (n + targetPerCell - 1) / targetPerCell
    val cap = math.ceil(math.sqrt(n.toDouble)).toLong
    math.max(minK.toLong, math.min(byOccupancy, cap)).toInt
  }

  /** embedding → scaled-long vector. Quantized via `floor(x·scale + 0.5)`,
    * NOT `round`: Spark's round goes through BigDecimal on the shortest
    * decimal representation while DuckDB rounds the binary double, and the
    * two disagree on values a hair under .5 boundaries. floor(+0.5) is plain
    * IEEE arithmetic — bit-identical in every engine.
    */
  def quantize(vec: Column, scale: Double = DefaultScale): Column =
    transform(vec, x => floor(x * scale + lit(0.5)).cast("long"))

  /** Exact integer dot product of two scaled-long vectors — the native
    * [[graft.plans.DotLongExpression]] (a tight loop in codegen AND
    * interpreted eval). The declarative alternatives both lose in the hot
    * paths (|corpus|×|queries| scans, corpus×centroid argmax): a
    * `zip_with`+`aggregate` fold evaluates interpreted with per-element
    * boxing, and a static Σ element_at·element_at unroll blows the
    * whole-stage-codegen method past the JVM's 64 KB limit under ANSI
    * (janino then rejects the stage and the WHOLE stage runs interpreted —
    * measured ~50× on the pair stages). See the expression's scaladoc.
    */
  def dotLong(a: Column, b: Column): Column =
    graft.plans.DotLongExpression.dot(a, b)

  /** cosine from scaled-long vectors and their precomputed self-dots */
  def cosineFromQuantized(a: Column, b: Column, na: Column, nb: Column): Column =
    dotLong(a, b) / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  /** (idAlias, __qv quantized vector, __qn self-dot) projection */
  private def prep(df: DataFrame, id: String, vec: String, idAlias: String,
                   scale: Double): DataFrame =
    df.select(col(id).as(idAlias), quantize(col(vec), scale).as("__qv"))
      .withColumn("__qn", dotLong(col("__qv"), col("__qv")))

  /** `df` plus its quantized vector (`__qv`) and self-dot (`__qn`). */
  private def withQuantized(df: DataFrame, vec: String,
                            scale: Double): DataFrame =
    df.withColumn("__qv", quantize(col(vec), scale))
      .withColumn("__qn", dotLong(col("__qv"), col("__qv")))

  // ---- the top-k search kernel --------------------------------------------

  /** The search kernel's one ranker: per `key`, the `k` best `id`s of
    * `rows` by (`score` desc, id asc) as `__tk`, an array of (score, id);
    * `keep`, a condition on the score column `__s`, filters before the
    * heap, and `extra` aggregates ride the same aggregation. Every search
    * entry point and the IVF probe rank here, under one rule:
    *  - [[graft.plans.TopKByAggregate]], not a window: the candidate
    *    product dies MAP-SIDE in O(k) mergeable state and the one exchange
    *    carries k·|keys| rows (the window form sorted the whole product:
    *    80× wall at 10× data on the re-rank);
    *  - [[pinnedScore]] wraps the score ATTRIBUTE at the aggregate, never
    *    the scoring expression (755 s at sf1 vs 8 s for the same-shaped
    *    q146 before pqTopK matched this placement);
    *  - exclusions (self-matches, the hard-negative cut) run before the
    *    heap, so excluded rows never occupy slots;
    *  - ids may be any integral type, cast to bigint here once (ties to
    *    the lower id; on bigint input the optimizer drops the cast);
    *  - scores are doubles; PQ's exact long ADC dots (≤ d·scale² < 2⁵³)
    *    fit one exactly;
    *  - the PQ paths pin their encoded corpus ([[pqTopK]]) and the IVF
    *    paths assign cells with [[assignCellsQ]].
    */
  private def topK(rows: DataFrame, key: String, score: Column, id: String,
                   k: Int, keep: Option[Column] = None,
                   extra: Seq[Column] = Nil): DataFrame = {
    val scored = rows.select(col(key), score.cast("double").as("__s"),
      col(id).cast("long").as(id))
    keep.fold(scored)(scored.filter).groupBy(key)
      .agg(graft.plans.TopKByAggregate.topkBy(
        pinnedScore(col("__s")), col(id), k).as("__tk"), extra: _*)
  }

  /** [[topK]] of (query_id, neighbor_id, …) candidate pairs per query,
    * self-matches dropped. */
  private def neighbors(pairs: DataFrame, score: Column, k: Int,
                        keep: Option[Column] = None,
                        extra: Seq[Column] = Nil): DataFrame =
    topK(pairs.filter(col("neighbor_id") =!= col("query_id")), "query_id",
      score, "neighbor_id", k, keep, extra)

  /** (query_id, `as`) rows of a [[topK]] result's ids (the first `first`). */
  private def topIds(tk: DataFrame, as: String,
                     first: Option[Int] = None): DataFrame = {
    val ids = col("__tk.id")
    tk.select(col("query_id"), explode(first.fold(ids)(slice(ids, 1, _))).as(as))
  }

  /** posexplode of a [[topK]] result into the (query_id, rank,
    * neighbor_id, score) contract every search entry point shares, plus
    * the `carry` columns. rank is 1-based in score-desc, id-asc order —
    * identical to the `row_number` window ordering it replaces.
    */
  private def explodeTopK(grouped: DataFrame,
                          score: Column => Column = _.as("cosine"),
                          carry: Seq[String] = Nil): DataFrame =
    grouped.select((col("query_id") +: carry.map(col)) :+
        posexplode(col("__tk")).as(Seq("__p", "__e")): _*)
      .select(Seq(col("query_id"), (col("__p") + 1).cast("long").as("rank"),
        col("__e.id").as("neighbor_id"), score(col("__e.score"))) ++
        carry.map(col): _*)

  /** Bit-exact identity on a double score that `CollapseProject` refuses to
    * inline into the consuming aggregate: `least(c, c)` references the
    * produced attribute twice, and duplicate references to a non-cheap
    * producer block the collapse, so the score stays in a whole-stage-
    * codegen Project BELOW the aggregate. Without it the optimizer folds
    * the whole cosine (dot + sqrt + divide) into the
    * [[graft.plans.TopKByAggregate]] child, where
    * `TypedImperativeAggregate.update` evaluates it INTERPRETED per input
    * row — measured 4× the entire query on the |corpus|×|queries| product
    * with the pre-native dot chain. `least` of two identical values is the
    * value itself for every double including NaN, and of two nulls is null.
    */
  private def pinnedScore(c: Column): Column = least(c, c)

  /** Query × candidate cosine over the kernel's column names. */
  private def pairCos: Column =
    cosineFromQuantized(col("__qv"), col("__cv"), col("__qn"), col("__cn"))

  /** Row × centroid cosine against the [[centC]] columns. */
  private def centCos: Column =
    cosineFromQuantized(col("__qv"), col("__ctv"), col("__qn"), col("__ctn"))

  /** The hard-negative cut: `floor(cos·10⁶ + 0.5) < maxCosMicro`, plain
    * IEEE ops on the integer-dot-derived cosine, so the boundary decision
    * is hash-exact cross-engine; ranking below it uses the raw double. */
  private def belowCut(maxCosMicro: Long): Column =
    floor(col("__s") * 1e6 + lit(0.5)) < lit(maxCosMicro.toDouble)

  /** The corpus side of a search: (neighbor_id, __cv, __cn). */
  private def corpusSide(corpus: DataFrame, id: String, vec: String,
                         scale: Double): DataFrame =
    prep(corpus, id, vec, "neighbor_id", scale)
      .withColumnRenamed("__qv", "__cv").withColumnRenamed("__qn", "__cn")

  /** The brute-force search: the corpus crossed with the broadcast query
    * set — use only with a bounded query set. */
  private def exact(corpus: DataFrame, queries: DataFrame,
                    corpusId: String, corpusVec: String,
                    queryId: String, queryVec: String,
                    k: Int, keep: Option[Column], scale: Double): DataFrame =
    explodeTopK(neighbors(corpusSide(corpus, corpusId, corpusVec, scale)
        .crossJoin(broadcast(prep(queries, queryId, queryVec, "query_id",
          scale))), pairCos, k, keep))

  /** Exact top-k cosine neighbors of each query vector, brute force.
    * Output: (query_id, rank, neighbor_id, cosine). Self-matches excluded.
    */
  def knnExact(corpus: DataFrame, queries: DataFrame,
               corpusId: String, corpusVec: String,
               queryId: String, queryVec: String,
               k: Int, scale: Double = DefaultScale): DataFrame =
    exact(corpus, queries, corpusId, corpusVec, queryId, queryVec, k,
      None, scale)

  /** Hard-negative mining for contrastive/embedding training — per anchor,
    * the `k` MOST similar corpus vectors whose cosine still falls BELOW a
    * positive threshold: the classic upgrade over random in-batch
    * negatives (the negatives that actually move a contrastive loss are
    * the near-misses, not random pairs), with the threshold excluding
    * self-matches and near-duplicate "false negatives" that would poison
    * the loss (they are the POSITIVE class by another name).
    *
    * [[knnExact]] with [[belowCut]] applied before the heap. Anchors are
    * the broadcast side, bounded by construction (q165).
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    corpusId: String, corpusVec: String,
                    queryId: String, queryVec: String,
                    k: Int, maxCosMicro: Long,
                    scale: Double = DefaultScale): DataFrame =
    exact(corpus, queries, corpusId, corpusVec, queryId, queryVec, k,
      Some(belowCut(maxCosMicro)), scale)

  /** Each query's `nprobe` nearest cells: [[topK]] over the query ×
    * broadcast-centroid product of a [[prep]]'d `q` and a [[centC]]
    * `cent`. */
  private def probe(q: DataFrame, cent: DataFrame, nprobe: Int): DataFrame =
    topK(q.crossJoin(broadcast(cent)), "query_id", centCos, "cell", nprobe)

  /** The IVF inverted lists: (neighbor_id, cell, __cv, __cn), each corpus
    * row under its [[assignCellsQ]] cell. */
  private def ivfLists(corpus: DataFrame, corpusId: String, corpusVec: String,
                       cent: DataFrame, scale: Double): DataFrame =
    assignCellsQ(withQuantized(corpus, corpusVec, scale), corpusId, cent)
      .select(col(corpusId).as("neighbor_id"), col("cell"),
        col("__qv").as("__cv"), col("__qn").as("__cn"))

  /** Rank the probed cells' corpus rows: (query_id, cell) probe rows
    * rejoin the query vectors by id, then meet the inverted lists in a
    * cell equi-join — Σ probed-cell sizes, never |corpus| × |queries|. */
  private def ivfNeighbors(cells: DataFrame, q: DataFrame, lists: DataFrame,
                           k: Int, keep: Option[Column] = None,
                           extra: Seq[Column] = Nil): DataFrame =
    neighbors(cells.join(q, Seq("query_id")).join(lists, Seq("cell")),
      pairCos, k, keep, extra)

  /** The IVF search: [[probe]], then [[ivfNeighbors]]. */
  private def ivf(corpus: DataFrame, queries: DataFrame,
                  corpusId: String, corpusVec: String,
                  queryId: String, queryVec: String,
                  centroids: DataFrame, centroidId: String,
                  centroidVec: String, k: Int, nprobe: Int,
                  keep: Option[Column], scale: Double): DataFrame = {
    val cent = centC(centroids, centroidId, centroidVec, scale)
    val q = prep(queries, queryId, queryVec, "query_id", scale)
    explodeTopK(ivfNeighbors(topIds(probe(q, cent, nprobe), "cell"), q,
      ivfLists(corpus, corpusId, corpusVec, cent, scale), k, keep))
  }

  /** IVF-probed hard-negative mining — [[hardNegatives]]' semantics on
    * [[knnIvf]]'s plan (round-12 verdict item 5): the exact tier crosses
    * the whole corpus with the broadcast anchor set, which is right for a
    * bounded anchor set but still SCANS the full corpus per anchor; here
    * anchors probe their `nprobe` nearest IVF cells and the quantized
    * positive cut excludes near-positives BEFORE the bounded top-k heap —
    * so at 100 TB the negative mining touches Σ probed-cell sizes, not
    * |corpus|·|anchors|. Recall is the IVF contract (a qualifying negative
    * in an unprobed cell is missed) and is MEASURED, not assumed: the q168
    * catalog face composes this with [[recallAtK]] against the exact tier,
    * the same X120 harness that grades every other ANN tier.
    */
  def hardNegativesIvf(corpus: DataFrame, queries: DataFrame,
                       corpusId: String, corpusVec: String,
                       queryId: String, queryVec: String,
                       centroids: DataFrame, centroidId: String,
                       centroidVec: String,
                       k: Int, nprobe: Int, maxCosMicro: Long,
                       scale: Double = DefaultScale): DataFrame =
    ivf(corpus, queries, corpusId, corpusVec, queryId, queryVec, centroids,
      centroidId, centroidVec, k, nprobe, Some(belowCut(maxCosMicro)), scale)

  /** Each row of `q` (an `id` column, `__qv`, `__qn` and any payload) plus
    * `cell`, its nearest centroid of `cent` ([[centC]]: max cosine, ties to
    * the lower cell id). Centroids are broadcast — they are the coarse
    * quantizer and stay small by construction.
    *
    * The argmax is a SLIM `max_by` aggregate over the broadcast-nested-loop
    * product — only (id, cosine, cell) ever enters it; the payload rejoins
    * by id afterwards. Three measured traps shaped this:
    * the window form shuffled and sorted the whole |corpus|·k product with
    * full payload rows (the dominant cost of both IVF queries at 10×
    * data); carrying the payload through the aggregate instead made it
    * WORSE (the declarative buffer rewrites the var-length struct on every
    * input row — 275 s of 298 at sf1); and max_by's struct ordering plans
    * as SortAggregate, which is fine exactly because the input is 24-byte
    * rows, contiguous per corpus id (the broadcast join emits each row's k
    * candidates back-to-back, so the partial sort sees presorted runs and
    * the exchange carries one slim row per corpus row). Ties break to the
    * lower cell id, matching the old `(cos DESC, cell)` window order;
    * rows whose cosine is NULL against every centroid are dropped
    * ("no vector ⇒ no cell" — the old form kept an arbitrary cell).
    * The input is scanned twice (once into the argmax, once for the
    * payload rejoin) — both scans prune to id+vector, and the rejoin
    * exchange of n rows replaces the old n·k-row window exchange.
    */
  private def assignCellsQ(q: DataFrame, id: String,
                           cent: DataFrame): DataFrame = {
    val best = q.select(col(id), col("__qv"), col("__qn"))
      .crossJoin(broadcast(cent))
      .select(col(id), centCos.as("__cos"), col("cell"))
      .groupBy(col(id))
      .agg(max_by(col("cell"), struct(col("__cos"), -col("cell"))).as("cell"))
    q.join(best, Seq(id))
  }

  /** IVF approximate top-k: queries probe their `nprobe` nearest cells and
    * rank only corpus rows assigned there. The candidate join is
    * (cell = cell) — an equi-join that scales with cell sizes, never
    * |corpus| × |queries|. Output: (query_id, rank, neighbor_id, cosine).
    */
  def knnIvf(corpus: DataFrame, queries: DataFrame,
             corpusId: String, corpusVec: String,
             queryId: String, queryVec: String,
             centroids: DataFrame, centroidId: String, centroidVec: String,
             k: Int, nprobe: Int, scale: Double = DefaultScale): DataFrame =
    ivf(corpus, queries, corpusId, corpusVec, queryId, queryVec, centroids,
      centroidId, centroidVec, k, nprobe, None, scale)

  /** [[knnIvf]] at several `nprobe` settings from ONE index pass — the
    * harness shape for tuning the probe budget (recall rises with nprobe,
    * scan cost with it; the sweep measures the trade instead of guessing).
    * The corpus cell assignment — the expensive argmax scan, identical at
    * every nprobe — runs once (localCheckpoint: the
    * [[cosineNearDups]] multi-consumer device), and the per-query cell
    * ranking is computed once at max(nprobes) with each arm probing a
    * PREFIX slice: `topkBy` orders by (score desc, id asc), a total order,
    * so the top-np prefix of the top-max list IS the independent top-np —
    * each arm is bit-identical to a standalone [[knnIvf]] run at its
    * nprobe. Output: knnIvf's contract + an `nprobe` column + a
    * `candidates` column (the per-query scanned-candidate count, constant
    * across a query's k rows — the COST axis of the recall/cost curve,
    * counted inside the same aggregation as the top-k heap: zero extra
    * stages).
    */
  def knnIvfSweep(corpus: DataFrame, queries: DataFrame,
                  corpusId: String, corpusVec: String,
                  queryId: String, queryVec: String,
                  centroids: DataFrame, centroidId: String, centroidVec: String,
                  k: Int, nprobes: Seq[Int],
                  scale: Double = DefaultScale): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(_ > 0), "nprobes must be positive")
    val cent = centC(centroids, centroidId, centroidVec, scale)
    val lists = ivfLists(corpus, corpusId, corpusVec, cent, scale)
      .localCheckpoint(false)
    val q = prep(queries, queryId, queryVec, "query_id", scale)
    val probeTk = probe(q, cent, nprobes.max).localCheckpoint(false)
    nprobes.map { np =>
      explodeTopK(ivfNeighbors(topIds(probeTk, "cell", Some(np)), q, lists, k,
          extra = Seq(count(lit(1)).as("candidates"))),
        carry = Seq("candidates"))
        .withColumn("nprobe", lit(np.toLong))
    }.reduce(_ unionByName _)
  }

  // ---- product quantization (PQ) ------------------------------------------

  /** Per-subspace L2 argmin against driver-side codewords, as a literal
    * projection (the [[assignLiteral]] device under the L2 metric): for
    * codeword c, ‖x−c‖² = ‖x‖² − (2·x·c − ‖c‖²), so argmin distance =
    * argmax of score = 2·dot − n2c — pure long arithmetic (dot ≤
    * dims·scale² ≪ 2⁶²), ties to the LOWER cell via the greatest-struct
    * trick. Returns the winning cell as a Column over `sub`, a quantized
    * subvector Column. */
  private def pqArgminCell(sub: Column,
                           words: Seq[(Int, Array[Long])]): Column = {
    val scored = words.map { case (cell, cv) =>
      val cvCol = array(cv.map(lit).toIndexedSeq: _*)
      val n2c = lit(cv.map(x => x * x).sum)
      struct((lit(2L) * dotLong(sub, cvCol) - n2c).as("s"),
        lit(-cell).as("nc"))
    }
    val best = if (scored.size == 1) scored.head else greatest(scored: _*)
    -best.getField("nc")
  }

  /** 1-based Spark slice of subspace `j` (0-based) out of a quantized
    * vector: dims/m consecutive entries. */
  private def pqSlice(v: Column, j: Int, sub: Int): Column =
    slice(v, j * sub + 1, sub)

  /** Product-quantization codebooks — the vector-COMPRESSION tier of the
    * ANN family (X13 exact / IVF bucket / SRP-LSH / scalar-quantized
    * rerank): the d-dim space splits into `m` subspaces of d/m dims and
    * each learns its own `kc`-codeword codebook by deterministic L2 Lloyd,
    * so a vector stores as m small codes (m·log₂kc bits — the device that
    * fits billion-vector indexes in RAM) and query-vector dots are
    * approximated from m table lookups ([[pqTopK]]).
    *
    * The fit is the Lloyd kernel ([[Words]]) under the L2 labeller, run
    * for ALL m subspaces in the SAME corpus passes: seeds are the first
    * `kc` rows in (fnv1a64(id), id) order sliced per subspace, and each
    * iteration is ONE scan labelling every subspace + ONE (subspace,
    * cell, dim) sum aggregation (kc·d long rows over the exchange after
    * map-side combine — never the corpus). Codebook state is kc·d longs.
    *
    * Output: (subspace, cell, centroid: array<long>), subspace 0-based,
    * cell 1-based.
    */
  def pqFit(corpus: DataFrame, id: String, vec: String, m: Int, kc: Int,
            iters: Int, scale: Double = DefaultScale): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    pqFitSeq(corpus, id, vec, m, kc, iters, scale)
      .map { case (j, cell, v) => (j, cell, v.toSeq) }
      .toDF("subspace", "cell", "centroid")
  }

  private def pqFitSeq(corpus: DataFrame, id: String, vec: String, m: Int,
                       kc: Int, iters: Int, scale: Double): Words =
    pqFitSeqQ(prep(corpus, id, vec, "__id", scale), m, kc, iters)

  /** The PQ Lloyd fit over an ALREADY-QUANTIZED (__id, __qv) frame — the
    * entry point residual quantization needs (residuals are differences of
    * quantized longs, never re-quantized doubles). */
  private def pqFitSeqQ(q: DataFrame, m: Int, kc: Int, iters: Int): Words = {
    require(m >= 1 && kc >= 1 && iters >= 0, s"bad pq params ($m, $kc, $iters)")
    val seeds = fnvSeeds(q, kc)
    require(seeds.nonEmpty, "pqFit needs a non-empty corpus")
    val dims = seeds.head.length
    require(dims % m == 0, s"dims $dims not divisible by m=$m")
    val sub = dims / m
    val words0 = for {
      j <- 0 until m
      (s, i) <- seeds.toSeq.zipWithIndex
    } yield (j, i + 1, s.slice(j * sub, (j + 1) * sub))
    lloyd(q, words0, iters, l2Labels)
  }

  /** Per subspace j of quantized vector `v`: (j, the [[pqArgminCell]]
    * winner under `words`' subspace-j codewords, the subvector). */
  private def pqArms(v: Column, words: Words): Seq[(Int, Column, Column)] = {
    val byJ = words.groupBy(_._1)
    val sub = words.head._3.length
    (0 until byJ.size).map { j =>
      val sv = pqSlice(v, j, sub)
      (j, pqArgminCell(sv, byJ(j).map(c => (c._2, c._3))), sv)
    }
  }

  /** The m-code array of quantized vector `v`, codes(j) ∈ 1..kc. */
  private def pqCodes(v: Column, words: Words): Column =
    array(pqArms(v, words).map(_._2): _*)

  /** The Lloyd kernel's L2 labeller: every subspace's literal argmin in
    * ONE scan, exploded to one (__j, __cell, __sv) row per subspace. */
  private def l2Labels(q: DataFrame, words: Words): DataFrame = {
    val arms = pqArms(col("__qv"), words).map { case (j, cell, sv) =>
      struct(lit(j).as("j"), cell.as("cell"), sv.as("sv"))
    }
    q.select(explode(array(arms: _*)).as("__a"))
      .select(col("__a.j").as("__j"), col("__a.cell").as("__cell"),
        col("__a.sv").as("__sv"))
  }

  /** PQ encoding: each vector compressed to its m codebook cells, in
    * subspace order — a literal argmin projection per subspace (zero
    * shuffle, whole-stage codegen; the codebooks fold to constants).
    * Output: (id, codes: array<int>), codes(j) ∈ 1..kc. */
  def pqEncode(corpus: DataFrame, id: String, vec: String,
               codebooks: Seq[(Int, Int, Array[Long])],
               scale: Double = DefaultScale): DataFrame =
    pqEncodeQ(prep(corpus, id, vec, "__id", scale))(codebooks)
      .withColumnRenamed("__id", id)

  /** PQ model state for INCREMENTAL maintenance: the fitted codebooks
    * PLUS, per (subspace, codeword), the exact per-dimension scaled
    * subvector sums and member count of the corpus encoded under them —
    * the Lloyd kernel's state ([[lloydState]]), which [[pqFold]]/
    * [[pqUnfold]] update exactly. Store key scheme as [[kmeansState]]:
    * base-corpus content key + (m, kc, iters). */
  def pqState(corpus: DataFrame, id: String, vec: String, m: Int, kc: Int,
              iters: Int, scale: Double = DefaultScale): DataFrame =
    pqStateAt(pqFitSeq(corpus, id, vec, m, kc, iters, scale),
      corpus, id, vec, scale)

  /** [[pqState]] under GIVEN codebooks (no fit) — the fold-exactness
    * spec's tool. */
  def pqStateAt(codebooks: Seq[(Int, Int, Array[Long])], corpus: DataFrame,
                id: String, vec: String,
                scale: Double = DefaultScale): DataFrame =
    lloydState(codebooks, prep(corpus, id, vec, "__id", scale), l2Labels)

  /** Fold a NEW BATCH into persisted PQ state: encode the batch under the
    * state's codebooks (literal argmin, zero shuffle) and add its exact
    * sums/counts — [[lloydFold]], exact per subspace against
    * [[pqStateAt]] on the union (spec-pinned). O(batch) + an m·kc·sub
    * collect; folds chain with [[kmeansFold]]'s sequential mini-batch
    * semantics. */
  def pqFold(state: DataFrame, batch: DataFrame, id: String, vec: String,
             scale: Double = DefaultScale): DataFrame =
    lloydFold(state, prep(batch, id, vec, "__id", scale), l2Labels,
      sign = 1L, at = None)

  /** Retract (unfold) a batch FROM persisted PQ state: encode the
    * retracted rows under the state's current codebooks and subtract
    * their sums/counts ([[lloydFold]]). Exact vs [[pqStateAt]] on the
    * survivors for a takedown from a fresh state (spec-pinned); to invert
    * a mid-chain fold exactly, pass the stored fold-time codebooks to
    * [[pqUnfoldAt]]. Refuses a foreign batch loudly. */
  def pqUnfold(state: DataFrame, batch: DataFrame, id: String, vec: String,
               scale: Double = DefaultScale): DataFrame =
    lloydFold(state, prep(batch, id, vec, "__id", scale), l2Labels,
      sign = -1L, at = None)

  /** [[pqUnfold]] with the batch encoded under GIVEN codebooks — the exact
    * fold inverse: `pqUnfoldAt(pqFold(S, B), B, codebooksOf(S)) == S` on
    * sums and counts always, and on the full state when S is a fold
    * output (spec-pinned). `atCodebooks` must have the state's (subspace,
    * cell) keys and codeword lengths. */
  def pqUnfoldAt(state: DataFrame, batch: DataFrame, id: String,
                 vec: String, atCodebooks: Seq[(Int, Int, Array[Long])],
                 scale: Double = DefaultScale): DataFrame =
    lloydFold(state, prep(batch, id, vec, "__id", scale), l2Labels,
      sign = -1L, at = Some(atCodebooks))

  /** ADC scoring under `codebooks`: (the lookup table over `__qv`, entry
    * j·kc + (cell−1) = dot(query_j, word_cell), a literal projection; the
    * statically-unrolled lookup sum Σ_j lut[j·kc + code_j] over the
    * `__lut` and `codes` columns). */
  private def adc(codebooks: Seq[(Int, Int, Array[Long])]): (Column, Column) = {
    val byJ = codebooks.groupBy(_._1)
    val m = byJ.size
    val kc = byJ(0).size
    require(byJ.forall(_._2.size == kc), "ragged codebook")
    val sub = codebooks.head._3.length
    val lut = array((for {
      j <- 0 until m
      (_, _, cv) <- byJ(j).sortBy(_._2)
    } yield dotLong(pqSlice(col("__qv"), j, sub),
      array(cv.map(lit).toIndexedSeq: _*))): _*)
    val lookup = (0 until m).map(j =>
        element_at(col("__lut"), lit(j * kc) + col("codes")(j)))
      .reduce(_ + _)
    (lut, lookup)
  }

  /** The PQ entry points' score column: the ADC dot as a long. */
  private def adcDot(score: Column): Column = score.cast("long").as("adc_dot")

  /** Asymmetric-distance (ADC) approximate top-k by PQ codes: each query
    * precomputes its lookup table ([[adc]]) and a corpus row scores as
    * Σ_j lut[j·kc + code_j]: m array lookups per pair instead of d
    * multiplies, the PQ read-time win. The table build is a literal
    * projection over the (sample-sized) query frame; scoring crossJoins
    * the broadcast tables against the encoded corpus ([[knnExact]]'s
    * shape) and ranks in the search kernel ([[topK]]).
    *
    * The encoded corpus is PINNED: without the materialization barrier
    * the encode projection — 32 literal-codeword argmin dots — collapses
    * into the per-pair scoring stage and re-evaluates PER JOINED ROW
    * (measured ~115 µs/pair at sf1, 790 s for an 8M-row product; the
    * pinned plan probes the 4 cached codes instead: the entire point of
    * encoding once).
    *
    * Output: (query_id, rank, neighbor_id, adc_dot), self-pairs excluded,
    * ties to the lower neighbor id.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
             corpusId: String, corpusVec: String,
             queryId: String, queryVec: String,
             codebooks: Seq[(Int, Int, Array[Long])], k: Int,
             scale: Double = DefaultScale): DataFrame = {
    val (lut, lookup) = adc(codebooks)
    val enc = graft.ext.Caches.pin(
      pqEncode(corpus, corpusId, corpusVec, codebooks, scale)
        .select(col(corpusId).as("neighbor_id"), col("codes")))
    val qlut = prep(queries, queryId, queryVec, "query_id", scale)
      .select(col("query_id"), lut.as("__lut"))
    explodeTopK(neighbors(enc.crossJoin(broadcast(qlut)), lookup, k), adcDot)
  }

  /** Canonical quantized coarse layer (cell: long, __ctv, __ctn) from a
    * raw-embedding centroid frame. */
  private def centC(centroids: DataFrame, centroidId: String,
                    centroidVec: String, scale: Double): DataFrame =
    prep(centroids, centroidId, centroidVec, "cell", scale)
      .select(col("cell").cast("long").as("cell"), col("__qv").as("__ctv"),
        col("__qn").as("__ctn"))

  /** The same canonical layer from a [[kmeansFit]] output frame — the
    * centroids are ALREADY quantized long arrays there, so no re-prep. */
  private def centCFromKmeans(kmCentroids: DataFrame): DataFrame =
    kmCentroids.select(col("cell").cast("long").as("cell"),
        col("centroid").as("__ctv"))
      .withColumn("__ctn", dotLong(col("__ctv"), col("__ctv")))

  /** Quantized-residual frame (__id, cell, __rv) of each corpus row against
    * its assigned coarse centroid: __rv = __qv − centroid_qv, exact long
    * differences of already-quantized vectors (never re-quantized doubles,
    * so both engines derive the identical residual from the identical
    * assignment). */
  private def residualsC(corpus: DataFrame, corpusId: String,
                         corpusVec: String, cent: DataFrame,
                         scale: Double): DataFrame =
    assignCellsQ(prep(corpus, corpusId, corpusVec, "__id", scale), "__id", cent)
      .join(broadcast(cent.select(col("cell"), col("__ctv"))), Seq("cell"))
      .select(col("__id"), col("cell"),
        zip_with(col("__qv"), col("__ctv"), (a, b) => a - b).as("__rv"))

  /** PQ codebooks fit on coarse-cell RESIDUALS — the IVF-PQ fit (Jégou et
    * al. 2011, "Product Quantization for Nearest Neighbor Search"): each
    * corpus vector is assigned to its nearest coarse centroid ([[assignCellsQ]]'
    * argmax) and the codebooks learn x − c(x) instead of x. Residuals
    * concentrate around the origin once the coarse quantizer captures the
    * data's macro-structure, so the SAME m·log₂kc bits of code spend their
    * resolution on a smaller-diameter set — the recall-per-byte win over
    * plain [[pqFit]], measured (not assumed) by the q146 harness in q152.
    * Same output contract as [[pqFit]].
    */
  def pqFitResiduals(corpus: DataFrame, id: String, vec: String,
                     centroids: DataFrame, centroidId: String,
                     centroidVec: String, m: Int, kc: Int, iters: Int,
                     scale: Double = DefaultScale): DataFrame =
    pqFitResidualsC(corpus, id, vec,
      centC(centroids, centroidId, centroidVec, scale), m, kc, iters, scale)

  /** [[pqFitResiduals]] with a [[kmeansFit]] frame as the coarse layer —
    * the production IVF-PQ pairing (data-vector "centroids" are nearly
    * orthogonal to everything on an unstructured corpus, making residuals
    * LARGER than the originals; Lloyd centroids make them smaller by the
    * k-means objective itself). */
  def pqFitResidualsKm(corpus: DataFrame, id: String, vec: String,
                       kmCentroids: DataFrame, m: Int, kc: Int, iters: Int,
                       scale: Double = DefaultScale): DataFrame =
    pqFitResidualsC(corpus, id, vec, centCFromKmeans(kmCentroids),
      m, kc, iters, scale)

  private def pqFitResidualsC(corpus: DataFrame, id: String, vec: String,
                              cent: DataFrame, m: Int, kc: Int, iters: Int,
                              scale: Double): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val r = residualsC(corpus, id, vec, cent, scale)
      .select(col("__id"), col("__rv").as("__qv"))
    pqFitSeqQ(r, m, kc, iters)
      .map { case (j, cell, v) => (j, cell, v.toSeq) }
      .toDF("subspace", "cell", "centroid")
  }

  /** IVF-PQ model state for INCREMENTAL maintenance — [[pqState]] in the
    * RESIDUAL space of a FROZEN coarse quantizer. The composite index has
    * two fitted layers; maintenance freezes the coarse one (the
    * production IVF posture: a trained coarse quantizer routes inserts to
    * existing inverted lists — re-fitting it would move every stored
    * residual, invalidating the exact sums that make folds cheap) and
    * folds the residual codebooks exactly. State rows are [[pqState]]'s
    * shape over residuals x − c(x): per (subspace, codeword) the fitted
    * codeword PLUS exact per-dim residual sums and member count.
    * Residuals are exact long differences of quantized vectors, so the
    * whole maintenance path stays integer-exact and cross-engine
    * hash-checkable (the q152 replay's residual rule).
    */
  def ivfPqState(corpus: DataFrame, id: String, vec: String,
                 kmCentroids: DataFrame, m: Int, kc: Int, iters: Int,
                 scale: Double = DefaultScale): DataFrame = {
    val r = residualsQ(corpus, id, vec, kmCentroids, scale)
    lloydState(pqFitSeqQ(r, m, kc, iters), r, l2Labels)
  }

  /** Fold a NEW BATCH into persisted IVF-PQ state — [[pqFold]] in the
    * frozen coarse layer's residual space: the batch is assigned to its
    * coarse cells (literal argmax under the SAME centroids the state was
    * built with — the caller passes the frozen layer), residualized
    * exactly, and its per-(subspace, codeword) sums fold in
    * ([[lloydFold]]) — exact, spec-pinned against [[ivfPqStateAt]] on the
    * union. The coarse layer itself can fold in parallel via
    * [[kmeansFold]] when drift warrants a re-route — but that is a REFIT
    * trigger for the residual state, not a fold (moved centroids change
    * every stored residual; see [[kmeansFold]]'s drift measurements for
    * the refit policy).
    */
  def ivfPqFold(state: DataFrame, batch: DataFrame, id: String,
                vec: String, kmCentroids: DataFrame,
                scale: Double = DefaultScale): DataFrame =
    lloydFold(state, residualsQ(batch, id, vec, kmCentroids, scale),
      l2Labels, sign = 1L, at = None)

  /** Retract (unfold) a batch FROM persisted IVF-PQ state — [[pqUnfold]]
    * in the FROZEN coarse layer's residual space: the retracted rows
    * route to their coarse cells and residualize exactly as they did at
    * insert time (the coarse quantizer never moved — the whole point of
    * freezing it). Mid-chain fold inversion takes the stored fold-time
    * codebooks via [[ivfPqUnfoldAt]]. Refuses a foreign batch loudly. */
  def ivfPqUnfold(state: DataFrame, batch: DataFrame, id: String,
                  vec: String, kmCentroids: DataFrame,
                  scale: Double = DefaultScale): DataFrame =
    lloydFold(state, residualsQ(batch, id, vec, kmCentroids, scale),
      l2Labels, sign = -1L, at = None)

  /** [[ivfPqUnfold]] with the batch's residuals encoded under GIVEN
    * codebooks — the exact fold inverse:
    * `ivfPqUnfoldAt(ivfPqFold(S, B, km), B, km, codebooksOf(S)) == S` on
    * sums and counts always, full state when S is a fold output
    * (spec-pinned). */
  def ivfPqUnfoldAt(state: DataFrame, batch: DataFrame, id: String,
                    vec: String, kmCentroids: DataFrame,
                    atCodebooks: Seq[(Int, Int, Array[Long])],
                    scale: Double = DefaultScale): DataFrame =
    lloydFold(state, residualsQ(batch, id, vec, kmCentroids, scale),
      l2Labels, sign = -1L, at = Some(atCodebooks))

  /** [[ivfPqState]] under GIVEN codebooks (no fit) — the fold-exactness
    * spec's tool, mirroring [[pqStateAt]]/[[kmeansStateAt]]. */
  def ivfPqStateAt(codebooks: Seq[(Int, Int, Array[Long])],
                   corpus: DataFrame, id: String, vec: String,
                   kmCentroids: DataFrame,
                   scale: Double = DefaultScale): DataFrame =
    lloydState(codebooks, residualsQ(corpus, id, vec, kmCentroids, scale),
      l2Labels)

  /** Residual-space encode under GIVEN codebooks and a frozen
    * [[kmeansFit]] coarse layer — the census tool of the q178 face.
    * Output: (id, codes), codes(j) ∈ 1..kc. Zero shuffle: assignment and
    * argmin are literal projections. */
  def ivfPqEncode(corpus: DataFrame, id: String, vec: String,
                  kmCentroids: DataFrame,
                  codebooks: Seq[(Int, Int, Array[Long])],
                  scale: Double = DefaultScale): DataFrame =
    pqEncodeQ(residualsQ(corpus, id, vec, kmCentroids, scale))(codebooks)
      .withColumnRenamed("__id", id)

  /** Quantized residual frame (__id, __qv) of `corpus` against a frozen
    * [[kmeansFit]] coarse layer — the shared prep of the ivfPq*
    * maintenance entry points. */
  private def residualsQ(corpus: DataFrame, id: String, vec: String,
                         kmCentroids: DataFrame, scale: Double): DataFrame =
    residualsC(corpus, id, vec, centCFromKmeans(kmCentroids), scale)
      .select(col("__id"), col("__rv").as("__qv"))

  /** [[pqEncode]] over an ALREADY-QUANTIZED (__id, __qv) frame. */
  private def pqEncodeQ(q: DataFrame)(
      codebooks: Seq[(Int, Int, Array[Long])]): DataFrame =
    q.select(col("__id"), pqCodes(col("__qv"), codebooks).as("codes"))

  /** IVF-PQ approximate top-k: coarse cells prune the candidate set
    * ([[knnIvf]]'s equi-join shape — queries probe their `nprobe` nearest
    * cells), PQ codes over cell residuals compress the vectors, and a
    * candidate scores as dot(q, c_cell) + Σ_j lut_j[code_j] — the exact
    * long decomposition dot(q, x) ≈ dot(q, c) + dot(q, x−c) with the
    * residual term read from m table lookups (ADC). The per-query lut is
    * built ONCE (m·kc long dots, a literal projection); the per-cell
    * offset rides the probe join; the inverted lists are the PINNED
    * encode-once frame (the q147 materialization-barrier trap applies
    * unchanged). Candidate cost is Σ probed-cell sizes — never |corpus| —
    * and each candidate costs m lookups + one add.
    *
    * Output: (query_id, rank, neighbor_id, adc_dot), self-pairs excluded,
    * ties to the lower neighbor id.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
                corpusId: String, corpusVec: String,
                queryId: String, queryVec: String,
                centroids: DataFrame, centroidId: String,
                centroidVec: String,
                codebooks: Seq[(Int, Int, Array[Long])], k: Int,
                nprobe: Int, scale: Double = DefaultScale): DataFrame =
    ivfPqTopKC(corpus, queries, corpusId, corpusVec, queryId, queryVec,
      centC(centroids, centroidId, centroidVec, scale), codebooks, k,
      nprobe, scale)

  /** [[ivfPqTopK]] over a [[kmeansFit]] coarse layer — see
    * [[pqFitResidualsKm]]. */
  def ivfPqTopKKm(corpus: DataFrame, queries: DataFrame,
                  corpusId: String, corpusVec: String,
                  queryId: String, queryVec: String,
                  kmCentroids: DataFrame,
                  codebooks: Seq[(Int, Int, Array[Long])], k: Int,
                  nprobe: Int, scale: Double = DefaultScale): DataFrame =
    ivfPqTopKC(corpus, queries, corpusId, corpusVec, queryId, queryVec,
      centCFromKmeans(kmCentroids), codebooks, k, nprobe, scale)

  private def ivfPqTopKC(corpus: DataFrame, queries: DataFrame,
                         corpusId: String, corpusVec: String,
                         queryId: String, queryVec: String,
                         cent: DataFrame,
                         codebooks: Seq[(Int, Int, Array[Long])], k: Int,
                         nprobe: Int, scale: Double): DataFrame = {
    val (lut, lookup) = adc(codebooks)
    val enc = graft.ext.Caches.pin(
      residualsC(corpus, corpusId, corpusVec, cent, scale).select(
        col("__id").as("neighbor_id"), col("cell"),
        pqCodes(col("__rv"), codebooks).as("codes")))
    val q = prep(queries, queryId, queryVec, "query_id", scale)
    val probes = topIds(probe(q, cent, nprobe), "cell")
      .join(q.select(col("query_id"), col("__qv"), lut.as("__lut")),
        Seq("query_id"))
      .join(broadcast(cent.select(col("cell"), col("__ctv"))), Seq("cell"))
      .select(col("query_id"), col("cell"), col("__lut"),
        dotLong(col("__qv"), col("__ctv")).as("__off"))
    explodeTopK(neighbors(probes.join(enc, Seq("cell")),
      col("__off") + lookup, k), adcDot)
  }

  /** [[pqFit]]'s frame collected back to the Seq form [[pqEncode]]/
    * [[pqTopK]] consume (m·kc·(d/m) longs — driver-sized). */
  def collectCodebooks(codebooks: DataFrame): Seq[(Int, Int, Array[Long])] =
    codebooks.select(col("subspace"), col("cell"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toArray))
      .sortBy(c => (c._1, c._2)).toSeq

  /** Energy-balanced dimension permutation — the OPQ device (Ge et al.
    * 2014, "Optimized Product Quantization") reduced to its
    * oracle-replayable core. Full OPQ learns a dense rotation R by
    * alternating PQ fits with an SVD; its cheapest structured member is a
    * PERMUTATION that deals dimensions to subspaces so each receives an
    * equal share of the corpus energy — the paper's own motivation (PQ's
    * distortion is lopsided when one contiguous slice holds most of the
    * variance, because every subspace spends the same log₂kc bits).
    *
    * Per-dim second moment Σx² over the QUANTIZED vectors (exact long
    * math, bit-identical cross-engine; |x| ≤ scale so the sum holds ~9e6
    * rows per dim before long overflow — past that, fit on a sample like
    * every model in this family), dims ranked energy-desc with ties to
    * the lower dim, and rank r (0-based) dealt round-robin: permuted
    * position (r mod m)·(d/m) + (r div m). Subspace j then holds the
    * dims ranked j, j+m, j+2m, … so consecutive "cards" of the sorted
    * energy order split across subspaces and the subspace totals differ
    * by at most one inter-rank gap per round.
    *
    * Returns `perm` with permuted(p) = original(perm(p)) — d ints,
    * model-sized by construction (same collect class as codebooks).
    */
  def energyPermutation(corpus: DataFrame, id: String, vec: String, m: Int,
                        scale: Double = DefaultScale): Seq[Int] =
    permutationFromState(energyState(corpus, id, vec, scale), m)

  /** OPQ energy model state for INCREMENTAL maintenance: the per-dim
    * exact second moments Σx² (scaled longs) plus the row count — the
    * ENTIRE model behind [[energyPermutation]], persisted as d rows.
    * Unlike the k-means/PQ states, this one folds EXACTLY equal to a
    * refit: energy is one associative sum per dim with no
    * assignment-depends-on-model feedback, so
    * `energyFold(energyState(base), batch) == energyState(base ∪ batch)`
    * row-for-row, and the folded permutation IS the from-scratch
    * permutation on the union (spec-pinned — no mini-batch caveat, no
    * drift, no refit trigger needed). Overflow bound as documented on
    * [[energyPermutation]]: Σx² holds ~9e6 rows per dim at the default
    * scale before long overflow — the fold inherits the bound on the
    * UNION size, so at 100 TB the state is fit on a sample like every
    * model in this family. Output: (dim 0-based, energy, n).
    */
  def energyState(corpus: DataFrame, id: String, vec: String,
                  scale: Double = DefaultScale): DataFrame =
    prep(corpus, id, vec, "__id", scale)
      .select(posexplode(col("__qv")).as(Seq("dim", "__x")))
      .groupBy("dim")
      .agg(sum(col("__x") * col("__x")).as("energy"),
        count(lit(1)).as("n"))

  /** Fold a NEW BATCH into persisted energy state — per-dim long adds
    * over d rows. Exactly equals [[energyState]] on the union (see
    * [[energyState]]); folds chain with NO semantic drift. */
  def energyFold(state: DataFrame, batch: DataFrame, id: String,
                 vec: String, scale: Double = DefaultScale): DataFrame =
    energySigned(state, batch, id, vec, scale, sign = 1L)

  /** Retract (unfold) a batch FROM persisted energy state — per-dim long
    * SUBTRACTS over d rows. Like [[energyFold]], this is associative
    * arithmetic with no assignment-depends-on-model feedback, so the
    * unfold is EXACTLY a refit on the difference:
    * `energyUnfold(energyState(base ∪ batch), batch) == energyState(base)`
    * row-for-row, `energyUnfold(energyFold(S, B), B) == S` always, and
    * the retracted permutation IS the from-scratch permutation on the
    * survivors (spec-pinned — no drift, no fold-time-model argument
    * needed, the one unfold in the family with no `At` variant).
    * Refuses foreign rows loudly, like [[kmeansUnfold]]/[[pqUnfold]]
    * (see [[energySigned]]). */
  def energyUnfold(state: DataFrame, batch: DataFrame, id: String,
                   vec: String, scale: Double = DefaultScale): DataFrame =
    energySigned(state, batch, id, vec, scale, sign = -1L)

  /** [[energyFold]] (`sign` 1) and [[energyUnfold]] (−1). Energies and
    * counts are ≥ 0, so a foreign retracted batch drives some dim
    * negative; the output then fails at execution (`raise_error`) instead
    * of feeding [[permutationFromState]] a corrupt ranking. Lazy: energy
    * has no model-dependent assignment to collect. The guard is a filter,
    * so it holds whichever columns a consumer projects. */
  private def energySigned(state: DataFrame, batch: DataFrame, id: String,
                           vec: String, scale: Double,
                           sign: Long): DataFrame = {
    val name = if (sign < 0) "energyUnfold" else "energyFold"
    state.select(col("dim"), col("energy"), col("n"))
      .unionByName(energyState(batch, id, vec, scale)
        .select(col("dim"), (col("energy") * sign).as("energy"),
          (col("n") * sign).as("n")))
      .groupBy("dim")
      .agg(sum(col("energy")).as("energy"), sum(col("n")).as("n"))
      .filter(when(col("energy") < 0 || col("n") < 0, raise_error(concat(
          lit(s"$name: dim "), col("dim").cast("string"),
          lit(" went negative (energy "), col("energy").cast("string"),
          lit(", n "), col("n").cast("string"),
          lit("): the batch is not part of this state's corpus"))))
        .otherwise(lit(true)))
  }

  /** The [[energyPermutation]] deal from a persisted/folded
    * [[energyState]] frame: rank dims energy-desc (ties to the lower
    * dim), deal rank r round-robin to permuted position
    * (r mod m)·(d/m) + (r div m). */
  def permutationFromState(state: DataFrame, m: Int): Seq[Int] = {
    val ranked = state
      .orderBy(col("energy").desc, col("dim"))
      .select("dim").collect().map(_.getInt(0))
    val d = ranked.length
    require(d > 0 && d % m == 0, s"dims $d not divisible by m=$m")
    val sub = d / m
    val perm = new Array[Int](d)
    ranked.zipWithIndex.foreach { case (dim, r) =>
      perm((r % m) * sub + r / m) = dim
    }
    perm.toSeq
  }

  /** Apply a [[energyPermutation]] as a literal projection — d getItems,
    * zero shuffle, whole-stage codegen. Quantization is elementwise, so
    * permuting the raw floats commutes with [[quantize]]; and a dot
    * product is permutation-invariant, so exact cosine baselines computed
    * on the UNpermuted frame remain valid against permuted-space ANN. */
  def permuteVec(df: DataFrame, vec: String, perm: Seq[Int]): DataFrame =
    df.withColumn(vec, array(perm.map(p => col(vec).getItem(p)): _*))

  /** Feature-hashed dense term-frequency vectors (the hashing trick,
    * Weinberger et al. 2009): each word token lands in bucket
    * fnv1a64(word) mod `buckets` and a doc becomes the dense
    * long[buckets] count vector — the embedding-free way to get
    * cosine-comparable vectors from raw text (no vocabulary, no fit, no
    * model to ship; the anisotropic vector source of the OPQ tier:
    * stopword-heavy buckets carry orders of magnitude more energy than
    * tail buckets, unlike the isotropic embedding fixture). Counts are
    * exact longs, so the whole PQ/ANN family composes with scale = 1 and
    * every dot stays integer-exact. Docs with zero tokens have no vector
    * (no direction to compare — they drop out).
    *
    * `buckets` must be a power of two: bucket = pmod(signed fnv, buckets)
    * equals the unsigned-2⁶⁴ residue only when buckets divides 2⁶⁴, which
    * is what the oracle's HUGEINT `%` computes. Cost: one explode + two
    * mergeable aggregations ((id, bucket) counts, then per-id map); the
    * dense assembly is a map lookup over a literal index sequence — no
    * extra shuffle, no skew (bucket keys ride the doc id).
    */
  def hashedTfVectors(docs: DataFrame, id: String, text: String,
                      buckets: Int): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two, got $buckets")
    docs
      .select(col(id), explode(TextAnalysis.tokens(col(text))).as("__w"))
      .select(col(id),
        pmod(graft.plans.Fnv1a64Expression.fnv1a64(col("__w")),
          lit(buckets.toLong)).as("__b"))
      .groupBy(col(id), col("__b")).agg(count(lit(1)).as("__c"))
      .groupBy(col(id))
      .agg(map_from_entries(collect_list(
        struct(col("__b"), col("__c")))).as("__m"))
      .select(col(id),
        transform(sequence(lit(0L), lit(buckets - 1L)),
          b => coalesce(element_at(col("__m"), b), lit(0L))).as("tf"))
  }

  /** Recall@k of an approximate top-k frame against the exact baseline —
    * the number every ANN deployment tunes on (nprobe / band count / probe
    * budget move recall; this measures it instead of guessing): per query,
    * how many of the EXACT top-k neighbors the approximate result also
    * returned. Both inputs are (queryCol, neighborCol) frames as produced
    * by [[knnExact]]/[[knnIvf]]; ranks are irrelevant to recall@k, only
    * set membership counts. Integer-exact: hits and recall in permille
    * (hits·1000 div k), so the metric hash-checks cross-engine.
    *
    * Scale shape: recall is evaluated on a SAMPLE of queries (the
    * standard practice — the exact baseline costs |sample|·N and is the
    * evaluation harness, not the production path), so both inputs are
    * |sample|·k rows. The approx side broadcasts into the join; the
    * rollup is one mergeable groupBy on query id.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame,
                queryCol: String, neighborCol: String, k: Int): DataFrame =
    exact.select(col(queryCol), col(neighborCol))
      .join(broadcast(approx.select(col(queryCol), col(neighborCol))
        .withColumn("__hit", lit(1L))), Seq(queryCol, neighborCol), "left")
      .groupBy(col(queryCol))
      .agg(count(lit(1)).as("evaluated"),
        sum(coalesce(col("__hit"), lit(0L))).as("hits"))
      .withColumn("recall_permille", expr(s"(hits * 1000) div $k"))

  /** Embedding-cosine near-duplicate pairs, bucketed by IVF cell: vectors
    * are assigned to their nearest centroid and only same-cell pairs are
    * compared — the all-pairs comparison never happens. Near-identical
    * vectors land in the same cell with high probability (they agree on
    * their nearest centroid unless they straddle a cell boundary); like all
    * single-probe LSH-style dedup this trades boundary recall for the
    * |corpus|²→Σ|cell|² cost cut. Output: (id_a, id_b, cosine).
    */
  def cosineNearDups(corpus: DataFrame, corpusId: String, corpusVec: String,
                     centroids: DataFrame, centroidId: String, centroidVec: String,
                     minCosine: Double,
                     scale: Double = DefaultScale): DataFrame = {
    // lazy-pinned: both sides of the pair self-join consume the assignment,
    // and without the checkpoint each side re-runs the corpus×centroid
    // argmax scan (the recurring two-consumer re-evaluation trap). Only
    // the four columns the pair join reads are checkpointed, not every
    // corpus column (the raw vector among them).
    val assigned = assignCellsQ(withQuantized(corpus, corpusVec, scale),
        corpusId, centC(centroids, centroidId, centroidVec, scale))
      .select(col(corpusId), col("cell"), col("__qv"), col("__qn"))
      .localCheckpoint(false)
    val a = assigned.select(col(corpusId).as("id_a"), col("cell"),
      col("__qv").as("__va"), col("__qn").as("__na"))
    val b = assigned.select(col(corpusId).as("id_b"), col("cell"),
      col("__qv").as("__vb"), col("__qn").as("__nb"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        cosineFromQuantized(col("__va"), col("__vb"), col("__na"), col("__nb")))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
  }

  // ---- random-hyperplane (SRP) LSH ----------------------------------------

  /** Deterministic signed-random-projection hyperplane matrix: `bits × dims`
    * small integer weights in [-500, 500], derived position-wise from a
    * DOUBLE FNV-1a 64 of the flat index (`Fnv1a64Ops.hashLong` twice) — no
    * RNG state, so the family is reproducible across runs, engines (the
    * oracle re-derives it from the same folds in HUGEINT SQL), and cluster
    * topologies. The second fold matters: one FNV pass over sequential
    * integers diffuses poorly (inputs i·dims+d and (i+1)·dims+d differ in
    * one byte, so hyperplane rows came out CORRELATED, sign patterns
    * repeated with the row period, and band buckets filled with
    * structurally identical keys — the sf1 scale run caught candidate
    * counts growing 95x on 10x data from exactly this). Re-hashing the
    * first hash's eight well-mixed bytes gives full avalanche between
    * rows. Integer weights × scaled-long vectors keep every dot product
    * exact (≤ 2^53), so the sign bits are bit-identical everywhere — float
    * hyperplanes would make the signature engine-dependent at the sign
    * boundary.
    */
  private[graft] def hyperplaneWeights(bits: Int, dims: Int): Array[Array[Long]] =
    Array.tabulate(bits, dims) { (i, d) =>
      import graft.plans.Fnv1a64Ops.{hashLong, Offset}
      val h = hashLong(Offset, hashLong(Offset, i.toLong * dims + d))
      ((h % 1001) + 1001) % 1001 - 500
    }

  /** Random-hyperplane LSH near-duplicate pairs — the SECOND ANN scale tier
    * next to the IVF cells of [[cosineNearDups]]: signatures are
    * data-independent (no centroid fit, no second pass over the corpus; new
    * rows band with one projection), which is the right shape for streaming
    * ingestion, while IVF adapts to the corpus but needs its centroids
    * maintained.
    *
    * Per row: `bits` sign bits of W·v (Charikar-style SRP — two
    * vectors agree on a bit with probability 1 − θ/π), packed into
    * `bands` integer band keys of `bits/bands` bits each. Candidates meet
    * only inside equal (band, key) groups — an equi-join, never all-pairs —
    * and are then verified with the exact scaled-integer cosine, so
    * banding affects RECALL only, never precision. Wider bands cut random
    * collisions exponentially (8-bit bands pass ~1/256 of unrelated pairs
    * per band) at the cost of recall for mid-similarity pairs: this tier
    * targets the high-cosine regime; use the IVF tier for looser matches.
    * The constant-folded weight literal keeps the per-row cost at
    * `bits × dims` long multiplies inside codegen.
    *
    * Output: (id_a, id_b, cosine), id_a < id_b, cosine ≥ minCosine.
    */
  def srpNearDups(corpus: DataFrame, id: String, vec: String, dims: Int,
                  bits: Int, bands: Int, minCosine: Double,
                  scale: Double = DefaultScale): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    val rpb = bits / bands
    // Every dot here is the native DotLongExpression — the sf1 scale run
    // measured interpreted higher-order functions dominating this operator
    // (the bits-per-row hyperplane dots and the per-candidate verify dot
    // cost more than every join), and the static-unroll alternative blows
    // past either the optimizer (bits × dims literal terms in tree copies)
    // or janino's 64 KB method limit. Same integer arithmetic, same bits,
    // same keys — the oracle replay is untouched.
    val w = array(hyperplaneWeights(bits, dims).toIndexedSeq.map(row =>
      array(row.toIndexedSeq.map(lit): _*)): _*) // foldable -> one array constant
    // one quantization pass, pinned: banded (below) and both verify join
    // sides consume this frame, and without the checkpoint each consumer
    // re-runs the parquet scan + interpreted quantize transform. Stored
    // rows are (id, dims longs, long) — the quantized vector table itself,
    // the same order of size as the input column
    val vecs = corpus
      .select(col(id).as("__id"), quantize(col(vec), scale).as("__qv"))
      .withColumn("__qn", dotLong(col("__qv"), col("__qv")))
      .localCheckpoint(false)
    val sig = vecs
      .withColumn("__bits", transform(sequence(lit(0), lit(bits - 1)), i =>
        when(dotLong(col("__qv"), element_at(w, i + lit(1))) >= 0, lit(1L))
          .otherwise(lit(0L))))
    def bandKey(b: Int): Column =
      (0 until rpb).map(j =>
        element_at(col("__bits"), b * rpb + j + 1) * lit(1L << j))
        .reduce(_ + _)
    // LAZY checkpoint before the self-join: both join sides reference the
    // banded frame, and without pinning it each side would recompute the
    // full signature pipeline (quantize + bits hyperplane dots) — measured
    // as 2x the whole signature cost at sf1, dominating the query. The
    // checkpoint materializes inside the first consuming job; rows are
    // (id, band, key) — n·bands longs, negligible storage at any scale.
    val banded = sig.select(col("__id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), bandKey(b).as("bkey"))): _*)).as("__bb"))
      .select(col("__id"), col("__bb.band"), col("__bb.bkey"))
      .localCheckpoint(false)
    // ids-only candidate distinct, then ONE join back for vectors: carrying
    // __qv through the band explode would shuffle each vector `bands` times
    val cand = banded.select(col("__id").as("id_a"), col("band"), col("bkey"))
      .join(banded.select(col("__id").as("id_b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(vecs.select(col("__id").as("id_a"), col("__qv").as("__va"),
        col("__qn").as("__na")), Seq("id_a"))
      .join(vecs.select(col("__id").as("id_b"), col("__qv").as("__vb"),
        col("__qn").as("__nb")), Seq("id_b"))
      .withColumn("cosine",
        cosineFromQuantized(col("__va"), col("__vb"), col("__na"), col("__nb")))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
  }

  // ---- deterministic distributed k-means (Lloyd) --------------------------

  /** Per-row argmax-cosine assignment against DRIVER-SIDE centroids,
    * compiled into the plan as literals: for each centroid a
    * `cosineFromQuantized` column (the centroid vector and self-dot fold to
    * constants), then `greatest(struct(cos, -cell)…)` picks max cosine with
    * lower-cell tiebreak. A pure projection — whole-stage codegen, ZERO
    * shuffle, no join: this is why the fit collects its k·dims centroid
    * state per iteration (MLlib's shape) instead of keeping centroids in a
    * frame — a window/aggregation argmax would re-shuffle the corpus every
    * iteration. Output: (__id, __qv, __qn, cell, __cos).
    */
  private[graft] def assignLiteral(q: DataFrame,
                                   cent: Seq[(Int, Array[Long])]): DataFrame = {
    // one native dot per centroid against the constant-folded vector
    // literal — k·dims work per row in a fixed-size expression tree (the
    // static per-term unroll tried here first grew the tree past the
    // optimizer's memory at large k·dims, then past janino's 64 KB method
    // limit; the native loop has neither ceiling)
    val scored = cent.map { case (cell, cv) =>
      val cvCol = array(cv.map(lit).toIndexedSeq: _*)
      val cn = lit(cv.map(x => x * x).sum) // exact: |c|² ≤ dims·scale² < 2^53
      struct(
        cosineFromQuantized(col("__qv"), cvCol, col("__qn"), cn).as("c"),
        lit(-cell).as("nc"))
    }
    val best = if (scored.size == 1) scored.head else greatest(scored: _*)
    q.withColumn("__best", best)
      .select(col("__id"), col("__qv"), col("__qn"),
        (-col("__best.nc")).as("cell"), col("__best.c").as("__cos"))
  }

  /** Ceiling on [[assignLiteral]]'s centroid count, and the switch point to
    * [[assignArgmax]]: the literal projection's PLAN is O(k·dims) — k
    * greatest-branches each folding a dims-long literal array — and every
    * consuming stage re-runs janino over it, so compile time grows with k
    * while the zero-shuffle execution stays cheap. Measured at sf1
    * (20k rows): k = 8 literal = 4.3 s end-to-end semantic dedup, k = 79
    * literal = 19.8 s — the extra 15 s is plan compilation, not data work
    * (k = 79 does ~10× FEWER pair dots). Above the ceiling the broadcast
    * argmax join costs two exchanges of n slim rows but keeps the plan
    * constant-size — at the k ≈ √n the auto rule reaches at a billion rows
    * (~32k cells), a literal plan would not even build.
    */
  private[graft] val LiteralAssignMaxK = 32

  /** [[assignLiteral]]'s broadcast twin for large k: centroids become a
    * k-row broadcast frame, the argmax is a slim `max(struct(cos, -cell))`
    * aggregate over the nested-loop product — only (id, cos, cell) enters
    * it (the [[assignCellsQ]] shape) — and the winner rejoins the quantized
    * corpus by id. Identical semantics: max cosine, lower cell on ties.
    * Output: (__id, __qv, __qn, cell, __cos).
    */
  private[graft] def assignArgmax(q: DataFrame,
                                  cent: Seq[(Int, Array[Long])]): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    val centDf = broadcast(
      cent.map { case (c, v) => (c, v.toSeq, v.map(x => x * x).sum) }
        .toDF("__cell", "__ctv", "__ctn"))
    val best = q.select(col("__id"), col("__qv"), col("__qn"))
      .crossJoin(centDf)
      .select(col("__id"),
        cosineFromQuantized(col("__qv"), col("__ctv"), col("__qn"),
          col("__ctn")).as("__c"),
        col("__cell"))
      .groupBy(col("__id"))
      .agg(max(struct(col("__c"), (-col("__cell")).as("__nc"))).as("__b"))
      .select(col("__id"), (-col("__b.__nc")).as("cell"),
        col("__b.__c").as("__cos"))
    q.join(best, Seq("__id"))
      .select(col("__id"), col("__qv"), col("__qn"), col("cell"), col("__cos"))
  }

  /** the k-dispatched assignment every k-means consumer goes through */
  private def assign(q: DataFrame, words: Words): DataFrame = {
    val cent = words.map(w => (w._2, w._3))
    if (cent.size <= LiteralAssignMaxK) assignLiteral(q, cent)
    else assignArgmax(q, cent)
  }

  /** driver-side (0, cell, centroid) extraction of a centroid frame */
  private def collectCentroids(cent: DataFrame): Words =
    cent.select(col("cell"), col("centroid")).collect()
      .map(r => (0, r.getInt(0), r.getSeq[Long](1).toArray))
      .sortBy(_._2).toSeq

  // ---- the Lloyd kernel: k-means, PQ and IVF-PQ ---------------------------

  /** A model of the Lloyd family as driver-side codewords: (subspace,
    * cell, codeword), subspace 0-based, cell 1-based. k-means is the one
    * subspace 0; PQ has m subspaces of d/m dims (IVF-PQ: over residuals).
    *
    * Every fit, state and fold of the family runs one rule, and the rule
    * is what makes them bit-exact and engine-independent:
    *
    *  - '''label''': each quantized row gets one cell per subspace under
    *    codewords compiled into the plan as literals — k-means by
    *    [[cosineLabels]] (max cosine), PQ by [[l2Labels]] (min L2:
    *    codewords minimize reconstruction error, so magnitude matters);
    *    lower cell on ties. A projection: zero corpus shuffle;
    *  - '''sum''': per (subspace, cell, dim) the LONG sum of the scaled
    *    values and the member count ([[lloydSums]]) — associative, so
    *    safe under any partial-aggregation order;
    *  - '''mean''': each codeword re-derived on the driver as
    *    `sign(S) · (|S| div n)` ([[lloydMean]]) — integer division on a
    *    non-negative numerator, where the JVM, Spark's `div` and DuckDB's
    *    `//` all truncate. The mean of scaled values stays at vector
    *    magnitude, so codeword self-dots never overflow (a raw SUM
    *    centroid squares past 2^63 once cells pass ~10^4 rows). A cell
    *    with no members (n = 0) keeps its codeword, so k never silently
    *    shrinks.
    *
    * A fit ([[lloyd]]) is `iters` label/sum/mean rounds from
    * [[fnvSeeds]]. A state ([[lloydState]]) stores the codewords PLUS the
    * sums and counts of the corpus labelled under them: sums, not lossy
    * integer means, because `|S| div n` drops its remainder and a
    * mean-only store could never reproduce a grown corpus's mean. A fold
    * ([[lloydFold]]) labels only the batch under the state's codewords
    * and adds (or, unfolding, subtracts) its sums and counts, which IS
    * the update half of one Lloyd round over base ∪ batch (survivors)
    * seeded at the stored codewords — exactly, since base rows label
    * identically under the same codewords and their sums are already
    * stored. One long per (cell, dim) holds Σ of 10⁶-scaled components
    * for ~10¹² rows per cell before overflow.
    */
  private type Words = Seq[(Int, Int, Array[Long])]

  /** Labels the rows of a quantized (__id, __qv) frame under a model:
    * (__j subspace, __cell, __sv the (sub)vector summed into that cell). */
  private type Labeller = (DataFrame, Words) => DataFrame

  /** The first `n` rows' vectors in (fnv1a64(id), id) order — a stable
    * pseudo-random seed draw. `orderBy().limit(n)` plans as
    * TakeOrderedAndProject: per-partition top-n then an n·P driver merge,
    * never a global sort of the corpus. */
  private def fnvSeeds(q: DataFrame, n: Int): Array[Array[Long]] =
    q.withColumn("__h", graft.plans.Fnv1a64Expression.fnv1a64(col("__id")))
      .orderBy(col("__h"), col("__id")).limit(n)
      .select(col("__qv")).collect()
      .map(_.getSeq[Long](0).toArray)

  /** The kernel's cosine labeller: [[assign]]'s argmax, as subspace 0. */
  private def cosineLabels(q: DataFrame, words: Words): DataFrame =
    assign(q, words).select(lit(0).as("__j"), col("cell").as("__cell"),
      col("__qv").as("__sv"))

  /** Exact per-(subspace, cell) dim sums and member count of a labelled
    * frame, collected — m·k·dims longs of driver-sized model state. The
    * fits pass `perCell` to pack each cell's dims in Spark, so one row
    * per cell reaches the driver ([[autoSemanticK]] can push k to √n);
    * states and folds collect the (subspace, cell, dim) rows as they are
    * and spare the packing exchange. */
  private def lloydSums(labelled: DataFrame, perCell: Boolean)
      : Map[(Int, Int), (Array[Long], Long)] = {
    val sums = labelled
      .select(col("__j"), col("__cell"),
        posexplode(col("__sv")).as(Seq("__dim", "__x")))
      .groupBy("__j", "__cell", "__dim")
      .agg(sum(col("__x")).as("__s"), count(lit(1)).as("__n"))
    val cells: Seq[((Int, Int), Seq[(Int, Long)], Long)] =
      if (perCell)
        sums.groupBy("__j", "__cell")
          .agg(collect_list(struct(col("__dim"), col("__s"))), max(col("__n")))
          .collect().toSeq
          .map(r => ((r.getInt(0), r.getInt(1)),
            r.getSeq[Row](2).map(e => (e.getInt(0), e.getLong(1))),
            r.getLong(3)))
      else
        sums.collect().toSeq.groupBy(r => (r.getInt(0), r.getInt(1)))
          .map { case (key, rows) =>
            (key, rows.map(r => (r.getInt(2), r.getLong(3))),
              rows.head.getLong(4))
          }.toSeq
    cells.map { case (key, dims, n) =>
      val s = new Array[Long](dims.map(_._1).max + 1)
      dims.foreach { case (d, x) => s(d) = x }
      key -> ((s, n))
    }.toMap
  }

  /** The kernel's mean rule: per dim `sign(S) · (|S| div n)`; an empty
    * cell (n = 0) carries its codeword `cv`. */
  private def lloydMean(cv: Array[Long], s: Array[Long], n: Long): Array[Long] =
    if (n == 0) cv else s.map(x => (if (x < 0) -1L else 1L) * (math.abs(x) / n))

  /** `iters` fixed Lloyd rounds from `words0`. Per round: one corpus scan,
    * the literal labelling (codegen, no corpus shuffle), one sum
    * aggregation and one per-cell collect; the updated codewords re-enter
    * the next scan as literals (MLlib's driver-side centroid posture).
    * Rounds are eager — at scale, persist `q` before fitting. */
  private def lloyd(q: DataFrame, words0: Words, iters: Int,
                    label: Labeller): Words =
    (1 to iters).foldLeft(words0) { (words, _) =>
      val sums = lloydSums(label(q, words), perCell = true)
      words.map { case (j, c, cv) =>
        val (s, n) = sums.getOrElse((j, c), (cv, 0L))
        (j, c, lloydMean(cv, s, n))
      }
    }

  /** The kernel's state frame: per (subspace, cell) in key order, the
    * codeword plus the exact sums and count of `q` labelled under `words`.
    * Columns (subspace, cell, centroid, sums, n); k-means callers drop
    * `subspace`. */
  private def lloydState(words: Words, q: DataFrame,
                         label: Labeller): DataFrame = {
    val sums = lloydSums(label(q, words), perCell = false)
    stateFrame(q.sparkSession, words.sortBy(w => (w._1, w._2)).map { case (j, c, cv) =>
      val (s, n) = sums.getOrElse((j, c), (new Array[Long](cv.length), 0L))
      (j, c, cv, s, n)
    })
  }

  private def stateFrame(spark: SparkSession,
                         rows: Seq[(Int, Int, Array[Long], Array[Long], Long)])
      : DataFrame = {
    import spark.implicits._
    rows.map { case (j, c, cv, s, n) => (j, c, cv.toSeq, s.toSeq, n) }
      .toDF("subspace", "cell", "centroid", "sums", "n")
  }

  /** The family's one signed fold: label the batch `q` under the state's
    * codewords (or `at`, the model it was folded under), add (`sign` 1)
    * or subtract (−1) its sums and counts, re-derive by [[lloydMean]].
    * Output has the input state's columns. Refuses loudly an `at` model
    * with other keys than the state's (its extra cells' rows would
    * vanish) and a count driven negative (a foreign batch). */
  private def lloydFold(state: DataFrame, q: DataFrame, label: Labeller,
                        sign: Long, at: Option[Words]): DataFrame = {
    val subspaced = state.columns.contains("subspace")
    val st = state.select(if (subspaced) col("subspace") else lit(0),
        col("cell"), col("centroid"), col("sums"), col("n")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toArray,
        r.getSeq[Long](3).toArray, r.getLong(4)))
      .sortBy(r => (r._1, r._2)).toSeq
    val own = st.map(r => (r._1, r._2, r._3))
    def keys(w: Words) = w.map(x => (x._1, x._2, x._3.length)).sorted
    at.foreach { a =>
      require(keys(a) == keys(own),
        s"the fold-time model's (subspace, cell, length) keys differ from " +
          s"the state's (${a.size} vs ${own.size} codewords): it is not a " +
          "model this state was folded under, and rows it labels into a " +
          "cell the state lacks would be dropped")
    }
    val sums = lloydSums(label(q, at.getOrElse(own)), perCell = false)
    val out = stateFrame(state.sparkSession, st.map { case (j, c, cv, s, n) =>
      val (bs, bn) = sums.getOrElse((j, c), (new Array[Long](cv.length), 0L))
      val n2 = n + sign * bn
      require(n2 >= 0,
        s"cell ($j, $c) count went negative ($n ${if (sign < 0) "-" else "+"} " +
          s"$bn): the batch is not part of this state's corpus under this " +
          "model — retract under the fold-time model (kmeansUnfoldAt/" +
          "pqUnfoldAt/ivfPqUnfoldAt) or refit")
      val s2 = s.indices.map(i => s(i) + sign * bs(i)).toArray
      (j, c, lloydMean(cv, s2, n2), s2, n2)
    })
    if (subspaced) out else out.drop("subspace")
  }

  // ---- k-means fit and assignment -----------------------------------------

  /** Deterministic distributed k-means (fixed-iteration Lloyd) over an
    * embedding column. Returns the fitted centroids as `(cell: int,
    * centroid: array<long>)` scaled-long vectors, usable directly by
    * [[kmeansAssign]] / [[semanticDedupVerdict]].
    *
    * Everything an MLlib-style fit leaves to RNG state or thread timing is
    * pinned down so two runs — or two engines — agree bit-for-bit: it is
    * the Lloyd kernel ([[Words]]) with max-cosine assignment (cosines are
    * doubles derived from exact ints — bit-identical in any IEEE engine).
    * The corpus is NEVER shuffled, matching MLlib's Lloyd ([[lloyd]]):
    * centroid state is k·dims longs, driver-sized by construction (the
    * same class of driver-side state as ConnectedComponents' convergence
    * scalar).
    */
  def kmeansFit(corpus: DataFrame, id: String, vec: String, k: Int,
                iters: Int, scale: Double = DefaultScale): DataFrame = {
    val fitted = kmeansFitSeq(corpus, id, vec, k, iters, scale)
    val spark = corpus.sparkSession
    import spark.implicits._
    fitted.map { case (_, c, v) => (c, v.toSeq) }
      .toDF("cell", "centroid")
  }

  /** [[kmeansFit]] keeping the centroids as the driver-side Seq they
    * already are — callers composing further passes ([[semanticDedupVerdict]])
    * skip the frame round-trip (materialize + collect) entirely.
    */
  private def kmeansFitSeq(corpus: DataFrame, id: String, vec: String,
                           k: Int, iters: Int, scale: Double): Words = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val q = prep(corpus, id, vec, "__id", scale)
    val seeds = fnvSeeds(q, k).toSeq.zipWithIndex
      .map { case (s, i) => (0, i + 1, s) }
    lloyd(q, seeds, iters, cosineLabels)
  }

  /** Assignment against fitted centroids: (id, cell, cosine) — the cosine is
    * to the OWNING centroid (the max, by construction). The centroid frame
    * is collected (k·dims driver-sized state) and applied as a literal
    * argmax projection — no shuffle, no join.
    */
  def kmeansAssign(corpus: DataFrame, id: String, vec: String,
                   centroids: DataFrame,
                   scale: Double = DefaultScale): DataFrame =
    assign(prep(corpus, id, vec, "__id", scale),
        collectCentroids(centroids))
      .select(col("__id").as(id), col("cell"), col("__cos").as("cosine"))

  /** Embedding-space drift monitor under a FROZEN coarse model — the ANN
    * twin of [[graft.ext.Bpe.vocabDrift]], completing the monitoring half
    * of the maintenance family: assign base and batch under the SAME
    * fitted centroids (the q176/q178 stored model — one fit serves the
    * fold AND this monitor) and compare, per cell, the occupancy shares
    * and the mean centroid-cosine of each slice. Two signals:
    *  - `share_drift_permille` per cell and its rollup `tv_permille` (the
    *    total-variation distance Σ|p−q|/2 between the two occupancy
    *    distributions, integer permille) — WHERE the batch lives moved;
    *  - `base/batch_mean_cos_micro` (mean centroid cosine, floored
    *    micros) — how WELL the frozen cells still fit the batch (a batch
    *    drifting off-model keeps assigning somewhere, but its alignment
    *    drops — the signal occupancy alone misses).
    * `refit_flag` fires at tv ≥ `refitTvPermille`; slices empty overall
    * report NULL shares/tv and never fire. Every centroid cell appears,
    * zero-member cells with 0 counts.
    *
    * Exactness: counts are exact; shares/tv are integer permille; mean
    * cosines are `Σ floor(cos·1e6 + 0.5) div n` — every value under the
    * cross-engine hash. Scale shape: the assignment is the k-dispatched
    * literal/broadcast argmax (zero or one slim exchange), the census is
    * one mergeable conditional-sum groupBy on cell, and the share/tv
    * windows run over k MODEL-SIZED rows, never the corpus.
    */
  def assignmentDrift(corpus: DataFrame, id: String, vec: String,
                      centroids: DataFrame, isBatch: Column,
                      refitTvPermille: Long = 100L,
                      scale: Double = DefaultScale): DataFrame = {
    val census = kmeansAssign(corpus, id, vec, centroids, scale)
      .withColumn("__b", isBatch)
      .withColumn("__cm",
        expr("CAST(floor(cosine * 1000000.0 + 0.5) AS BIGINT)"))
      .groupBy(col("cell"))
      .agg(
        sum(when(!col("__b"), 1L).otherwise(0L)).as("n_base"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("n_batch"),
        sum(when(!col("__b"), col("__cm")).otherwise(0L)).as("__bcm"),
        sum(when(col("__b"), col("__cm")).otherwise(0L)).as("__ncm"))
    val w = Window.partitionBy(lit(1))
    centroids.select(col("cell"))
      .join(census, Seq("cell"), "left")
      .na.fill(0L, Seq("n_base", "n_batch", "__bcm", "__ncm"))
      .withColumn("__tb", sum(col("n_base")).over(w))
      .withColumn("__tn", sum(col("n_batch")).over(w))
      .withColumn("base_share_permille",
        when(col("__tb") > 0, expr("(n_base * 1000) div __tb")))
      .withColumn("batch_share_permille",
        when(col("__tn") > 0, expr("(n_batch * 1000) div __tn")))
      .withColumn("share_drift_permille",
        col("batch_share_permille") - col("base_share_permille"))
      .withColumn("base_mean_cos_micro",
        when(col("n_base") > 0, expr("__bcm div n_base")))
      .withColumn("batch_mean_cos_micro",
        when(col("n_batch") > 0, expr("__ncm div n_batch")))
      .withColumn("__adsum",
        sum(abs(coalesce(col("base_share_permille"), lit(0L)) -
          coalesce(col("batch_share_permille"), lit(0L)))).over(w))
      .withColumn("tv_permille",
        when(col("__tb") > 0 && col("__tn") > 0, expr("__adsum div 2")))
      .withColumn("refit_flag", coalesce(
        (col("tv_permille") >= refitTvPermille).cast("long"), lit(0L)))
      .select(col("cell").cast("long").as("cell"), col("n_base"),
        col("n_batch"), col("base_share_permille"),
        col("batch_share_permille"), col("share_drift_permille"),
        col("base_mean_cos_micro"), col("batch_mean_cos_micro"),
        col("tv_permille"), col("refit_flag"))
  }

  // ---- incremental model maintenance ---------------------------------------

  /** Fitted-model state for INCREMENTAL maintenance (round-14 verdict item
    * 6): the fitted centroids PLUS, per cell, the exact per-dimension
    * scaled-vector sums and member count of the corpus assigned under
    * those centroids — `(cell, centroid, sums, n)`, the Lloyd kernel's
    * state ([[Words]] says why sums make [[kmeansFold]] EXACT).
    *
    * Store key scheme (the [[graft.sources.Tables.ensureMaterialized]]
    * contract): callers key the state by the BASE corpus's content key +
    * fit params (e.g. `contentKey(srcPath, "k8it2base")`); a grown corpus
    * changes the source key, and instead of refitting under the new key,
    * [[kmeansFold]] folds just the new batch into the old key's state —
    * an O(batch) update whose output is itself a state frame, so daily
    * batches chain (fold ∘ fold ∘ state).
    */
  def kmeansState(corpus: DataFrame, id: String, vec: String, k: Int,
                  iters: Int, scale: Double = DefaultScale): DataFrame =
    lloydState(kmeansFitSeq(corpus, id, vec, k, iters, scale),
      prep(corpus, id, vec, "__id", scale), cosineLabels).drop("subspace")

  /** [[kmeansState]] under GIVEN centroids (no fit) — the spec's tool for
    * proving fold exactness, and the entry point when centroids come from
    * an external fit. */
  def kmeansStateAt(centroids: DataFrame, corpus: DataFrame, id: String,
                    vec: String, scale: Double = DefaultScale): DataFrame =
    lloydState(collectCentroids(centroids),
      prep(corpus, id, vec, "__id", scale), cosineLabels).drop("subspace")

  /** Fold a NEW BATCH into persisted k-means state without re-scanning the
    * base corpus: assign the batch under the state's centroids (literal
    * argmax — no shuffle, no join), add its exact per-dim sums and counts
    * to the stored ones and re-derive each centroid ([[lloydFold]]) —
    * exactly the update half of one Lloyd round over base ∪ batch
    * (spec-pinned against [[kmeansStateAt]] on the union). Output is a
    * state frame, so folds CHAIN — with sequential mini-batch semantics:
    * each batch is assigned under the state's then-current centroids, so
    * `fold(fold(s, b1), b2)` places b2 under b1's update (the freshest
    * model) rather than under the original centroids — deliberately not
    * equal to `fold(s, b1 ∪ b2)`, though total count and scaled mass are
    * conserved exactly either way (spec-pinned). Cost: one batch scan +
    * a k·dims collect — O(batch), the point.
    *
    * MEASURED chained-fold drift ([[graft.tools.FoldDriftProbe]], sf1
    * fixture, 20k rows, k=8, 10% batch in N sub-batches; BENCH_SF1.json
    * round15_updates): chaining moves ≤12‰ of assignments vs ONE fold of
    * the whole batch, plateauing by N=4 — the sequential-mini-batch
    * caveat is real but tiny. Fold-vs-REFIT churn is 270‰ on this
    * isotropic fixture, which is seed lottery (a fresh fit re-seeds and
    * re-rounds on the union; the separated-cluster spec shows identical
    * partitions when the data has structure), not fold error. REFIT
    * POLICY pinned from this: fold freely while the cumulative folded
    * mass stays under the base mass (Σ n_batch < n_base at state build) —
    * one Lloyd update half absorbs perturbations exactly, but a
    * majority-new corpus deserves fresh seeds and full rounds. The same
    * policy holds for [[pqFold]] and [[ivfPqFold]].
    */
  def kmeansFold(state: DataFrame, batch: DataFrame, id: String,
                 vec: String, scale: Double = DefaultScale): DataFrame =
    lloydFold(state, prep(batch, id, vec, "__id", scale), cosineLabels,
      sign = 1L, at = None)

  /** Retract (unfold) a batch FROM persisted k-means state — the deletion
    * half of the maintenance family (takedowns, opt-outs, license
    * revocations): assign the retracted rows under the state's CURRENT
    * centroids, SUBTRACT their exact per-dim sums and counts and re-derive
    * each centroid ([[lloydFold]]) — one Lloyd update half over the
    * survivors, O(batch), no survivor re-scan. When the retracted rows
    * were assigned under these same centroids (a takedown from a
    * freshly-built/refit state — [[kmeansState]]'s centroid column IS the
    * assignment model), the result's sums and counts equal
    * [[kmeansStateAt]] on the survivors bit-for-bit (spec-pinned).
    *
    * To invert a FOLD mid-chain (`unfold(fold(S,B), B) == S`), the batch
    * must be re-assigned under the centroids it was folded under — S's,
    * not the folded state's — which the content-keyed store retains per
    * state version: use [[kmeansUnfoldAt]] with the stored pre-fold
    * model. Under the current centroids the retraction is approximate in
    * exactly the chained-fold sense (rows near a moved boundary may
    * re-route), measured by [[graft.tools.FoldDriftProbe]]'s unfold row.
    *
    * A batch that was never in the corpus can drive a cell's count
    * negative — that is a protocol violation (retracting foreign rows),
    * and the fold REFUSES it loudly rather than emitting a corrupt model.
    */
  def kmeansUnfold(state: DataFrame, batch: DataFrame, id: String,
                   vec: String, scale: Double = DefaultScale): DataFrame =
    lloydFold(state, prep(batch, id, vec, "__id", scale), cosineLabels,
      sign = -1L, at = None)

  /** [[kmeansUnfold]] with the batch assigned under GIVEN centroids — the
    * model version the batch was originally folded/assigned under (the
    * content-keyed store keeps one per batch id). This is the EXACT fold
    * inverse: `kmeansUnfoldAt(kmeansFold(S, B), B, centroidsOf(S)) == S`
    * on sums and counts for any S, and on the full state (centroid
    * included) when S is itself a fold output (spec-pinned) — fold and
    * unfold then compute the same batch sums under the same model, and
    * the re-derive is the same function of the restored (sums, n).
    * `atCentroids` must have the state's cells and dims. */
  def kmeansUnfoldAt(state: DataFrame, batch: DataFrame, id: String,
                     vec: String, atCentroids: DataFrame,
                     scale: Double = DefaultScale): DataFrame =
    lloydFold(state, prep(batch, id, vec, "__id", scale), cosineLabels,
      sign = -1L, at = Some(collectCentroids(atCentroids)))

  /** SemDeDup-style semantic dedup: fit k cells ([[kmeansFit]]), then inside
    * each cell drop every row that has a SMALLER-id neighbor with cosine ≥
    * `minCosine` (greedy min-id pruning, per-pair — not the transitive
    * closure: in a chain a~b~c with cos(a,c) < τ, b and c both drop but a
    * stays, which is the per-ε-ball "keep one representative" verdict, not
    * a duplicate CLUSTERING — ConnectedComponents is the closure tool).
    * Output: (id, cell, centroid_cosine, keep: int, dup_of: long|null).
    *
    * Scale shape: assignment is the shuffle-free literal projection; the
    * ONLY corpus shuffle is the cell-bucketed pair join — Σ|cell|² like
    * [[cosineNearDups]], but over centroids fitted to the corpus rather
    * than supplied, so cells track the actual density (the SemDeDup paper's
    * within-cluster pruning). Nothing is ever all-pairs.
    *
    * Pass `k <= 0` to auto-size it from the corpus ([[autoSemanticK]]; one
    * extra `count()`). A FIXED k is the bucketing-parameter-vs-density trap
    * (SRP band bits, IVF cells, grid cell width — all measured): cell
    * occupancy n/k grows with the corpus and the Σ|cell|² pair join grows
    * n²/k — the sf1 run measured 14.5× wall on 10× data at k = 8. Constant
    * occupancy (k ∝ n) keeps the pair join linear in n; the centroid state
    * is k·dims longs on the driver, so the auto rule stays driver-sized
    * into the billions of rows (10⁹ rows → ~4M cells × dims longs — at
    * that point raise targetPerCell or shard the fit).
    */
  def semanticDedupVerdict(corpus: DataFrame, id: String, vec: String,
                           k: Int, iters: Int, minCosine: Double,
                           scale: Double = DefaultScale): DataFrame = {
    val kk = if (k > 0) k else autoSemanticK(corpus.count())
    val cent = kmeansFitSeq(corpus, id, vec, kk, iters, scale)
    val assigned = assign(prep(corpus, id, vec, "__id", scale), cent)
      // both pair-join sides + the verdict join consume the assignment
      .localCheckpoint(false)
    val a = assigned.select(col("__id").as("id_a"), col("cell"),
      col("__qv").as("__va"), col("__qn").as("__na"))
    val b = assigned.select(col("__id").as("id_b"), col("cell"),
      col("__qv").as("__vb"), col("__qn").as("__nb"))
    val dups = a.join(b, Seq("cell"))
      .filter(col("id_b") < col("id_a"))
      .withColumn("__pc",
        cosineFromQuantized(col("__va"), col("__vb"), col("__na"), col("__nb")))
      .filter(col("__pc") >= minCosine)
      .groupBy(col("id_a").as("__did"))
      .agg(min(col("id_b")).as("dup_of"))
    assigned
      .join(dups, col("__id") === col("__did"), "left")
      .select(col("__id").as(id), col("cell"),
        col("__cos").as("centroid_cosine"),
        col("dup_of").isNull.cast("int").as("keep"), col("dup_of"))
  }

  // ---- two-stage quantized re-rank ----------------------------------------

  /** Coarse-then-exact top-k: a first pass over vectors quantized at
    * `coarseScale` (default 1e2 — int8-range values, an 8× smaller scan
    * than the 1e6 working precision) selects `m·k` candidates per query;
    * only those rejoin the full-precision vectors for the exact re-rank.
    * This is the memory-tier ANN shape: at 100 TB the coarse copy is the
    * one that stays hot (RAM/SSD), the full-precision corpus is touched
    * for k·m rows per query via an equi-join on the id — never scanned.
    *
    * The coarse pass RANKS (it never thresholds), so like every banding
    * tier here it affects recall only: a true neighbor is missed only if
    * ranked below m·k coarsely. With m·k ≥ |corpus| the result provably
    * equals [[knnExact]] (spec-pinned). Ties at both stages break on the
    * lower neighbor id; all arithmetic is the exact-int cosine at the two
    * scales, so both stages are hash-checked cross-engine.
    *
    * `coarseScale` must keep every vector nonzero (a vector quantizing to
    * all-zeros would make its coarse cosine 0/0 = NaN); 1e2 holds for any
    * roughly-unit-norm embedding family.
    */
  def knnRerank(corpus: DataFrame, queries: DataFrame,
                corpusId: String, corpusVec: String,
                queryId: String, queryVec: String,
                k: Int, m: Int, coarseScale: Double = 1e2,
                scale: Double = DefaultScale): DataFrame = {
    require(k >= 1 && m >= 1, s"k and m must be >= 1, got k=$k m=$m")
    val mk = math.toIntExact(k.toLong * m)
    // the coarse scan IS |corpus|×|queries| by design — but its ranking is
    // the kernel's bounded top-k, so the product dies map-side and the
    // exchange carries m·k ids per query
    val cand = topIds(neighbors(
      corpusSide(corpus, corpusId, corpusVec, coarseScale).crossJoin(broadcast(
        prep(queries, queryId, queryVec, "query_id", coarseScale))),
      pairCos, mk), "neighbor_id")
    val cFull = corpusSide(corpus, corpusId, corpusVec, scale)
    val qFull = prep(queries, queryId, queryVec, "query_id", scale)
    explodeTopK(topK(cand.join(cFull.withColumn("neighbor_id",
          col("neighbor_id").cast("long")), Seq("neighbor_id"))
      .join(broadcast(qFull), Seq("query_id")),
      "query_id", pairCos, "neighbor_id", k))
  }


  /** DuckDB SQL text for the identical scaled-integer dot product. */
  /** DuckDB multiplies FLOAT×DOUBLE in float precision — the element must be
    * cast to DOUBLE first to match Spark's float→double promotion. */
  def dotSqlText(a: String, b: String, scale: Double = DefaultScale): String =
    s"CAST(list_sum([CAST(floor(CAST(($a)[i] AS DOUBLE)*$scale + 0.5) AS BIGINT)" +
      s"*CAST(floor(CAST(($b)[i] AS DOUBLE)*$scale + 0.5) AS BIGINT) " +
      s"FOR i IN range(1, len($a)+1)]) AS BIGINT)"

  /** DuckDB SQL text for the identical cosine (exact ints → IEEE sqrt/div). */
  def cosineSqlText(a: String, b: String, scale: Double = DefaultScale): String =
    s"(${dotSqlText(a, b, scale)} / (sqrt(CAST(${dotSqlText(a, a, scale)} AS DOUBLE))" +
      s" * sqrt(CAST(${dotSqlText(b, b, scale)} AS DOUBLE))))"

  /** [[dotSqlText]] for lists that are ALREADY scaled longs (BIGINT lists),
    * e.g. the k-means centroid vectors the oracle CTEs carry.
    */
  def dotLongSqlText(a: String, b: String): String =
    s"CAST(list_sum([($a)[i]*($b)[i] FOR i IN range(1, len($a)+1)]) AS BIGINT)"

  /** [[cosineSqlText]] over BIGINT lists. */
  def cosineLongSqlText(a: String, b: String): String =
    s"(${dotLongSqlText(a, b)} / (sqrt(CAST(${dotLongSqlText(a, a)} AS DOUBLE))" +
      s" * sqrt(CAST(${dotLongSqlText(b, b)} AS DOUBLE))))"

  /** Distributed Gram (uncentered second-moment) matrix per group: for each
    * `grp`, Σ over rows of qᵢ·qⱼ on the 1e6-quantized vectors, upper
    * triangle (i ≤ j) only — the exact-integer input to PCA / whitening /
    * covariance analysis over an embedding column. Everything is integer
    * sums of integer products, so the matrix is order-independent and
    * hash-exact cross-engine — q91's exact-moment device generalized from
    * the diagonal (squared norms) to the full cross-moment matrix.
    *
    * Each row explodes to its d·(d+1)/2 upper-triangle products via one
    * nested `transform` + `flatten` (array math in whole-stage codegen, no
    * UDF), and one (grp, i, j)-keyed exchange carries the partial sums —
    * rows·d²/2 explode map-side but only \|groups\|·d²/2 cross the wire.
    * Overflow bound: \|q\|∞ ≤ s·max\|x\| and n rows give Σ ≤ n·(s·max\|x\|)²
    * — at s = 1e6, \|x\| ≤ 1.1, n ≤ 7·10⁵ that is ~8.5·10¹⁷ < 2⁶³; past
    * that, drop `scale` one decade per 100× rows (the q84 mean-scale
    * trade). The d×d result (d = 64: 2,080 cells/group) is driver-sized
    * by construction — the [[pcaTopComponent]] eigensolve runs there,
    * MLlib-style, like the k-means centroid state.
    *
    * Output: (grp, i, j, n, s) with 1-based dims, i ≤ j, s the exact
    * integer Σ qᵢ·qⱼ.
    */
  def gramMatrix(df: DataFrame, grp: String, vec: String,
                 scale: Double = DefaultScale): DataFrame = {
    val d = size(col("__qv"))
    val pairs = flatten(transform(sequence(lit(1), d), i =>
      transform(sequence(i, d), j =>
        struct(i.as("i"), j.as("j"),
          (element_at(col("__qv"), i) * element_at(col("__qv"), j))
            .as("p")))))
    df.select(col(grp).as("grp"), quantize(col(vec), scale).as("__qv"))
      .select(col("grp"), explode(pairs).as("__e"))
      .groupBy(col("grp"), col("__e.i").as("i"), col("__e.j").as("j"))
      .agg(count(lit(1)).as("n"), sum(col("__e.p")).as("s"))
  }

  /** Driver-side top principal component of a COLLECTED Gram matrix
    * (d×d doubles — k·dims²-sized state, the same driver-resident model
    * tier as the k-means centroids): `iters` fixed power-iteration rounds
    * from the all-ones vector, normalized each round. Deterministic — no
    * randomness, fixed iteration count, plain double arithmetic — so any
    * two runs (and any driver) produce bit-identical components. Returns
    * the unnormalized direction's unit vector; sign fixed by making the
    * largest-magnitude coordinate positive (eigenvectors are defined up
    * to sign).
    *
    * The projection of corpus rows onto the component is then a literal
    * zero-exchange map (the q84 assignment shape) — dot with a constant
    * vector — which callers build with [[dotLong]] against `lit` arrays.
    */
  def pcaTopComponent(gram: Array[(Int, Int, Long)], d: Int,
                      iters: Int = 30): Array[Double] = {
    val a = Array.ofDim[Double](d, d)
    gram.foreach { case (i, j, s) =>
      a(i - 1)(j - 1) = s.toDouble
      a(j - 1)(i - 1) = s.toDouble
    }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var it = 0
    while (it < iters) {
      val w = Array.tabulate(d) { i =>
        var acc = 0.0
        var j = 0
        while (j < d) { acc += a(i)(j) * v(j); j += 1 }
        acc
      }
      val norm = math.sqrt(w.map(x => x * x).sum)
      v = if (norm == 0.0) v else w.map(_ / norm)
      it += 1
    }
    val maxIdx = v.indices.maxBy(i => math.abs(v(i)))
    if (v(maxIdx) < 0) v.map(x => -x) else v
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Small distributed-graph utilities beside [[ConnectedComponents]] (which
  * components) and [[PageRank]] (how central): triangle counting — the
  * clustering/cohesion primitive (a node's triangle count is the
  * numerator of its local clustering coefficient, the standard community-
  * density signal).
  */
object Graphs {

  /** Per-node triangle counts over an undirected graph given as CANONICAL
    * edges (`p1 < p2`, one row per edge — the orientation every pair
    * generator here already emits). A triangle a < b < c is found exactly
    * once as e(a,b) ⋈ e(b,c) ⋈ e(a,c): orienting the join by the id
    * order means each wedge (a,b),(b,c) is probed once, never 6× — the
    * classic oriented-wedge bound of Σ out-deg² probe work. At scale the
    * standard upgrade is DEGREE ordering (orient edges low-degree →
    * high-degree for the O(m^{3/2}) bound, Latapy/compact-forward); the
    * id orientation keeps the same plan shape — two equi-joins and one
    * aggregation, every exchange keyed — and is deterministic without a
    * degree precomputation pass.
    *
    * Returns (node, triangles) for nodes in ≥ 1 triangle.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(col("p1").as("a"), col("p2").as("b"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"),
        col("e2.b").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
  }

  /** [[triangleCounts]] with DEGREE orientation (Latapy's compact-forward
    * / the MapReduce form in Suri & Vassilvitskii 2011): every edge is
    * directed toward its higher-(degree, id) endpoint, wedges are formed
    * only from a common SOURCE's two out-edges (ordered by the same key),
    * and the closing edge is probed in its oriented form — each triangle
    * is found exactly once at its lowest-(degree, id) corner. Output is
    * IDENTICAL to [[triangleCounts]] (spec-pinned on random graphs; the
    * catalog pins hash-equality through the shared oracle).
    *
    * Why this is the 100 TB form: wedge work is Σ out-deg², and degree
    * orientation bounds every out-degree by O(√m) (a node of degree d
    * keeps only edges to HIGHER-degree nodes, and at most √(2m) nodes
    * have degree ≥ √(2m)), giving the O(m^{3/2}) bound. Under the id
    * orientation the a→b→c path join's work at a middle node v is
    * in(v)·out(v), both of which are whatever v's id draws: a celebrity
    * node whose id sits at the MEDIAN of its neighborhood puts
    * (deg/2)² path rows through ONE join key that no partitioning can
    * split (the same single-key pathology as the q49 window finding;
    * measured round 11 — BENCH_SF1.json
    * round11_updates.triangle_hub_bench, planted median-id hubs at sf1:
    * deg-20k hub (10⁸ single-key path rows) 10.3 s vs 3.2 s,
    * deg-60k hub (9·10⁸ rows) 89.4 s vs 4.3 s = 20.8×, identical
    * counts, and the id-oriented wall grows quadratically in hub degree
    * exactly as the in·out product predicts; a LOW-id hub, by contrast,
    * has in = 0 and is harmless — the pathology is id-PLACEMENT-
    * dependent, which is exactly why it cannot be engineered around
    * without the degree pass). The degree pass costs one extra aggregation + two
    * broadcast-or-shuffle attaches — the insurance premium against the
    * quadratic hub.
    *
    * Ties on (degree, id) are impossible across distinct nodes (id
    * breaks them), so the orientation is a strict total order and
    * acyclic. Returns (node, triangles) for nodes in ≥ 1 triangle.
    */
  def triangleCountsDegreeOriented(edges: DataFrame): DataFrame =
    triangleCountsDegreeOriented(edges, degrees(edges))

  /** Node degrees of a canonical-edge (`p1 < p2`) graph: `(node, degree)`,
    * one row per node. Exposed so callers that ALSO need degrees (local
    * clustering coefficient divides by deg·(deg−1)) compute the explode +
    * groupBy once and thread it into
    * [[triangleCountsDegreeOriented(edges:*]] instead of aggregating twice.
    */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("p1"), col("p2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))

  /** k-core of a canonical-edge (`p1 < p2`) graph: the maximal subgraph in
    * which every node has degree ≥ k, computed by the standard peeling
    * fixpoint — repeatedly drop nodes whose CURRENT degree is < k (removing
    * a node lowers its neighbors' degrees, so the peel cascades) until no
    * node is dropped. The density gate community detection and dup-graph
    * audits read above [[triangleCounts]]' local signal: a node can sit in
    * many triangles yet fall out of the 3-core once its shell neighbors
    * peel away.
    *
    * Scale shape: each round is ONE mergeable degree aggregation + two
    * semi-joins of the edge frame against the survivor set — all equi-keyed
    * exchanges, no windows, no collects. The rounds run on [[Fixpoint]]
    * (the [[ConnectedComponents]] loop), so the plan never compounds across
    * rounds. Rounds are data-dependent (≤ the longest peel cascade); the
    * loop exits as soon as the edge set is stable and REFUSES (loudly) past
    * `maxRounds` — a silent partial peel would not be a k-core.
    *
    * Returns (node, core_degree): the surviving nodes with their degree
    * WITHIN the core (≥ k by the fixpoint).
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 12): DataFrame = {
    val e = kCoreEdges(edges, k, maxRounds)
    degrees(e).filter(col("degree") >= k)
      .select(col("node"), col("degree").as("core_degree"))
  }

  /** The peel fixpoint's EDGE frame (the k-core as a subgraph, not a node
    * report) — the composition point [[coreness]] peels incrementally
    * from: by monotonicity core(k) ⊆ core(k−1), so peeling k out of the
    * (k−1)-core's edges reaches the same fixpoint as peeling the whole
    * graph, over a strictly smaller frame. The returned frame is the
    * [[Fixpoint]] loop's last local checkpoint (lineage already truncated).
    * A peel's edge set only shrinks, so the loop's (count, checksum)
    * fingerprint is stable exactly when the edge count is.
    */
  private[graft] def kCoreEdges(edges: DataFrame, k: Int,
                                maxRounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // the entry checkpoint is taken for this call alone, so the loop may
    // release it once round 1 supersedes it
    Fixpoint.run("k-core peel",
        edges.select(col("p1"), col("p2")).localCheckpoint(false),
        maxRounds) { e =>
      val surv = degrees(e).filter(col("degree") >= k).select("node")
      e.join(surv.select(col("node").as("p1")), Seq("p1"), "left_semi")
        .join(surv.select(col("node").as("p2")), Seq("p2"), "left_semi")
    }._1
  }

  /** Capped coreness decomposition: per node, the largest k ≤ `maxK` whose
    * k-core still contains it — `(node, coreness)` for every node of the
    * edge frame (an edge endpoint is by definition in the 1-core, so every
    * node appears with coreness ≥ 1).
    *
    * Incremental by k-core monotonicity (core(k) ⊆ core(k−1), the
    * Batagelj–Zaveršnik nesting): the k-th fixpoint peels the (k−1)-core's
    * edge frame, not the original graph — each sweep step does strictly
    * less work than a from-scratch peel, and the deep-k fixpoints (the
    * ones with the long cascades) run over the smallest frames. Output is
    * IDENTICAL to unioning independent [[kCore]] runs (spec-pinned): each
    * step reaches the same fixpoint by monotonicity, and the final max is
    * over the same membership sets.
    */
  def coreness(edges: DataFrame, maxK: Int, maxRounds: Int = 16): DataFrame = {
    require(maxK >= 1, s"maxK must be >= 1, got $maxK")
    var e = edges.select(col("p1"), col("p2"))
    var tiers: Option[DataFrame] = None
    for (k <- 1 to maxK) {
      e = kCoreEdges(e, k, maxRounds)
      val members = degrees(e).filter(col("degree") >= k)
        .select(col("node"), lit(k.toLong).as("k"))
      tiers = Some(tiers.map(_.unionByName(members)).getOrElse(members))
    }
    tiers.get.groupBy("node").agg(max("k").as("coreness"))
  }

  /** [[triangleCountsDegreeOriented]] with the degree frame supplied by the
    * caller (columns `node`, `degree` — [[degrees]]' shape). The frame is
    * attached twice (source and target endpoint); callers sharing it with
    * their own consumers should pin it ([[graft.ext.Caches.pin]]) so the
    * aggregation runs once.
    */
  def triangleCountsDegreeOriented(edges: DataFrame, deg: DataFrame): DataFrame = {
    val e = edges.select(col("p1").as("a"), col("p2").as("b"))
    val dg = deg.select(col("node").as("n"), col("degree").as("d"))
    val withDeg = e
      .join(dg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(dg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
    // orient u -> v iff (d_u, u) < (d_v, v); carry the target's key so
    // wedge legs order without a second degree lookup
    val oriented = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        struct(col("a").as("u"), col("b").as("v"),
          col("db").as("dv")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"),
          col("da").as("dv"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
    val tri = oriented.as("w1")
      .join(oriented.as("w2"),
        col("w1.u") === col("w2.u") &&
          struct(col("w1.dv"), col("w1.v")) <
            struct(col("w2.dv"), col("w2.v")))
      .select(col("w1.u").as("x"), col("w1.v").as("y"),
        col("w2.v").as("z"))
      .join(oriented.select(col("u").as("y"), col("v").as("z")),
        Seq("y", "z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
  }
}

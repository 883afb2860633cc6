package graft.operators

import scala.jdk.CollectionConverters._
import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Connected components over an undirected edge list — the clustering step a
  * dedup pipeline needs between "near-dup PAIRS" (Jaccard/MinHash/SimHash
  * emit edges) and "keep one doc per GROUP": duplicate classes are the
  * components of the pair graph, and the canonical survivor is each
  * component's minimum id.
  *
  * Algorithm: large-star / small-star alternation (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14). Each round
  * applies two edge-rewriting operations:
  *
  *   - large-star(u): let m = min(Γ(u) ∪ {u}); replace every edge to a
  *     STRICTLY LARGER neighbor v with (v, m) — large nodes get re-hung off
  *     the local minimum, halving long chains,
  *   - small-star(u): over (big → small)-oriented edges, let m = min of u's
  *     smaller neighbors; re-hang those neighbors AND u itself off m —
  *     collapsing shallow trees into stars.
  *
  * The edge set converges to a disjoint union of stars rooted at each
  * component's minimum id in O(log n) rounds on ANY graph — including the
  * pathological chain shapes (boilerplate with incremental counters) that
  * make plain min-label propagation need diameter-many rounds. A dense
  * near-clique dedup cluster still converges in ~2 rounds, so the common
  * case pays nothing for the worst-case guarantee.
  *
  * Scale shape (the 100 TB contract): the canonical edge set is
  * checkpointed once, then one bounded `take` of [[DriverEdges]] + 1 rows
  * counts it exactly. At most [[DriverEdges]] rows (100K edges, ~35 MB of
  * driver heap) are labeled by a union-find on the driver and returned as
  * a local relation: at small scale Spark's per-job fixed cost dominates,
  * and the star rounds' ~10 jobs per round cost more than the whole graph
  * (q54 at sf0.01: 25 edges, 37 -> 17 jobs). Above the bound the star
  * rounds run, with no driver-side data: each round is two groupBy-min
  * aggregates plus two self-equi-joins on vertex id — no all-pairs step;
  * intermediate edge sets are `distinct`-bounded by the current edge
  * count. The rounds run on [[Fixpoint]]: each round's edge set is a lazy
  * local checkpoint (the plan stays O(1) deep instead of growing by four
  * joins per round) materialized by the round's one action, an
  * order-independent (count, xxhash64 checksum) aggregate that decides
  * convergence; the superseded round's blocks are released there. Either
  * path prints one stderr line naming itself, with the edge count or the
  * round count and final star-edge count.
  */
object ConnectedComponents {

  /** (id, component) for every vertex appearing in `edges`; `component` is
    * the minimum vertex id of the connected component. Edges are treated as
    * undirected; self-loops and duplicate edges are harmless. An
    * unconverged edge set would yield silently WRONG labels, so past
    * `maxIters` star rounds this refuses (the driver path runs none); with
    * O(log n) convergence 30 rounds covers any physically storable graph —
    * hitting the cap means a bug (e.g. non-deterministic input), not a big
    * input.
    */
  def run(edges: DataFrame, src: String, dst: String,
          maxIters: Int = 30): DataFrame =
    runCounted(edges, src, dst, maxIters)._1

  /** Incremental update: fold a batch of NEW edges into an existing labeling
    * without reprocessing the original pair graph — the daily-ingestion twin
    * of [[run]], the way `Dedup.crossJaccardPairs`/`crossMinHashNearDups`
    * are the incremental twins of the self-join dedup operators.
    *
    * A previous run's `(id, component)` output is itself a star edge set
    * with exactly the old graph's connectivity, so merging is just [[run]]
    * over (labels-as-edges ∪ newEdges): per-day cost scales with
    * |vertices| + |batch edges|, never with the historical pair count —
    * at 100 TB the original edge list (quadratic-ish in cluster sizes) is
    * exactly what must not be re-read every day. New edges may mention brand
    * new vertices, extend an existing component, or bridge two existing
    * components (both adopt the smaller root); prior stars re-converge in
    * O(log n) rounds like any star-shaped input.
    *
    * Correctness contract (pinned by `ConnectedComponentsSpec`):
    * `merge(run(E1), E2)` produces exactly `run(E1 ∪ E2)` restricted to
    * vertices that appear in E1 or E2.
    */
  def merge(labels: DataFrame, idCol: String, compCol: String,
            newEdges: DataFrame, src: String, dst: String): DataFrame =
    run(
      labels.select(col(idCol).as("__u"), col(compCol).as("__v"))
        .unionByName(newEdges.select(col(src).as("__u"), col(dst).as("__v"))),
      "__u", "__v")

  /** FRONTIER-ONLY incremental fold — [[merge]] restricted to the
    * components the batch actually touches (round-16, the graph tier's
    * member of the fold family): a new edge can only relabel vertices
    * reachable from its endpoints, so any stored component containing NO
    * batch endpoint is already final and its labels pass through
    * untouched — never re-read by the star rounds. Affected components
    * are found with one semi-join of the batch's endpoints against the
    * labels (per-vertex, then per-component), the star rounds run over
    * (affected labels-as-edges ∪ batch edges) only, and the output is
    * the union. At 100 TB this is the difference that matters: [[merge]]
    * re-converges |vertices| star edges per day even when the batch
    * touches a handful of clusters; this folds |affected ∪ batch| — the
    * batch's own neighborhood — and the untouched billions ride a
    * pass-through scan. MEASURED REGIME BOUND (sf1, BENCH_SF1.json
    * round16_updates.cc_fold_vs_merge_vs_refit): below ~1M stored labels
    * the star rounds are so cheap that the endpoint semi-joins cost more
    * than the restriction saves — use [[merge]] there; above it, merge's
    * wall grows linearly with the untouched mass (every label re-converged
    * per batch) while fold's grows sublinearly (one anti-join scan):
    * 1.6× faster at 10M untouched labels, 2.3× at 30M, widening with
    * scale.
    *
    * Output: (id, component, touched) — `touched` = 1 on rows the star
    * rounds re-derived (members of an affected component, plus vertices
    * the batch introduced), 0 on pass-through labels. Same correctness
    * contract as [[merge]], spec-pinned: dropping `touched`,
    * `fold(run(E1), E2)` equals `run(E1 ∪ E2)` on vertices of E1 ∪ E2.
    */
  def fold(labels: DataFrame, idCol: String, compCol: String,
           newEdges: DataFrame, src: String, dst: String): DataFrame = {
    // ONE materialization of the batch-edge pipeline (round-16): the
    // edges feed three separate actions — the endpoint set below, the
    // merge's canon checkpoint, and (via touchedRoots) the `untouched`
    // anti-join evaluated at the caller's final action. A dedup batch's
    // edges come out of a multi-join pair generator (cross inverted
    // index), so the unmaterialized form re-ran that generator three
    // times (measured at sf0.1, q187 with the hashed-shingle grain:
    // 12.5 s → 5.2 s wall, 119 → 62 jobs for the two together). Batch-sized
    // by the fold contract, so the checkpoint is small by construction.
    val ne = newEdges.select(col(src).as("__s"), col(dst).as("__d"))
      .localCheckpoint(true)
    // the batch's endpoint set is batch-sized; the two semi-joins against
    // it are equi-joins on id/component (broadcast-able at daily-batch
    // scale, shuffle joins otherwise — never a scan of the pair history)
    val ends = ne.select(col("__s").as("__e"))
      .unionByName(ne.select(col("__d").as("__e")))
      .distinct()
    frontier(labels, idCol, compCol, ends, "__e")(
      merge(_, "id", "component", ne, "__s", "__d"))
  }

  /** Vertex RETRACTION — the deletion half of the graph tier (round-16,
    * [[fold]]'s inverse posture; takedowns / opt-outs / license
    * revocations): remove `retracted` vertices and every incident edge
    * from a graph whose stored labeling is `labels`, re-deriving ONLY the
    * components a retraction touches.
    *
    * Unlike the model-state unfolds (`Similarity.kmeansUnfold` subtracts
    * exact sums), a label set alone is NOT invertible under deletion — a
    * retracted vertex may be a BRIDGE, splitting its component, and which
    * survivors stay connected depends on the component's internal edge
    * structure, which the stars discarded. So this unfold keys on the
    * STORED base edges (`edges`, persisted beside the labels in the
    * content-keyed store — the posture every fitted model in the
    * maintenance family already has), restricted to the frontier:
    *
    *   - touched roots: components containing a retracted id — one
    *     retraction-sized semi-join against the labels,
    *   - untouched components pass through with `touched` = 0, never read
    *     by the star rounds (their membership is unchanged, so their
    *     min-id root is unchanged — a retracted id in a component makes
    *     it touched by construction),
    *   - touched components re-derive from their surviving edges (both
    *     endpoints unretracted): [[run]] over that restricted set, plus
    *     singleton self-labels for surviving members whose every edge
    *     died — `touched` = 1 on all of them.
    *
    * The edge restriction is one pass-through scan of the stored edge
    * list (two anti-joins against the retraction set + one semi-join
    * against the affected members; an edge's endpoints share a component,
    * so filtering `src` suffices) — with edges bucketed by component in a
    * production store, partition pruning cuts even that scan to the
    * touched buckets. Retracted ids absent from the graph are harmless
    * no-ops (takedown lists routinely name docs that never entered the
    * pair graph); retracted ids vanish from the output.
    *
    * Correctness contract (pinned by `ConnectedComponentsSpec`): dropping
    * `touched`, `unfold(run(E), E, R)` equals `run(E')` ∪ singletons,
    * where E' = edges of E with neither endpoint in R and the singletons
    * are the vertices of E \ R that lost every edge — including genuine
    * SPLITS when a bridge vertex is retracted.
    */
  def unfold(labels: DataFrame, idCol: String, compCol: String,
             edges: DataFrame, src: String, dst: String,
             retracted: DataFrame, rCol: String): DataFrame = {
    val retr = retracted.select(col(rCol).as("__r")).distinct()
    frontier(labels, idCol, compCol, retr, "__r") { inTouched =>
      // surviving members of touched components (the re-derive universe)
      val affected = inTouched.join(retr, inTouched("id") === col("__r"),
          "left_anti")
        .select(col("id"))
      // stored edges, restricted to touched components and stripped of
      // retracted endpoints — the only part of the history the stars
      // re-read
      val e = edges.select(col(src).as("__u"), col(dst).as("__v"))
      val surviving = e
        .join(affected, e("__u") === affected("id"), "left_semi")
        .join(retr, e("__u") === col("__r"), "left_anti")
        .join(retr, e("__v") === col("__r"), "left_anti")
      val rerun = run(surviving, "__u", "__v")
      // members whose every edge died re-label as their own singleton
      val isolated = affected.join(rerun, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component"))
      rerun.unionByName(isolated)
    }
  }

  /** The frontier split [[fold]] and [[unfold]] share: the stored
    * components containing a `keys` id (batch endpoints / retracted ids)
    * are re-derived by `rederive` from their (id, component) rows and
    * flagged `touched` = 1; every other label passes through with
    * `touched` = 0, never read by the star rounds.
    */
  private def frontier(labels: DataFrame, idCol: String, compCol: String,
                       keys: DataFrame, key: String)(
      rederive: DataFrame => DataFrame): DataFrame = {
    val lab = labels.select(col(idCol).as("id"), col(compCol).as("component"))
    val touchedRoots = lab
      .join(keys, lab("id") === col(key), "left_semi")
      .select(col("component").as("__root")).distinct()
    val affected = lab.join(touchedRoots,
      lab("component") === col("__root"), "left_semi")
    val untouched = lab.join(touchedRoots,
      lab("component") === col("__root"), "left_anti")
    rederive(affected)
      .withColumn("touched", lit(1))
      .unionByName(untouched.withColumn("touched", lit(0)))
  }

  /** Canonical edge sets of at most this many rows are labeled on the
    * driver ([[runCounted]]'s small-graph path); larger ones run the star
    * rounds. Sized by driver memory: the path holds 349 bytes per edge at
    * its peak (measured with long ids, 100K random edges over 133K
    * vertices, local[4]: 108 the taken rows, 31 the id and parent arrays,
    * 124 the label rows, 86 the local relation built from them), so the
    * bound keeps it near 35 MB of driver heap. The labels go back as a
    * local relation of at most twice as many rows, 24 bytes each by
    * Spark's own size estimate: under 5 MB at the bound, inside the 10 MB
    * Spark broadcasts by default.
    */
  private val DriverEdges = 100000

  private val starRoundsForced = new DynamicVariable(false)

  /** Runs `f` with every call inside it on the star rounds, whatever its
    * edge count: specs pin both paths to the same rows with it.
    */
  private[graft] def forcingStarRounds[T](f: => T): T =
    starRoundsForced.withValue(true)(f)

  /** As [[run]], additionally returning the number of large+small-star
    * rounds executed until the edge-set fixpoint (telemetry / specs); 0
    * when the graph was labeled on the driver.
    */
  def runCounted(edges: DataFrame, src: String, dst: String,
                 maxIters: Int = 30): (DataFrame, Int) = {
    // ONE materialization of the (often expensive) upstream pipeline that
    // produced `edges` — a dedup pair generator here is a multi-join
    // inverted index, and the round-6 shape re-ran it twice by anchoring
    // two separate checkpoints on it (once for the vertex universe, once
    // for the working edge set). Canonical (u >= v) orientation, SELF-LOOPS
    // KEPT so isolated vertices survive into the vertex scan below.
    val canon = edges.select(
        greatest(col(src), col(dst)).as("u"),
        least(col(src), col(dst)).as("v"))
      .distinct()
      .localCheckpoint(true)
    onDriver(canon) match {
      case Some(labels) => (labels, 0)
      case None => starRounds(canon, maxIters)
    }
  }

  /** The small-graph path: one bounded `take` over the canon checkpoint's
    * blocks counts its rows exactly (a plan estimate of a pair generator's
    * output can be off by orders of magnitude); at most [[DriverEdges]]
    * rows are labeled by a union-find on the driver, each vertex with the
    * minimum id of its component, and returned as a local relation with
    * the star path's schema. None — run the star rounds — above the bound,
    * for non-integral ids, or when a spec forces the rounds.
    */
  private def onDriver(canon: DataFrame): Option[DataFrame] = {
    val u = canon.schema("u")
    val integral = u.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (starRoundsForced.value || !integral) return None
    val rows = canon.take(DriverEdges + 1)
    if (rows.length > DriverEdges) return None
    // canon rows are (greatest, least): a null endpoint makes a self-loop
    // of the other, two make the one (null, null) row — a null vertex
    // that the star path labels (null, null) too
    val ids = rows.iterator.flatMap(r => Iterator(r.get(0), r.get(1)))
      .collect { case n: Number => n.longValue }.toArray.distinct.sorted
    val hasNull = rows.exists(r => r.isNullAt(0) || r.isNullAt(1))
    def at(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    // ids sorted ascending, so the smaller index is the smaller id: every
    // union hangs the larger root off the smaller and each root is its
    // component's minimum
    val parent = Array.tabulate(ids.length)(identity)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val a = find(at(r.getAs[Number](0).longValue))
        val b = find(at(r.getAs[Number](1).longValue))
        if (a != b) parent(math.max(a, b)) = math.min(a, b)
      }
    }
    val external: Long => Any = u.dataType match {
      case ByteType => _.toByte
      case ShortType => _.toShort
      case IntegerType => _.toInt
      case _ => identity
    }
    val labels = ids.indices.map(i =>
      Row(external(ids(i)), external(ids(find(i))))) ++
      (if (hasNull) Seq(Row(null, null)) else Nil)
    val nullable = u.nullable || canon.schema("v").nullable
    val schema = StructType(Seq(
      StructField("id", u.dataType, nullable),
      StructField("component", u.dataType, nullable)))
    // the labels no longer read the canon checkpoint
    Fixpoint.releaseLocalCheckpoint(canon)
    System.err.println(s"[graft] connected components: union-find on the " +
      s"driver (${rows.length} edges)")
    Some(canon.sparkSession.createDataFrame(labels.asJava, schema))
  }

  /** The distributed path: large/small-star rounds on [[Fixpoint]] over the
    * canon checkpoint, which the returned labels still read.
    */
  private def starRounds(canon: DataFrame, maxIters: Int): (DataFrame, Int) = {
    // every vertex mentioned anywhere in the input: the star fixpoint drops
    // isolated vertices (self-loops, singletons), which must still appear
    // in the output labeled as their own component. Lazily derived from the
    // canon checkpoint — a block scan at the final join, never an upstream
    // recompute.
    val vertices = canon.select(col("u").as("id"))
      .unionByName(canon.select(col("v").as("id")))
      .distinct()

    // large-star: m = min(Γ(u) ∪ {u}); every strictly-larger neighbor v of
    // u is re-hung as (v, m). Output stays (bigger, smaller)-oriented
    // because v > u ≥ m. Symmetrization is a projection union, not a
    // shuffle; the shuffles are the groupBy(u) min and the join back (the
    // join's exchange of `sym` is plan-identical to the aggregate's and
    // reused). No trailing distinct: exactly one row emerges per undirected
    // input edge (the v > u side), so duplicates are bounded by the input
    // edge count and small-star's terminal distinct canonicalizes the
    // round anyway — dropping it removes one full-width exchange per round.
    def largeStar(in: DataFrame): DataFrame = {
      val sym = in.unionByName(in.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      sym.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }

    // small-star: over (u > v)-oriented edges, m = min of u's smaller
    // neighbors; re-hang each smaller neighbor and u itself off m. The
    // (m, m) self-edge the relabel produces is filtered.
    def smallStar(in: DataFrame): DataFrame = {
      val mins = in.groupBy("u").agg(min("v").as("m"))
      in.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mins.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    // small-star's contract: strictly (u > v)-oriented working set — a
    // lazy filter over the canon checkpoint, which stays live for the
    // `vertices` scan below
    val (e, rounds) = Fixpoint.run("connected components (star rounds)",
      canon.where(col("u") =!= col("v")), maxIters)(
      in => smallStar(largeStar(in)))

    // fixpoint edges are stars (non-root → component root); the defensive
    // groupBy-min costs one aggregate and guarantees one row per vertex
    // even if a future edit perturbs the fixpoint shape
    val roots = e.select(col("u").as("id"), col("v").as("component"))
      .groupBy("id").agg(min("component").as("component"))
    val labels = vertices.join(roots, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
    (labels, rounds)
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Behavioral, CdcApply, Graphs, PageRank, Quality, Scd2}
import graft.sources.Tables

/** Round-7 behavioral/graph analytics catalog: the product-analytics and
  * graph-scoring surface a warehouse serves beside curation — windowed
  * funnels (q107), cohort retention (q108), fixed-iteration PageRank
  * (q109), market-basket lift (q110), SCD2 dimension build (q111),
  * Markov transitions (q112), per-stratum percentile gate (q113), a
  * dyadic-exact EWMA anomaly baseline (q114), sliding windows in batch
  * mode (q115), co-purchase triangle counting (q116), time-series
  * gap-fill with forward-fill (q117), CDC MERGE apply (q118),
  * point-in-time SCD2 enrichment (q119), snapshot diff (q120),
  * single-pass column profiling (q121), declarative constraint checks
  * (q122), temperature-balanced mixture allocation (q123), and the
  * leakage-safe dup-aware split (q124).
  *
  * Cross-engine device shared by all four: EVERY computation is integer
  * arithmetic on epoch-µs longs or scaled counts — division is Spark `div`
  * / DuckDB `//` (both truncate toward zero), sums are long sums
  * (associative, order-independent) — so all four queries hash-check
  * cell-exact with zero float tolerance. PageRank in particular runs
  * entirely in integer nano-rank units: the usual double-precision rank
  * vector is order-sensitive under distributed summation, while the
  * floored-integer fixed point is bit-identical on any cluster size.
  *
  * Scale shapes (the 100 TB contract):
  *  - q107: the three stage aggregations and both stage joins are ALL
  *    keyed by user_id — one hash partitioning serves the whole chain
  *    (co-partitioned joins, no repartitioning between stages), and each
  *    stage's events are filtered by type at the scan;
  *  - q108: one user-keyed aggregation + a co-partitioned join back, then
  *    a (cohort, offset)-keyed count-distinct whose cardinality is
  *    |weeks|² — tiny at any corpus size;
  *  - q109: the textbook distributed PageRank loop — ranks live in a
  *    DataFrame (never on the driver, unlike the k-means centroid state:
  *    node count grows with the data), each iteration is one src-keyed
  *    join (contributions) + one dst-keyed aggregation; the edge list
  *    with out-degrees is iteration-invariant and persisted once;
  *  - q110: candidate pairs come from a per-basket self-join — Σ|basket|²
  *    per order, never |parts|² (the same bounded-explosion contract as
  *    every dedup candidate generator); supports join back per-part.
  */
object AnalyticsOps extends Catalog {

  /** 24 h in µs — the funnel step horizon */
  private val HorizonUs = 86400000000L
  /** epoch µs of 2024-01-01 00:00 UTC — the cohort week origin */
  private val T0Us = 1704067200000000L
  /** 7 days in µs */
  private val WeekUs = 604800000000L

  /** One constant per graph query feeding BOTH the engine's `maxRounds`
    * and the oracle's fixed peel unroll (ADVICE r11): cascade depth is
    * data-dependent, and a depth bump that touched only one side would
    * either make the engine refuse while the oracle silently returned a
    * non-fixpoint, or vice versa. Measured depths at benched SFs —
    * q163 (k=2): 1/4/6 rounds at sf0.001/0.01/0.1; q164's deepest chain
    * (k=3): 11 rounds at sf0.01. Re-check headroom when new scales land.
    */
  private val KCoreUnroll = 12
  private val CorenessUnroll = 16
  private val CorenessMaxK = 4

  /** Canonical co-purchase edges (p1 < p2, co ≥ 2) over lineitem — the
    * graph under the whole graph family (q116/q158 triangles, q159
    * clustering coefficient, q163 k-core, q164 coreness).
    *
    * MATERIALIZED content-keyed (round-12 verdict item 2): the basket
    * self-join that derives these edges dominated every graph query's sf10
    * probe (4812 task-s, 120M pairs — shared by five consumers, recomputed
    * by each), so the edge list is built once per lineitem vintage and
    * re-SCANNED from parquet thereafter — disk-backed like the q52 bucket
    * register, not a memory pin (the r12 A/B showed pins losing in
    * full-catalog context). The frame is a pure function of lineitem
    * (deterministic rows), so the scan is hash-identical to the
    * derivation.
    */
  private def coPurchaseEdges(s: SparkSession, d: String): DataFrame =
    Tables.ensureMaterialized(s, "copurchase_edges",
      Tables.contentKey(s"$d/lineitem.parquet")) {
      val bk = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"),
          col("l_partkey").cast("long").as("p"))
        .distinct()
      bk.as("a").join(bk.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.p").as("p1"), col("b.p").as("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("co"))
        .filter(col("co") >= 2).select("p1", "p2")
    }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- windowed funnel: signup -> click -> purchase ----------------------
    // First-touch semantics (the ClickHouse-windowFunnel-style greedy
    // matcher): the funnel anchors at the user's FIRST signup, then takes
    // the first click within 24 h of it, then the first purchase within
    // 24 h of that click. Greedy-from-first-anchor is deterministic and
    // one-pass; it is NOT the maximal matcher (a later signup could open a
    // window an earlier one misses) — that variant is a per-user sequence
    // fold, deliberately out of scope. Stage timestamps leave as epoch-µs
    // longs (never raw timestamps — driver comparator gotcha) and stage is
    // 1/2/3 by which timestamps resolved; by construction t_purchase
    // exists only under t_click. 150 -> 65 -> 29 users at sf0.01.
    "q107_funnel_steps" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("t"),
          col("event_type"))
      Behavioral.funnelSteps(ev, Seq("signup", "click", "purchase"),
        HorizonUs)
    }),

    // ---- cohort retention matrix -------------------------------------------
    // Cohort = the user's first-event week; k = activity week − cohort
    // week; cell = distinct users from that cohort active k weeks later —
    // the classic retention triangle. Weeks are FIXED 7-day buckets from a
    // pinned origin ((t − T0) div WEEK), not calendar weeks: week-start
    // conventions (ISO vs US) differ across engines, integer division
    // does not. The (cohort_w, k) matrix is |weeks|² rows — the final
    // aggregation output is tiny regardless of corpus size.
    "q108_cohort_retention" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("t"))
      Behavioral.cohortRetention(ev, T0Us, WeekUs)
    }),

    // ---- fixed-iteration integer PageRank over the supplier-part graph -----
    // The iterative-graph tier beside ConnectedComponents: PageRank
    // (d = 0.85, 3 iterations) on the bipartite supplier<->part graph from
    // lineitem (edges both directions, so no dangling nodes and the walk
    // is the standard co-purchasing authority score). Ranks are LONGS in
    // nano-rank units (total mass 10⁹): init r = 10⁹ div N; per iteration
    // each node sends r div deg along each out-edge (integer div — exact,
    // and the long sum over in-edges is associative hence shuffle-order-
    // independent), then r' = (15·10⁹) div (100·N) + (85·csum) div 100.
    // Flooring leaks a few nano-units of mass per step — the price of a
    // bit-exact distributed fixed point; a double-precision rank vector
    // would be cheaper arithmetic but its Σ over in-edges depends on
    // partitioning. Overflow bound: 85·csum ≤ 85·10⁹ ≪ 2⁶³. The contrast
    // with q84's k-means: centroid state was k·dims (driver-sized,
    // collected per iteration); the rank vector is node-count-sized and
    // STAYS a DataFrame — at 10¹⁰ nodes the loop shape is unchanged.
    "q109_pagerank_bipartite" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val e0 = li.select(col("l_suppkey").cast("long").as("s"),
          (col("l_partkey").cast("long") + 1000000L).as("p"))
        .distinct()
      val edges = e0.select(col("s").as("src"), col("p").as("dst"))
        .unionByName(e0.select(col("p").as("src"), col("s").as("dst")))
      // E ∪ swap(E): every node appears as src AND dst by construction, so
      // the symmetric fast path (no sink probe, no per-iteration outer
      // join against the node set) is bit-identical here — spec-pinned in
      // AnalyticsSpec ("symmetric fast path matches the general path")
      PageRank.pagerankInt(edges, iters = 3, assumeSymmetric = true)
    }),

    // ---- market-basket lift (association mining) ---------------------------
    // Which part pairs are bought together more than independence
    // predicts? support s(p) = baskets containing p, co(p1,p2) = baskets
    // containing both (per-basket self-join on p1 < p2 — Σ|basket|² per
    // order, max basket 13 here, never |parts|²), lift = co·N/(s1·s2) in
    // integer micros via one truncating division. minsup co ≥ 2 keeps
    // ~3.4k pairs at both test scales. Overflow bound: co·N·10⁶ < 2⁶³
    // holds through ~9·10¹² basket-pair mass; past that drop the scale a
    // decade (the q105 Gram-matrix rule).
    "q110_basket_lift" -> ((s, d) => {
      val bk = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"),
          col("l_partkey").cast("long").as("p"))
        .distinct()
      Behavioral.basketLift(bk, minsup = 2L)
    }),

    // ---- SCD2 dimension build ----------------------------------------------
    // Each user's 'signup' events carry a double `value`; the SCD2 build
    // versions it: no-change events collapse (version counts CHANGES),
    // validity is half-open [from, to) with NULL to = current, (t,
    // event_id) makes the order total. The value passes through with NO
    // arithmetic, so the parquet double hash-checks bit-exact. The as-of
    // join (q53/q83) is this dimension's query-side twin.
    "q111_scd2_user_dim" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type") === "signup")
        .select(col("user_id").as("key"), unix_micros(col("ts")).as("t"),
          col("value").as("v"), col("event_id"))
      Scd2.build(ev, tieCol = "event_id")
        .select(col("key").as("user_id"), col("v").as("value"),
          col("valid_from"), col("valid_to"), col("version"))
    }),

    // ---- incremental SCD2 merge --------------------------------------------
    // the daily-update twin of q111 (X50's merge posture applied to
    // dimensions): build the dimension from signups BEFORE the cutoff,
    // fold the tail in with Scd2.merge — open rows re-enter as version-
    // carrying anchors, the no-change collapse applies across the seam,
    // versions continue, unaffected keys pass through on an anti join.
    // The oracle re-derives the FULL rebuild over the whole stream (the
    // q111 SQL — an independent from-scratch path), so merge == rebuild
    // is hash-pinned, seam collapse included.
    "q139_scd2_merge" -> ((s, d) => {
      val cutoffUs = 1705881600000000L // 2024-01-22T00:00:00Z
      val ev = Tables.events(s, d)
        .filter(col("event_type") === "signup")
        .select(col("user_id").as("key"), unix_micros(col("ts")).as("t"),
          col("value").as("v"), col("event_id"))
      val dim = Scd2.build(ev.filter(col("t") <= cutoffUs),
        tieCol = "event_id")
      Scd2.merge(dim, ev.filter(col("t") > cutoffUs), tieCol = "event_id")
        .select(col("key").as("user_id"), col("v").as("value"),
          col("valid_from"), col("valid_to"), col("version"))
    }),

    // ---- Markov transition matrix ------------------------------------------
    // P(next event type | current) per consecutive same-user pair — the
    // behavioral-flow signal (Sankey/attribution input), and exactly the
    // directed weighted graph q109's PageRank ranks. One user-keyed
    // window is the only data-sized exchange; output is |types|² rows.
    "q112_markov_transitions" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("t"),
          col("event_type"), col("event_id"))
      Behavioral.markovTransitions(ev, tieCol = "event_id")
    }),

    // ---- per-language percentile quality gate ------------------------------
    // The FineWeb-style relative filter: keep documents above the 25th
    // length percentile WITHIN their language — an absolute threshold
    // drifts as the corpus mix shifts; a per-stratum percentile doesn't.
    // percent_rank over the total order (n_chars, doc_id) is
    // (rank−1)/(n−1): rank is integer-exact under a total order, and the
    // single IEEE division reproduces bit-identically, quantized to
    // micros on both sides anyway (the X34 belt-and-suspenders). One
    // lang-keyed window exchange; at 100 TB the stratum is the natural
    // partition and per-partition state is bounded by the sort spill.
    "q113_percentile_gate" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("pct_micro",
          floor(percent_rank().over(w) * 1e6 + 0.5).cast("long"))
        .withColumn("keep",
          when(col("pct_micro") >= 250000L, 1L).otherwise(0L))
    }),

    // ---- dyadic EWMA anomaly baseline --------------------------------------
    // Exact EWMA of each user's 4 PRIOR purchase values (current
    // excluded; values quantized to micros BEFORE the window —
    // floor(v·10⁶+0.5), plain IEEE ops). The dyadic weights make the
    // whole baseline integer-exact where a float EWMA recurrence is
    // evaluation-order-sensitive. spike flag: v > 2× the normalized
    // baseline, cross-multiplied into integers — normalizer at k = 4 is
    // 15/8, so the test is 15·v > 16·ewma_num — and gated on real
    // history (n_hist > 0: a first purchase has no baseline to exceed).
    "q114_ewma_deviation" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("key"), unix_micros(col("ts")).as("t"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("v"),
          col("event_id"))
      Behavioral.dyadicEwma(ev, k = 4, tieCol = "event_id")
        .select(col("key").as("user_id"), col("t"), col("v"),
          col("ewma_num"), col("n_hist"),
          when(col("n_hist") > 0L && col("v") * 15L > col("ewma_num") * 16L,
            1L).otherwise(0L).as("spike"))
    }),

    // ---- triangle counting on the co-purchase graph ------------------------
    // Per-part triangle membership over the co ≥ 2 co-purchase edges
    // (q110's pair stage as a graph). Round 12 flipped the CATALOG
    // DEFAULT to the degree-oriented tier (round-11 verdict item 6): the
    // id orientation's median-id-hub pathology is measured at 20.8×
    // (BENCH_SF1.json round11_updates.triangle_hub_bench, deg-60k hub:
    // 89.4 s vs 4.3 s, quadratic in hub degree), so the face a user
    // reaches first must be the O(m^1.5) plan; the id-oriented form stays
    // in the catalog as q158 (same oracle — the cross-orientation hash
    // match is the exactness proof) and in AnalyticsSpec's randomized
    // equality control.
    "q116_triangle_counts" -> ((s, d) =>
      Graphs.triangleCountsDegreeOriented(coPurchaseEdges(s, d))),

    // ---- id-oriented triangle counting (the measured-pathology control) ----
    // the SAME per-part triangle counts via the id orientation: a
    // triangle a < b < c found exactly once as e(a,b) ⋈ e(b,c) ⋈ e(a,c),
    // deterministic with no degree pass — fine when ids are uncorrelated
    // with degree, quadratic at a median-id hub (Graphs scaladoc; the
    // q49 single-key pathology in a join). Kept in the catalog as the
    // oracle-pinned control against q116's degree-oriented default: both
    // run q116's SQL VERBATIM, so the hash match proves the two
    // orientations equal on every driver corpus (the q148/q155 posture).
    "q158_triangles_degree" -> ((s, d) =>
      Graphs.triangleCounts(coPurchaseEdges(s, d))),

    // ---- local clustering coefficient --------------------------------------
    // the metric triangles exist to feed: per node, the fraction of its
    // neighbor pairs that are themselves connected — coeff = 2·tri /
    // (deg·(deg−1)), in integer permille ((tri·2000) div (deg·(deg−1)),
    // both engines truncate toward zero on nonnegatives) so the ratio
    // hash-checks with zero float tolerance. Degree-1 nodes report 0 (no
    // neighbor pair to close). Composition of the q158 scale tier with
    // one degree aggregate; ALL nodes of the graph appear, triangle-less
    // ones with 0 — the left join the q116/q158 outputs can't express.
    "q159_clustering_coeff" -> ((s, d) => {
      // edges arrive as a materialized-parquet scan (see coPurchaseEdges)
      // — cheap to re-read, so the former edge pin is gone with the
      // recompute it existed to avoid
      val edges = coPurchaseEdges(s, d)
      // pinned: the degree frame feeds THREE subtrees (both endpoint
      // attaches inside the tier + the coefficient's own denominator) —
      // round-10 verdict item: one aggregation, not two
      val deg = graft.ext.Caches.pin(Graphs.degrees(edges))
      val tri = Graphs.triangleCountsDegreeOriented(edges, deg)
      deg.join(tri, Seq("node"), "left")
        .select(col("node"), col("degree"),
          coalesce(col("triangles"), lit(0L)).as("triangles"))
        .withColumn("coeff_permille",
          when(col("degree") >= 2,
            expr("(triangles * 2000) div (degree * (degree - 1))"))
            .otherwise(lit(0L)))
    }),

    // ---- k-core decomposition (the density gate above triangles) -----------
    // the 2-core of the co-purchase graph: peel nodes of degree < 2 until
    // the fixpoint (removing a node lowers its neighbors' degrees — the
    // cascade is the point; a part can sit in triangles yet fall out of
    // the core once its shell peels). Emits surviving nodes with their
    // WITHIN-core degree. The engine peels to convergence with per-round
    // checkpoints (rounds = cascade depth, each round one aggregation +
    // two semi-joins); the oracle unrolls 12 fixed layers — the peel step
    // is idempotent at the fixpoint, so extra layers are no-ops and the
    // two meet iff the engine truly reached the fixpoint.
    // k = 2 (every surviving node lies on a cycle): this fixture's co >= 2
    // co-purchase graph is nearly a forest at sf0.1 — its 2-core is the
    // single triangle, and the 3-core is empty at that SF (measured), so
    // 2 is the largest k with a non-degenerate core at every driver scale.
    // Peel cascades measured 1/4/6 rounds at sf0.001/0.01/0.1 — the
    // 12-layer oracle unroll has headroom and the idempotent tail is free.
    "q163_kcore" -> ((s, d) =>
      Graphs.kCore(coPurchaseEdges(s, d), k = 2, maxRounds = KCoreUnroll)),

    // ---- capped coreness decomposition --------------------------------------
    // per node, the LARGEST k <= 4 whose k-core still contains it — the
    // graded density tier above q163's single cut (coreness 1 = touches an
    // edge, 2 = on a cycle, 3+ = in a dense community). CAPPED by design:
    // the cap is the report's resolution, not a correctness shortcut — an
    // uncapped sweep is corpus-dependent (this fixture's sf0.001 graph
    // peels to k = 15 with 22-round cascades, and a regenerated corpus
    // could move both numbers under the oracle's fixed unroll), while
    // "which tier of {1..4} are you in" is stable at any scale and is how
    // production audits bucket coreness anyway. Graphs.coreness peels
    // INCREMENTALLY (round-11 verdict item 5): the k-th fixpoint starts
    // from the (k−1)-core's edges — monotonicity makes the result
    // hash-identical to four independent from-scratch peels, which is
    // exactly what the oracle's four unrolled chains compute.
    "q164_coreness" -> ((s, d) =>
      Graphs.coreness(coPurchaseEdges(s, d), maxK = CorenessMaxK,
        maxRounds = CorenessUnroll)),

    // ---- daily gap-fill + forward-fill -------------------------------------
    // Densify each user's purchase series to every day in its span and
    // carry the last daily total forward — the regular-grid step between
    // raw events and dashboards/models. Day strings out (never raw
    // dates), totals in integer micros.
    "q117_gap_fill" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("key"),
          to_date(col("ts")).as("day"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("v0"))
        .groupBy("key", "day").agg(sum("v0").as("v"))
      Behavioral.gapFillDaily(daily)
        .select(col("key").as("user_id"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("v_filled"), col("filled"))
    }),

    // ---- CDC MERGE apply (Delta-MERGE / Debezium-compaction batch form) ----
    // Fold a change feed (upserts + deletes, latest seq wins per key,
    // delete beats upsert on a tie) into the customer snapshot. The feed
    // derives deterministically from orders: 'F' orders upsert the
    // customer's balance (seq = orderkey, so a customer's LATEST filled
    // order wins), cheap open orders tombstone, and every 97th orderkey
    // inserts a shifted-keyspace row (insert = upsert on a new key).
    "q118_cdc_merge" -> ((s, d) => {
      val target = Tables.customer(s, d)
        .select(col("c_custkey").cast("long").as("key"),
          col("c_name").as("name"),
          floor(col("c_acctbal") * 1e6 + 0.5).cast("long").as("bal_micro"))
      val o = Tables.orders(s, d)
      val upserts = o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").cast("long").as("key"),
          col("o_orderkey").cast("long").as("seq"), lit("U").as("op"),
          concat(lit("UPD#"), col("o_custkey").cast("long")).as("name"),
          floor(col("o_totalprice") * 1e6 + 0.5).cast("long")
            .as("bal_micro"))
      val deletes = o
        .filter(col("o_orderstatus") === "O" && col("o_totalprice") < 1000.0)
        .select(col("o_custkey").cast("long").as("key"),
          col("o_orderkey").cast("long").as("seq"), lit("D").as("op"),
          lit(null).cast("string").as("name"),
          lit(null).cast("long").as("bal_micro"))
      // the +1_000_000 shift keeps synthetic insert keys disjoint from
      // real c_custkey values only while max(c_custkey) < 1e6 — true for
      // TPC-H-shaped data up to sf ≈ 6 (150k keys/sf), far above any
      // tested scale here. Beyond that, derive the shift from
      // max(c_custkey) instead (one scalar aggregate); documented like
      // the overflow bounds elsewhere in this file.
      val inserts = o.filter(col("o_orderkey") % 97 === 0)
        .select((col("o_custkey").cast("long") + 1000000L).as("key"),
          col("o_orderkey").cast("long").as("seq"), lit("U").as("op"),
          concat(lit("NEW#"), col("o_custkey").cast("long") + 1000000L)
            .as("name"),
          lit(0L).as("bal_micro"))
      CdcApply.run(target, upserts.unionByName(deletes).unionByName(inserts))
    }),

    // ---- point-in-time enrichment against the SCD2 dimension ---------------
    // Each purchase reads the user's signup-value version VALID AT its
    // event time — the lookup naive joins get wrong (they read today's
    // version for yesterday's event). Because SCD2 validity chains
    // (valid_to = next valid_from), "version valid at t" is exactly the
    // backward as-of join on valid_from — X27's operator composed with
    // X85's build; purchases before the first version keep NULLs.
    "q119_pit_enrichment" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val dim = Scd2.build(
        ev.filter(col("event_type") === "signup")
          .select(col("user_id").as("key"), unix_micros(col("ts")).as("t"),
            col("value").as("v"), col("event_id")),
        tieCol = "event_id")
        .select(col("key").as("user_id"), col("valid_from"),
          col("v").as("dim_value"), col("version"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t"))
      graft.operators.AsOfJoin.backward(purchases, dim, Seq("user_id"),
          "t", "valid_from", Seq("dim_value", "version"))
        .select(col("event_id"), col("user_id"), col("t"),
          col("asof_dim_value").as("dim_value"),
          col("asof_version").as("version"))
    }),

    // ---- snapshot diff (reconciliation) ------------------------------------
    // Row-level diff of the customer snapshot BEFORE vs AFTER q118's CDC
    // merge — the nightly reconciliation a warehouse runs to audit its
    // own ingestion: 'A' added (shifted-keyspace inserts), 'R' removed
    // (tombstoned), 'C' changed (balance upserts). One full-outer
    // key-equi join; co-located and exchange-free on bucketed snapshots.
    "q120_snapshot_diff" -> ((s, d) => {
      val target = Tables.customer(s, d)
        .select(col("c_custkey").cast("long").as("key"),
          col("c_name").as("name"),
          floor(col("c_acctbal") * 1e6 + 0.5).cast("long").as("bal_micro"))
      Quality.snapshotDiff(target,
        queries("q118_cdc_merge")(s, d), "key")
    }),

    // ---- single-pass column profiling (the Deequ analyzer shape) -----------
    // Per-column row count / nulls / distincts / min / max for the
    // customer table, ALL analyzers in one scan + one aggregation (the
    // point of the analyzer pattern), unpivoted to a row per column. The
    // double column is micro-quantized to a long BEFORE profiling —
    // min/max leave as strings and double→string rendering is the one
    // step IEEE semantics don't pin cross-engine.
    "q121_column_profile" -> ((s, d) => {
      val c = Tables.customer(s, d)
        .select(col("c_custkey").cast("long").as("c_custkey"),
          col("c_name"), col("c_mktsegment"),
          floor(col("c_acctbal") * 1e6 + 0.5).cast("long").as("bal_micro"))
      Quality.profile(c,
        Seq("c_custkey", "c_name", "c_mktsegment", "bal_micro"))
    }),

    // ---- declarative constraint checks -------------------------------------
    // The assertion side of q121's profiling: pk uniqueness of
    // o_orderkey, referential integrity orders→customer, and a positive-
    // price rule — each an exact violation count (all zero on this data;
    // the spec plants violations to prove the counters move).
    "q122_constraint_checks" -> ((s, d) => {
      Quality.checks(
        Tables.orders(s, d).select(col("o_orderkey").cast("long"),
          col("o_custkey").cast("long"), col("o_totalprice")),
        pkCol = "o_orderkey",
        fk = Some((Tables.customer(s, d), "o_custkey", "c_custkey")),
        predicate = ("price_positive", col("o_totalprice") > 0.0))
    }),

    // ---- temperature-balanced mixture allocation (mT5/CC-100 device) -------
    // Per-language sample targets under temperature sampling at τ = 2:
    // w_i = (n_i/N)^(1/τ) = sqrt(n_i/N) — τ is PINNED at 2 because sqrt
    // is IEEE-correctly-rounded in every engine while pow(x, 1/τ) is
    // libm-dependent. Weights quantize to integer micros BEFORE the
    // normalizer sum (a double Σw would depend on evaluation order; the
    // long sum is associative), targets are (S·w_micro) div Z_micro in
    // pure integer arithmetic, and the sample itself is the top-target
    // rows per language under the (fnv(id), id) order —
    // rerun/repartition/ingestion-stable membership (the q55/q90
    // device), id-sum-checksummed so the oracle pins MEMBERSHIP, not
    // just size.
    "q123_temperature_mixture" -> ((s, d) => {
      import graft.plans.Fnv1a64Expression.fnv1a64
      val sampleTotal = 1000L
      val docs = Tables.documents(s, d)
      val byLang = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      val alloc = byLang
        .crossJoin(broadcast(byLang.agg(sum("n").as("__N"))))
        .withColumn("w_micro",
          floor(sqrt(col("n").cast("double") / col("__N")) * 1e6 + 0.5)
            .cast("long"))
      val allocZ = alloc
        .crossJoin(broadcast(alloc.agg(sum("w_micro").as("__z"))))
        .withColumn("target",
          expr(s"($sampleTotal * w_micro) div __z"))
      val byRank = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(fnv1a64(col("doc_id")), col("doc_id"))
      val sampled = docs
        .withColumn("__r", row_number().over(byRank).cast("long"))
        .join(allocZ.select("lang", "target"), Seq("lang"))
        .filter(col("__r") <= col("target"))
        .groupBy("lang")
        .agg(count(lit(1)).as("sampled"),
          sum("doc_id").as("sample_id_sum"))
      allocZ.select(col("lang"), col("n"), col("w_micro"), col("target"))
        .join(sampled, Seq("lang"), "left")
    }),

    // ---- leakage-safe split (dup-cluster-aware train/val/test) -------------
    // The q55 hash split assigns per DOC, so two exact duplicates can
    // straddle train and test — the canonical evaluation-leakage bug.
    // Here the split is assigned per exact-dup GROUP (md5 fingerprint,
    // X1's grouping): rep = min doc_id of the group, bucket =
    // pmod(fnv(rep), 100) — every copy of a text lands in ONE split by
    // construction. Output keeps the group rep so the invariant is
    // mechanically checkable (and spec-pinned): doc_ids differ, reps
    // and splits agree.
    // ---- max-min fair budget mixture (water-filling with caps) -------------
    // q123's proportional allocation UNDER-FILLS when a domain has less
    // material than its share (target docs simply don't exist — the
    // shortfall is lost). This is the allocation a budgeted training-mix
    // planner actually wants: equal shares with caps, the residue of
    // saturated domains redistributed (max-min fairness / progressive
    // filling), Σ alloc == budget exactly whenever Σ cap ≥ budget. Budget
    // = 80% of the corpus, which makes the four small langs saturate and
    // the residue flow to `en` at every driver SF (capacity skew ~3.4×).
    // The per-lang sample then proves the allocation is MET, not just
    // stated: sampled == alloc per lang (rank ≤ alloc under the portable
    // FNV order, the q123 device).
    "q166_fair_budget_mix" -> ((s, d) => {
      import graft.plans.Fnv1a64Expression.fnv1a64
      val docs = Tables.documents(s, d)
      val byLang = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      // one count() action for the driver-scalar budget (the model-collect
      // posture: a single long, never data)
      val budget = docs.count() * 8 / 10
      val shares = graft.ext.Mixtures.maxMinFairShares(
        byLang, "lang", "n", budget)
      val byRank = org.apache.spark.sql.expressions.Window
        .partitionBy("lang")
        .orderBy(fnv1a64(col("doc_id")), col("doc_id"))
      val sampled = docs
        .withColumn("__r", row_number().over(byRank).cast("long"))
        .join(shares.select(col("lang"), col("alloc")), Seq("lang"))
        .filter(col("__r") <= col("alloc"))
        .groupBy("lang")
        .agg(count(lit(1)).as("sampled"), sum("doc_id").as("sample_id_sum"))
      shares.join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n"),
          col("saturated").cast("long").as("saturated"),
          col("alloc"), col("sampled"), col("sample_id_sum"))
    }),

    "q124_leakage_safe_split" -> ((s, d) => {
      import graft.plans.Fnv1a64Expression.fnv1a64
      val g = graft.ext.Dedup.exactDupGroups(
        Tables.documents(s, d), "doc_id", "text")
      val bucket = pmod(fnv1a64(col("rep_id")), lit(100L))
      g.select(col("doc_id"), col("canonical_id").as("rep_id"))
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test"))
    }),

    // ---- sliding windows in batch mode (q47's device for overlap) ----------
    // EventStream.slidingTypeCounts on the batch table: 1 h windows
    // sliding every 15 min, so each event lands in 4 overlapping windows.
    // The oracle re-derives Spark's window assignment from first
    // principles — slide-aligned starts w with t − len < w ≤ t via
    // generate_series — so the window SEMANTICS (alignment, overlap
    // count, boundary membership) are pinned cross-engine, not assumed.
    "q115_sliding_windows" -> ((s, d) => {
      graft.streaming.EventStream
        .slidingTypeCounts(Tables.events(s, d))
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          date_format(col("window_end"), "yyyy-MM-dd HH:mm:ss")
            .as("window_end"),
          col("event_type"), col("events"))
    }),

    // ---- linear multi-touch attribution ------------------------------------
    // the CREDIT layer above q102's pairing: each purchase's value splits
    // equally across its touching clicks in integer micros, remainder
    // micros landing on the earliest touches — Σ credit over a purchase
    // equals the quantized value EXACTLY on any engine under any
    // partitioning (a float v/n split conserves only approximately). One
    // purchase-keyed window exchange.
    "q136_linear_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
      Behavioral.linearAttribution(
        graft.streaming.EventStream.attributionJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase")))
    }),

    // ---- per-stratum winsorized statistics ---------------------------------
    // outlier-robust corpus stats (the Tukey step quality dashboards run
    // before averaging anything): clamp n_chars to the per-language
    // [p5, p95] EXACT order statistics — indices in pure integer
    // arithmetic (lo = max(1, 5n div 100), hi = min(n, (95n+99) div 100)),
    // bound values lifted onto every row by a window-max of a
    // single-index conditional (no second join), mean in integer micros.
    // One lang-keyed window exchange serves ranks, counts, and bounds.
    "q137_winsorized_stats" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
      val byLang = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars").cast("long")
          .as("n_chars"))
        .withColumn("__rn", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(byLang))
        .withColumn("__lo_i", greatest(lit(1L), expr("(__n * 5) div 100")))
        .withColumn("__hi_i", least(col("__n"),
          expr("(__n * 95 + 99) div 100")))
        .withColumn("__vlo",
          max(when(col("__rn") === col("__lo_i"), col("n_chars")))
            .over(byLang))
        .withColumn("__vhi",
          max(when(col("__rn") === col("__hi_i"), col("n_chars")))
            .over(byLang))
        .withColumn("__cl",
          greatest(least(col("n_chars"), col("__vhi")), col("__vlo")))
        .groupBy("lang")
        .agg(count(lit(1)).as("docs"),
          min("__vlo").as("v_lo"), min("__vhi").as("v_hi"),
          sum(when(col("n_chars") < col("__vlo"), 1L).otherwise(0L))
            .as("clamped_low"),
          sum(when(col("n_chars") > col("__vhi"), 1L).otherwise(0L))
            .as("clamped_high"),
          sum("__cl").as("winsorized_sum"),
          expr("(sum(__cl) * 1000000) div count(1)")
            .as("winsorized_mean_micro"))
    }),

    // ---- stream-static enrichment mart -------------------------------------
    // the batch twin of EventStream.enrichEvents (the STATELESS streaming
    // join: dimension broadcast, no watermark, no state store — the spec
    // pins stateOperators empty on a live MemoryStream run): every event
    // picks up its user's market segment from the customer dimension
    // (LEFT join — a dim gap must not drop events) and rolls up to
    // (segment, event_type) with an order-independent money sum. The
    // exact code path runs on streaming frames; this batch face is the
    // oracle-able one (the q67/q102 posture).
    "q143_stream_enrichment" -> ((s, d) => {
      graft.streaming.EventStream.enrichEvents(
          Tables.events(s, d),
          Tables.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment"),
              col("c_nationkey").cast("long").as("c_nationkey")),
          dimKey = "c_custkey")
        .groupBy(col("c_mktsegment").as("segment"), col("event_type"))
        .agg(count(lit(1)).as("events"),
          countDistinct(col("user_id")).as("users"),
          XDet.moneySum(col("value"), 2).as("value_sum"))
    })
  )

  override def oracles: Map[String, String] = Map(
    "q107_funnel_steps" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
         |              event_type FROM events),
         |a AS (SELECT user_id, min(t) AS t_signup FROM ev
         |      WHERE event_type = 'signup' GROUP BY 1),
         |b AS (SELECT e.user_id, min(e.t) AS t_click FROM ev e
         |      JOIN a ON e.user_id = a.user_id
         |      WHERE e.event_type = 'click' AND e.t >= a.t_signup
         |        AND e.t <= a.t_signup + $HorizonUs GROUP BY 1),
         |c AS (SELECT e.user_id, min(e.t) AS t_purchase FROM ev e
         |      JOIN b ON e.user_id = b.user_id
         |      WHERE e.event_type = 'purchase' AND e.t >= b.t_click
         |        AND e.t <= b.t_click + $HorizonUs GROUP BY 1)
         |SELECT a.user_id, a.t_signup, b.t_click, c.t_purchase,
         |  CAST(1 + (CASE WHEN b.t_click IS NULL THEN 0 ELSE 1 END)
         |         + (CASE WHEN c.t_purchase IS NULL THEN 0 ELSE 1 END)
         |       AS BIGINT) AS stage
         |FROM a LEFT JOIN b ON a.user_id = b.user_id
         |       LEFT JOIN c ON a.user_id = c.user_id""".stripMargin,

    "q108_cohort_retention" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t
         |            FROM events),
         |f AS (SELECT user_id, min(t) AS t0 FROM ev GROUP BY 1)
         |SELECT (f.t0 - $T0Us) // $WeekUs AS cohort_w,
         |  (e.t - $T0Us) // $WeekUs - (f.t0 - $T0Us) // $WeekUs AS k,
         |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS users
         |FROM ev e JOIN f ON e.user_id = f.user_id
         |GROUP BY 1, 2""".stripMargin,

    "q109_pagerank_bipartite" -> {
      // 3 unrolled iterations; every step the same integer arithmetic in
      // the same order as the Spark loop (// and div both truncate)
      def iter(prev: String, out: String): String =
        s"""c$out AS (SELECT e.dst,
           |    CAST(sum(r.r // d.deg) AS BIGINT) AS csum
           |  FROM edges e JOIN deg d ON e.src = d.src
           |  JOIN $prev r ON r.node = e.src GROUP BY 1),
           |$out AS (SELECT nodes.node,
           |    CAST(15000000000 AS BIGINT) // (100 * nn.n)
           |      + (85 * coalesce(c$out.csum, 0)) // 100 AS r
           |  FROM nodes CROSS JOIN nn
           |  LEFT JOIN c$out ON c$out.dst = nodes.node)""".stripMargin
      s"""WITH e0 AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
         |              CAST(l_partkey AS BIGINT) + 1000000 AS p
         |            FROM lineitem),
         |edges AS (SELECT s AS src, p AS dst FROM e0
         |          UNION ALL SELECT p AS src, s AS dst FROM e0),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |r0 AS (SELECT node, 1000000000 // n AS r FROM nodes CROSS JOIN nn),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")}
         |SELECT node, CAST(r AS BIGINT) AS r FROM r3""".stripMargin
    },

    "q110_basket_lift" ->
      """WITH bk AS (SELECT DISTINCT l_orderkey AS o,
        |              CAST(l_partkey AS BIGINT) AS p FROM lineitem),
        |nn AS (SELECT count(DISTINCT o) AS n FROM bk),
        |supp AS (SELECT p, count(*) AS s FROM bk GROUP BY 1),
        |pairs AS (SELECT a.p AS p1, b.p AS p2, count(*) AS co
        |  FROM bk a JOIN bk b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT pr.p1, pr.p2, CAST(pr.co AS BIGINT) AS co,
        |  CAST((pr.co * nn.n * 1000000) // (s1.s * s2.s) AS BIGINT)
        |    AS lift_micro
        |FROM pairs pr
        |JOIN supp s1 ON s1.p = pr.p1
        |JOIN supp s2 ON s2.p = pr.p2
        |CROSS JOIN nn""".stripMargin,

    // value passes through with no arithmetic — the parquet double is
    // bit-identical in both engines; IS DISTINCT FROM mirrors Spark's
    // null-safe <=> negation
    "q111_scd2_user_dim" ->
      """WITH ev AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
        |              value AS v, event_id FROM events
        |            WHERE event_type = 'signup'),
        |ch AS (SELECT * FROM (
        |    SELECT user_id, t, v, event_id,
        |      lag(v) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |        AS prev,
        |      row_number() OVER (PARTITION BY user_id ORDER BY t, event_id)
        |        AS rn
        |    FROM ev)
        |  WHERE rn = 1 OR v IS DISTINCT FROM prev)
        |SELECT user_id, v AS value, t AS valid_from,
        |  lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |    AS valid_to,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY t, event_id)
        |    AS BIGINT) AS version
        |FROM ch""".stripMargin,

    // the WHOLE-stream rebuild (q111's SQL verbatim): an independent
    // from-scratch path — merge must be indistinguishable from it
    "q139_scd2_merge" ->
      """WITH ev AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
        |              value AS v, event_id FROM events
        |            WHERE event_type = 'signup'),
        |ch AS (SELECT * FROM (
        |    SELECT user_id, t, v, event_id,
        |      lag(v) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |        AS prev,
        |      row_number() OVER (PARTITION BY user_id ORDER BY t, event_id)
        |        AS rn
        |    FROM ev)
        |  WHERE rn = 1 OR v IS DISTINCT FROM prev)
        |SELECT user_id, v AS value, t AS valid_from,
        |  lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |    AS valid_to,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY t, event_id)
        |    AS BIGINT) AS version
        |FROM ch""".stripMargin,

    "q112_markov_transitions" ->
      """WITH ev AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
        |              event_type, event_id FROM events),
        |pairs AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id) AS to_type
        |  FROM ev),
        |cnt AS (SELECT from_type, to_type, count(*) AS n FROM pairs
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        |  CAST((n * 1000000) //
        |    (sum(n) OVER (PARTITION BY from_type)) AS BIGINT) AS p_micro
        |FROM cnt""".stripMargin,

    "q113_percentile_gate" ->
      """SELECT doc_id, lang, n_chars,
        |  CAST(floor(percent_rank() OVER (PARTITION BY lang
        |    ORDER BY n_chars, doc_id) * 1000000.0 + 0.5) AS BIGINT)
        |    AS pct_micro,
        |  CAST(CASE WHEN floor(percent_rank() OVER (PARTITION BY lang
        |    ORDER BY n_chars, doc_id) * 1000000.0 + 0.5) >= 250000
        |    THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM documents""".stripMargin,

    "q114_ewma_deviation" ->
      """WITH ev AS (SELECT user_id AS key,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v, event_id
        |  FROM events WHERE event_type = 'purchase'),
        |lg AS (SELECT key, t, v,
        |    lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2,
        |    lag(v, 3) OVER w AS l3, lag(v, 4) OVER w AS l4
        |  FROM ev WINDOW w AS (PARTITION BY key ORDER BY t, event_id)),
        |s AS (SELECT key, t, v,
        |    coalesce(l1, 0) // 1 + coalesce(l2, 0) // 2
        |      + coalesce(l3, 0) // 4 + coalesce(l4, 0) // 8 AS ewma_num,
        |    (CASE WHEN l1 IS NULL THEN 0 ELSE 1 END)
        |      + (CASE WHEN l2 IS NULL THEN 0 ELSE 1 END)
        |      + (CASE WHEN l3 IS NULL THEN 0 ELSE 1 END)
        |      + (CASE WHEN l4 IS NULL THEN 0 ELSE 1 END) AS n_hist
        |  FROM lg)
        |SELECT key AS user_id, t, v, CAST(ewma_num AS BIGINT) AS ewma_num,
        |  CAST(n_hist AS BIGINT) AS n_hist,
        |  CAST(CASE WHEN n_hist > 0 AND v * 15 > ewma_num * 16
        |    THEN 1 ELSE 0 END AS BIGINT) AS spike
        |FROM s""".stripMargin,

    "q123_temperature_mixture" -> {
      import graft.plans.Fnv1a64Expression.{longSqlText, toSignedSqlText}
      val fnv = toSignedSqlText(
        longSqlText("14695981039346656037::HUGEINT", "doc_id::HUGEINT"))
      s"""WITH byl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
         |  FROM documents GROUP BY 1),
         |nn AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM byl),
         |al AS (SELECT byl.lang, byl.n,
         |    CAST(floor(sqrt(CAST(byl.n AS DOUBLE) / nn.tot) * 1000000.0
         |      + 0.5) AS BIGINT) AS w_micro
         |  FROM byl CROSS JOIN nn),
         |zz AS (SELECT CAST(sum(w_micro) AS BIGINT) AS z FROM al),
         |t AS (SELECT lang, n, w_micro,
         |    CAST((1000 * w_micro) // z AS BIGINT) AS target
         |  FROM al CROSS JOIN zz),
         |r AS (SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ($fnv), doc_id) AS rr
         |  FROM documents),
         |smp AS (SELECT r.lang, CAST(count(*) AS BIGINT) AS sampled,
         |    CAST(sum(r.doc_id) AS BIGINT) AS sample_id_sum
         |  FROM r JOIN t ON r.lang = t.lang WHERE r.rr <= t.target
         |  GROUP BY 1)
         |SELECT t.lang, t.n, t.w_micro, t.target, smp.sampled,
         |  smp.sample_id_sum
         |FROM t LEFT JOIN smp ON smp.lang = t.lang""".stripMargin
    },

    // independent water-filling formulation: the saturation predicate
    // and the largest-remainder split spelled in DuckDB windows; the
    // sample re-derives the portable FNV rank like q123's oracle
    "q166_fair_budget_mix" -> {
      import graft.plans.Fnv1a64Expression.{longSqlText, toSignedSqlText}
      val fnv = toSignedSqlText(
        longSqlText("14695981039346656037::HUGEINT", "doc_id::HUGEINT"))
      s"""WITH byl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
         |  FROM documents GROUP BY 1),
         |b AS (SELECT (CAST(count(*) AS BIGINT) * 8) // 10 AS budget
         |  FROM documents),
         |rk AS (SELECT lang, n,
         |    CAST(row_number() OVER (ORDER BY n, lang) AS BIGINT) AS i,
         |    CAST(coalesce(sum(n) OVER (ORDER BY n, lang
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum,
         |    CAST(count(*) OVER () AS BIGINT) AS k
         |  FROM byl),
         |st AS (SELECT rk.*, b.budget,
         |    (budget - cum >= 0 AND n <= (budget - cum) // (k - i + 1))
         |      AS saturated
         |  FROM rk CROSS JOIN b),
         |t2 AS (SELECT
         |    CAST(coalesce(sum(CASE WHEN saturated THEN n END), 0)
         |      AS BIGINT) AS satcap,
         |    CAST(sum(CASE WHEN saturated THEN 1 ELSE 0 END) AS BIGINT)
         |      AS nsat
         |  FROM st),
         |al AS (SELECT st.lang, st.n, st.saturated,
         |    CAST(CASE WHEN st.saturated THEN st.n
         |      ELSE (st.budget - t2.satcap) // (st.k - t2.nsat)
         |        + (CASE WHEN st.i - t2.nsat <=
         |            (st.budget - t2.satcap) % (st.k - t2.nsat)
         |          THEN 1 ELSE 0 END)
         |    END AS BIGINT) AS alloc
         |  FROM st CROSS JOIN t2),
         |r AS (SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ($fnv), doc_id) AS rr
         |  FROM documents),
         |smp AS (SELECT r.lang, CAST(count(*) AS BIGINT) AS sampled,
         |    CAST(sum(r.doc_id) AS BIGINT) AS sample_id_sum
         |  FROM r JOIN al ON r.lang = al.lang WHERE r.rr <= al.alloc
         |  GROUP BY 1)
         |SELECT al.lang, al.n,
         |  CAST(CASE WHEN al.saturated THEN 1 ELSE 0 END AS BIGINT)
         |    AS saturated,
         |  al.alloc, smp.sampled, smp.sample_id_sum
         |FROM al LEFT JOIN smp ON smp.lang = al.lang""".stripMargin
    },

    "q124_leakage_safe_split" -> {
      import graft.plans.Fnv1a64Expression.{longSqlText, toSignedSqlText}
      val fnv = toSignedSqlText(
        longSqlText("14695981039346656037::HUGEINT", "rep_id::HUGEINT"))
      s"""WITH g AS (SELECT doc_id, md5(${TextSql.norm}) AS fp
         |  FROM documents),
         |c AS (SELECT doc_id,
         |    min(doc_id) OVER (PARTITION BY fp) AS rep_id FROM g),
         |b AS (SELECT doc_id, rep_id,
         |    ((($fnv) % 100) + 100) % 100 AS bucket FROM c)
         |SELECT doc_id, rep_id,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         |FROM b""".stripMargin
    },

    // same merge re-derivation as q118, then a semantic full-outer diff
    // (IS DISTINCT FROM on the native columns — no string signatures
    // needed in SQL)
    "q120_snapshot_diff" ->
      """WITH tgt AS (SELECT CAST(c_custkey AS BIGINT) AS key,
        |    c_name AS name,
        |    CAST(floor(c_acctbal * 1000000.0 + 0.5) AS BIGINT) AS bal_micro
        |  FROM customer),
        |chg AS (
        |  SELECT CAST(o_custkey AS BIGINT) AS key,
        |      CAST(o_orderkey AS BIGINT) AS seq, 'U' AS op,
        |      'UPD#' || CAST(o_custkey AS BIGINT) AS name,
        |      CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT)
        |        AS bal_micro
        |    FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT CAST(o_custkey AS BIGINT), CAST(o_orderkey AS BIGINT),
        |      'D', NULL, NULL
        |    FROM orders WHERE o_orderstatus = 'O' AND o_totalprice < 1000
        |  UNION ALL
        |  SELECT CAST(o_custkey AS BIGINT) + 1000000,
        |      CAST(o_orderkey AS BIGINT), 'U',
        |      'NEW#' || (CAST(o_custkey AS BIGINT) + 1000000), 0
        |    FROM orders WHERE o_orderkey % 97 = 0),
        |latest AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC,
        |      CASE WHEN op = 'D' THEN 0 ELSE 1 END) AS rn FROM chg)
        |  WHERE rn = 1),
        |aft AS (
        |  SELECT t.key, t.name, t.bal_micro FROM tgt t
        |  WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.key = t.key)
        |  UNION ALL
        |  SELECT key, name, bal_micro FROM latest WHERE op <> 'D'),
        |d AS (SELECT coalesce(t.key, a.key) AS key,
        |    CASE WHEN t.key IS NULL THEN 'A'
        |         WHEN a.key IS NULL THEN 'R'
        |         WHEN (t.name IS DISTINCT FROM a.name)
        |           OR (t.bal_micro IS DISTINCT FROM a.bal_micro) THEN 'C'
        |    END AS op
        |  FROM tgt t FULL OUTER JOIN aft a ON t.key = a.key)
        |SELECT key, op FROM d WHERE op IS NOT NULL""".stripMargin,

    "q121_column_profile" ->
      """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
        |    c_mktsegment,
        |    CAST(floor(c_acctbal * 1000000.0 + 0.5) AS BIGINT) AS bal_micro
        |  FROM customer)
        |SELECT 'c_custkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) - count(c_custkey) AS BIGINT) AS n_null,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
        |  CAST(min(c_custkey) AS VARCHAR) AS min_s,
        |  CAST(max(c_custkey) AS VARCHAR) AS max_s FROM c
        |UNION ALL
        |SELECT 'c_name', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(c_name) AS BIGINT),
        |  CAST(count(DISTINCT c_name) AS BIGINT),
        |  CAST(min(c_name) AS VARCHAR), CAST(max(c_name) AS VARCHAR) FROM c
        |UNION ALL
        |SELECT 'c_mktsegment', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(c_mktsegment) AS BIGINT),
        |  CAST(count(DISTINCT c_mktsegment) AS BIGINT),
        |  CAST(min(c_mktsegment) AS VARCHAR),
        |  CAST(max(c_mktsegment) AS VARCHAR) FROM c
        |UNION ALL
        |SELECT 'bal_micro', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(bal_micro) AS BIGINT),
        |  CAST(count(DISTINCT bal_micro) AS BIGINT),
        |  CAST(min(bal_micro) AS VARCHAR),
        |  CAST(max(bal_micro) AS VARCHAR) FROM c""".stripMargin,

    "q122_constraint_checks" ->
      """SELECT 'pk_unique' AS check_name,
        |  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        |    AS violations
        |FROM orders
        |UNION ALL
        |SELECT 'price_positive',
        |  CAST(count(*) FILTER (WHERE NOT (o_totalprice > 0)) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'fk_exists', CAST(count(*) AS BIGINT) FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                  WHERE c.c_custkey = o.o_custkey)""".stripMargin,

    "q118_cdc_merge" ->
      """WITH tgt AS (SELECT CAST(c_custkey AS BIGINT) AS key,
        |    c_name AS name,
        |    CAST(floor(c_acctbal * 1000000.0 + 0.5) AS BIGINT) AS bal_micro
        |  FROM customer),
        |chg AS (
        |  SELECT CAST(o_custkey AS BIGINT) AS key,
        |      CAST(o_orderkey AS BIGINT) AS seq, 'U' AS op,
        |      'UPD#' || CAST(o_custkey AS BIGINT) AS name,
        |      CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT)
        |        AS bal_micro
        |    FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT CAST(o_custkey AS BIGINT), CAST(o_orderkey AS BIGINT),
        |      'D', NULL, NULL
        |    FROM orders WHERE o_orderstatus = 'O' AND o_totalprice < 1000
        |  UNION ALL
        |  SELECT CAST(o_custkey AS BIGINT) + 1000000,
        |      CAST(o_orderkey AS BIGINT), 'U',
        |      'NEW#' || (CAST(o_custkey AS BIGINT) + 1000000), 0
        |    FROM orders WHERE o_orderkey % 97 = 0),
        |latest AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC,
        |      CASE WHEN op = 'D' THEN 0 ELSE 1 END) AS rn FROM chg)
        |  WHERE rn = 1)
        |SELECT t.key, t.name, t.bal_micro FROM tgt t
        |WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.key = t.key)
        |UNION ALL
        |SELECT key, name, bal_micro FROM latest WHERE op <> 'D'"""
        .stripMargin,

    // DuckDB's NATIVE ASOF JOIN — an independent algorithm — against the
    // union-marker as-of implementation composed with the SCD2 build
    "q119_pit_enrichment" ->
      """WITH ev AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
        |    value AS v, event_id, event_type FROM events),
        |ch AS (SELECT * FROM (
        |    SELECT user_id, t, v, event_id,
        |      lag(v) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |        AS prev,
        |      row_number() OVER (PARTITION BY user_id ORDER BY t, event_id)
        |        AS rn
        |    FROM ev WHERE event_type = 'signup')
        |  WHERE rn = 1 OR v IS DISTINCT FROM prev),
        |dim AS (SELECT user_id, t AS valid_from, v AS dim_value,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY t, event_id) AS BIGINT) AS version
        |  FROM ch),
        |p AS (SELECT event_id, user_id, t FROM ev
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.t, d.dim_value, d.version
        |FROM p ASOF LEFT JOIN dim d
        |  ON p.user_id = d.user_id AND p.t >= d.valid_from"""
        .stripMargin,

    "q116_triangle_counts" ->
      """WITH bk AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
        |              CAST(l_partkey AS BIGINT) AS p FROM lineitem),
        |e AS MATERIALIZED (SELECT a.p AS p1, b.p AS p2
        |  FROM bk a JOIN bk b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |tri AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        |  FROM e e1 JOIN e e2 ON e1.p2 = e2.p1
        |  JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
        |n AS (SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |SELECT node, CAST(count(*) AS BIGINT) AS triangles
        |FROM n GROUP BY 1""".stripMargin,

    // 12 unrolled peel layers (degree -> survivors -> restricted edges);
    // the peel step is idempotent at the fixpoint, so unrolling past
    // convergence is a no-op and the fixed depth meets the engine's
    // converged loop exactly
    "q163_kcore" -> {
      val k = 2
      val layers = (0 until KCoreUnroll).map { i =>
        s"""n$i AS MATERIALIZED (SELECT node, count(*) AS deg
           |  FROM (SELECT p1 AS node FROM e$i
           |        UNION ALL SELECT p2 FROM e$i) GROUP BY 1),
           |s$i AS MATERIALIZED (SELECT node FROM n$i WHERE deg >= $k),
           |e${i + 1} AS MATERIALIZED (SELECT p1, p2 FROM e$i
           |  WHERE p1 IN (SELECT node FROM s$i)
           |    AND p2 IN (SELECT node FROM s$i))""".stripMargin
      }.mkString(",\n")
      s"""WITH bk AS (SELECT DISTINCT l_orderkey AS o,
         |              CAST(l_partkey AS BIGINT) AS p FROM lineitem),
         |e0 AS MATERIALIZED (SELECT a.p AS p1, b.p AS p2
         |  FROM bk a JOIN bk b ON a.o = b.o AND a.p < b.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |$layers
         |SELECT node, CAST(count(*) AS BIGINT) AS core_degree
         |FROM (SELECT p1 AS node FROM e$KCoreUnroll
         |      UNION ALL SELECT p2 FROM e$KCoreUnroll)
         |GROUP BY 1 HAVING count(*) >= $k""".stripMargin
    },

    // four unrolled peel chains (16 layers each — headroom over the
    // deepest measured cascade, 11 rounds at k=3/sf0.01) off one shared
    // materialized e0, unioned, max per node
    "q164_coreness" -> {
      def chain(k: Int): String = (0 until CorenessUnroll).map { i =>
        val src = if (i == 0) "e0" else s"k${k}e$i"
        s"""k${k}n$i AS MATERIALIZED (SELECT node, count(*) AS deg
           |  FROM (SELECT p1 AS node FROM $src
           |        UNION ALL SELECT p2 FROM $src) GROUP BY 1),
           |k${k}s$i AS MATERIALIZED (SELECT node FROM k${k}n$i
           |  WHERE deg >= $k),
           |k${k}e${i + 1} AS MATERIALIZED (SELECT p1, p2 FROM $src
           |  WHERE p1 IN (SELECT node FROM k${k}s$i)
           |    AND p2 IN (SELECT node FROM k${k}s$i))""".stripMargin
      }.mkString(",\n")
      val arms = (1 to CorenessMaxK).map { k =>
        s"""SELECT node, $k AS k
           |FROM (SELECT p1 AS node FROM k${k}e$CorenessUnroll
           |      UNION ALL SELECT p2 FROM k${k}e$CorenessUnroll)
           |GROUP BY 1 HAVING count(*) >= $k""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH bk AS (SELECT DISTINCT l_orderkey AS o,
         |              CAST(l_partkey AS BIGINT) AS p FROM lineitem),
         |e0 AS MATERIALIZED (SELECT a.p AS p1, b.p AS p2
         |  FROM bk a JOIN bk b ON a.o = b.o AND a.p < b.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |${(1 to CorenessMaxK).map(chain).mkString(",\n")}
         |SELECT node, CAST(max(k) AS BIGINT) AS coreness
         |FROM ($arms) GROUP BY 1""".stripMargin
    },

    // q158 = q116's oracle verbatim: the degree-oriented tier must be
    // hash-IDENTICAL to the id-oriented form — equality is the claim
    "q158_triangles_degree" ->
      """WITH bk AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
        |              CAST(l_partkey AS BIGINT) AS p FROM lineitem),
        |e AS MATERIALIZED (SELECT a.p AS p1, b.p AS p2
        |  FROM bk a JOIN bk b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |tri AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        |  FROM e e1 JOIN e e2 ON e1.p2 = e2.p1
        |  JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
        |n AS (SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |SELECT node, CAST(count(*) AS BIGINT) AS triangles
        |FROM n GROUP BY 1""".stripMargin,

    "q159_clustering_coeff" ->
      """WITH bk AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
        |              CAST(l_partkey AS BIGINT) AS p FROM lineitem),
        |e AS MATERIALIZED (SELECT a.p AS p1, b.p AS p2
        |  FROM bk a JOIN bk b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        |    SELECT p1 AS node FROM e UNION ALL SELECT p2 FROM e)
        |  GROUP BY 1),
        |tri AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        |  FROM e e1 JOIN e e2 ON e1.p2 = e2.p1
        |  JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
        |n AS (SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
        |tc AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles
        |  FROM n GROUP BY 1)
        |SELECT d.node, d.degree,
        |  CAST(coalesce(tc.triangles, 0) AS BIGINT) AS triangles,
        |  CAST(CASE WHEN d.degree >= 2
        |    THEN (coalesce(tc.triangles, 0) * 2000)
        |      // (d.degree * (d.degree - 1))
        |    ELSE 0 END AS BIGINT) AS coeff_permille
        |FROM deg d LEFT JOIN tc ON d.node = tc.node""".stripMargin,

    "q117_gap_fill" ->
      """WITH ev AS (SELECT user_id,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v0
        |  FROM events WHERE event_type = 'purchase'),
        |daily AS (SELECT user_id, day, CAST(sum(v0) AS BIGINT) AS v
        |  FROM ev GROUP BY 1, 2),
        |spans AS (SELECT user_id, min(day) AS d0, max(day) AS d1
        |  FROM daily GROUP BY 1),
        |grid AS (SELECT user_id,
        |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
        |      AS day
        |  FROM spans),
        |j AS (SELECT g.user_id, g.day, d.v FROM grid g
        |  LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY day) AS v_filled,
        |  CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS BIGINT) AS filled
        |FROM j""".stripMargin,

    // window starts are the slide-aligned epoch multiples w with
    // t − len < w ≤ t: k ranges over floor(t/s)−len/s+1 .. floor(t/s)
    // (s divides len; all t > 0 so floor = integer division)
    "q115_sliding_windows" ->
      """WITH ev AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
        |ks AS (SELECT event_type,
        |    unnest(generate_series(t // 900000000 - 3, t // 900000000))
        |      AS k
        |  FROM ev),
        |w AS (SELECT event_type,
        |    make_timestamp(k * 900000000) AS ws FROM ks)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  strftime(ws + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S')
        |    AS window_end,
        |  event_type, count(*) AS events
        |FROM w GROUP BY 1, 2, 3""".stripMargin,

    // q102's pair derivation + the same integer split arithmetic:
    // explicit pmod (((vm % n) + n) % n) and exact floor quotient
    // ((vm - pm) // n) because both engines' native div/% truncate —
    // conservation must hold for any value sign
    "q136_linear_attribution" ->
      """WITH pairs AS (
        |  SELECT c.user_id, c.event_id AS click_id,
        |    p.event_id AS purchase_id,
        |    epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_us, p.value
        |  FROM events c JOIN events p ON c.user_id = p.user_id
        |  WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |    AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
        |    AND CAST(p.ts AS TIMESTAMP)
        |      <= CAST(c.ts AS TIMESTAMP) + INTERVAL 30 MINUTE),
        |px AS (SELECT user_id, purchase_id, click_id, click_us,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vm,
        |    count(*) OVER (PARTITION BY purchase_id) AS n,
        |    row_number() OVER (PARTITION BY purchase_id
        |      ORDER BY click_us, click_id) AS rn
        |  FROM pairs)
        |SELECT user_id, purchase_id, click_id, click_us,
        |  CAST(n AS BIGINT) AS n_touches,
        |  CAST((vm - (((vm % n) + n) % n)) // n
        |    + CASE WHEN rn <= ((vm % n) + n) % n THEN 1 ELSE 0 END
        |    AS BIGINT) AS credit_micro
        |FROM px""".stripMargin,

    // same integer order-statistic indices and clamp arithmetic
    "q137_winsorized_stats" ->
      """WITH r AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |b AS (SELECT lang,
        |    max(CASE WHEN rn = greatest(1, (n * 5) // 100)
        |      THEN n_chars END) AS v_lo,
        |    max(CASE WHEN rn = least(n, (n * 95 + 99) // 100)
        |      THEN n_chars END) AS v_hi
        |  FROM r GROUP BY 1)
        |SELECT r.lang, CAST(count(*) AS BIGINT) AS docs,
        |  CAST(b.v_lo AS BIGINT) AS v_lo, CAST(b.v_hi AS BIGINT) AS v_hi,
        |  CAST(sum(CASE WHEN n_chars < v_lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS clamped_low,
        |  CAST(sum(CASE WHEN n_chars > v_hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS clamped_high,
        |  CAST(sum(greatest(least(n_chars, v_hi), v_lo)) AS BIGINT)
        |    AS winsorized_sum,
        |  CAST(sum(greatest(least(n_chars, v_hi), v_lo)) * 1000000
        |    // count(*) AS BIGINT) AS winsorized_mean_micro
        |FROM r JOIN b ON r.lang = b.lang
        |GROUP BY r.lang, b.v_lo, b.v_hi""".stripMargin,

    // plain left-join + rollup — the enrichment must be join-semantics
    // faithful (no event drops on dim gaps) and the money sum
    // order-independent
    "q143_stream_enrichment" ->
      s"""SELECT c.c_mktsegment AS segment, e.event_type,
         |  CAST(count(*) AS BIGINT) AS events,
         |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS users,
         |  ${XDet.moneySumSql("e.value", 2)} AS value_sum
         |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
         |GROUP BY 1, 2""".stripMargin
  )
}

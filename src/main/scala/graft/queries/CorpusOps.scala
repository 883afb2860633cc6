package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, TextAnalysis}
import graft.sources.Tables

/** Round-5 corpus-analytics catalog: the aggregation / window / join surface
  * a training-data curation pipeline leans on beyond dedup itself —
  * distinctive-term extraction, grouping-set cubes, rank distributions,
  * null-safe dimension alignment, embedding centroids, broadcast-hinted
  * dimension joins, and sketch-based cardinality.
  *
  * Scale shapes (the 100 TB contract):
  *  - q60: tokens explode to one shuffle keyed by (doc, term) then a
  *    term-keyed df join; the top-k window partitions by doc (bounded
  *    per-group state, no global sort);
  *  - q61: CUBE is one pass — Spark expands grouping sets in the aggregate,
  *    not by re-scanning per set;
  *  - q62: windows partition by segment — no "No Partition Defined" global
  *    window;
  *  - q63: the null-safe join runs on PRE-AGGREGATED per-zone counts, so
  *    NULL-key multiplicity is 1×1, never |nulls|² row pairs;
  *  - q64: per-dimension sums are scaled-integer (associative — safe under
  *    any partial-aggregation order); explode is 64 rows per vector, one
  *    shuffle on (label, dim);
  *  - q65: the dimension side carries an explicit `broadcast()` hint — the
  *    join is map-side, zero shuffle of the fact table (plan-asserted in
  *    CorpusOpsSpec);
  *  - q66: HyperLogLog++ distinct counts — constant state per group vs the
  *    exact form's per-key shuffle; the exact column rides along to expose
  *    the error (spec-bounded < 5%, rows-only driver check: HLL registers
  *    are engine-specific, so no DuckDB oracle exists by construction).
  */
object CorpusOps extends Catalog {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- TF-IDF-style distinctive terms, integer-ranked --------------------
    // rank by (tf DESC, df ASC, term): the tf·idf ordering re-expressed over
    // integers only — no float idf, so the ordering is bit-identical across
    // engines (a float score would make rank boundaries engine-dependent).
    "q60_distinctive_terms" -> ((s, d) => {
      // pinned widen: tf is consumed by the df rollup AND the join, so the
      // token explode re-runs twice over the scan — the cached widened
      // frame keeps the replays in memory (round-11 A/B: 1.02 -> 0.52 s)
      val toks = graft.ext.Caches.pin(Tables.documentsWide(s, d))
        .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tf").desc, col("df").asc, col("term"))
      tf.join(df, Seq("term"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
          col("term"), col("tf"), col("df"))
    }),

    // ---- CUBE grouping sets (the full-lattice twin of q38's ROLLUP) --------
    // gid disambiguates "aggregated-out" from a genuine NULL group value —
    // the standard grouping_id bitmask, same encoding in both engines.
    "q61_cube_orders" -> ((s, d) => {
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("orders"),
          XDet.moneySum(col("o_totalprice"), 2).as("total"),
          grouping_id().cast("long").as("gid"))
    }),

    // ---- rank-distribution windows: ntile / percent_rank / cume_dist -------
    // the (c_acctbal, c_custkey) sort is a total order, so every rank
    // function is deterministic; percent_rank and cume_dist are exact
    // integer ratios — identical IEEE division in both engines — quantized
    // anyway per the house determinism rule.
    "q62_rank_distribution" -> ((s, d) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pct_rank",
          floor(percent_rank().over(w) * 1e6 + 0.5) / 1e6)
        .withColumn("cume", floor(cume_dist().over(w) * 1e6 + 0.5) / 1e6)
    }),

    // ---- null-safe (<=>) join on a nullable derived key --------------------
    // "unknown zone" (NULL) must align with "unknown zone" when reconciling
    // two event feeds — the semantics plain `=` silently drops. Aggregating
    // BEFORE the join keeps the NULL bucket 1×1.
    "q63_null_safe_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      def zoneCounts(t: String, cnt: String): DataFrame =
        ev.filter(col("event_type") === t)
          .withColumn("zone", when(col("user_id") % 11 === 0, lit(null))
            .otherwise(col("user_id") % 7))
          .groupBy("zone").agg(count(lit(1)).as(cnt))
      val a = zoneCounts("click", "clicks")
      val b = zoneCounts("view", "views").withColumnRenamed("zone", "zone_b")
      a.join(b, col("zone") <=> col("zone_b")).drop("zone_b")
    }),

    // ---- per-label embedding centroids (deterministic float pipeline) ------
    // dimension-wise mean via scaled-integer sums: quantize each float once
    // (cast to double FIRST — float×double arithmetic differs per engine),
    // sum as long (associative), divide once. posexplode is 64 rows/vector.
    "q64_embedding_centroids" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "e")))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n"),
          (sum(floor(col("e").cast("double") * 1e6 + 0.5).cast("long"))
            / 1e6 / count(lit(1))).as("centroid"))
        .withColumn("dim", col("dim").cast("long"))
    }),

    // ---- broadcast-hinted dimension join -----------------------------------
    // the canonical small-dim pattern: an explicit broadcast() pins the
    // map-side hash join regardless of autoBroadcastJoinThreshold, so the
    // 100 TB fact side never shuffles for a 25-row dimension.
    "q65_broadcast_dim_join" -> ((s, d) => {
      val n = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name")))
      Tables.customer(s, d)
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("customers"),
          XDet.moneySum(col("c_acctbal"), 2).as("balance"))
    }),

    // ---- streaming exactly-once dedup, batch twin --------------------------
    // at-least-once delivery simulated by a self-union; dedupEvents keeps one
    // row per event_id (streaming: dropDuplicatesWithinWatermark, bounded
    // state — see EventStreamSpec for the cross-batch MemoryStream proof).
    // The id_sum column pins WHICH rows survived, not just how many.
    "q67_stream_dedup" -> ((s, d) => {
      val ev = Tables.events(s, d)
      graft.streaming.EventStream.dedupEvents(ev.unionByName(ev))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"))
    }),

    // ---- PII scrubbing (curation-pipeline redaction pass) ------------------
    // deterministic PII is appended first (the synthetic corpus has none),
    // then TextAnalysis.scrubPii redacts — emails before digit runs; the
    // ordering rationale and idempotence live with the operator. Counts
    // come from regexp_extract_all on the pre-scrub text; the scrub
    // fingerprint pins the exact redacted bytes.
    "q68_pii_scrub" -> ((s, d) => {
      val pii = concat(col("text"), lit(" contact: user"), col("doc_id"),
        lit("@example.com or +1"), (lit(1000000) + col("doc_id") * 7))
      Tables.documentsWide(s, d)
        .select(col("doc_id"), pii.as("__pii"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("__pii"),
            lit(TextAnalysis.EmailRegex), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("__pii"),
            lit(TextAnalysis.LongDigitRunRegex), lit(0)))
            .cast("long").as("n_numbers"),
          TextAnalysis.scrubPii(col("__pii")).as("__scrubbed"))
        .select(col("doc_id"), col("n_emails"), col("n_numbers"),
          md5(col("__scrubbed")).as("scrub_fp"),
          length(col("__scrubbed")).cast("long").as("scrub_len"))
    }),

    // ---- incremental dedup: new batch vs existing corpus -------------------
    // the daily-ingestion shape: verdict per INCOMING doc against the
    // historical corpus — exact (fingerprint match) beats near (cross-frame
    // guarded Jaccard, Dedup.crossJaccardPairs), else unique. Candidates are
    // only ever incoming×corpus through the shingle index; the corpus is
    // never self-joined, so a daily batch pays |batch|-proportional work.
    // plain scan, NOT documentsWide: the incoming/corpus split fans the
    // frame into 4+ subtrees (exact fp join both sides, shingles both
    // sides) — round-11 A/B: plain 2.11 s, rr 2.26, hashpin 4.57 (the
    // pinned cache build serializes ahead of every arm)
    "q69_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val incoming = docs.filter(col("doc_id") % 10 === 7)
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val exact = incoming
        .select(col("doc_id"), Dedup.fingerprint(col("text")).as("fp"))
        .join(corpus.select(Dedup.fingerprint(col("text")).as("fp"),
          col("doc_id").as("c_id")), Seq("fp"))
        .groupBy("doc_id").agg(min("c_id").as("exact_of"))
      val near = Dedup.crossJaccardPairs(
          // hashed shingle grain (round-16): the cross inverted-index join
          // and both size aggregates move 8-byte keys
          Dedup.wordShingleHashes(incoming, "doc_id", "text", n = 3),
          Dedup.wordShingleHashes(corpus, "doc_id", "text", n = 3),
          "doc_id", minJaccard = 0.1, maxShingleDf = 5L)
        .groupBy("id_a")
        .agg(min("id_b").as("near_of"),
          max(floor(col("jaccard") * 1e6 + 0.5) / 1e6).as("best_jaccard"))
        .withColumnRenamed("id_a", "doc_id")
      incoming.select("doc_id")
        .join(exact, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("exact_of").isNotNull, "exact")
            .when(col("near_of").isNotNull, "near")
            .otherwise("unique").as("verdict"),
          coalesce(col("exact_of"), col("near_of")).as("dup_of"),
          when(col("exact_of").isNull, col("best_jaccard")).as("best_jaccard"))
    }),

    // ---- array set algebra over collected day sets -------------------------
    // per-user behavioral overlap: the days a user clicked vs viewed, as
    // array_intersect / array_union / array_except over collect_set results.
    // Arrays are never output raw (the driver's comparator hashes cells):
    // the intersect list leaves as a sorted comma-joined string.
    "q70_array_set_ops" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      def days(t: String, out: String): DataFrame =
        ev.filter(col("event_type") === t)
          .groupBy("user_id").agg(collect_set("day").as(out))
      days("click", "click_days").join(days("view", "view_days"), Seq("user_id"))
        .select(col("user_id"),
          size(array_intersect(col("click_days"), col("view_days")))
            .cast("long").as("n_both"),
          size(array_union(col("click_days"), col("view_days")))
            .cast("long").as("n_any"),
          size(array_except(col("click_days"), col("view_days")))
            .cast("long").as("n_click_only"),
          concat_ws(",",
            array_sort(array_intersect(col("click_days"), col("view_days"))))
            .as("both_days"))
    }),

    // ---- calendar gap-fill via a date spine (sequence + explode) -----------
    // per-user activity span densified to one row per calendar day, then the
    // inactive days are the spine anti-joined against the active set. The
    // explode factor is bounded by the calendar (span days), never by |events|,
    // and the anti join is keyed (user_id, day) — both scale-safe.
    "q71_calendar_fill" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val active = ev.distinct()
      val spine = active.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      val inactive = spine.join(active, Seq("user_id", "day"), "left_anti")
        .groupBy("user_id").agg(count(lit(1)).as("inactive_days"))
      active.groupBy("user_id")
        .agg(count(lit(1)).as("active_days"),
          (datediff(max("day"), min("day")) + 1).cast("long").as("span_days"))
        .join(inactive, Seq("user_id"), "left")
        .withColumn("inactive_days", coalesce(col("inactive_days"), lit(0L)))
    }),

    // ---- time-RANGE window (peers by value distance, not row count) --------
    // trailing 1-hour sum per user: RANGE frames bound peers by the ORDER
    // value, the semantics a ROWS frame (q41's moving sum) cannot express
    // when event spacing is irregular. Ordered by unix_micros so the frame
    // arithmetic is exact integers in both engines; the double sum is
    // scaled-int quantized inside the window (associative, order-safe).
    "q72_range_window" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0L)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .withColumn("hour_sum",
          sum(round(col("value") * 1e6).cast("long")).over(w) / 1e6)
        .drop("value")
    }),

    // ---- deterministic source-mixture rebalancing --------------------------
    // training mixes are rebalanced before sampling: downsample every
    // language stratum to the smallest stratum's size (en is 3x fr in this
    // corpus). Membership is pmod(fnv(doc_id), n_stratum) < target — the
    // q55 hash-split device per stratum — so the rebalanced corpus is
    // rerun/repartition/ingestion-stable, which sample()/sampleBy cannot
    // promise. No sort, no window: one count aggregate + a map-side filter,
    // n_kept lands within hash noise of the target.
    "q82_mixture_rebalance" -> ((s, d) => {
      import graft.plans.Fnv1a64Expression.fnv1a64
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_before"))
      val target = counts.agg(min("n_before").as("target"))
      docs.select("doc_id", "lang")
        .join(counts, Seq("lang"))
        .crossJoin(broadcast(target))
        .filter(pmod(fnv1a64(col("doc_id")), col("n_before")) < col("target"))
        .groupBy("lang")
        .agg(min("n_before").as("n_before"), count(lit(1)).as("n_kept"))
    }),

    // ---- sketch cardinality: HLL++ approx distinct, oracle-checked bound ---
    // the HLL registers (and thus the estimate) are engine-specific, so the
    // ESTIMATE can't be hash-compared — but the CLAIM can: the query emits
    // the exact twin plus a within_bound flag (estimate within ±5% of the
    // exact count, checked in integer arithmetic as 20·|diff| <= exact),
    // and the DuckDB oracle emits the same flag from ITS exact counts as a
    // constant true — the hash matches iff every per-group estimate really
    // lands inside the documented bound. rsd = 1% puts that bound at 5
    // sigma, and the sketch is deterministic for a fixed input set, so the
    // row is stable, not flaky. The KMV cousin (q97) hash-checks a portable
    // sketch VALUE; this row pins the HLL ERROR CONTRACT.
    "q66_approx_distinct" -> ((s, d) => {
      // plain scan KEPT (round-16 A/B): widening the single-file events
      // scan left the wall flat (2.94 -> 2.90 s at sf0.1) while CPU rose
      // 2.5 -> 22.4 s — the rsd-1% HLL register set is large enough that
      // 32 partial-agg tasks each building full per-group registers cost
      // far more than the one serialized build they replace; the sketch
      // merge, not the scan, is the floor here
      Tables.events(s, d).groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) * 20 <=
            col("exact_users")).cast("long").as("within_bound"))
    }),

    // ---- approx-percentile error contract (q66's device for quantiles) -----
    // the quantile member of the sketch family (X40 HLL counts, X67 MG
    // heavy hitters, X72 KMV): percentile_approx is GK-style with a
    // documented RANK guarantee — |rank(est) − p·n| ≤ n/accuracy — and,
    // like HLL's registers, its estimate is engine-specific. So the oracle
    // pins what IS portable: the exact kth-order-statistic BRACKET
    // [value@(⌊p·n⌋ − ⌈n/100⌉), value@(⌈p·n⌉ + ⌈n/100⌉)] — both endpoints
    // hash-checked — plus a within_bound flag the DuckDB twin emits as
    // constant true from ITS exact ranks: the hash matches iff every
    // estimate lands inside its bracket. Sketch state is O(accuracy) per
    // group vs the exact form's per-group sort — the 100 TB trade; the
    // exact bracket side here exists only to CHECK the sketch.
    "q104_quantile_sketch_bound" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("grp"), col("l_extendedprice").as("val"))
      val byG = org.apache.spark.sql.expressions.Window.partitionBy("grp")
      val ranked = li
        .withColumn("rn", row_number().over(byG.orderBy(col("val"))).cast("long"))
        .withColumn("n", count(lit(1)).over(byG))
      val est = li.groupBy("grp").agg(
          percentile_approx(col("val"), lit(0.5), lit(100)).as("e50"),
          percentile_approx(col("val"), lit(0.9), lit(100)).as("e90"),
          percentile_approx(col("val"), lit(0.99), lit(100)).as("e99"))
        .select(col("grp"),
          expr("stack(3, 0.5D, e50, 0.9D, e90, 0.99D, e99) as (p, est)"))
      val sizes = li.groupBy("grp").agg(count(lit(1)).as("n"))
      val eps = ceil(col("n") / lit(100.0)).cast("long")
      val bounds = est.join(sizes, "grp")
        .withColumn("klo",
          greatest(lit(1L), floor(col("p") * col("n")).cast("long") - eps))
        .withColumn("khi",
          least(col("n"), ceil(col("p") * col("n")).cast("long") + eps))
      bounds
        .join(ranked.select(col("grp"), col("rn").as("klo"),
          col("val").as("exact_lo")), Seq("grp", "klo"))
        .join(ranked.select(col("grp"), col("rn").as("khi"),
          col("val").as("exact_hi")), Seq("grp", "khi"))
        .select(col("grp"), col("p"), col("n"),
          col("exact_lo"), col("exact_hi"),
          (col("est") >= col("exact_lo") && col("est") <= col("exact_hi"))
            .cast("long").as("within_bound"))
    }),
  )

  override def oracles: Map[String, String] = Map(
    // the oracle's within_bound is a constant TRUE derived from the exact
    // counts — the hash comparison is what enforces that Spark's HLL
    // estimate actually sits inside the ±5% bound for every group
    "q66_approx_distinct" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  CAST(1 AS BIGINT) AS within_bound
        |FROM events GROUP BY 1""".stripMargin,

    // exact kth-order-statistic brackets from DuckDB's own sort; the flag
    // is constant true — the hash matches iff Spark's estimates all land
    // inside their brackets (the q66 within-bound device)
    "q104_quantile_sketch_bound" ->
      """WITH r AS (SELECT l_returnflag AS grp, l_extendedprice AS val,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |sizes AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM r GROUP BY 1),
        |b AS (SELECT grp, n, p,
        |    greatest(1, CAST(floor(p*n) AS BIGINT)
        |      - CAST(ceil(n/100.0) AS BIGINT)) AS klo,
        |    least(n, CAST(ceil(p*n) AS BIGINT)
        |      + CAST(ceil(n/100.0) AS BIGINT)) AS khi
        |  FROM sizes CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]) AS p))
        |SELECT b.grp, b.p, b.n, lo.val AS exact_lo, hi.val AS exact_hi,
        |  CAST(1 AS BIGINT) AS within_bound
        |FROM b
        |JOIN r lo ON lo.grp = b.grp AND lo.rn = b.klo
        |JOIN r hi ON hi.grp = b.grp AND hi.rn = b.khi""".stripMargin,
    // same FNV bucket arithmetic per stratum (pmod == ((x%n)+n)%n)
    "q82_mixture_rebalance" -> {
      import graft.plans.Fnv1a64Expression.{longSqlText, toSignedSqlText}
      val fnv = toSignedSqlText(
        longSqlText("14695981039346656037::HUGEINT", "doc_id::HUGEINT"))
      s"""WITH counts AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_before
         |               FROM documents GROUP BY 1),
         |t AS (SELECT min(n_before) AS target FROM counts)
         |SELECT lang, min(n_before) AS n_before,
         |  CAST(count(*) AS BIGINT) AS n_kept
         |FROM documents JOIN counts USING (lang) CROSS JOIN t
         |WHERE ((($fnv) % n_before) + n_before) % n_before < target
         |GROUP BY 1""".stripMargin
    },

    "q60_distinctive_terms" ->
      s"""WITH w AS (SELECT doc_id, ${TextSql.words} AS ws FROM documents),
         |t AS (SELECT doc_id, unnest(ws) AS term FROM w),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM t GROUP BY 1, 2),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
         |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tf, df FROM (
         |  SELECT doc_id, term, tf, df,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY tf DESC, df, term) AS rnk
         |  FROM tf JOIN df USING (term))
         |WHERE rnk <= 3""".stripMargin,

    "q61_cube_orders" ->
      s"""SELECT o_orderstatus, o_orderpriority,
         |  CAST(count(*) AS BIGINT) AS orders,
         |  ${XDet.moneySumSql("o_totalprice", 2)} AS total,
         |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
         |FROM orders
         |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "q62_rank_distribution" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  floor(percent_rank() OVER w * 1e6 + 0.5)/1e6 AS pct_rank,
        |  floor(cume_dist() OVER w * 1e6 + 0.5)/1e6 AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment
        |  ORDER BY c_acctbal, c_custkey)""".stripMargin,

    "q63_null_safe_join" ->
      """WITH a AS (
        |  SELECT CASE WHEN user_id % 11 = 0 THEN NULL
        |              ELSE user_id % 7 END AS zone,
        |    CAST(count(*) AS BIGINT) AS clicks
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |b AS (
        |  SELECT CASE WHEN user_id % 11 = 0 THEN NULL
        |              ELSE user_id % 7 END AS zone,
        |    CAST(count(*) AS BIGINT) AS views
        |  FROM events WHERE event_type = 'view' GROUP BY 1)
        |SELECT a.zone, clicks, views
        |FROM a JOIN b ON a.zone IS NOT DISTINCT FROM b.zone""".stripMargin,

    "q64_embedding_centroids" ->
      """SELECT label, CAST(dim AS BIGINT) AS dim,
        |  CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(floor(CAST(embedding[dim+1] AS DOUBLE)*1e6 + 0.5)
        |    AS BIGINT))/1e6/count(*) AS centroid
        |FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS dim)
        |GROUP BY 1, 2""".stripMargin,

    "q65_broadcast_dim_join" ->
      s"""SELECT n_name, CAST(count(*) AS BIGINT) AS customers,
         |  ${XDet.moneySumSql("c_acctbal", 2)} AS balance
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY 1""".stripMargin,

    "q70_array_set_ops" ->
      """WITH e AS (SELECT user_id, event_type,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day FROM events),
        |a AS (SELECT user_id, list_distinct(list(day)) AS cd FROM e
        |      WHERE event_type = 'click' GROUP BY 1),
        |b AS (SELECT user_id, list_distinct(list(day)) AS vd FROM e
        |      WHERE event_type = 'view' GROUP BY 1)
        |SELECT user_id,
        |  CAST(len(list_intersect(cd, vd)) AS BIGINT) AS n_both,
        |  CAST(len(list_distinct(list_concat(cd, vd))) AS BIGINT) AS n_any,
        |  CAST(len(list_filter(cd, x -> NOT list_contains(vd, x)))
        |    AS BIGINT) AS n_click_only,
        |  coalesce(array_to_string(list_sort(list_intersect(cd, vd)), ','),
        |    '') AS both_days
        |FROM a JOIN b USING (user_id)""".stripMargin,

    "q71_calendar_fill" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |  CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        |sp AS (SELECT user_id,
        |  CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
        |        FROM a GROUP BY 1)),
        |inact AS (SELECT s.user_id, count(*) AS n FROM sp s
        |          LEFT JOIN a ON a.user_id = s.user_id AND a.day = s.day
        |          WHERE a.day IS NULL GROUP BY 1),
        |act AS (SELECT user_id, count(*) AS active_days,
        |          date_diff('day', min(day), max(day)) + 1 AS span_days
        |        FROM a GROUP BY 1)
        |SELECT user_id, CAST(active_days AS BIGINT) AS active_days,
        |  CAST(span_days AS BIGINT) AS span_days,
        |  CAST(coalesce(n, 0) AS BIGINT) AS inactive_days
        |FROM act LEFT JOIN inact USING (user_id)""".stripMargin,

    "q72_range_window" ->
      """SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |  sum(CAST(round(value*1e6) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)/1e6
        |    AS hour_sum
        |FROM events""".stripMargin,

    // redelivered rows are identical copies, so exactly-once dedup over the
    // self-union is DISTINCT over the original
    "q67_stream_dedup" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM (SELECT DISTINCT event_id, event_type FROM events)
        |GROUP BY 1""".stripMargin,

    "q68_pii_scrub" -> {
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val num = "[0-9]{7,}"
      s"""WITH p AS (SELECT doc_id,
         |  text || ' contact: user' || CAST(doc_id AS VARCHAR)
         |    || '@example.com or +1'
         |    || CAST(1000000 + doc_id*7 AS VARCHAR) AS pii
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(pii, '$email')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(pii, '$num')) AS BIGINT) AS n_numbers,
         |  md5(regexp_replace(regexp_replace(pii, '$email', '<EMAIL>', 'g'),
         |    '$num', '<NUM>', 'g')) AS scrub_fp,
         |  CAST(length(regexp_replace(regexp_replace(pii, '$email',
         |    '<EMAIL>', 'g'), '$num', '<NUM>', 'g')) AS BIGINT) AS scrub_len
         |FROM p""".stripMargin
    },

    // same two-frame pipeline: exact fingerprints, then cross-only candidate
    // generation with the df guard computed on the corpus side
    "q69_incremental_dedup" ->
      s"""WITH incfp AS (SELECT doc_id, md5(${TextSql.norm}) AS fp
         |  FROM documents WHERE doc_id % 10 = 7),
         |corfp AS (SELECT doc_id, md5(${TextSql.norm}) AS fp
         |  FROM documents WHERE doc_id % 10 <> 7),
         |exact AS (SELECT i.doc_id AS doc_id, min(c.doc_id) AS exact_of
         |  FROM incfp i JOIN corfp c USING (fp) GROUP BY 1),
         |wA AS (SELECT doc_id, ${TextSql.words} AS ws FROM documents
         |       WHERE doc_id % 10 = 7),
         |idxA AS (SELECT doc_id, ws, unnest(range(len(ws)-2)) AS i
         |         FROM wA WHERE len(ws) >= 3),
         |shA AS (SELECT DISTINCT doc_id,
         |          array_to_string(ws[i+1:i+3], ' ') AS shingle FROM idxA),
         |sizesA AS (SELECT doc_id, count(*) AS n_a FROM shA GROUP BY 1),
         |wB AS (SELECT doc_id, ${TextSql.words} AS ws FROM documents
         |       WHERE doc_id % 10 <> 7),
         |idxB AS (SELECT doc_id, ws, unnest(range(len(ws)-2)) AS i
         |         FROM wB WHERE len(ws) >= 3),
         |shB AS (SELECT DISTINCT doc_id,
         |          array_to_string(ws[i+1:i+3], ' ') AS shingle FROM idxB),
         |sizesB AS (SELECT doc_id, count(*) AS n_b FROM shB GROUP BY 1),
         |dfB AS (SELECT shingle, count(*) AS df FROM shB GROUP BY 1),
         |genA AS (SELECT a.doc_id, a.shingle FROM shA a
         |         JOIN dfB USING (shingle) WHERE df <= 5),
         |genB AS (SELECT b.doc_id, b.shingle FROM shB b
         |         JOIN dfB USING (shingle) WHERE df <= 5),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM genA a JOIN genB b USING (shingle)),
         |inter AS (SELECT id_a, id_b, count(*) AS inter FROM cand
         |          JOIN shA sa ON sa.doc_id = id_a
         |          JOIN shB sb ON sb.doc_id = id_b AND sb.shingle = sa.shingle
         |          GROUP BY 1, 2),
         |near AS (SELECT id_a AS doc_id, min(id_b) AS near_of,
         |           max(floor(CAST(inter AS DOUBLE)/(n_a + n_b - inter)
         |             *1e6 + 0.5)/1e6) AS best_jaccard
         |         FROM inter JOIN sizesA sa ON id_a = sa.doc_id
         |                    JOIN sizesB sb ON id_b = sb.doc_id
         |         WHERE CAST(inter AS DOUBLE)/(n_a + n_b - inter) >= 0.1
         |         GROUP BY 1)
         |SELECT i.doc_id,
         |  CASE WHEN e.exact_of IS NOT NULL THEN 'exact'
         |       WHEN n.near_of IS NOT NULL THEN 'near'
         |       ELSE 'unique' END AS verdict,
         |  coalesce(e.exact_of, n.near_of) AS dup_of,
         |  CASE WHEN e.exact_of IS NULL THEN n.best_jaccard END
         |    AS best_jaccard
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) i
         |LEFT JOIN exact e USING (doc_id)
         |LEFT JOIN near n USING (doc_id)""".stripMargin,
    // q66 deliberately absent: HLL sketches have no engine-portable twin
  )
}

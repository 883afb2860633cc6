package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.sources.Tables

/** Global anti-pattern sweep over every catalog query's physical plan.
  *
  * A CartesianProduct or an unplanned nested-loop join is the class of bug
  * that is invisible at sf0.01 and fatal at 100 TB. Every query below must
  * plan equi-joins (hash/sort-merge) except the explicitly allowlisted
  * broadcast cross joins, each of which multiplies the fact side by a
  * dimension that is O(25) rows at ANY scale factor (nation-derived) — the
  * reference's own nearest-city shape, safe because the blow-up factor is
  * the tiny dim, never |fact|².
  */
class PlanAuditSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  /** The queries whose plan legitimately contains
    * BroadcastNestedLoopJoin: cross join against the 25-row nation-derived
    * city dim (q18, q20, q33, and the composed jobs q46/q48/q49 whose
    * reference shape is the broadcast nearest-city join), the
    * declared-contract broadcast query side of the exact-knn baseline
    * (q25 — q26 is its scale path) and of the coarse re-rank pass (q88 —
    * same bounded-query-set contract), the centroid-assignment cross join
    * of the IVF operators (q26, q35), whose broadcast side is the centroid
    * set — small by the IVF design itself, and the ONE-row broadcast
    * scalars of q78 (the bloom bitmap), q82 (the global target count),
    * and q87 (the corpus size scaling the boilerplate threshold), where
    * the "join" is a constant attach, not a pairing. The k-means queries
    * (q84/q85) are deliberately absent: their assignment is a literal
    * projection, no join of any kind.
    */
  private val broadcastCrossAllowed =
    Set("q18_nearest_city", "q20_orders_by_zone", "q33_coord_argmin",
      "q25_knn_exact", "q26_knn_ivf", "q35_cosine_near_dups",
      "q46_user_mart", "q48_zone_mart", "q49_recommendations",
      "q78_bloom_pruned_join", "q82_mixture_rebalance",
      "q87_boilerplate_ngrams", "q88_quantized_rerank",
      "q93_heavy_hitters", "q96_heavy_sources",
      "q101_bm25_topk", // 1-row scalar attaches (q101: N + total-len stats)
      "q109_pagerank_bipartite", // 1-row node-count scalar (teleport term)
      "q110_basket_lift", // 1-row basket-count scalar (lift denominator)
      "q123_temperature_mixture", // 1-row N and Z scalars (allocation)
      "q126_subword_mixture", // same N and Z scalars, token-denominated
      "q129_domain_mix", // 1-row token-total scalar (q96's shape)
      "q130_lm_quality_filter", // 1-row vocab-size + corpus-mean scalars
      "q131_dsir_selection", // 1-row distribution-total scalars (dist())
      "q134_cosine_near_dups", // 1-row corpus-size scalar (df guard)
      "q140_kmv_rollup", // 1-row global-exact scalar beside the sketch
      "q144_user_mart_city_tz", // q46's broadcast nearest-city shape
      "q146_ann_recall", // q25/q26's sample-broadcast products (graded)
      "q147_pq_recall", // q25's product + the ADC lut broadcast
      "q152_ivfpq_recall", // q25's exact baseline + centroid/lut broadcasts
      "q156_opq_recall", // q147's shapes in the permuted space
      "q157_opq_tf_recall", // q147's shapes ×2 (pq + opq) on hashed-tf
      "q161_matryoshka_recall", // q25's product ×4 (baseline + 3 widths)
      "q165_hard_negatives", // q25's bounded-anchor broadcast product
      "q168_hard_negatives_ivf", // q146's shapes + q165's cut (exact arm
                                 // broadcast product + centroid attaches)
      "q171_ivf_nprobe_sweep",   // q146's shapes per arm (exact-baseline
                                 // broadcast product + centroid attaches)
      "q178_ivfpq_incremental",  // q152's centroid-assignment cross join
                                 // (broadcast side = the k fitted coarse
                                 // centroids) in the residual prep of
                                 // state, fold, and census
      "q185_ivfpq_retract",      // q178's residual prep, retraction side
      "q148_recommendations_grid") // below chooseGridZone's plan-stat
                                   // bounds this IS q49's reference
                                   // broadcast nearest-city shape

  test("no catalog query plans a CartesianProduct") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"CartesianProduct in: ${offenders.mkString(", ")}")
  }

  test("nested-loop joins appear only where a tiny broadcast dim is the plan") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        if (plan.contains("BroadcastNestedLoopJoin") &&
            !broadcastCrossAllowed.contains(name)) Some(name)
        else None
    }
    assert(offenders.isEmpty,
      s"unexpected BroadcastNestedLoopJoin in: ${offenders.mkString(", ")}")
  }

  test("q75 runs the pipeline in the caller's session without rewriting " +
      "its conf") {
    // a session fetched inside a query is the caller's: rewriting its conf
    // would run every later query here at another partition count
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "3")
    try {
      SparkEntry.queries("q75_pipeline_sink")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      assert(spark.conf.get(key) === "3")
    } finally spark.conf.set(key, prior)
  }

  test("expensive-tier execution shape: stage/job counts stay bounded") {
    // Wall time carries a ±20% machine-variance band; submitted-stage
    // counts are plan-determined up to a ±2 jitter (file-listing jobs and
    // AQE stage-job accounting vary slightly run-to-run). Bounds are the
    // round-11 re-measured shapes (sf0.001, 4 shuffle partitions, the
    // hash-mode Tables.wide + per-site pins) plus that jitter: a
    // change that re-materializes the upstream pair pipeline costs +8..10
    // jobs on the CC queries and fails here loudly instead of hiding
    // inside bench noise. q77 is the single-DAG control (5 AQE
    // stage-jobs); q75 spans three jobs through real parquet sinks;
    // q54/q59/q76 pay the iterative star rounds (2 rounds each on this
    // corpus — a diameter change in the synthetic data moves the counts
    // and deserves a look, not a silent slack bump).
    val bounds = Map(
      "q54_dup_clusters" -> Instrument.Counts(38, 38),
      "q59_corpus_dedup" -> Instrument.Counts(40, 40),
      // 3-thread mart submission jitter — see the q160 note below;
      // +3 jobs round-17: the pair stream's coordinate re-attach joins
      // (RecommendationJob payload narrowing, §2.3)
      "q75_pipeline_sink" -> Instrument.Counts(88, 88),
      // q76 re-measured at 74 after the round-10 widen revert (the widen
      // exchange had added stage-jobs); the broadcast-attach flutter that
      // used to be padded per-entry is now the assert's uniform +2
      "q76_incremental_clusters" -> Instrument.Counts(75, 75),
      "q77_srp_near_dups" -> Instrument.Counts(5, 5),
      // round-8/9 tier (measured at this sf + jitter): q128 media hashes,
      // q131 DSIR's fit+spine+selection chain, q132/q133/q142 the BPE fit
      // (batched rounds ARE the job count — a return of the one-merge-
      // per-job loop would double it), q134's pin+count+model collect,
      // q135 the interval-overlap bucket join
      "q128_media_near_dups" -> Instrument.Counts(9, 9),
      "q131_dsir_selection" -> Instrument.Counts(30, 30),
      "q132_bpe_merges" -> Instrument.Counts(6, 6),
      "q133_bpe_token_counts" -> Instrument.Counts(9, 9),
      // 19 -> 22 (round-15): SparseVecModel.collect now gates on a
      // DISTRIBUTED posting-count aggregate BEFORE materializing anything
      // on the driver (round-14 ADVICE — the old post-collect require
      // fired only after the OOM-risk allocation it guarded against); the
      // gate is one global agg over the regime-tiny sparse-vector frame
      "q134_cosine_near_dups" -> Instrument.Counts(22, 22),
      "q135_overlap_join" -> Instrument.Counts(3, 3),
      "q142_bpe_wordpiece_roundtrip" -> Instrument.Counts(9, 9),
      // round-13 re-pins in this tier: the fitted-model stores (BPE
      // merges, k-means centroids, PQ/OPQ codebooks) and the auto zone
      // tier removed the fit/ladder jobs from the steady-state plans —
      // q132 14->6, q133 17->9, q142 17->9, q145 18->9, q147 15->10,
      // q148 95->51, q151 171->13, q152 43->20, q154 65->19, q156 19->14,
      // q157 34->24, q160 138->93 (warm-store counts; the warm-up above
      // makes that the measured state)
      // round-9/10 tier (re-measured after the Tables.wide gated widen —
      // the round-robin exchange adds 1-2 AQE stage-jobs per widened
      // scan): q143 stream-static enrichment's batch twin,
      // q144 the per-city-tz user-mart DAG, q145/q151 the coverage
      // report (q151 = ONE 128-merge batched fit + 3 coverage passes),
      // q146/q147/q152 the ANN recall harness compositions (kmeans +
      // PQ Lloyd collects ARE the job counts), q148 the recommendation
      // mart named for its grid zone tier (at this scale the plan-stat
      // gate keeps q49's shape, as for every catalog recommendation face),
      // q149/q150 the ExactSubstr gram/scrub chains
      "q143_stream_enrichment" -> Instrument.Counts(6, 6),
      "q144_user_mart_city_tz" -> Instrument.Counts(17, 17),
      "q145_vocab_coverage" -> Instrument.Counts(9, 9),
      "q146_ann_recall" -> Instrument.Counts(13, 13),
      "q147_pq_recall" -> Instrument.Counts(10, 10),
      // +1 job round-17: the coordinate re-attach of the narrowed pair
      // stream (RecommendationJob, §2.3)
      "q148_recommendations_grid" -> Instrument.Counts(43, 43),
      "q149_exact_substr_spans" -> Instrument.Counts(5, 5),
      "q150_exact_substr_scrub" -> Instrument.Counts(11, 11),
      "q151_vocab_size_sweep" -> Instrument.Counts(13, 13),
      "q152_ivfpq_recall" -> Instrument.Counts(20, 20),
      // round-10 second tier: q153 pair provenance (gram distinct + df
      // window + self-join), q154 the 32-merge fit + usage + two coverage
      // passes (batched fit rounds ARE the bulk), q155 the stateful
      // streaming face (one gram projection + flatMapGroupsWithState +
      // island window)
      "q153_exact_substr_provenance" -> Instrument.Counts(11, 11),
      "q154_vocab_prune" -> Instrument.Counts(19, 19),
      "q155_exact_substr_stream" -> Instrument.Counts(5, 5),
      // round-10 OPQ tier: q156 the permuted q147 chain (+ the energy
      // ranking collect), q157 TWO chains (pq + opq) + the tf vectorize
      // and energy collects over the pinned tf frame
      "q156_opq_recall" -> Instrument.Counts(14, 14),
      "q157_opq_tf_recall" -> Instrument.Counts(23, 23),
      // round-11 tier: the triangle machinery (since round 12 q116 is the
      // degree-oriented face and q158 the id-oriented control — the
      // 11-job bound was measured on the degree plan and the id plan is
      // strictly smaller, no degree pass), q159 = degree tier + shared
      // pinned degree frame (round-10 verdict dedupe, 34 -> 28
      // stage-jobs), q160 the WHOLE pipeline through real sinks, named for
      // the grid zone tier (at this scale the plan-stat gate keeps q75's
      // shape: the same gated path, its own scratch base)
      // re-pinned round 13 after coPurchaseEdges was content-key
      // materialized: the basket self-join's jobs left every graph query
      // (warm counts — the warm-up below makes that the measured state)
      "q158_triangles_degree" -> Instrument.Counts(5, 5),
      "q116_triangle_counts" -> Instrument.Counts(8, 8),
      "q159_clustering_coeff" -> Instrument.Counts(21, 21),
      // q160/q75 submit their three marts from a 3-thread pool (round-16
      // §2.6), so the job count jitters ±1-3 with the scheduling
      // interleave on top of the uniform +2 AQE flutter — round-17
      // measured 85 and 86 on back-to-back green runs of IDENTICAL code
      // (83 when the interleave is quiet). Bound covers the measured
      // jitter band; a real regression (re-materialized upstream) is
      // +8-10 jobs and still fails loudly.
      "q160_pipeline_grid" -> Instrument.Counts(88, 88),
      // q161: one pinned exact baseline + three sliced search/recall arms
      "q161_matryoshka_recall" -> Instrument.Counts(16, 16),
      // q162: q59's shingle/CC chain + pinned scored frame + argmax attach
      "q162_dedup_survivorship" -> Instrument.Counts(42, 42),
      // q163: one peel round at sf0.001 (the graph IS a 2-core) + the
      // convergence check + final degree pass. Bounds re-pinned round 12
      // after the cohort widen revert (q59/q153/q162 plain scans plan a
      // few MORE jobs than the widened form — the r9 posture — and the
      // ANN recall chains measured lower, 21->15/48->43/26->19)
      "q163_kcore" -> Instrument.Counts(9, 9),
      // q164: four one-round fixpoints + union/max; round 12's
      // INCREMENTAL sweep costs +3 jobs at this tiny scale (one extra
      // initial checkpoint per chain off the prior core) and strictly
      // less WORK per round at real scale (shrinking frames);
      // 37 -> 30 with the round-13 materialized edge scan
      "q164_coreness" -> Instrument.Counts(30, 30),
      // round-13 faces: q169/q172 map-only media chains (q172 adds the
      // canonical-frame checkpoint + fp groupBy/join), q170 one signature
      // pass + three bandings + the inverted-index truth, q171 one shared
      // IVF index pass + four prefix-sliced arms + recall/cost rollups
      // round-14 re-pins: the pair-tier decision (chooseChunkedPairs'
      // max-membership aggregate) materializes the subs cache up front,
      // and the downstream pipeline actions reuse it instead of racing to
      // fill it — q75/q160 93->83, q148 51->42 (fewer jobs despite the +1
      // decision job); q171's recall-cost join became a left join (flaps 29-32 with
      // AQE, pinned at the top);
      // q131/q157/q159 measured lower in the same sweep (31->30, 24->23,
      // 22->21)
      "q169_media_resize" -> Instrument.Counts(3, 3),
      "q170_lsh_recall_sweep" -> Instrument.Counts(26, 26),
      "q171_ivf_nprobe_sweep" -> Instrument.Counts(32, 32),
      "q172_media_cross_resolution" -> Instrument.Counts(5, 5),
      "q173_media_resample" -> Instrument.Counts(3, 3),
      // round-14: q174 unigram Viterbi — two map-only scalar expressions
      // over one scan, zero exchanges (the q125 shape); q175 the
      // external-codec seam (documentsWide widen + the mapPartitions
      // stage + decode)
      "q174_unigram_tokens" -> Instrument.Counts(2, 2),
      "q175_wav_sinc_resample" -> Instrument.Counts(3, 3),
      // q176 warm-store (measured 9): the state scan feeds the fold's TWO
      // driver collects (state rows + batch cell sums) and the rollup's
      // joins; each driver-sized collect IS a job — the MLlib posture
      "q176_kmeans_incremental" -> Instrument.Counts(9, 9),
      // q177 warm-store: the PQ twin — state scan + fold collects + the
      // encode census action
      "q177_pq_incremental" -> Instrument.Counts(9, 9),
      // q178 warm-store (round-15): the composite twin — coarse-centroid
      // scan + residual-state scan + the fold's batch cell-sum collect +
      // the census under broadcast-attached coarse cells; residual prep
      // runs per consumer (state/fold/census), each a centroid argmax +
      // broadcast attach
      "q178_ivfpq_incremental" -> Instrument.Counts(19, 19),
      // q179 warm-store (round-15): energy-state scan + the fold's d-row
      // aggregate + permutation collect + the two narrow dim-keyed joins
      "q179_opq_incremental" -> Instrument.Counts(12, 12),
      // q180 warm-store (round-15): base-slice merge-table scan + the
      // single drift pass (one conditional-sum groupBy, no join)
      "q180_vocab_drift" -> Instrument.Counts(8, 8),
      // q181 warm-store (round-15): stored-state centroid scan + the
      // assignment census + the k-row share/tv windows
      "q181_embedding_drift" -> Instrument.Counts(7, 7),
      // q182 warm-store (round-15): q176's shape with a second fold —
      // state scan + two folds' batch cell-sum collects + the census
      "q182_kmeans_fold_chain" -> Instrument.Counts(12, 12),
      // round-16 retraction faces (warm-store): same collect anatomy as
      // their fold twins — state scan + the unfold's batch cell-sum
      // collect + the survivor census
      "q183_kmeans_retract" -> Instrument.Counts(9, 9),
      "q184_pq_retract" -> Instrument.Counts(9, 9),
      "q185_ivfpq_retract" -> Instrument.Counts(19, 19),
      "q186_opq_retract" -> Instrument.Counts(12, 12),
      // q187 warm-store (round-16): the batch-edge DERIVATION (within-A +
      // A×B cross jaccard chains — shingle/df/candidate/intersection, the
      // same pair pipeline q76 pays) is the job count; the fold itself is
      // the small remainder — endpoint semi-joins + star rounds over the
      // affected neighborhood (1 round here) + the pass-through union.
      // q76's merge path measures 77 on the same corpus: the fold's
      // saving at this SF is the skipped whole-graph star re-convergence,
      // and it grows with |untouched| at scale
      "q187_cc_fold" -> Instrument.Counts(71, 71))
    // coPurchaseEdges and the fitted-model stores (BPE merges, k-means
    // centroids, PQ/OPQ codebooks) are content-key-materialized (round
    // 13): the first execution against a fresh scratch dir pays the
    // build+publish jobs once per corpus vintage; every later one is a
    // pure scan. Warm each distinct store untimed so the counts below pin
    // the steady-state plan, not the one-off builders (which would make
    // the suite's counts depend on whether /tmp survived since the last
    // run). q163 covers the edge store; q151 the 128-merge BPE store
    // (every other BPE face is a prefix reader); the ANN chains cover
    // their own codebook/centroid stores.
    for (warm <- Seq("q163_kcore", "q151_vocab_size_sweep", "q147_pq_recall",
        "q152_ivfpq_recall", "q156_opq_recall", "q157_opq_tf_recall",
        "q176_kmeans_incremental", "q177_pq_incremental",
        "q178_ivfpq_incremental", "q179_opq_incremental",
        "q180_vocab_drift", "q181_embedding_drift",
        "q182_kmeans_fold_chain", "q183_kmeans_retract",
        "q184_pq_retract", "q185_ivfpq_retract",
        "q186_opq_retract", "q187_cc_fold")) { // model stores
      spark.catalog.clearCache()
      graft.ext.Caches.releaseAll()
      SparkEntry.queries(warm)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    val got = bounds.toSeq.sortBy(_._1).map { case (name, bound) =>
      val fn = SparkEntry.queries(name)
      // cold-cache slate before each measurement (the Bench discipline):
      // suites share one session, so a prior suite's pinned/cached frames
      // would short-circuit jobs and make the counts order-dependent
      spark.catalog.clearCache()
      graft.ext.Caches.releaseAll()
      val (_, c) = Instrument.countStages(spark) {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      (name, bound, c)
    }
    val report = got.map { case (n, b, c) =>
      s"$n: ${c.jobs} jobs / ${c.stages} stages (bound ${b.jobs}/${b.stages})"
    }.mkString("\n")
    // measured counts on success too — re-pinning bounds after a plan
    // improvement needs the numbers without forcing a failure first
    info(report)
    got.foreach { case (name, bound, c) =>
      assert(c.jobs > 0 && c.stages > 0,
        s"$name submitted nothing — measurement broken\n$report")
      // +2 = the documented AQE stage-job flutter, applied UNIFORMLY here
      // instead of per-entry: several entries were measured once and
      // pinned exactly, and the flutter flaps them only in full-suite
      // context (observed once in round 10 — pass in isolation 3/3, pass
      // on full-suite rerun). A real regression re-materializes upstream
      // pipelines at +8..10 jobs and still fails loudly.
      assert(c.jobs <= bound.jobs + 2 && c.stages <= bound.stages + 2,
        s"$name exceeded its execution-shape bound — a plan regression, " +
          s"not noise\n$report")
    }
  }

  test("ANN top-k queries rank map-side: no window over the candidate product") {
    // The round-7 rewrite contract: ranking is TopKByAggregate (bounded
    // O(k) heap state, partial-mergeable), so the |corpus|×|queries|
    // product dies map-side and the exchange carries k·|queries| rows.
    // The window form it replaced shuffled and SORTED the entire product
    // (measured 80× wall at 10× data). Two regressions surface here:
    // a Window operator reappearing over the product, and CollapseProject
    // inlining the cosine computation into the imperative aggregate's
    // update — which evaluates it interpreted per product row (measured
    // 4× the whole query) and shows up as the dot expression inside the
    // graft_topk_by aggregate expression instead of a pinned attribute.
    for (name <- Seq("q25_knn_exact", "q26_knn_ivf", "q88_quantized_rerank")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.linesIterator.exists(_.contains("Window [")),
        s"$name plans a Window over the candidate product:\n$plan")
      plan.linesIterator.filter(_.contains("graft_topk_by")).foreach { l =>
        assert(!l.contains("graft_dot_long") && !l.contains("element_at"),
          s"$name: cosine collapsed into the aggregate (interpreted " +
            s"update): $l")
      }
    }
  }

  /** Every SHUFFLE exchange in a plan string, whatever the partitioning:
    * hash, range, single-partition, round-robin, or repartition-by-
    * expression. Round 11's rr widen slipped past the previous census
    * because it enumerated hash/range/single only — count the node, not an
    * allowlist of partitionings. Broadcast exchanges are excluded by name
    * (`BroadcastExchange` contains the substring): they move model-sized
    * state, not the data, and the map-only contract is about data motion.
    */
  private def shuffleExchanges(plan: String): Int =
    plan.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("BroadcastExchange"))

  test("per-row queries and the k-means assignment plan zero exchanges") {
    // these queries are contractually map-only: per-row expression chains
    // (q80/q86) and the literal-centroid argmax projection (q84 — the
    // whole point of collecting the fit state is that assignment never
    // shuffles). A regression that introduces an exchange here is a plan
    // bug even if results stay correct.
    for (name <- Seq("q80_repetition_signals", "q84_kmeans_embed",
        "q86_quality_verdict", "q103_chunk_windows",
        "q125_subword_tokens")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      val exchanges = shuffleExchanges(plan)
      assert(exchanges === 0, s"$name plans $exchanges exchanges:\n$plan")
    }
  }

  test("the exchange census counts a round-robin repartition (spec self-check)") {
    // the hole round 11 shipped through: `df.repartition(n)` plans
    // `Exchange roundrobinpartitioning`, which the old hash/range/single
    // allowlist missed — q80/q86's zero-exchange contract was silently
    // bypassed by the rr widen. This injects exactly that exchange and
    // asserts the census sees it, so the census can never regress to an
    // allowlist again.
    val injected = Tables.documents(spark, sfDir).repartition(8)
      .queryExecution.executedPlan.toString
    assert(shuffleExchanges(injected) >= 1,
      s"census missed the injected round-robin exchange:\n$injected")
    val byExpr = Tables.documents(spark, sfDir)
      .repartition(8, col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(shuffleExchanges(byExpr) >= 1,
      s"census missed the injected repartition-by-expression:\n$byExpr")
  }
}

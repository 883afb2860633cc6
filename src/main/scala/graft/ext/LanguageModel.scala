package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.Fnv1a64Expression.fnv1a64

/** N-gram language-model scoring for corpus curation — the CCNet-shaped
  * quality filter (Wenzek et al. 2020: score every document under an LM
  * trained on a trusted reference corpus; keep the fluent tail) and the
  * DSIR-shaped importance selector (Xie et al. 2023: hashed n-gram features,
  * select documents whose feature distribution looks like the target's).
  *
  * Both are built integer-exact so the scores themselves hash-check against
  * an independent DuckDB re-derivation — no `ln`/`exp` anywhere (libm
  * results differ in the last ulp across engines, and float SUMS are
  * shuffle-order-dependent; the BM25 tier's rational-idf device, X61, is
  * the precedent):
  *
  *  - The LM score is the MEAN smoothed conditional probability per bigram,
  *    in micros: p(w|v) = ((c₂(v,w)+1)·10⁶) div (c₁(v)+V) — add-one
  *    smoothing over the reference vocabulary V, with c₁(v) = Σ_w c₂(v,w)
  *    (context totals, so the conditional sums to ≤ 1 by construction) and
  *    one formula covering unseen words AND unseen contexts (both coalesce
  *    to 0). Mean-probability ranks fluency the same direction perplexity
  *    does (high = fluent) without the geometric mean's log; the classic
  *    log-space perplexity is a monotone function of neither, and that is
  *    fine — the filter consumes the ORDERING, not the absolute number.
  *  - The DSIR weight is the mean target/source probability ratio of the
  *    document's hashed features (unigrams + bigrams, FNV mod B buckets),
  *    each bucket's smoothed probability first quantized to nanos, the
  *    per-feature ratio to millis: r(b) = (tp_nano(b)·1000) div sp_nano(b).
  *    Additive-mean instead of DSIR's log-product — same engineering
  *    argument as above, and the selection again consumes the ordering.
  *
  * Integer bounds (documented like the money-sum device): probabilities
  * quantize through count·10⁹, so the reference corpus may hold up to
  * ~9.2·10⁹ tokens (2⁶³/10⁹) before the product overflows long — beyond
  * that, drop to micros or split the corpus. sp_nano ≥ 1 requires the
  * SOURCE corpus to stay under 10⁹ tokens per the same scale; both bounds
  * are asserted nowhere because the counts are data — callers at the 100 TB
  * tier shard the fit by language (as CCNet does) long before the bound.
  *
  * Scale shape: everything is token-keyed equi-joins and mergeable
  * aggregates — fit is two groupBys over the exploded reference (partial
  * map-side combine), scoring joins the exploded corpus against the model
  * tables on (prev, w) / bucket keys (Σ tokens rows, never |corpus|²), and
  * the per-doc reduce is one key exchange. The only broadcast is the
  * scalar vocabulary size / total-count row. Hot contexts ("the") skew the
  * model-join key distribution; the model side is one row per key, so AQE
  * skew-split applies cleanly (measured preferable to salting for joins —
  * see `Skew`'s scaladoc).
  */
object LanguageModel {

  /** (id, prev, w) consecutive-word pairs — map-only explode, no exchange.
    * Docs with fewer than two words produce no rows (`sequence(1, 0)`
    * would DESCEND in Spark, hence the explicit size guard). */
  def bigramPairs(docs: DataFrame, id: String, text: String): DataFrame =
    docs
      .select(col(id), TextAnalysis.tokens(col(text)).as("__ws"))
      .filter(size(col("__ws")) >= 2)
      .select(col(id), col("__ws"),
        explode(sequence(lit(1), size(col("__ws")) - 1)).as("__i"))
      .select(col(id),
        element_at(col("__ws"), col("__i")).as("prev"),
        element_at(col("__ws"), col("__i") + 1).as("w"))

  /** Add-one-smoothed bigram model fitted on `train`:
    * (bi: prev, w, c2), (uni: prev, c1 context totals), (v: single-row V =
    * distinct train words). The three frames are the model — persist them
    * to parquet to reuse across scoring runs. */
  def fitBigram(train: DataFrame, id: String, text: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val bg = bigramPairs(train, id, text)
    val bi = bg.groupBy("prev", "w").agg(count(lit(1)).as("c2"))
    val uni = bg.groupBy("prev").agg(count(lit(1)).as("c1"))
    val v = train.select(explode(TextAnalysis.tokens(col(text))).as("__w"))
      .agg(countDistinct(col("__w")).as("V"))
    (bi, uni, v)
  }

  /** Mean smoothed bigram probability per document, in micros, plus a
    * corpus-relative keep flag (score ≥ the token-weighted global mean).
    * Output: (id, n_bigrams, score_micro, keep) — score_micro is NULL and
    * keep false for docs with fewer than two words. */
  def scoreBigram(model: (DataFrame, DataFrame, DataFrame),
                  docs: DataFrame, id: String, text: String): DataFrame = {
    val (bi, uni, v) = model
    val perTok = bigramPairs(docs, id, text)
      .join(bi, Seq("prev", "w"), "left")
      .join(uni, Seq("prev"), "left")
      .crossJoin(broadcast(v))
      .select(col(id),
        expr("((coalesce(c2, 0) + 1) * 1000000) div (coalesce(c1, 0) + V)")
          .as("__p"))
    val perDoc = perTok.groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__p")).as("__s"))
      .select(col(id), col("n_bigrams"),
        expr("__s div n_bigrams").as("score_micro"), col("__s"))
    val global = perDoc
      .agg(expr("sum(__s) div sum(n_bigrams)").as("__g"))
    docs.select(col(id))
      .join(perDoc.drop("__s"), Seq(id), "left")
      .crossJoin(broadcast(global))
      .select(col(id),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("score_micro"),
        coalesce(col("score_micro") >= col("__g"), lit(false)).as("keep"))
  }

  /** Hashed features of a document for DSIR weighting: its normalized
    * unigrams plus space-joined bigrams, each mapped to fnv(feature) mod
    * `buckets`. (id, bucket) stream, map-only. */
  def hashedFeatures(docs: DataFrame, id: String, text: String,
                     buckets: Int): DataFrame = {
    val unis = docs
      .select(col(id), explode(TextAnalysis.tokens(col(text))).as("__f"))
    val bis = bigramPairs(docs, id, text)
      .select(col(id), concat_ws(" ", col("prev"), col("w")).as("__f"))
    unis.unionByName(bis)
      .select(col(id), pmod(fnv1a64(col("__f")), lit(buckets.toLong))
        .as("bucket"))
  }

  /** Per-bucket importance ratios target/source in millis: both bucket
    * distributions add-one-smoothed and quantized to nanos first, so the
    * ratio is defined (≥ 1 nano) even for buckets the target never hits.
    * Output: (bucket, r_milli) — exactly `buckets` rows via a dense spine,
    * broadcastable by construction. */
  def importanceRatios(target: DataFrame, source: DataFrame, id: String,
                       text: String, buckets: Int): DataFrame =
    ratiosFromFeatures(hashedFeatures(target, id, text, buckets),
      hashedFeatures(source, id, text, buckets), buckets)

  /** [[importanceRatios]] over pre-computed (id, bucket) feature streams —
    * lets callers that ALSO score the source stream (dsirSelect) pin the
    * exploded features once instead of re-deriving them per consumer. */
  def ratiosFromFeatures(targetFeats: DataFrame, sourceFeats: DataFrame,
                         buckets: Int): DataFrame = {
    def dist(feats: DataFrame, cName: String, tName: String): DataFrame = {
      val c = feats.groupBy("bucket").agg(count(lit(1)).as(cName))
      val t = c.agg(sum(col(cName)).as(tName))
      // dense bucket spine: absent buckets still get the smoothed floor
      val spine = c.sparkSession.range(buckets).select(col("id").as("bucket"))
      spine.join(c, Seq("bucket"), "left")
        .crossJoin(broadcast(t))
        .select(col("bucket"),
          expr(s"((coalesce($cName, 0) + 1) * 1000000000) " +
            s"div (coalesce($tName, 0) + $buckets)").as(s"__$cName"))
    }
    dist(targetFeats, "tc", "tt")
      .join(dist(sourceFeats, "sc", "st"), Seq("bucket"))
      .select(col("bucket"), expr("(__tc * 1000) div __sc").as("r_milli"))
  }

  /** DSIR-style selection: mean importance ratio per doc (millis), top
    * `select` docs by (score desc, id asc) via the bounded map-side top-k
    * aggregate — never a global sort. Output: (id, n_features,
    * score_milli) for the selected docs only. */
  def dsirSelect(target: DataFrame, source: DataFrame, id: String,
                 text: String, buckets: Int, select: Int): DataFrame = {
    // the exploded source stream feeds BOTH the source distribution and
    // the per-doc scoring pass — pinned so normalize+split+hash run once
    val srcFeats = Caches.pin(hashedFeatures(source, id, text, buckets))
    val ratios = ratiosFromFeatures(
      hashedFeatures(target, id, text, buckets), srcFeats, buckets)
    val perDoc = srcFeats
      .join(broadcast(ratios), Seq("bucket"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_features"), sum(col("r_milli")).as("__s"))
      .select(col(id), col("n_features"),
        expr("__s div n_features").as("score_milli"))
    val top = perDoc
      .agg(graft.plans.TopKByAggregate.topkBy(
        col("score_milli").cast("double"), col(id), select).as("__top"))
      .select(explode(col("__top")).as("t"))
      .select(col("t.id").as(id))
    perDoc.join(top, Seq(id))
  }
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew mitigation for hot keys — the failure mode of `groupBy`/`join` at
  * 100 TB when one key (a mega-channel, a null-ish default coordinate)
  * collects a large share of rows and pins a single reducer.
  *
  * AQE's skew-join splitting handles the join case at runtime; these helpers
  * cover what AQE does not: skewed *aggregations* (salted two-phase) and
  * broadcast-threshold-exceeding skewed joins (hot-key replication). Both
  * are pure DataFrame rewrites with unchanged semantics.
  *
  * '''Measured AQE interplay''' (round 7; sf1 lineitem 6M rows with a
  * planted hot key holding 30% of rows, joined/grouped against the 10k-row
  * supplier dim, sort-merge forced, local[32] medians):
  *
  *   - '''join''': plain SMJ 4.0 s; AQE skew-split 1.9 s; [[saltedJoin]]×16
  *     2.4 s. When AQE's splitter ENGAGES it beats manual salting (it
  *     splits only the oversized partitions and pays no dim replication) —
  *     prefer AQE for skewed joins. Caveats that keep [[saltedJoin]] in the
  *     toolbox: AQE only engages past
  *     `skewedPartitionThresholdInBytes` (256 MB default — at bench scale
  *     it needs lowered thresholds; at 100 TB real hot keys clear it), and
  *     it cannot split a single KEY across reducers for the build side of
  *     some join shapes, while salting always can.
  *   - '''aggregate''': AQE has no skew path for aggregates, but measure
  *     before salting — partial aggregation already collapses additive
  *     aggregates map-side, so a hot key costs the final reducer almost
  *     nothing (plain count 0.98 s vs salted 1.16 s: the extra phase LOSES).
  *     [[saltedAggregate]] pays off only when per-group reducer state is
  *     large (collect-style or sketch state: measured a wash at 6M rows,
  *     2.4 vs 2.3 s) — and at cluster scale its real value is survival, not
  *     wall time: a key holding 100s of GB of state OOMs/spills one
  *     reducer, and salting bounds that state by 1/saltBuckets.
  */
object Skew {

  /** Two-phase aggregation for additive aggregates over skewed keys:
    * partial-aggregate on (keys, salt) — spreading each hot key over
    * `saltBuckets` reducers — then final-aggregate on the keys.
    *
    * @param partial per-bucket aggregates, e.g. `Seq(sum("x").as("x"))`
    * @param merge   how to merge buckets, e.g. `Seq(sum("x").as("x"))` —
    *                must be the additive counterpart of `partial`
    *                (count → sum, sum → sum, min → min, max → max)
    */
  def saltedAggregate(df: DataFrame, keys: Seq[String], saltBuckets: Int,
                      partial: Seq[Column], merge: Seq[Column]): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()), lit(saltBuckets)))
    salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(partial.head, partial.tail: _*)
      .groupBy(keys.map(col): _*)
      .agg(merge.head, merge.tail: _*)
  }

  /** Skewed equi-join: replicate the (small) right side `saltBuckets` times
    * and scatter left rows across the replicas, so a hot key's rows land on
    * `saltBuckets` reducers instead of one. Inner/left semantics preserved;
    * right side grows by the salt factor — keep it the dimension side.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 saltBuckets: Int, joinType: String = "inner"): DataFrame = {
    // replicating the right side is only semantics-preserving when unmatched
    // RIGHT rows never surface — a right/full join would emit each of them
    // saltBuckets times
    val allowed = Set("inner", "left", "leftouter", "leftsemi", "leftanti")
    require(allowed.contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin preserves semantics only for inner/left-family joins, " +
        s"got $joinType")
    val saltedLeft = left.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()), lit(saltBuckets)))
    val saltedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    saltedLeft.join(saltedRight, keys :+ "__salt", joinType).drop("__salt")
  }

  /** The two sides of a balanced chunk-cell self-join on `key` — for
    * quadratic self-joins (every pair of rows sharing a key), whose output
    * AQE's skew detection cannot see: it sizes shuffle INPUT, and a hot
    * key's few MB of rows fan out to millions of pairs in one task.
    *
    * Rows are numbered within their key by `order` (one linear key-keyed
    * window) and cut into chunks of `chunk` rows. The left side replicates
    * each row of chunk c to cells (c, c..nc−1), the right side to
    * (0..c, c), so joining the sides on (key, __ca, __cb) meets every
    * unordered pair of a key's rows in EXACTLY the cell (min chunk, max
    * chunk): a key with m rows spreads its m² pair work over (m/B)²
    * independent cells of ≤ B² pairs each. Keys with one chunk collapse to
    * a single (key, 0, 0) cell with zero replication. Diagonal cells carry
    * both orientations of a pair; the caller's pair predicate halves them,
    * and a cross-chunk cell always has the earlier-numbered row on the
    * left.
    *
    * Returns (left, right): `df`'s columns plus __ca, __cb (and the
    * numbering helpers __pos, __nc). Callers pick their payload columns
    * and join hint.
    */
  def chunkCells(df: DataFrame, key: String, order: Column,
                 chunk: Long): (DataFrame, DataFrame) = {
    val numbered = df
      .withColumn("__pos",
        row_number().over(Window.partitionBy(key).orderBy(order))
          .cast("long") - 1)
      .withColumn("__nc", expr(
        s"(count(1) over (partition by $key) + ${chunk - 1}) div $chunk"))
      .withColumn("__c", expr(s"__pos div $chunk"))
    val left = numbered
      .withColumn("__cb", explode(sequence(col("__c"), col("__nc") - 1)))
      .withColumnRenamed("__c", "__ca")
    val right = numbered
      .withColumn("__ca", explode(sequence(lit(0L), col("__c"))))
      .withColumnRenamed("__c", "__cb")
    (left, right)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Widen regression insurance (round-11 verdict item 7): the
  * `SPARK_GRAFT_WIDEN` knob (on/off) is load-bearing bench tooling, and
  * the widened plan must be semantics-preserving. This runs a
  * representative catalog slice with the widen off (the plain-scan
  * reference) and at the default, and asserts identical results via an
  * order-independent (count, Σ xxhash64(row)) checksum: a widen exchange
  * may move rows between partitions, never change them.
  *
  * The slice: a dedup chain (q23 — MinHash over `documentsWide`, a
  * multi-consumer shingle pipeline), a site-pinned widen consumer (q60 —
  * `Caches.pin` around the widened read), and a map-only query (q80 — the
  * zero-exchange contract the round-robin widen silently violated in
  * round 10). The knob flips through the `graft.widen` system property
  * ([[graft.sources.Tables.wide]] reads it before the env var precisely
  * so this spec can change it inside one JVM).
  */
class WidenModeSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def checksum(name: String): (Long, String) = {
    spark.catalog.clearCache()
    graft.ext.Caches.releaseAll()
    val df = SparkEntry.queries(name)(spark, sfDir)
    val r = df.agg(
      count(lit(1)),
      sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("∅"))
  }

  test("every widen mode is semantics-preserving on a dedup chain, an " +
      "ANN query, and a map-only query") {
    val targets = Seq("q23_minhash_near_dups", "q60_distinctive_terms",
      "q80_repetition_signals")
    val modes = Seq("off", "on")
    for (name <- targets) {
      // save/restore rather than remove: don't clobber a pre-set mode
      // (ADVICE r12); suites run sequentially (no forked parallel specs),
      // so the flip is not racing another suite's Tables.wide plan build.
      val prior = sys.props.get("graft.widen")
      val sums = modes.map { m =>
        sys.props("graft.widen") = m
        try (m, checksum(name))
        finally prior match {
          case Some(v) => sys.props("graft.widen") = v
          case None    => sys.props.remove("graft.widen")
        }
      }
      assert(sums.map(_._2).distinct.size === 1,
        s"$name result differs across widen modes: $sums")
    }
  }

  test("the widen's size band gates correctly at BOTH edges (round-15: " +
      "no fixture reaches the 1 GiB upper bound, so pin it at plan level)") {
    // spark.range has EXACT plan statistics (8 bytes/row), so the band
    // edges are testable without materializing a >1 GiB frame. The upper
    // bound is the 100 TB contract itself: past 1 GiB the scan has
    // natural splits and an unconditional full-table exchange would be
    // the bug the gate exists to prevent.
    def widened(df: org.apache.spark.sql.DataFrame, minBytes: Long) =
      graft.sources.Tables.wide(df, minBytes = minBytes, hashKey = "id")
        .queryExecution.analyzed.toString.contains("RepartitionByExpression")
    val big = spark.range(1L << 28).toDF("id") // 2 GiB estimate
    val mid = spark.range(1L << 21).toDF("id") // 16 MiB
    val tiny = spark.range(1L << 10).toDF("id") // 8 KiB
    assert(!widened(big, 4L << 20),
      "above 1 GiB the widen must be a pass-through")
    assert(widened(mid, 4L << 20),
      "inside [4 MiB, 1 GiB) the single-file band widens")
    assert(!widened(tiny, 4L << 20),
      "below the lower bound the plain scan wins (measured, round 11)")
  }
}

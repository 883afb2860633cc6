package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one owner of the checkpointed fixpoint loop behind
  * [[ConnectedComponents]]' large/small-star rounds and [[Graphs]]' k-core
  * peel. Each round is `step(cur).localCheckpoint(false)` followed by ONE
  * scalar action, the `fingerprint` aggregate, which materializes the
  * LAZY checkpoint as it runs: one job per round instead of the eager
  * form's two (measured small — q54 7.8 -> 7.6 s, q59 8.0 -> 7.7 s at
  * sf0.1; rounds are shuffle-stage-bound — but on a busy 1000-executor
  * cluster each saved job is a saved scheduling round-trip per round). The
  * checkpoint truncates lineage, so the plan stays O(1) deep instead of
  * growing by the step's joins every round.
  *
  * Once the new snapshot is materialized the superseded one is dead, and
  * its blocks are released at once instead of holding rounds-many copies
  * until the ContextCleaner's next GC-driven sweep. The loop stops when two
  * consecutive fingerprints are equal and returns the last snapshot (never
  * released here: callers read it lazily) with the rounds it ran, the
  * confirming round included. An unconverged frame is a silently wrong
  * answer (one component reported as several, a partial peel), so at the
  * cap the loop refuses instead of returning it. One telemetry line per
  * call goes to stderr, so benchmark rounds expose round-count drift in the
  * data instead of discovering it via a timeout.
  *
  * The entry frame is the loop's too: it is released once round 1 has
  * superseded it, so a caller passes either a lazy frame (nothing to
  * release) or a checkpoint taken for this call alone — never a frame
  * anything else still reads.
  */
private[graft] object Fixpoint {

  /** (fixpoint frame, rounds) of `step` iterated from `entry`; `what` names
    * the loop in the telemetry line and the refusal.
    */
  def run(what: String, entry: DataFrame, maxRounds: Int)(
      step: DataFrame => DataFrame): (DataFrame, Int) = {
    var cur = entry
    var prev = fingerprint(cur)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val next = step(cur).localCheckpoint(false)
      val fp = fingerprint(next)
      releaseLocalCheckpoint(cur)
      converged = fp == prev
      cur = next
      prev = fp
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"$what did not converge within $maxRounds rounds (${prev._1} rows " +
          "after the last) — a partial fixpoint is a wrong answer")
    System.err.println(
      s"[graft] $what: converged in $rounds rounds (${prev._1} rows)")
    (cur, rounds)
  }

  /** Order-independent fingerprint of a frame's row set: (count,
    * Σ xxhash64 over its columns). Columns hash in name order, so a step
    * that only reorders them (a USING semi-join puts its key first)
    * fingerprints the same set the same. DECIMAL(38) because a BIGINT sum
    * of 64-bit hashes overflows silently; a colliding non-equal set would
    * stop the loop one round early — with a 2^-64-per-round probability
    * that is not a practical failure mode.
    */
  private def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(
      count(lit(1)),
      sum(xxhash64(df.columns.sorted.map(col).toSeq: _*)
        .cast("decimal(38,0)"))).head()
    (r.getLong(0),
      BigDecimal(Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)))
  }

  // Spark WARNs on every unpersist of a localCheckpointed RDD ("lineage
  // ... truncated and cannot be recomputed after unpersisting") — here
  // that is the POINT: the frame is provably dead, and ~1 warning per
  // round would drown real warnings in every bench log. A message-scoped
  // DENY filter on exactly that logger drops only this message (a blanket
  // level demotion would also hide unrelated MapPartitionsRDD warnings —
  // cache eviction, persistence). Best-effort (a non-log4j2-core
  // classpath just keeps the noise).
  private lazy val silenceCheckpointWarn: Unit =
    try {
      import org.apache.logging.log4j.core.Filter.Result
      val ctx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
      val cfg = ctx.getConfiguration
      val name = "org.apache.spark.rdd.MapPartitionsRDD"
      // LoggerConfig filters see the filter(LogEvent) overload only; the
      // constructor defaults (NEUTRAL, NEUTRAL) keep every other overload
      // a no-op, so nothing else on this logger is affected.
      val deny = new org.apache.logging.log4j.core.filter.AbstractFilter(
          Result.NEUTRAL, Result.NEUTRAL) {
        override def filter(e: org.apache.logging.log4j.core.LogEvent)
            : Result = {
          val m = if (e.getMessage == null) null
                  else e.getMessage.getFormattedMessage
          if (m != null && m.contains(
              "truncated and cannot be recomputed after unpersisting"))
            Result.DENY
          else Result.NEUTRAL
        }
      }
      val ancestor = cfg.getLoggerConfig(name)
      val target =
        if (ancestor.getName == name) ancestor
        else { // give exactly this logger its own (additive) config
          val lc = new org.apache.logging.log4j.core.config.LoggerConfig(
            name, ancestor.getLevel, true)
          cfg.addLogger(name, lc)
          lc
        }
      target.addFilter(deny)
      ctx.updateLoggers()
    } catch { case _: Throwable => () }

  /** Release the storage blocks behind a `localCheckpoint`-ed frame. A
    * local checkpoint is NON-RECOMPUTABLE — its lineage is truncated — so
    * only the loop, which releases the snapshots it has superseded, and
    * [[ConnectedComponents]]' small-graph path, which releases the canon
    * checkpoint once its rows are on the driver, call it. No-op on frames
    * that are not checkpoint-backed (a lazy entry frame derived from an
    * input).
    */
  private[operators] def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        silenceCheckpointWarn
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}

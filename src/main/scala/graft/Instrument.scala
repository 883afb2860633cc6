package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Execution-shape counters: how many jobs and stages a block of Spark
  * actions actually submits.
  *
  * Wall time drifts ±20% with machine load (round-5/6 bench protocol
  * notes); submitted-stage counts do not — for a fixed plan, data, and
  * config they are deterministic, so they separate PLAN regressions (stage
  * count moved) from machine noise (only wall time moved). Used two ways:
  *  - `Bench` records {jobs, stages} per query alongside the wall medians
  *    (BENCH_PLANSHAPE.json) so rounds diff mechanically;
  *  - `PlanAuditSpec` pins ≤-bounds for the expensive multi-job queries
  *    (the iterative connected-components chain, the storage pipeline)
  *    whose shape a single `executedPlan` string cannot capture.
  *
  * Stages SUBMITTED are counted — a stage skipped via shuffle/exchange
  * reuse never submits and correctly does not count.
  */
object Instrument {
  final case class Counts(jobs: Int, stages: Int)

  /** Run `thunk`, returning its result plus the jobs/stages the Spark
    * scheduler submitted while it ran. The listener bus is drained before
    * the listener attaches and again after the thunk returns, so the count
    * is exact: every job submitted between the two drains, no job before.
    *
    * What is attributed: every job the session's context submits while
    * the thunk runs. Jobs from threads the thunk itself starts and joins
    * are counted — q75's three concurrent mart threads are all inside its
    * count. Actions that other threads start concurrently, from outside
    * the thunk, are counted too and cannot be told apart; callers run one
    * thunk at a time (Bench and the sequential test JVM do).
    */
  def countStages[T](spark: SparkSession)(thunk: => T): (T, Counts) = {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet(); ()
      }
    }
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val result =
      try thunk
      finally {
        ListenerBus.drain(sc)
        sc.removeSparkListener(listener)
      }
    (result, Counts(jobs.get, stages.get))
  }

  /** Cumulative executor-CPU accounting: a long-lived listener summing
    * `executorCpuTime` (+ deserialize CPU) over every finished task, in
    * nanoseconds. Deltas between two reads attribute CPU to whatever ran
    * in between. As in [[countStages]]: tasks of jobs submitted from
    * threads the measured code starts (q75's mart threads) are included,
    * and tasks of actions that other threads run concurrently cannot be
    * separated — Bench executes queries strictly sequentially.
    *
    * Why CPU and not wall: wall time swings ±2x with machine load on a
    * shared box (round 7: q49 read 9.6 s under driver load vs 4.2 s idle,
    * identical plans), while task CPU time barely moves — the scheduler
    * charges a task only for cycles it actually burned. CPU is therefore
    * the load-insensitive round-over-round comparator; wall remains the
    * user-facing latency number.
    *
    * Measured caveat (round 8): CPU is not CONTENTION-insensitive. Thread
    * CPU time counts memory-stall cycles, so the same plan on an IDLE
    * 32-core box (full parallelism, all tasks fighting for bandwidth)
    * charges MORE cpu-ns per task than under external load (fewer
    * effective cores, less contention): two same-code runs of q75 read
    * wall 14.9 s / cpu 25 s (loaded) vs wall 10.1 s / cpu 86 s (idle),
    * identical 99-job plans. Compare CPU numbers only between runs at
    * similar machine occupancy, and treat jobs/stages as the only truly
    * environment-free signal.
    *
    * The listener bus is asynchronous: `settle()` drains it so a read taken
    * right after an action returns does not miss late task-end events.
    */
  final class CpuAccum private[Instrument] (sc: org.apache.spark.SparkContext) {
    private val cpuNs = new AtomicLong
    private val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          cpuNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
          ()
        }
      }
    }
    sc.addSparkListener(listener)

    /** Drain the listener bus, then read. */
    def settle(): Long = {
      ListenerBus.drain(sc)
      cpuNs.get
    }

    def detach(): Unit = sc.removeSparkListener(listener)
  }

  /** Attach a cumulative CPU accumulator to the session's context. */
  def cpuAccum(spark: SparkSession): CpuAccum =
    new CpuAccum(spark.sparkContext)
}

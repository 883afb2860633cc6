package graft.ext

import org.apache.spark.sql.DataFrame

/** The one registry of frames that operators and queries pin with
  * `.cache()` mid-plan: every [[pin]] registers its frame, and
  * [[releaseAll]] unpersists them all.
  *
  * Long-lived sessions call [[releaseAll]] once a returned frame has been
  * materialized — `graft.Verify` does this after each query; `graft.Bench`
  * additionally clears the whole session cache between timed runs
  * (cold-cache timing), which also drops these entries. Local checkpoints
  * are not pins: the iterative operators' per-round snapshots are released
  * by the loop that made them (`graft.operators.Fixpoint`).
  */
object Caches {
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Cache `df`, register it for later release, and return it. */
  def pin(df: DataFrame): DataFrame = {
    val cached = df.cache()
    live.add(cached)
    cached
  }

  /** Unpersist every frame pinned by prior operator calls. Safe to call at
    * any time; frames not yet materialized just recompute.
    */
  def releaseAll(): Unit = {
    var df = live.poll()
    while (df != null) { df.unpersist(); df = live.poll() }
  }
}

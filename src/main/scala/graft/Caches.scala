package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry for intermediates persisted inside operators (dedup candidate
  * frames, the master-selection cogroup). The frames are hidden behind
  * the operators' return values, so callers can't unpersist them —
  * `Caches.clear(spark)` releases everything graft persisted without
  * touching user caches (unlike `spark.catalog.clearCache`). Long-lived
  * sessions should call it between batches; Verify/Bench call it between
  * queries.
  *
  * Two kinds of entries: tracked DataFrames (plain `persist`) and release
  * thunks for state a DataFrame handle can't free — localCheckpoint
  * blocks live on RDDs *inside* a returned Dataset's plan, where
  * `df.unpersist` can't reach them (the round-4 bench leak: superseded
  * iteration checkpoints squatting in the MemoryStore across queries).
  */
object Caches {

  private val tracked = mutable.Set.empty[DataFrame]
  private val releases = mutable.Buffer.empty[() => Unit]

  private[graft] def track(df: DataFrame): DataFrame = synchronized {
    tracked += df
    df
  }

  /** Register a cleanup for cached state not expressible as a DataFrame
    * unpersist (checkpoint RDD blocks, pinned broadcasts). Run-once: clear
    * drops it after invoking.
    */
  private[graft] def trackRelease(f: () => Unit): Unit = synchronized {
    releases += f
  }

  /** Eager `localCheckpoint` whose blocks the next [[clear]] frees: the
    * checkpointed RDD lives *inside* the returned Dataset's plan, where
    * `unpersist` on the handle can't reach it — released through
    * [[graft.operators.Checkpoints.truncating]], which finds it as the
    * plan's LogicalRDD leaf. Operators that hand a locally-checkpointed
    * frame to callers must use this, or the blocks squat in the
    * MemoryStore for the session's life (Bench's leakedRdds audit counts
    * exactly these).
    */
  private[graft] def localCheckpointTracked(df: DataFrame): DataFrame = {
    val (out, release) = graft.operators.Checkpoints.truncating(reliable = false)(df)
    out.queryExecution.toRdd.count()
    trackRelease(release)
    out
  }

  /** Unpersist every operator-internal cache created so far. `blocking`
    * waits for block removal — benchmarks want it so cleanup can't bleed
    * into the next measured region.
    */
  def clear(spark: SparkSession, blocking: Boolean = false): Unit = synchronized {
    tracked.foreach(df => try df.unpersist(blocking) catch { case _: Throwable => () })
    tracked.clear()
    releases.foreach(f => try f() catch { case _: Throwable => () })
    releases.clear()
  }
}

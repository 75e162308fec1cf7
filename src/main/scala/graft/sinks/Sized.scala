package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge

/** Write-side file sizing: the OTHER answer to the small-files problem.
  * [[Compact]] repairs a table after many tiny writes; this prevents them
  * — one AQE-rebalanced shuffle ahead of the write lets the runtime pick
  * the output partition count from the measured data size, so a job that
  * computed 2000 shuffle partitions of a few MB each lands as a handful
  * of right-sized files instead of 2000 shards, and a skewed partition is
  * SPLIT (rebalance, unlike coalesce, breaks up oversized partitions).
  *
  * At 100 TB this is the difference between a fact-table write producing
  * file counts proportional to the CLUSTER (tasks) and proportional to
  * the DATA (bytes): downstream scans, footers, and listing all scale
  * with the latter.
  *
  * The advisory size governs SHUFFLE bytes, not encoded output bytes —
  * columnar compression typically shrinks the written file below the
  * advisory target by the codec ratio; size the target accordingly
  * (e.g. advisory 256 MB → ~64-128 MB parquet).
  */
object Sized {

  /** Write `df` with AQE choosing the file count from `targetShuffleBytes`
    * per output partition. The write runs on a [[graft.GraftSession.pinned]]
    * clone carrying the advisory and minimum partition sizes (plan-time
    * settings, results never depend on them); the caller's session is
    * never written. The minimum has no per-node twin: AQE's coalesce
    * target is max(min(total / parallelism, advisory), minPartitionSize),
    * so both stay session confs.
    */
  def rebalancedWrite(df: DataFrame, path: String, targetShuffleBytes: Long,
      format: String = "parquet",
      options: Map[String, String] = Map.empty): Unit = {
    require(targetShuffleBytes > 0, "rebalancedWrite: target must be positive")
    val sized = graft.GraftSession.pinned(df.sparkSession, Map(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> targetShuffleBytes.toString,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
        math.max(targetShuffleBytes / 4, 1L).toString))
    Bridge.ofRows(sized, df.queryExecution.analyzed).hint("rebalance")
      .write.mode("overwrite").format(format).options(options).save(path)
  }
}

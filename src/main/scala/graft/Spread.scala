package graft

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive fan-out for compute-heavy derived frames (optimization
  * guide §2.5 "input skew: one huge unsplittable file — repartition
  * immediately after the read", §1.2 step 1).
  *
  * The synthetic corpora arrive as ONE parquet file per table, so every
  * frame derived from them inherits 1-3 scan partitions — and the
  * expensive per-row derivations downstream (the 12-way salted-md5
  * minhash widening, shingling, per-vector centroid/codebook cosine
  * assignment) run at 1-3-way parallelism regardless of cluster width.
  * `spread` rebalances such a frame to the cluster's default parallelism
  * BEFORE the heavy derivation — but only when the frame is narrower than
  * the cluster (a production multi-split table passes through untouched,
  * so this is never a gratuitous reshuffle of wide data; the bytes moved
  * are exactly the narrow pre-derivation rows, the cheap side of the §2.3
  * "shuffle keys and metadata instead of payloads" trade).
  *
  * Round-robin repartition is deterministic under retries (Spark sorts
  * rows before round-robin assignment, SPARK-23207) and every consumer of
  * a spread frame is partition-layout-independent — the two-host cluster
  * drill pins row equality for the drill families under a completely
  * different split layout.
  *
  * The split count is ESTIMATED from the leaf relations' file stats
  * (bytes / filesMaxPartitionBytes) rather than probed with
  * `df.rdd.getNumPartitions`: the RDD probe runs analysis + physical
  * planning eagerly at query-construction time (AQE is on), and with ~30
  * call sites through the dedup tokenizer every builder paid that cost.
  * Leaves, not the projected plan: Project stats rescale by estimated row
  * width and would overstate a narrow scan several-fold.
  */
object Spread {
  def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batch parallelism is the source's
    val target = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    val maxSplit = BigInt(org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes)
    val estSplits = (bytes + maxSplit - 1) / maxSplit
    if (estSplits < target) df.repartition(target) else df
  }

  /** Cluster `df` by `keys` at the cluster's default parallelism, for a
    * `partitionBy(keys)` write. Clustering gives each key's rows to one
    * task, so a write leaves one file per partition directory instead of
    * one per input task (the small-files problem). The explicit width is
    * load-bearing: a bare `repartition(keys)` of a small frame is a
    * byte-small shuffle that AQE coalesces to ONE partition, and one task
    * then writes every directory in series. A shuffle with an explicit
    * partition count is never coalesced. */
  def clustered(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys: _*)
}

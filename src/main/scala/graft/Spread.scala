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
  * assignment, the export's envelope build, decrypt and validate) run at
  * 1-3-way parallelism regardless of cluster width. A spread places ONE
  * exchange BEFORE the heavy derivation, so the bytes moved are the
  * narrow pre-derivation rows (the cheap side of the §2.3 "shuffle keys
  * and metadata instead of payloads" trade). Its key is the one the
  * frame's consumer needs:
  *
  *  - `spread`: no key — for consumers that aggregate or otherwise ignore
  *    the layout. Only when the frame is narrower than the cluster: a
  *    production multi-split table passes through untouched. Round-robin
  *    repartition is deterministic under retries (Spark sorts rows before
  *    round-robin assignment, SPARK-23207), and its consumers are
  *    partition-layout-independent — the two-host cluster drill pins row
  *    equality for the drill families under a different split layout.
  *  - `ordered`: a range exchange for a consumer that sorts on the same
  *    keys. Its final `orderBy` then plans a local sort only: without it,
  *    the sort's range exchange sits ABOVE the per-row work, and Spark's
  *    range partitioner samples its child in a separate job, so every
  *    row's derivation runs twice.
  *  - `clustered`: a hash exchange for a consumer clustered on the same
  *    keys (a window, a `partitionBy` write).
  *
  * The keyed forms apply at any scan width: the consumer would plan the
  * same exchange anyway, so on a wide source the spread REPLACES that
  * exchange rather than adding one.
  *
  * The round-robin split count is ESTIMATED from the leaf relations' file
  * stats (bytes / filesMaxPartitionBytes) rather than probed with
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
    * `partitionBy(keys)` write or a window partitioned by `keys`.
    * Clustering gives each key's rows to one task, so a write leaves one
    * file per partition directory instead of one per input task (the
    * small-files problem). The explicit width is
    * load-bearing: a bare `repartition(keys)` of a small frame is a
    * byte-small shuffle that AQE coalesces to ONE partition, and one task
    * then writes every directory in series. A shuffle with an explicit
    * partition count is never coalesced. */
  def clustered(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys: _*)

  /** Range-partition `df` on `keys` (ascending) at the cluster's default
    * parallelism, for a consumer that sorts on the same keys: its sort is
    * then local. The range partitioner's sample job runs over `df` itself,
    * so `df` should be the cheap pre-derivation frame. */
  def ordered(df: DataFrame, keys: Column*): DataFrame =
    df.repartitionByRange(df.sparkSession.sparkContext.defaultParallelism, keys: _*)
}

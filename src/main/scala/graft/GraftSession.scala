package graft

import org.apache.spark.sql.SparkSession

/** Session factory with confs tuned for the target: many-executor clusters
  * reading ~100 TB of parquet. Locally we run `local[N]`; every setting below
  * is one that carries to cluster mode unchanged (AQE, shuffle sizing,
  * broadcast threshold), not a local-only hack.
  */
object GraftSession {

  /** `spark.sql.sources.parallelPartitionDiscovery.threshold`: a read
    * whose root holds more partition directories than this lists them
    * with a Spark job instead of on the driver. Spark's default, 32, is
    * below the 64 `cell=` directories of an IVF store, so every store
    * read-back submitted a 64-task "Listing leaf files and directories"
    * job (0.3-0.4 s each at local[4], four per `stream_compact` pass)
    * to list what the driver lists in milliseconds. 1024 is above every
    * partition count graft's stores write (64 cells, 30 days, 8 buckets,
    * a few generations); a parallel listing pays only at thousands of
    * object-store prefixes. */
  val PartitionDiscoveryThreshold = 1024

  /** Sensible defaults for both local[N] dev and cluster submission. */
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions) // SQL functions + GroupedTopK strategy
      // Shuffle width: locally = cores; on a cluster this is overridden by
      // submit conf, and AQE coalesces down from it at runtime anyway.
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // AQE: runtime re-planning (skew-join splitting, partition coalescing,
      // broadcast conversion) — essential at 100 TB where static stats lie.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        PartitionDiscoveryThreshold.toString)
      // the corpus's `events.ts` arrives as ns-precision longs (legacy
      // layouts) or timestamp[us] (driver corpora since r7) — both confs
      // here so Tables.normalizeTs sees one stable read shape and the
      // bench's conf-drift sentinel has them in its baseline
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  /** Streaming-state confs for production state sizes: the default
    * HDFS-backed state store holds every key in executor heap — fine for
    * demos, an OOM at 100 TB-scale session/dedup state. RocksDB spills to
    * local disk with incremental checkpointing to the checkpoint location.
    * Opt-in (separate from [[builder]]) because it only matters for
    * stateful streaming jobs.
    */
  def withRocksDbState(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

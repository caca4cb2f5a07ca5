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

  /** `spark.sql.maxPlanStringLength`: the cap on every plan rendered as a
    * string. AQE renders the whole plan at each stage update for its
    * listener event, and each `persist` names its cache by the plan's
    * tree string. On the fused curation plans (`dedup_pipeline_mp_budget`
    * over `tools/adv_gate.sh`'s 5,000-doc corpus) those strings grew
    * `byte[]` to over 1 GB and exhausted a 4 GB driver heap; under this
    * cap the row completes in 4 GB. Spark's default is unbounded. */
  val MaxPlanStringLength = 65536

  private val ShufflePartitionsKey = "spark.sql.shuffle.partitions"

  /** Sensible defaults for both local[N] dev and cluster submission. */
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions) // SQL functions + GroupedTopK strategy
      // Shuffle width: locally = cores; on a cluster this is overridden by
      // submit conf, and AQE coalesces down from it at runtime anyway.
      .config(ShufflePartitionsKey, shufflePartitions.toString)
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
      .config("spark.sql.maxPlanStringLength", MaxPlanStringLength.toString)
      // the corpus's `events.ts` arrives as ns-precision longs (legacy
      // layouts) or timestamp[us] (driver corpora since r7) — both confs
      // here so Tables.normalizeTs sees one stable read shape
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  /** A child session of `spark` at shuffle width `parts`, with `confs`
    * set on it — the one way a query runs under confs of its own (a loop
    * or a streaming replay whose frames are orders below the corpus). The
    * parent's conf is never written, so nothing has to be restored and a
    * concurrent query on the parent never sees the child's settings. The
    * child shares the parent's SparkContext and CacheManager, and copies
    * its temp views, functions and listeners. Frames built on the child
    * plan under the child's conf; frames built on the parent keep the
    * parent's. */
  def scoped(spark: SparkSession, parts: Int, confs: (String, String)*): SparkSession = {
    val child = org.apache.spark.sql.graftbridge.DatasetBridge.cloneSession(spark)
    ((ShufflePartitionsKey -> parts.toString) +: confs).foreach { case (k, v) => child.conf.set(k, v) }
    child
  }

  /** `df`'s analyzed plan as a frame of `session`: the same rows, planned
    * under `session`'s conf (cached fragments still resolve, because a
    * parent and its [[scoped]] child share one CacheManager). */
  def rebase(session: SparkSession, df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graftbridge.DatasetBridge.ofRows(session, df.queryExecution.analyzed)

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Date-partitioned physical layout with partition PRUNING measured at the
  * file-listing level (SURVEY §2 №115) — the commonest 100 TB layout lever:
  * an event corpus written `partitionBy(date)` turns every date-sliced
  * query into a directory-listing problem; the scan must LIST (and read)
  * only the matching `date=...` directories, not filter post-hoc what it
  * already opened. Completes the layout triad: bucketing (№60) fixes the
  * JOIN partitioning, z-order (№93) tightens row-group envelopes INSIDE
  * files, partitionBy prunes whole directories BEFORE any footer is read.
  *
  * The driver row reports the date-sliced aggregate (answers must be
  * layout-independent — the oracle computes them from the UNPARTITIONED
  * raw parquet) together with the pruning evidence read from the executed
  * scan's own metrics: `n_partitions_read` (the scan's partition-listing
  * count) and `n_partitions_total` (a direct `date=` directory listing of
  * the layout). Pruning failing anywhere makes n_partitions_read exceed
  * the slice's day count and the driver hash diverges.
  *
  * Scale shape: the layout write is one hash shuffle on the partition
  * column (day-sized output files — pair with compact_plan (№99) when
  * days are large); the sliced read lists 2 of 30 directories and shuffles
  * only the slice. At 100 TB × 365 days the same query touches 0.5% of
  * the file listing — the win is at the METADATA layer, before a single
  * byte of data IO.
  */
object PartitionedLayout {

  /** The measured slice: 2 of the corpus's 30 days (events span
    * 2024-01-01..01-30 at every SF — TESTDATA.md). */
  val SliceDates: Seq[String] = Seq("2024-01-03", "2024-01-04")

  /** Idempotent date-partitioned materialization of events under the JVM
    * tmpdir, keyed by corpus dir (bench iterations and the sf0.001 warmup
    * get distinct layouts). Re-written when absent or incomplete
    * (_SUCCESS missing); one partition directory per UTC day, one file
    * per day (repartition on the partition column before the write —
    * without it every task writes a sliver of every day: the small-files
    * anti-pattern partitioned writes are famous for). */
  private[graft] def layoutDir(spark: SparkSession, dir: String): java.nio.file.Path = {
    val path = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_partitioned",
      java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL))
    this.synchronized {
      if (!java.nio.file.Files.exists(path.resolve("_SUCCESS"))) {
        val ev = Tables(spark, dir).events
          .withColumn("date", to_date(col("ts_utc")))
          // the physical ts column types differ per corpus layout; write the
          // NORMALIZED contract columns so the partitioned layout is
          // layout-blind like every other consumer
          .select(col("event_id"), col("ts").as("ts_ns"), col("user_id"),
            col("event_type"), col("value"), col("date"))
        graft.Spread.clustered(ev, col("date"))
          .write.mode("overwrite").partitionBy("date").parquet(path.toString)
      }
    }
    path
  }

  /** The executed plan's file scans, for metric extraction. AQE wraps
    * materialized stages in QueryStageExec LEAVES — a plain collect stops
    * at the stage boundary and reads un-executed plan copies, so recurse
    * through both the adaptive plan and every stage. */
  private[graft] def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec    => Seq(s)
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec        => fileScans(q.plan)
    case other                    => other.children.flatMap(fileScans)
  }

  private def fileScans(df: DataFrame): Seq[FileSourceScanExec] =
    fileScans(df.queryExecution.executedPlan)

  /** Per-day aggregate over the PARTITIONED layout restricted to
    * [[SliceDates]], plus the scan's own pruning metrics. The `date`
    * filter is a partition filter (DateType partition column), so it
    * prunes at directory-listing time — `n_partitions_read` is the scan's
    * "number of partitions read" metric AFTER execution, and
    * `n_partitions_total` counts the `date=` directories on disk. */
  def partitionPrune(spark: SparkSession, dir: String): DataFrame = {
    val root = layoutDir(spark, dir)
    val part = spark.read.parquet(root.toString)
    val slice = part.filter(col("date").isin(SliceDates: _*))
      .groupBy(col("date").cast("string").as("date"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_clicks"))
    val rows = slice.collect() // executes the pruned scan; metrics now live
    val scans = fileScans(slice)
    require(scans.nonEmpty, s"no file scan in partitioned plan:\n${slice.queryExecution.executedPlan}")
    val partitionsRead = scans.map(_.metrics("numPartitions").value).sum
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    val totalDirs = {
      val ls = root.toFile.listFiles()
      if (ls == null) 0L else ls.count(f => f.isDirectory && f.getName.startsWith("date=")).toLong
    }
    import spark.implicits._
    rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toDF("date", "n_events", "n_users", "n_clicks")
      .withColumn("n_partitions_read", lit(partitionsRead))
      .withColumn("n_files_read", lit(filesRead))
      .withColumn("n_partitions_total", lit(totalDirs))
      .withColumn("pruned", lit(partitionsRead < totalDirs))
      .orderBy(col("date"))
  }

  /** Oracle from the UNPARTITIONED raw parquet: the per-day aggregates
    * must be layout-independent; partitions_read = the slice's day count
    * (pruning reads ONLY matching directories), partitions_total = the
    * corpus's day count, one directory per day. */
  val partitionPruneSql: String = {
    val in = SliceDates.map(d => s"'$d'").mkString(", ")
    s"""WITH ev AS (
       |  SELECT strftime(ts, '%Y-%m-%d') AS date, user_id, event_type FROM events),
       |agg AS (
       |  SELECT date, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
       |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks
       |  FROM ev WHERE date IN ($in) GROUP BY date),
       |days AS (
       |  SELECT count(DISTINCT date) AS total FROM ev),
       |sliced AS (
       |  SELECT count(DISTINCT date) AS n_read FROM ev WHERE date IN ($in))
       |SELECT date, n_events, n_users, n_clicks,
       |  CAST(n_read AS BIGINT) AS n_partitions_read,
       |  CAST(n_read AS BIGINT) AS n_files_read,
       |  CAST(total AS BIGINT) AS n_partitions_total,
       |  n_read < total AS pruned
       |FROM agg CROSS JOIN days CROSS JOIN sliced
       |ORDER BY date""".stripMargin
  }
}

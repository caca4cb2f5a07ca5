package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TTL retention sweep over the date-partitioned layout (SURVEY §2 №129) —
  * the EXPIRY step that closes the layout lifecycle (№116 land → №115
  * prune → №117 compact → №118 evolve → expire): data older than the
  * retention cutoff leaves the corpus the way a 100 TB table actually
  * does it —
  *
  *   - whole EXPIRED partitions drop at the METADATA layer (directory
  *     delete — zero data IO however many terabytes they hold),
  *   - exactly ONE boundary partition (the day the cutoff bisects) is
  *     rewritten with the row-level filter,
  *   - every younger partition is untouched — not rewritten, not even
  *     read; the driver row carries `untouched_intact`, computed from
  *     the kept partitions' file listings + mtimes before vs after the
  *     sweep, so a sweep that silently rewrote (or dropped) a live
  *     partition fails the hash, not just a spec.
  *
  * A naive `DELETE WHERE ts < cutoff` rewrites the whole table; the
  * partition-aligned sweep does O(boundary day) data work. Answers are
  * layout-independent: the oracle computes the per-day survivors from the
  * raw unpartitioned events with the same cutoff.
  *
  * The sweep MUTATES its layout, so unlike №115's cached layout it
  * materializes a fresh one per call (the №117 compact_exec
  * materialize-then-operate precedent) and the result is collected before
  * the scratch is removed. */
object RetentionSweep {

  /** Cutoff 2024-01-10T12:00:00Z — mid-day, so the boundary day has both
    * expired and surviving rows and the rewrite does real work. */
  val CutoffMs: Long = 1704888000000L
  val BoundaryDate = "2024-01-10"

  def retentionSweep(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_retention_")

    try {
      // materialize the №115 layout shape: one dir per day, one file per
      // day, normalized contract columns (layout-blind ts_ms)
      val days = Tables(spark, dir).events
        .withColumn("date", to_date(col("ts_utc")))
        .select(col("event_id"), col("ts_ms"), col("user_id"), col("event_type"), col("date"))
      graft.Spread.clustered(days, col("date"))
        .write.mode("overwrite").partitionBy("date").parquet(root.toString)

      def dateDirs(): Seq[java.io.File] = {
        val ls = root.toFile.listFiles()
        if (ls == null) Seq.empty
        else ls.filter(f => f.isDirectory && f.getName.startsWith("date=")).toSeq.sortBy(_.getName)
      }
      def dateOf(f: java.io.File): String = f.getName.stripPrefix("date=")

      val before = dateDirs()
      val expired = before.filter(f => dateOf(f) < BoundaryDate)
      val boundary = before.filter(f => dateOf(f) == BoundaryDate)
      val untouched = before.filter(f => dateOf(f) > BoundaryDate)
      // evidence frame BEFORE the sweep: kept partitions' files + mtimes
      def listing(dirs: Seq[java.io.File]): Map[String, Long] =
        dirs.flatMap(d => Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getAbsolutePath -> f.lastModified())).toMap
      val keptBefore = listing(untouched)

      // 1. metadata-only drop of whole expired partitions
      expired.foreach(f => graft.Fs.rmTree(f.toPath))
      // 2. row-level rewrite of the ONE boundary partition
      boundary.foreach { bDir =>
        val tmp = root.resolve("_rewrite_tmp")
        spark.read.parquet(bDir.getAbsolutePath)
          .filter(col("ts_ms") >= CutoffMs)
          .coalesce(1)
          .write.parquet(tmp.toString)
        graft.Fs.rmTree(bDir.toPath)
        java.nio.file.Files.createDirectories(bDir.toPath)
        graft.Fs.parquetFiles(tmp).zipWithIndex.foreach { case (p, j) =>
          java.nio.file.Files.move(p, bDir.toPath.resolve(f"part_$j%03d.parquet"))
        }
        graft.Fs.rmTree(tmp)
      }
      val untouchedIntact = listing(dateDirs().filter(f => dateOf(f) > BoundaryDate)) == keptBefore

      // read back through partition discovery and collect the survivors
      val rows = spark.read.parquet(root.toString)
        .groupBy(col("date").cast("string").as("date"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_clicks"))
        .orderBy(col("date"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

      import spark.implicits._
      rows.toSeq.toDF("date", "n_events", "n_clicks")
        .withColumn("n_dropped", lit(expired.size.toLong))
        .withColumn("n_rewritten", lit(boundary.size.toLong))
        .withColumn("n_untouched", lit(untouched.size.toLong))
        .withColumn("untouched_intact", lit(untouchedIntact))
        .orderBy(col("date"))
    } finally graft.Fs.rmTree(root)
  }

  /** Oracle from the raw unpartitioned events: survivors per day with the
    * same cutoff; partition counters from the day classification; a
    * correct sweep never touches younger partitions (intact = TRUE). */
  val retentionSweepSql: String =
    s"""WITH rs_ev AS (
       |  SELECT strftime(ts, '%Y-%m-%d') AS date, epoch_ms(ts) AS ms, event_type FROM events),
       |rs_kept AS (SELECT * FROM rs_ev WHERE ms >= $CutoffMs),
       |rs_agg AS (
       |  SELECT date, count(*) AS n_events,
       |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks
       |  FROM rs_kept GROUP BY date),
       |rs_days AS (
       |  SELECT
       |    CAST(count(DISTINCT CASE WHEN date < '$BoundaryDate' THEN date END) AS BIGINT) AS n_dropped,
       |    CAST(count(DISTINCT CASE WHEN date = '$BoundaryDate' THEN date END) AS BIGINT) AS n_rewritten,
       |    CAST(count(DISTINCT CASE WHEN date > '$BoundaryDate' THEN date END) AS BIGINT) AS n_untouched
       |  FROM rs_ev)
       |SELECT date, n_events, n_clicks, n_dropped, n_rewritten, n_untouched,
       |  TRUE AS untouched_intact
       |FROM rs_agg CROSS JOIN rs_days
       |ORDER BY date""".stripMargin
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LATE-DATA accounting under watermarks (SURVEY §2 №153) — the semantics
  * every production streaming job lives with and none of the other rows
  * isolates: when the landing is NOT time-ordered, the watermark advances
  * past data that is still in flight, closed windows evict, and the late
  * rows are DROPPED — silently changing the emitted counts. This row
  * makes that behavior a VERIFIED closed form instead of folklore: three
  * event-id bands land in pinned order (each spans the whole time range,
  * so band 0's maximum timestamp drives the watermark far past the later
  * bands' older rows), a watermarked 1-day tumbling count runs in append
  * mode, and the DuckDB oracle reproduces the exact emitted table from
  * the MEASURED watermark recurrence: the filter applied to data batch k
  * uses the watermark derived from data through batch k−2 — the
  * one-trigger publication delay of microbatch watermarks (the value is
  * computed from a batch's stats at its end and takes filtering effect
  * one further trigger later), which is itself a production gotcha worth
  * pinning. Concretely: band 0 and band 1 pass unfiltered, a band-2 row
  * survives iff its window end > max(ts of band 0) − delay, and a window
  * emits iff its end ≤ global max − delay (AvailableNow's trailing
  * no-data batches run until the watermark quiesces;
  * maxFilesPerTrigger=1 pins the batch sequence — the №109 determinism
  * contract). Both gate SFs verify the recurrence row-for-row.
  *
  * The engine's own drop accounting (numRowsDroppedByWatermark) is
  * captured per replay and spec-pinned against the closed form's dropped
  * count — the metric a production job alerts on, verified exactly. */
object StreamLate {

  val WindowMs: Long = 86400000L
  val DelayMs: Long = 1800000L // 30 min

  /** Data micro-batches of the last replay (spec pins ≥ 3). */
  private[graft] var lastBatches: Int = -1
  /** Engine-reported watermark-dropped rows of the last replay. */
  private[graft] var lastDropped: Long = -1L

  def streamLate(spark: SparkSession, dir: String): DataFrame = {
    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_late_")
    val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val events = graft.Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_ms"))

    val name = s"stream_late_${System.nanoTime()}"
    val emitted: Array[(Long, Long)] = ReplayHarness.replay(spark, 8,
      andThen = () => graft.Fs.rmTree(scratch)) { (spark, register) =>
      // one FILE per band: the batch sequence IS the band sequence
      ReplayHarness.landBands(scratch, inDir, (0 until 3).map { i =>
        events.filter(col("event_id") % 3 === i).coalesce(1) })
      val stream = spark.readStream
        .schema("event_id LONG, user_id LONG, event_type STRING, ts_ms LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
      val counts = stream
        .withColumn("ts_utc", timestamp_millis(col("ts_ms")))
        .withWatermark("ts_utc", s"${DelayMs / 1000} seconds")
        .groupBy(window(col("ts_utc"), s"${WindowMs / 1000} seconds"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_millis(col("window.start")).as("window_start_ms"), col("n_events"))
      val q = counts.writeStream
        .format("memory").queryName(name)
        .outputMode("append") // windows emit once, when the watermark closes them
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .start()
      register(q)
      q.awaitTermination()
      lastBatches = q.recentProgress.count(_.numInputRows > 0)
      lastDropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      import spark.implicits._
      spark.table(name).as[(Long, Long)].collect()
    }
    import spark.implicits._
    emitted.toSeq.toDF("window_start_ms", "n_events").orderBy(col("window_start_ms"))
  }

  /** The closed-form MEASURED watermark recurrence (see scaladoc): batch
    * k filters with the watermark from data through batch k−2. */
  val streamLateSql: String =
    s"""WITH sl_e AS (SELECT event_id % 3 AS band, epoch_ms(ts) AS ms FROM events),
       |sl_m0 AS (SELECT max(ms) - $DelayMs AS wm FROM sl_e WHERE band = 0),
       |sl_mf AS (SELECT max(ms) - $DelayMs AS wm FROM sl_e),
       |sl_k AS (
       |  SELECT (ms // $WindowMs) * $WindowMs AS ws FROM sl_e, sl_m0
       |  WHERE band IN (0, 1)
       |     OR (band = 2 AND (ms // $WindowMs) * $WindowMs + $WindowMs > sl_m0.wm))
       |SELECT ws AS window_start_ms, count(*) AS n_events
       |FROM sl_k, sl_mf
       |WHERE ws + $WindowMs <= sl_mf.wm
       |GROUP BY ws ORDER BY ws""".stripMargin
}

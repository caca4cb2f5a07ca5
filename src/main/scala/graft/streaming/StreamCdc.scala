package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming CDC table maintenance (SURVEY §2 №152) — №112 cdc_merge as a
  * STREAMING aggregation: the change feed lands as files (the №36d shape)
  * and per-user current state accumulates in the state store instead of
  * re-running the base ⋈ delta merge per day. One row of state per live
  * user — conditional slice counts + lexicographic-max (ts, event_id,
  * type) structs — every term ORDER-ROBUST (counts and maxes are
  * arrival-order-independent), which is the property that makes CDC over
  * an unordered landing correct: the bands land by event_id, NOT in time
  * order, and the final table still equals the batch merge.
  *
  * The post-stream projection derives №112's exact output: op =
  * keep/insert/update from which slices are populated, the delta's final
  * `error` tombstones the row, columns coalesce delta-over-base — so the
  * oracle is №112's VERBATIM (stream ≡ batch, the access-path
  * discipline). Spec pins ≥3 data micro-batches and row-for-row equality
  * with the batch operator. */
object StreamCdc {

  /** Data micro-batches of the last replay (spec pins ≥ 3). */
  private[graft] var lastBatches: Int = -1

  def streamCdc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.queries.ExportQueries.{T1, T2}
    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_cdc_")
    val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val events = graft.Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_ms"))

    val name = s"stream_cdc_${System.nanoTime()}"
    val rows: Array[org.apache.spark.sql.Row] = ReplayHarness.replay(spark, 8,
      andThen = () => graft.Fs.rmTree(scratch)) { (spark, register) =>
      // land three EVENT-ID bands — deliberately NOT time order: the
      // state terms must absorb out-of-order arrival
      ReplayHarness.landBands(scratch, inDir, (0 until 3).map { i =>
        events.filter(col("event_id") % 3 === i).coalesce(1) })
      val stream = spark.readStream
        .schema("event_id LONG, user_id LONG, event_type STRING, ts_ms LONG")
        .option("maxFilesPerTrigger", "1") // state genuinely crosses micro-batches
        .parquet(inDir.toString)
      val state = stream
        .filter(col("ts_ms") < T2) // the merge reads up to the day boundary
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("ts_ms") < T1, 1L).otherwise(0L)).as("b_n"),
          sum(when(col("ts_ms") >= T1, 1L).otherwise(0L)).as("d_n"),
          max(when(col("ts_ms") < T1,
            struct(col("ts_ms"), col("event_id"), col("event_type")))).as("b_last"),
          max(when(col("ts_ms") >= T1,
            struct(col("ts_ms"), col("event_id"), col("event_type")))).as("d_last"))
      val q = state.writeStream
        .format("memory").queryName(name)
        .outputMode("complete") // running per-user state: the state IS the table
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .start()
      register(q)
      q.awaitTermination()
      lastBatches = q.recentProgress.count(_.numInputRows > 0)
      spark.table(name).collect()
    }

    // №112's merge classification over the streamed state (bounded:
    // one row per live user — the same frame the batch full-outer emits)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b_n", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("d_n", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b_last", org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts_ms", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType)))),
      org.apache.spark.sql.types.StructField("d_last", org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts_ms", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType))))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq), schema)
      .filter(col("d_last").isNull || col("d_last.event_type") =!= "error")
      .select(col("user_id"),
        when(col("d_n") === 0, lit("keep"))
          .when(col("b_n") === 0, lit("insert"))
          .otherwise(lit("update")).as("op"),
        (col("b_n") + col("d_n")).as("n_events"),
        coalesce(col("d_last.ts_ms"), col("b_last.ts_ms")).as("last_ms"),
        coalesce(col("d_last.event_type"), col("b_last.event_type")).as("last_type"))
      .orderBy(col("user_id"))
  }

  /** The stream is an access path: same oracle as batch №112. */
  val streamCdcSql: String = graft.queries.Analytics.cdcMergeSql
}

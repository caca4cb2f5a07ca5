package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming per-window top-k (SURVEY §2 №109): the "trending now" query —
  * per 1-day event-time window, the K most active users, emitted ONCE per
  * window when the watermark closes it.
  *
  * This is the CHAINED stateful-aggregation shape (Spark ≥3.4 multiple
  * stateful operators in append mode): stateful agg #1 holds the open
  * windows' per-user counts, stateful agg #2 folds each closed window's
  * counts through the №51 bounded-heap aggregate ([[graft.functions
  * .TopKByScore]] — the same native TypedImperativeAggregate the batch
  * grouped_topk runs, state = one K-slot heap per window, never a
  * buffered row set). The event-time column chains through
  * `window_time()` as the engine requires; both stages key their state by
  * (window ⋈ hash) partitions and evict on the same watermark.
  *
  * Scale contract: state is bounded by (active users × open windows) in
  * stage 1 and (K × open windows) in stage 2 — never stream history; a
  * 100 TB/day firehose holds one day of per-user counts and a constant
  * K heap per window. The emission is append-mode (each window exactly
  * once, when closed) — the shape a downstream consumer (dashboard,
  * alerting) actually wants, vs. the complete-mode re-emission
  * stream_export demonstrates for windowed counts.
  *
  * Determinism for the oracle: with AvailableNow the final no-data
  * micro-batch advances the watermark to max(event time) − delay, so the
  * emitted window set is exactly {windows whose end ≤ that watermark} —
  * the corpus's last day stays open and is NOT emitted; the oracle
  * computes the same cutoff. Ranking ties break (count DESC, user ASC),
  * identical in the heap comparator and the oracle's row_number order.
  */
object StreamTopk {

  val K = 5
  val WindowMs: Long = 86400000L
  val DelayMs: Long = 1800000L // 30 min — hours clear of any window edge

  def streamTopk(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_topk_${System.nanoTime()}"
    // width 8, not the session's 32: 2 chained stateful operators × width
    // state-store instances per micro-batch, for keyspaces (open windows,
    // K-heaps) of dozens of rows. Production sizes this to cluster
    // parallelism as usual.
    val (rows, schema) = ReplayHarness.replay(spark, 8) { (spark, register) =>
      // production ingestion shape: file stream, no driver-side collect
      // (layout-aware schema + ts normalization shared with the batch path)
      val counts = graft.Tables.streamEvents(spark, dir)
        .withColumn("ts_utc", timestamp_millis(col("ts_ms")))
        .withWatermark("ts_utc", s"${DelayMs / 1000} seconds")
        .groupBy(window(col("ts_utc"), s"${WindowMs / 1000} seconds"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      val ranked = counts
        // chain the event-time: window_time(window) re-windows to the SAME
        // 1-day bucket, carrying the watermark into stateful agg #2
        .groupBy(window(window_time(col("window")), s"${WindowMs / 1000} seconds").as("w2"))
        .agg(graft.functions.TopKByScore.topK(col("n").cast("double"), col("user_id"), K).as("top"))
        .select(unix_millis(col("w2.start")).as("window_start_ms"), posexplode(col("top")))
        .select(col("window_start_ms"), (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as("user_id"), col("col.score").cast("long").as("n_events"))
      val q = ranked.writeStream
        .format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      register(q)
      q.awaitTermination()
      val out = spark.table(name)
      (out.collect(), out.schema)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .orderBy(col("window_start_ms"), col("rank"))
  }

  /** Batch oracle: same windows, same watermark cutoff, same tiebreak. */
  val streamTopkSql: String =
    s"""WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
       |wm AS (SELECT max(ms) - $DelayMs AS w FROM e),
       |c AS (
       |  SELECT (ms // $WindowMs) * $WindowMs AS ws, user_id, count(*) AS n
       |  FROM e GROUP BY 1, 2),
       |closed AS (SELECT c.* FROM c, wm WHERE c.ws + $WindowMs <= wm.w),
       |r AS (
       |  SELECT ws, user_id, n,
       |    CAST(row_number() OVER (PARTITION BY ws ORDER BY n DESC, user_id) AS INT) AS rank
       |  FROM closed)
       |SELECT ws AS window_start_ms, rank, user_id, n AS n_events
       |FROM r WHERE rank <= $K ORDER BY window_start_ms, rank""".stripMargin
}

package graft.streaming

import graft.kv.KvModel
import graft.operators.ExportOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured-Streaming form of the export pipeline (SURVEY §2 №36).
  *
  * The batch operators are pure column expressions, so the SAME pipeline
  * runs unchanged on a streaming DataFrame — this is the point of building
  * Spark-first. Here: file-source events → kv/envelope construction →
  * extract → decrypt → validate → per-topic 10-minute tumbling-window
  * counts with a watermark, collected via availableNow into a memory sink.
  *
  * (The unbounded-state form — flatMapGroupsWithState sessionization — is
  * exercised in the ScalaTest spec with a MemoryStream.)
  */
object StreamExport {

  val WindowMs: Long = 600000L

  /** The streaming query: windowed per-topic record counts after full
    * envelope-extract validation. */
  def streamExport(spark: SparkSession, dir: String): DataFrame = {
    // layout-aware stream source (Tables.streamEvents — schema from the
    // parquet footer, SAME ts normalization as the batch loader).
    // Topic/validity derivations come from KvModel.kvFromEvents — ONE
    // definition shared by batch and streaming (column pruning drops the
    // unused kv columns from this plan).
    val raw = graft.Tables.streamEvents(spark, dir)
    val stream = KvModel.kvFromEvents(raw)
      .filter(col("valid"))
      .withColumn("ts_utc", timestamp_millis(col("ms")))
      .withWatermark("ts_utc", "30 minutes")
      .groupBy(col("topic"), window(col("ts_utc"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("topic"), unix_millis(col("window.start")).as("window_start_ms"), col("n"))

    val name = s"stream_export_${System.nanoTime()}"
    val q = stream.writeStream
      .format("memory").queryName(name)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    awaitThenRelease(spark, q)
    spark.table(name).orderBy(col("topic"), col("window_start_ms"))
  }

  /** Continuous export: the FULL record+manifest pipeline on a stream,
    * flushed per micro-batch through the JSONL snapshot sink via
    * foreachBatch — the streaming twin of the batch `jsonl_snapshot`
    * operator (every stage is a projection, so the exact batch code runs
    * per epoch; epochs land under `<root>/epoch=<id>/`).
    */
  def continuousExport(spark: SparkSession, dir: String, root: String): Long = {
    val raw = graft.Tables.streamEvents(spark, dir)
    val kv = graft.kv.KvModel.withEnvelope(graft.kv.KvModel.kvFromEvents(raw))
    val written = new java.util.concurrent.atomic.AtomicLong(0)
    val q = kv.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        // the chunk window's hash below the per-row pipeline, as in the
        // batch sink (the spread is a no-op on the streaming frame above)
        val records = graft.queries.ExportQueries.recordsFromKv(ExportOps.chunkSpread(batch))
        // summary is per-object (object_key, n_records, jsonl_bytes)
        val summary = graft.sources.JsonlSnapshotSink.write(records, s"$root/epoch=$epochId")
        // coalesce: sum over an EMPTY summary (all-invalid micro-batch) is
        // NULL, and Row.getLong on null would kill the streaming query
        written.addAndGet(summary.agg(coalesce(sum(col("n_records")), lit(0L))).head.getLong(0))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    awaitThenRelease(spark, q)
    written.get()
  }

  /** Run `q` to its end, then unload its state providers and detach the
    * session Spark cloned for it from the listener bus — in `finally`: a
    * FAILED stream is exactly when leaked providers (and their
    * maintenance threads) would degrade every later query. */
  private[streaming] def awaitThenRelease(spark: SparkSession,
                                          q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try q.awaitTermination()
    finally {
      org.apache.spark.sql.graftbridge.StateStoreBridge.unloadAll() // see bridge scaladoc
      org.apache.spark.sql.graftbridge.DatasetBridge.detachStreams(spark, Seq(q), owner = false)
    }

  val streamExportSql: String =
    """WITH e AS (
      |  SELECT event_id AS eid, user_id AS uid, event_type AS etype, epoch_ms(ts) AS ms
      |  FROM events WHERE event_id % 97 <> 0),
      |t AS (
      |  SELECT CASE WHEN etype IN ('error','signup') THEN 'data'
      |              WHEN etype = 'purchase' THEN 'penalties-and-deductions'
      |              ELSE 'database' || CAST(uid % 3 AS VARCHAR) END
      |      || '.' ||
      |         CASE WHEN etype = 'error' THEN 'businessAudit'
      |              WHEN etype = 'signup' THEN 'equality'
      |              WHEN etype = 'purchase' THEN 'sanction'
      |              ELSE 'collection' || CAST(eid % 4 AS VARCHAR) END AS topic,
      |    (ms // 600000) * 600000 AS window_start_ms
      |  FROM e)
      |SELECT topic, window_start_ms, count(*) AS n
      |FROM t GROUP BY topic, window_start_ms ORDER BY topic, window_start_ms""".stripMargin
}

package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** №116 stream_partition_sink — the streaming twin of the №115 batch
  * layout: a continuously-ingested event feed LANDED as the
  * date-partitioned parquet layout every downstream date-sliced query
  * prunes on, with exactly-once semantics across restart.
  *
  * Production shape at 100 TB/day: `readStream` over the landing files →
  * derive the partition column → `writeStream.partitionBy(date)` into the
  * warehouse path with a checkpoint; the file-sink commit log (the sink's
  * `_spark_metadata`) records committed files per epoch, so a restarted
  * query neither rewrites nor double-counts — restart-idempotence is the
  * whole point of the sink log, and this operator EXECUTES a restart
  * rather than asserting it: the stream runs to completion
  * (Trigger.AvailableNow), then starts AGAIN from the same checkpoint
  * (nothing new to process → zero new epochs), and only then is the sink
  * read back.
  *
  * The driver row is the read-back per-day aggregate over the slice dates
  * (same slice as №115) — the oracle computes the same numbers from the
  * raw unpartitioned corpus, so a duplicated epoch, a half-committed
  * file, or a mis-derived partition column all diverge the hash. The
  * read-back goes through the partitioned layout, so the slice ALSO
  * exercises partition pruning on a streaming-written sink
  * (StreamPartitionSinkSpec pins the scan metrics + the no-new-files
  * restart property).
  */
object StreamPartitionSink {

  /** One run of the partitioned file-sink stream to completion —
    * idempotent under the checkpoint's sink log (spec re-runs it N times
    * and pins the committed file set unchanged). */
  private[graft] def runStream(spark: SparkSession, dir: String,
                               out: java.nio.file.Path, ckpt: java.nio.file.Path): Unit = {
    val ev = Tables.streamEvents(spark, dir)
      .withColumn("date", to_date(col("ts_utc")))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("date"))
    val q = ev.writeStream
      .format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .partitionBy("date")
      .trigger(Trigger.AvailableNow())
      .start()
    StreamExport.awaitThenRelease(spark, q)
  }

  /** Run the partitioned file-sink stream to completion TWICE (the second
    * start is the restart proof — same checkpoint, no new input, zero new
    * epochs), return the scratch dir (sink under `out/`). Caller removes. */
  private[graft] def landPartitioned(spark: SparkSession, dir: String): java.nio.file.Path = {
    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_psink_")
    val out = scratch.resolve("out")
    val ckpt = scratch.resolve("ckpt")
    runStream(spark, dir, out, ckpt) // ingest everything available
    runStream(spark, dir, out, ckpt) // RESTART: no new input → no new epochs
    scratch
  }

  def streamPartitionSink(spark: SparkSession, dir: String): DataFrame = {
    val scratch = landPartitioned(spark, dir)
    val out = scratch.resolve("out")
    val rows = spark.read.parquet(out.toString)
      .filter(col("date").isin(graft.sources.PartitionedLayout.SliceDates: _*))
      .groupBy(col("date").cast("string").as("date"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("date"))
      .collect()
    graft.Fs.rmTree(scratch)
    import spark.implicits._
    rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toDF("date", "n_events", "n_users")
      .orderBy(col("date"))
  }

  /** Oracle from the raw unpartitioned corpus: restart-idempotent landing
    * means the partitioned sink holds each event exactly once. */
  val streamPartitionSinkSql: String = {
    val in = graft.sources.PartitionedLayout.SliceDates.map(d => s"'$d'").mkString(", ")
    s"""SELECT strftime(ts, '%Y-%m-%d') AS date, count(*) AS n_events,
       |  count(DISTINCT user_id) AS n_users
       |FROM events
       |WHERE strftime(ts, '%Y-%m-%d') IN ($in)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }
}

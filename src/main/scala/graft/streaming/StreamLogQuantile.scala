package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming log-bucket quantiles (SURVEY §2 №168) — №165's
  * unbounded-domain sketch as STREAMING state, the same relationship
  * №159 stream_quantile bears to №158: event values log-bucket into the
  * whole-BIGINT 10-level domain ([[graft.queries.Analytics.logBucketSql]]
  * — ONE definition with the batch row), and the dyadic grid runs as a
  * streaming aggregation with its levels×depth×width counters in the
  * state store, per (event_type, shard). Linearity sums the shard grids
  * driver-side to EXACTLY the batch grid whatever the micro-batch
  * boundaries (spec-pinned byte equality); the estimate + exact verify +
  * lower-edge decode side is [[graft.queries.Analytics.logQuantileFromSlots]]
  * VERBATIM, so the two access paths cannot fork. Output and oracle are
  * №165's.
  *
  * State contract: event_types × [[Groups]] grids (each
  * 10·3·256 longs) REGARDLESS of stream length or value magnitude — the
  * log transform is what keeps the LEVELS dial constant while the value
  * domain is unbounded, which is the whole point of pairing it with
  * streaming state (a histogram state would grow with distinct values;
  * a linear grid would need levels tracking the domain). */
object StreamLogQuantile {

  val Groups = 4

  /** Data micro-batches of the last replay (spec pins ≥ 3). */
  private[graft] var lastBatches: Int = -1

  def streamLogQuantile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.queries.Analytics
    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_lq_")
    val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val events = graft.Tables(spark, dir).events
      .select(col("event_id"), col("event_type"), col("value"))

    val gridLen = Analytics.LqLevels * Analytics.LqDepth * Analytics.LqWidth
    val name = s"stream_lq_${System.nanoTime()}"
    val grids: Array[(String, Int, Seq[Long])] = ReplayHarness.replay(spark, 8,
      andThen = () => graft.Fs.rmTree(scratch)) { (spark, register) =>
      ReplayHarness.landBands(scratch, inDir, (0 until 3).map { i =>
        events.filter(col("event_id") % 3 === i).coalesce(1) })
      val stream = spark.readStream
        .schema("event_id LONG, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", "1") // state genuinely crosses micro-batches
        .parquet(inDir.toString)
      val sketches = stream
        .where(col("value").isNotNull)
        .select(col("event_type"), pmod(hash(col("event_id")), lit(Groups)).as("g"),
          expr(Analytics.LqAmtSql).as("amt"))
        .withColumn("b", expr(Analytics.logBucketSql("amt")))
        .groupBy(col("event_type"), col("g"))
        .agg(graft.functions.DyadicCountMin.sketch(col("b"),
          Analytics.LqLevels, Analytics.LqDepth, Analytics.LqWidth).as("sk"))
      val q = sketches.writeStream
        .format("memory").queryName(name)
        .outputMode("complete") // unwindowed running sketch: state IS the answer
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .start()
      register(q)
      q.awaitTermination()
      lastBatches = q.recentProgress.count(_.numInputRows > 0)
      spark.table(name).as[(String, Int, Seq[Long])].collect()
    }

    // linear merge: per-type shard grids SUM to the batch grid
    // (model-state-sized: event_types × Groups × gridLen longs)
    val summed = grids.groupBy(_._1).map { case (et, rows) =>
      val g = new Array[Long](gridLen)
      rows.foreach { case (_, _, sk) =>
        var i = 0
        while (i < gridLen) { g(i) += sk(i); i += 1 }
      }
      (et, g.toSeq)
    }.toSeq
    val slots = summed.toDF("event_type", "g")
      .select(col("event_type"), posexplode(col("g")))
      .select(col("event_type"), col("pos").cast("long").as("i"), col("col").as("c"))
    Analytics.logQuantileFromSlots(spark, dir, slots)
  }

  /** The stream is an access path: same oracle as batch №165. */
  val streamLogQuantileSql: String = graft.queries.Analytics.logQuantileSketchSql
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming frequency point queries (SURVEY §2 №150) — the streaming twin
  * of №147 freq_estimate, completing the sketch family's streaming-state
  * forms (№128 Misra-Gries, №143 HyperLogLog, now Count-Min): the SAME
  * [[graft.functions.CountMin]] aggregate runs as a streaming aggregation,
  * its counter grid living in the state store. Items hash-group into
  * [[Groups]] shards (the №128 shape) so the state work parallelizes;
  * because the Count-Min merge is LINEAR (elementwise sum), the shard
  * grids sum — driver-side, Groups × 8 KB of model state — to EXACTLY the
  * single-grid batch sketch whatever the micro-batch boundaries or shard
  * assignment (spec-pinned byte equality; the linearity CountMinSpec
  * proves is what makes the distribution transparent).
  *
  * State contract: Groups × depth×width counters REGARDLESS of stream
  * length. The top-k exact side (the measured-overcount contract) comes
  * from the batch verify pass over the same landed corpus; output and
  * oracle are №147's verbatim. */
object StreamFreq {

  val Groups = 8

  /** Data micro-batches of the last replay (spec pins ≥ 3). */
  private[graft] var lastBatches: Int = -1

  def streamFreq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.queries.TextQueries
    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_cms_")
    val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val docs = graft.Tables(spark, dir).documents.select(col("doc_id"), col("source"), col("text"))

    val name = s"stream_cms_${System.nanoTime()}"
    val grids: Array[(Int, Seq[Long])] = ReplayHarness.replay(spark, 8,
      andThen = () => graft.Fs.rmTree(scratch)) { (spark, register) =>
      ReplayHarness.landBands(scratch, inDir, (0 until 3).map { i =>
        docs.filter(col("doc_id") % 3 === i).coalesce(1) })
      val stream = spark.readStream
        .schema("doc_id LONG, source STRING, text STRING")
        .option("maxFilesPerTrigger", "1") // state genuinely crosses micro-batches
        .parquet(inDir.toString)
      val sketches = stream
        .select(TextQueries.words(col("text")).as("ws"))
        .select(explode(expr(TextQueries.TrigramCase)).as("sh"))
        .groupBy(pmod(hash(col("sh")), lit(Groups)).as("g"))
        .agg(graft.functions.CountMin.sketch(col("sh"), TextQueries.CmsDepth, TextQueries.CmsWidth).as("sk"))
      val q = sketches.writeStream
        .format("memory").queryName(name)
        .outputMode("complete") // unwindowed running sketch: state IS the answer
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .start()
      register(q)
      q.awaitTermination()
      lastBatches = q.recentProgress.count(_.numInputRows > 0)
      spark.table(name).as[(Int, Seq[Long])].collect()
    }

    // linear merge: the shard grids SUM to the batch grid (model-state-
    // sized: Groups × depth·width longs on the driver)
    val size = TextQueries.CmsDepth * TextQueries.CmsWidth
    val grid = new Array[Long](size)
    grids.foreach { case (_, g) =>
      var i = 0
      while (i < size) { grid(i) += g(i); i += 1 }
    }
    val slots = grid.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq.toDF("idx", "c")

    // batch verify pass: exact top-k + the point-query join (№147's shape)
    val grams = graft.CacheRegistry.track(
      TextQueries.trigramStream(spark, dir).select($"sh").persist())
    val top = grams.groupBy($"sh").agg(count(lit(1)).as("true_cnt"))
      .orderBy($"true_cnt".desc, $"sh").limit(TextQueries.CmsTopK)
    top.withColumn("d", explode(sequence(lit(0), lit(TextQueries.CmsDepth - 1))))
      .withColumn("idx", ($"d" * TextQueries.CmsWidth).cast("long") +
        expr(s"CAST(conv(substring(md5(concat(CAST(d AS STRING), '|', sh)), 1, 15), 16, 10) AS BIGINT) % ${TextQueries.CmsWidth}"))
      .join(broadcast(slots), "idx")
      .groupBy($"sh", $"true_cnt").agg(min($"c").as("est"))
      .select($"sh", $"true_cnt", $"est", ($"est" - $"true_cnt").as("overcount"))
      .orderBy($"true_cnt".desc, $"sh")
  }

  /** The stream is an access path: same oracle as batch №147. */
  val streamFreqSql: String = graft.queries.TextQueries.freqEstimateSql
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming quantiles (SURVEY §2 №159) — the streaming twin of №158
  * quantile_sketch, completing the sketch family's streaming-state forms
  * (№128 Misra-Gries, №143 HyperLogLog, №150 Count-Min, now the dyadic
  * quantile grid): the SAME [[graft.functions.DyadicCountMin]] aggregate
  * runs as a streaming aggregation, its levels×depth×width grid living
  * in the state store. Docs hash-shard into [[Groups]] shards per source
  * (the №128 shape) so state work parallelizes; because the dyadic grid
  * is a LINEAR sketch (elementwise sum), the shard grids sum —
  * driver-side, sources × Groups × grid longs of model state — to
  * EXACTLY the single-grid batch sketch whatever the micro-batch
  * boundaries or shard assignment (spec-pinned byte equality).
  *
  * State contract: sources × Groups grids REGARDLESS of stream length.
  * The estimate + exact verify side is
  * [[graft.queries.TextQueries.quantileFromSlots]] VERBATIM — shared
  * code, so the two access paths cannot fork; output and oracle are
  * №158's. */
object StreamQuantile {

  val Groups = 4

  /** Data micro-batches of the last replay (spec pins ≥ 3). */
  private[graft] var lastBatches: Int = -1

  def streamQuantile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.queries.TextQueries
    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_qs_")
    val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val docs = graft.Tables(spark, dir).documents.select(col("doc_id"), col("source"), col("text"))

    val gridLen = TextQueries.QsLevels * TextQueries.QsDepth * TextQueries.QsWidth
    val name = s"stream_qs_${System.nanoTime()}"
    val grids: Array[(String, Int, Seq[Long])] = ReplayHarness.replay(spark, 8,
      andThen = () => graft.Fs.rmTree(scratch)) { (spark, register) =>
      ReplayHarness.landBands(scratch, inDir, (0 until 3).map { i =>
        docs.filter(col("doc_id") % 3 === i).coalesce(1) })
      val stream = spark.readStream
        .schema("doc_id LONG, source STRING, text STRING")
        .option("maxFilesPerTrigger", "1") // state genuinely crosses micro-batches
        .parquet(inDir.toString)
      val sketches = stream
        .select(col("source"), pmod(hash(col("doc_id")), lit(Groups)).as("g"),
          least(size(TextQueries.words(col("text"))), lit(TextQueries.QsMax))
            .cast("long").as("n_tok"))
        .groupBy(col("source"), col("g"))
        .agg(graft.functions.DyadicCountMin.sketch(col("n_tok"),
          TextQueries.QsLevels, TextQueries.QsDepth, TextQueries.QsWidth).as("sk"))
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

    // linear merge: per-source shard grids SUM to the batch grid
    // (model-state-sized: sources × Groups × gridLen longs on the driver)
    val summed = grids.groupBy(_._1).map { case (src, rows) =>
      val g = new Array[Long](gridLen)
      rows.foreach { case (_, _, sk) =>
        var i = 0
        while (i < gridLen) { g(i) += sk(i); i += 1 }
      }
      (src, g.toSeq)
    }.toSeq
    val slots = summed.toDF("source", "g")
      .select(col("source"), posexplode(col("g")))
      .select(col("source"), col("pos").cast("long").as("i"), col("col").as("c"))
    TextQueries.quantileFromSlots(spark, dir, slots)
  }

  /** The stream is an access path: same oracle as batch №158. */
  val streamQuantileSql: String = graft.queries.TextQueries.quantileSketchSql
}

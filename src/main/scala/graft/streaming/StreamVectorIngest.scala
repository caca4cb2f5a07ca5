package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming vector-store ingest (SURVEY §2 №170) — the INGEST side of
  * №162's production serving shape as a stream, closing the vector
  * matrix (batch search №160 / persisted serving №162+№169 / streaming
  * ingest here): the day's arrival VECTORS land as a replayed file
  * stream, and each micro-batch encodes them under the FROZEN broadcast
  * model with [[graft.queries.VectorQueries.encodeCells]] — the exact
  * one-pass cell+codes aggregation the batch path runs (shared code, the
  * №159 discipline), as a streaming aggregation whose state is one row
  * per arrival (BATCH-sized — the day's vectors, never the store; the
  * base corpus stays in the persisted bucketed code table and is never
  * streamed). Because per-vector encoding under a frozen model is a pure
  * function, micro-batch boundaries cannot change any code (max_by is
  * associative), so the streamed code table ≡ the batch encode
  * row-for-row (spec-pinned) and the search over
  * union(persisted base scan, streamed codes) ≡ №162's output exactly —
  * the stream is an access path, oracle = №162's verbatim. */
object StreamVectorIngest {

  /** Data micro-batches of the last replay (spec pins ≥ 3). */
  private[graft] var lastBatches: Int = -1

  /** The last replay's streamed code rows (spec pins ≡ batch encode). */
  private[graft] var lastCodes: Seq[org.apache.spark.sql.Row] = Seq.empty

  def streamVectorIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.VectorQueries
    val (model, baseCodes, d, corpus, queries, batch) =
      VectorQueries.ivfPqIngestContext(spark, dir)
    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_vec_")
    val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)

    val name = s"stream_vec_${System.nanoTime()}"
    // collected INSIDE the replay (the harness drops the memory view on
    // exit); batch-sized by the state contract — the day's arrivals
    val (codeRows, codeSchema) = ReplayHarness.replay(spark, 8,
      andThen = () => graft.Fs.rmTree(scratch)) { (spark, register) =>
      ReplayHarness.landBands(scratch, inDir, (0 until 3).map { i =>
        batch.filter((col("vec_id").cast("long") / 20 % 3).cast("int") === i)
          .coalesce(1) })
      val stream = spark.readStream
        .schema("vec_id LONG, emb ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1") // encode genuinely spans micro-batches
        .parquet(inDir.toString)
      val codes = VectorQueries.encodeCells(stream, model, VectorQueries.PquM, d)
      val q = codes.writeStream
        .format("memory").queryName(name)
        .outputMode("complete") // running code table: state IS the day's batch
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .start()
      register(q)
      q.awaitTermination()
      lastBatches = q.recentProgress.count(_.numInputRows > 0)
      (spark.table(name).collect().toSeq, spark.table(name).schema)
    }
    lastCodes = codeRows
    val streamedCodes = spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(codeRows).asJava),
      codeSchema)
    VectorQueries.ivfPqSearch(spark,
      baseCodes.unionByName(streamedCodes), model, corpus, queries, d)
  }

  /** The stream is an access path for the ingest: oracle = №162's. */
  val streamVectorIngestSql: String = graft.queries.VectorQueries.knnIvfPqUpdateSql
}

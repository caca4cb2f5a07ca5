package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming exact-dedup for a document stream: md5(text) as the dedup key,
  * state bounded by a watermark (the streaming twin of the batch
  * `dedup_exact` operator — at pipeline scale the state store holds one
  * hash per document seen within the watermark horizon, not the corpus).
  */
object StreamDedup {

  final case class Doc(doc_id: Long, text: String, event_ms: Long)

  def dedup(docs: Dataset[Doc], watermarkDelay: String = "10 minutes"): DataFrame =
    docs
      .withColumn("ts", timestamp_millis(col("event_ms")))
      .withColumn("text_hash", md5(col("text")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("text_hash")
      .select(col("doc_id"), col("text_hash"))

  /** Driver-verified form: replay the injected-dup corpus through a
    * MemoryStream in several micro-batches, run [[dedup]] (RocksDB state),
    * and check the kept (doc_id, text_hash) rows against the batch
    * first-seen oracle — stream ≡ batch, like
    * [[StatefulSessionize.streamSessionize]]. Determinism contract: events
    * are fed in (event_ms, doc_id) order with event_ms = doc_id mod 1e6,
    * so an exact copy (+2e6 id offset) shares its original's event time,
    * arrives after it, and the watermark horizon (7 days ≫ the corpus's
    * ~1s event span) never evicts the state that dedups it — first
    * arrival ⇔ minimum doc_id, which is the relational oracle. The +1e6
    * base keeps every event time strictly above the INITIAL watermark
    * (0): a doc at epoch-0 exactly would be dropped as late on arrival. */
  def streamDedup(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = graft.queries.TextQueries.dupCorpus(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect()
      .map { case (id, text) => Doc(id, text, 1000000L + id % 1000000L) }
      .sortBy(d => (d.event_ms, d.doc_id))
    val name = s"stream_dedup_${System.nanoTime()}"
    // state partitions sized to STATE VOLUME, not cores (see
    // StatefulSessionize.streamSessionize — same RocksDB-per-partition-
    // per-batch overhead); ReplayHarness sets the width
    val out = ReplayHarness.replay(spark, 8) { (spark, register) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[Doc]
      val q = dedup(input.toDS(), "7 days")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      register(q)
      docs.grouped(math.max(1, docs.length / 4 + 1)).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
      // materialize, then drop the memory sink (see streamSessionize)
      spark.table(name).select(col("doc_id"), col("text_hash"))
        .orderBy(col("text_hash")).collect()
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text_hash", org.apache.spark.sql.types.StringType))))
  }

  /** Batch first-seen formulation — the stream ≡ batch claim. */
  val streamDedupSql: String =
    s"""WITH ${graft.queries.TextQueries.dupCorpusSql}
       |SELECT min(doc_id) AS doc_id, md5(text) AS text_hash
       |FROM corpus GROUP BY md5(text) ORDER BY text_hash""".stripMargin

  /** Micro-batch count of the last [[streamDedupFiles]] run — spec hook
    * proving the file replay actually exercised MULTIPLE micro-batches
    * (one per file under maxFilesPerTrigger=1), not one big swallow. */
  @volatile private[streaming] var lastFileBatches: Int = -1

  /** PRODUCTION-SHAPED ingestion for the same operator: the corpus
    * arrives as parquet FILES in a watched directory and enters through
    * `readStream.format("parquet")` — no driver-side collect anywhere on
    * the data path (the MemoryStream replay above stays as the
    * deterministic multi-batch proof; this is the scalable entry a
    * cluster actually runs, where the source lists files and executors
    * read them).
    *
    * Determinism contract (same oracle as [[streamDedup]]): the corpus is
    * written in three id-band file groups — originals (< 1e6), near-copies
    * (+1e6, distinct hashes), exact copies (+2e6) — every hash appears at
    * most ONCE per band, and band file modification times strictly
    * increase, so under maxFilesPerTrigger=1 (oldest-first file order +
    * Trigger.AvailableNow) an exact copy is always preceded by its
    * original in an EARLIER micro-batch and first-arrival ⇔ minimum
    * doc_id — the relational oracle. Event times reuse the +1e6 base (an
    * epoch-0 event would be late vs the initial watermark). */
  def streamDedupFiles(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_files_")
    val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val corpus = graft.queries.TextQueries.dupCorpus(spark, dir)
      .select(col("doc_id"), col("text"),
        (lit(1000000L) + col("doc_id") % 1000000L).as("event_ms"))
    val name = s"stream_dedup_files_${System.nanoTime()}"
    // scratch (input files + checkpoint) is per-run; removed AFTER the
    // query stops (ReplayHarness runs andThen last)
    val out = ReplayHarness.replay(spark, 8, andThen = () => graft.Fs.rmTree(scratch)) { (spark, register) =>
      // land each id band as parquet files with strictly increasing mod
      // times — a DISTRIBUTED write (2 files per band keeps the replay
      // multi-file within bands too)
      ReplayHarness.landBands(scratch, inDir, Seq(0L, 1000000L, 2000000L).map { band =>
        corpus.filter(col("doc_id") >= band && col("doc_id") < band + 1000000L)
          .coalesce(2) })
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING, event_ms LONG")
        .option("maxFilesPerTrigger", "1") // one file per micro-batch: the state path crosses batches
        .parquet(inDir.toString)
        .as[Doc]
      val q = dedup(stream, "7 days")
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .start()
      register(q)
      q.awaitTermination()
      lastFileBatches = q.recentProgress.count(_.numInputRows > 0)
      spark.table(name).select(col("doc_id"), col("text_hash"))
        .orderBy(col("text_hash")).collect()
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text_hash", org.apache.spark.sql.types.StringType))))
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** SERVING UNDER LIVE INGEST (SURVEY §2 №176) — the consistency story
  * №170 stops short of: there, search runs once after the ingest stream
  * drains; here, a search replays INTERLEAVED with the ingest — after
  * every completed micro-batch, from inside `foreachBatch` — and the
  * results pin the store's read-visibility contract: search t sees the
  * base index plus EXACTLY the arrivals of completed micro-batches
  * ≤ t — never a fraction of an in-flight batch, never a missing
  * completed one. Because assignment under the frozen model is a pure
  * per-vector function, that contract has a CLOSED FORM the DuckDB
  * oracle rebuilds from scratch: for each prefix b ∈ {0,1,2}, the
  * probe-[[graft.queries.VectorQueries.Probe]] search over
  * base ∪ (arrivals with band ≤ b) — so a torn batch, a lost arrival or
  * an early-visible row all diverge the driver hash, not just a spec.
  *
  * Shape notes: the serving model is №119's (frozen base centroids,
  * broadcast; the base cell assignment persisted once), each micro-batch
  * contributes its arrival rows to a driver-side buffer (BATCH-sized by
  * №170's state contract — the day's arrivals, never the store), and the
  * per-batch search runs the SAME [[graft.queries.VectorQueries.ivfSearch]]
  * the batch operators use — the stream is an access path, not a fork.
  * Output: (after_band, q_id, rank, vec_id, cos) — the served top-[[
  * graft.queries.VectorQueries.K]] as of each completed batch;
  * StreamServeSearchSpec pins ≥3 data micro-batches, per-batch search
  * counts, and that late batches genuinely CHANGE some served result
  * (arrivals reach the top-k — the interleaving is not vacuous). */
object StreamServeSearch {

  /** Per-run replay census, returned alongside the served frame instead
    * of stashed in object-level vars (r13 advice: a global var holds
    * stale data across invocations and races under concurrent queries
    * in one JVM). `batches` = data micro-batches (spec pins ≥ 3);
    * `batchSizes` = (batch_id, arrivals); `servedFiles` = (batch_id,
    * store files visible at serve time) for the file-backed path. */
  private[graft] final case class ServeCensus(
      batches: Int,
      batchSizes: Seq[(Long, Long)],
      servedFiles: Seq[(Long, Int)])

  def streamServeSearch(spark: SparkSession, dir: String): DataFrame =
    streamServeSearchWithCensus(spark, dir)._1

  private[graft] def streamServeSearchWithCensus(
      spark: SparkSession, dir: String): (DataFrame, ServeCensus) = {
    import graft.queries.VectorQueries
    import VectorQueries.{K, Probe}
    val (queries, corpus) = VectorQueries.querySplit(VectorQueries.vectorsOf(spark, dir))
    val base = corpus.filter(col("vec_id") % 20 =!= 0)   // №119's split
    val arrivals = corpus.filter(col("vec_id") % 20 === 0)
    val cent = refreeze(spark, base)
    val index = graft.CacheRegistry.track(
      VectorQueries.cellsOf(base, cent).persist())

    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_serve_")
    val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val name = s"stream_serve_${System.nanoTime()}"
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Double)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[Row]
    val sizes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var batches = -1
    ReplayHarness.replay(spark, 8, andThen = () => graft.Fs.rmTree(scratch)) { (spark, register) =>
      ReplayHarness.landBands(scratch, inDir, (0 until 3).map { i =>
        arrivals.filter(expr("(vec_id DIV 20) % 3") === i).coalesce(1) })
      val stream = spark.readStream
        .schema("vec_id LONG, emb ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1") // serving genuinely interleaves batches
        .parquet(inDir.toString)
      val q = stream.writeStream
        .foreachBatch { (bdf: DataFrame, id: Long) =>
          // the batch completes when this returns: buffer its arrivals,
          // then serve — the search sees prefix ≤ id and nothing else
          val rows = bdf.select(col("vec_id"), col("emb")).collect()
          seen ++= rows
          sizes += ((id, rows.length.toLong))
          val ingested = spark.createDataFrame(
            new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(seen.toSeq).asJava),
            bdf.select(col("vec_id"), col("emb")).schema)
          val served = VectorQueries.ivfSearch(
            index.unionByName(VectorQueries.cellsOf(ingested, cent)),
            cent, queries, Probe, K).collect()
          results ++= served.map(r =>
            (id, r.getAs[Long]("q_id"), r.getAs[Number]("rank").longValue,
              r.getAs[Long]("vec_id"), r.getAs[Double]("cos")))
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .start()
      register(q)
      q.awaitTermination()
      batches = q.recentProgress.count(_.numInputRows > 0)
    }
    import spark.implicits._
    val served = results.toSeq.toDF("after_band", "q_id", "rank", "vec_id", "cos")
      .orderBy(col("after_band"), col("q_id"), col("rank"))
    (served, ServeCensus(batches, sizes.toSeq, Seq.empty))
  }

  /** The frozen serving model — №119's refinement over the base. */
  private def refreeze(spark: SparkSession, base: DataFrame): DataFrame =
    graft.queries.VectorQueries.refinedCentroids(spark, base,
      graft.queries.VectorQueries.Centroids)

  // ------------------------------------------------- №184 stream_serve_search_files
  /** №176's read-visibility contract through the 100 TB ACCESS PATH —
    * closing the r12 watch item on the driver-side arrival buffer: here
    * each completed micro-batch APPENDS its arrivals to a serving-store
    * parquet directory (an executor-side distributed write, never a
    * driver collect of corpus rows), and every per-batch search READS
    * THE LANDED FILES BACK and unions them with the base index — the
    * files are the proof (№175's discipline): a torn append, a
    * lost batch or an early-visible in-flight row diverges the driver
    * hash. The served answer is CONTRACT-IDENTICAL to №176's buffered
    * path — prefix visibility is access-path-independent — so this row
    * shares №176's oracle verbatim (the knn_graph_indexed ≡ knn_graph
    * precedent: an access path, not a semantic), and
    * StreamServeSearchSpec pins row-identity of the two paths plus the
    * store directory growing file-monotonically per batch. At 100 TB
    * only this path survives: the day's arrivals stream through
    * executor memory into the store partition-by-partition; the driver
    * holds K·queries served rows and nothing else. */
  def streamServeSearchFiles(spark: SparkSession, dir: String): DataFrame =
    streamServeSearchFilesWithCensus(spark, dir)._1

  private[graft] def streamServeSearchFilesWithCensus(
      spark: SparkSession, dir: String): (DataFrame, ServeCensus) = {
    import graft.queries.VectorQueries
    import VectorQueries.{K, Probe}
    val (queries, corpus) = VectorQueries.querySplit(VectorQueries.vectorsOf(spark, dir))
    val base = corpus.filter(col("vec_id") % 20 =!= 0)
    val arrivals = corpus.filter(col("vec_id") % 20 === 0)
    val cent = refreeze(spark, base)
    val index = graft.CacheRegistry.track(
      VectorQueries.cellsOf(base, cent).persist())

    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_servef_")
    val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val servedDir = scratch.resolve("served")
    val name = s"stream_servef_${System.nanoTime()}"
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Double)]
    val fileCounts = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    ReplayHarness.replay(spark, 8, andThen = () => graft.Fs.rmTree(scratch)) { (spark, register) =>
      ReplayHarness.landBands(scratch, inDir, (0 until 3).map { i =>
        arrivals.filter(expr("(vec_id DIV 20) % 3") === i).coalesce(1) })
      val stream = spark.readStream
        .schema("vec_id LONG, emb ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
      val q = stream.writeStream
        .foreachBatch { (bdf: DataFrame, id: Long) =>
          // the STORE append is the batch's only materialization — a
          // distributed write of the batch's rows, no driver buffer
          bdf.select(col("vec_id"), col("emb"))
            .write.mode("append").parquet(servedDir.toString)
          val landed = spark.read.schema("vec_id LONG, emb ARRAY<FLOAT>")
            .parquet(servedDir.toString)
          fileCounts += ((id, landed.inputFiles.length))
          val served = VectorQueries.ivfSearch(
            index.unionByName(VectorQueries.cellsOf(landed, cent)),
            cent, queries, Probe, K).collect()
          results ++= served.map(r =>
            (id, r.getAs[Long]("q_id"), r.getAs[Number]("rank").longValue,
              r.getAs[Long]("vec_id"), r.getAs[Double]("cos")))
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .start()
      register(q)
      q.awaitTermination()
    }
    import spark.implicits._
    val served = results.toSeq.toDF("after_band", "q_id", "rank", "vec_id", "cos")
      .orderBy(col("after_band"), col("q_id"), col("rank"))
    (served, ServeCensus(-1, Seq.empty, fileCounts.toSeq))
  }

  val streamServeSearchSql: String = {
    import graft.queries.VectorQueries
    import VectorQueries.{Centroids, K, NQueries, Probe}
    val cos6 = (a: String, b: String) => VectorQueries.cos6Sql(a, b)
    def prefixSelect(b: Int): String =
      s"""SELECT CAST($b AS BIGINT) AS after_band, q_id, rank, vec_id, cos FROM (
         |  SELECT p.q_id, e.vec_id, ${cos6("e.emb", "p.q_emb")} AS cos,
         |    row_number() OVER (PARTITION BY p.q_id ORDER BY ${cos6("e.emb", "p.q_emb")} DESC, e.vec_id) AS rank
         |  FROM sv_cells e JOIN sv_probes p USING (cell)
         |  WHERE e.band <= $b) x WHERE rank <= $K""".stripMargin
    s"""WITH sv_v AS (SELECT vec_id, embedding AS emb FROM embeddings),
       |sv_q AS (SELECT vec_id AS q_id, emb AS q_emb FROM sv_v WHERE vec_id < $NQueries),
       |sv_all AS (SELECT vec_id, emb FROM sv_v WHERE vec_id >= $NQueries),
       |sv_b AS (SELECT vec_id, emb FROM sv_all WHERE vec_id % 20 <> 0),
       |${VectorQueries.refinedCentSql("sv_b", "sv_", Centroids)},
       |sv_cells AS (
       |  SELECT vec_id, emb, cell,
       |    CASE WHEN vec_id % 20 <> 0 THEN -1 ELSE (vec_id // 20) % 3 END AS band
       |  FROM (
       |    SELECT a.vec_id, a.emb, c.c_id AS cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY ${cos6("a.emb", "c.c_emb")} DESC, c.c_id) AS crank
       |    FROM sv_all a, sv_cent c) x WHERE crank = 1),
       |sv_probes AS (
       |  SELECT q_id, q_emb, c_id AS cell FROM (
       |    SELECT q.q_id, q.q_emb, c.c_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY ${cos6("q.q_emb", "c.c_emb")} DESC, c.c_id) AS prank
       |    FROM sv_q q, sv_cent c) x WHERE prank <= $Probe)
       |${(0 until 3).map(prefixSelect).mkString("\nUNION ALL\n")}
       |ORDER BY after_band, q_id, rank""".stripMargin
  }

  /** The store is an ACCESS PATH, not a semantic: №176's oracle verbatim
    * (declared after it — object vals initialize in order). */
  val streamServeSearchFilesSql: String = streamServeSearchSql
}

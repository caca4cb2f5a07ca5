package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming distinct-cardinality (SURVEY §2 №143) — the streaming twin of
  * №142 distinct_sketch (live vocabulary growth / unique-visitor counting
  * over a landing feed): the SAME [[graft.functions.HyperLogLog]]
  * aggregate runs as a STREAMING aggregation, its register buffer living
  * in the state store, each micro-batch's map-side partials folding into
  * state through the register-wise max merge — batch and stream share the
  * sketch implementation, so the estimate cannot fork.
  *
  * State contract: one 2^p-int register array per source — total state is
  * #sources × 256 ints REGARDLESS of stream length (never a per-distinct
  * row set, which is what exact streaming countDistinct would need).
  * Because the max-merge is associative, commutative AND idempotent, the
  * streamed registers are BYTE-IDENTICAL to the batch sketch whatever the
  * micro-batch boundaries (spec-pinned) — so this query's output equals
  * №142's and the oracle is №142's oracle verbatim. The exact n_exact
  * column (the measured-error contract) comes from the batch verify pass
  * over the same landed corpus, model-state-sized join (the №128
  * candidate-verify precedent). */
object StreamDistinct {

  /** Data micro-batches of the last replay (spec pins ≥ 3). */
  private[graft] var lastBatches: Int = -1

  def streamDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_hll_")
    val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val docs = graft.Tables(spark, dir).documents.select(col("doc_id"), col("source"), col("text"))

    val shingleExpr = graft.queries.TextQueries.TrigramCase

    val name = s"stream_hll_${System.nanoTime()}"
    val streamed: Array[(String, Seq[Int])] = ReplayHarness.replay(spark, 8,
      andThen = () => graft.Fs.rmTree(scratch)) { (spark, register) =>
      ReplayHarness.landBands(scratch, inDir, (0 until 3).map { i =>
        docs.filter(col("doc_id") % 3 === i).coalesce(1) })
      val stream = spark.readStream
        .schema("doc_id LONG, source STRING, text STRING")
        .option("maxFilesPerTrigger", "1") // state genuinely crosses micro-batches
        .parquet(inDir.toString)
      val sketches = stream
        .select(col("source"), graft.queries.TextQueries.words(col("text")).as("ws"))
        .select(col("source"), explode(expr(shingleExpr)).as("sh"))
        .groupBy(col("source"))
        .agg(graft.functions.HyperLogLog.sketch(col("sh"), graft.queries.TextQueries.HllP).as("regs"))
      val q = sketches.writeStream
        .format("memory").queryName(name)
        .outputMode("complete") // unwindowed running sketch: state IS the answer
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .start()
      register(q)
      q.awaitTermination()
      lastBatches = q.recentProgress.count(_.numInputRows > 0)
      spark.table(name).as[(String, Seq[Int])].collect()
    }

    // batch verify pass: exact per-source cardinality over the same corpus
    // (model-state-sized frames throughout: #sources rows)
    val exact = docs
      .select(col("source"), graft.queries.TextQueries.words(col("text")).as("ws"))
      .select(col("source"), explode(expr(shingleExpr)).as("sh"))
      .groupBy(col("source")).agg(countDistinct(col("sh")).as("n_exact"))
    val regs = streamed.toSeq.toDF("source", "regs")
    exact.join(broadcast(regs), "source")
      .select(col("source"), col("n_exact"),
        expr("size(filter(regs, r -> r = 0))").as("zeros"),
        expr("aggregate(regs, CAST(0 AS BIGINT), (acc, r) -> acc + shiftleft(CAST(1 AS BIGINT), 32 - r))").as("s_sum"))
      .withColumn("est", expr(
        s"CAST(round(${graft.queries.TextQueries.hllNumExpr} / s_sum + 0.000000001) AS BIGINT)"))
      .withColumn("err_ppm", expr("abs(est - n_exact) * 1000000 DIV n_exact"))
      .orderBy(col("source"))
  }

  /** The stream is an access path: same oracle as batch №142. */
  val streamDistinctSql: String = graft.queries.TextQueries.distinctSketchSql
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming frequent tokens (SURVEY §2 №128) — the streaming twin of №123
  * heavy_hitters (trending hashtags / hot-query detection over a feed the
  * batch operator would re-scan daily): the SAME
  * [[graft.functions.MisraGries]] aggregate runs as a STREAMING
  * aggregation, its typed buffer living in the state store and each
  * micro-batch's map-side partials folding into state through the
  * mergeable-summaries merge rule — batch and stream literally share the
  * sketch implementation, so the bound cannot fork.
  *
  * State contract: tokens hash-group into [[Groups]] groups (deterministic
  * murmur3, so a token's whole count lands in ONE group), each group's
  * state is ONE ≤ k-counter sketch buffer ⇒ total state is Groups × k
  * counters REGARDLESS of stream length — never a per-token row set. The
  * per-group substream has N_g ≤ N, so a globally heavy token
  * (count > N/k) satisfies count > N_g/(k+1) inside its own group and can
  * never leave the group's sketch: the streamed candidate set is a
  * guaranteed superset of the true heavy hitters, exactly like the batch
  * sketch.
  *
  * The sketch is an ACCESS PATH, not a semantic (№123's contract): after
  * the replay drains (AvailableNow over a 3-band file landing,
  * maxFilesPerTrigger=1 so state genuinely crosses micro-batches —
  * the №36d ingestion shape), the bounded candidate set (model-state-
  * sized: ≤ Groups·k entries — the centroid-collect precedent) feeds
  * №123's exact candidate-bounded verify pass, so the output EQUALS the
  * exact batch answer and the oracle is №123's oracle verbatim. */
object StreamHeavyHitters {

  val Groups = 8

  /** Data micro-batches of the last replay (spec pins ≥ 3). */
  private[streaming] var lastBatches: Int = -1

  def streamHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = graft.queries.TextQueries.HhT
    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_hh_")
    val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val docs = graft.Tables(spark, dir).documents.select(col("doc_id"), col("text"))

    val name = s"stream_hh_${System.nanoTime()}"
    val candidates: Array[String] = ReplayHarness.replay(spark, 8,
      andThen = () => graft.Fs.rmTree(scratch)) { (spark, register) =>
      // land three id bands with strictly increasing mtimes (№36d landing)
      ReplayHarness.landBands(scratch, inDir, (0 until 3).map { i =>
        docs.filter(col("doc_id") % 3 === i).coalesce(1) })
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1") // state crosses micro-batches
        .parquet(inDir.toString)
      val sketches = stream
        .select(explode(graft.queries.TextQueries.words(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(pmod(hash(col("tok")), lit(Groups)).as("g"))
        .agg(graft.functions.MisraGries.sketch(col("tok"), k).as("sk"))
      val q = sketches.writeStream
        .format("memory").queryName(name)
        .outputMode("complete") // unwindowed running sketch: state IS the answer
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .start()
      register(q)
      q.awaitTermination()
      lastBatches = q.recentProgress.count(_.numInputRows > 0)
      spark.table(name)
        .select(explode(col("sk")).as("e")).select(col("e.tok"))
        .as[String].collect()
    }

    // №123's exact verify pass over the streamed candidate set
    val toks = graft.CacheRegistry.track(
      docs.select(explode(graft.queries.TextQueries.words(col("text"))).as("tok"))
        .filter(col("tok") =!= "").persist())
    val cand = candidates.toSeq.toDF("tok").distinct()
    val n = toks.agg(count(lit(1)).as("n_tok"))
    toks.join(broadcast(cand), "tok")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(n))
      .filter(col("cnt") * graft.queries.TextQueries.HhT > col("n_tok"))
      .select(col("tok"), col("cnt"), col("n_tok"))
      .orderBy(col("cnt").desc, col("tok"))
  }

  /** The stream is an access path: same oracle as batch №123. */
  val streamHeavyHittersSql: String = graft.queries.TextQueries.heavyHittersSql
}

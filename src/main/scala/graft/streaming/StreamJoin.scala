package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Watermarked stream-stream INTERVAL join (SURVEY §2 №57): attribute each
  * purchase to the clicks that preceded it within an attribution window —
  * the canonical two-stream correlation a real-time pipeline runs (click →
  * purchase, impression → install, request → response).
  *
  * The scale contract is Spark's stream-stream join machinery itself:
  * both sides hash-partition on the join key (user_id), each side buffers
  * only ITS OWN key-partition slice in the state store (RocksDB in the
  * driver query), and the event-time interval condition + watermarks let
  * the engine EVICT state older than `watermark - window` — state is
  * bounded by (events within the attribution window per key), never the
  * stream's history. Production sets the watermark delay to its real
  * out-of-orderness budget; the replay below uses a generous delay so the
  * proof corpus is never evicted early (stream ≡ batch exactly).
  */
object StreamJoin {

  /** Attribution window: purchases within 6 hours AFTER a click (sized to
    * the proof corpus's event density — 150 users over 30 days — so the
    * oracle checks hundreds of matches, not single digits). */
  val AttributionMs: Long = 21600000L

  final case class Ev(event_id: Long, user_id: Long, ts_ms: Long)

  /** The streaming query: clicks ⋈ purchases on user + time interval.
    * Inner join: matches emit as both sides arrive; the watermarks bound
    * the buffered state (each side can drop rows older than the other
    * side's watermark minus the interval span). */
  def attribute(clicks: Dataset[Ev], purchases: Dataset[Ev],
                watermarkDelay: String = "10 minutes"): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        timestamp_millis(col("ts_ms")).as("c_ts"))
      .withWatermark("c_ts", watermarkDelay)
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        timestamp_millis(col("ts_ms")).as("p_ts"))
      .withWatermark("p_ts", watermarkDelay)
    c.join(p,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr(s"interval ${AttributionMs / 1000} seconds"))
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
        (unix_millis(col("p_ts")) - unix_millis(col("c_ts"))).as("lag_ms"))
  }

  /** Driver-verified form: replay the events table's click and purchase
    * streams through two MemoryStreams in interleaved time-ordered chunks,
    * run [[attribute]] under RocksDB state, and compare against the batch
    * interval-join oracle. Determinism contract: an INNER stream-stream
    * join emits exactly the matching pairs regardless of micro-batch
    * boundaries — the 7-day delay (≫ the corpus's event span) only keeps
    * eviction out of the proof; the join result is batch-equal by
    * construction, which is precisely the claim being driver-verified. */
  def streamJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ev = graft.Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_ms"))
    def side(etype: String): Array[Ev] = ev
      .filter(col("event_type") === etype)
      .select(col("event_id"), col("user_id"), col("ts_ms")).as[(Long, Long, Long)]
      .collect().map { case (e, u, t) => Ev(e, u, t) }
      .sortBy(e => (e.ts_ms, e.event_id))
    val clicks = side("click")
    val purchases = side("purchase")
    val name = s"stream_join_${System.nanoTime()}"
    // state partitions sized to state volume, not cores (r3 rule shared
    // with StreamDedup/StatefulSessionize) — and a stream-stream join runs
    // FOUR state stores per partition (left/right × two indexes), so the
    // per-batch store overhead is 4x a dedup's at the same width: 4
    // partitions is plenty for the proof corpus's ~4k buffered events.
    // ReplayHarness runs the replay on a child session at this width.
    val out = ReplayHarness.replay(spark, 4) { (spark, register) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val cIn = MemoryStream[Ev]
      val pIn = MemoryStream[Ev]
      val q = attribute(cIn.toDS(), pIn.toDS(), "7 days")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      register(q)
      // interleave time-aligned chunks: both sides advance together, the
      // realistic arrival pattern (and the one that exercises BOTH
      // buffer-then-match directions of the join state)
      val nChunks = 3
      val cChunks = clicks.grouped(math.max(1, clicks.length / nChunks + 1)).toSeq
      val pChunks = purchases.grouped(math.max(1, purchases.length / nChunks + 1)).toSeq
      (0 until math.max(cChunks.size, pChunks.size)).foreach { i =>
        if (i < cChunks.size) cIn.addData(cChunks(i).toSeq)
        if (i < pChunks.size) pIn.addData(pChunks(i).toSeq)
        q.processAllAvailable()
      }
      spark.table(name)
        .select(col("user_id"), col("click_id"), col("purchase_id"), col("lag_ms"))
        .orderBy(col("click_id"), col("purchase_id")).collect()
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("click_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("purchase_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lag_ms", org.apache.spark.sql.types.LongType))))
  }

  /** Batch interval-join formulation — the stream ≡ batch claim. */
  val streamJoinSql: String =
    s"""WITH c AS (SELECT event_id AS click_id, user_id, epoch_ms(ts) AS c_ms
       |           FROM events WHERE event_type = 'click'),
       |p AS (SELECT event_id AS purchase_id, user_id, epoch_ms(ts) AS p_ms
       |      FROM events WHERE event_type = 'purchase')
       |SELECT c.user_id, click_id, purchase_id, p_ms - c_ms AS lag_ms
       |FROM c JOIN p ON c.user_id = p.user_id
       |  AND p_ms >= c_ms AND p_ms <= c_ms + $AttributionMs
       |ORDER BY click_id, purchase_id""".stripMargin
}

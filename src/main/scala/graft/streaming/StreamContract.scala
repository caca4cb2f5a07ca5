package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-contract monitoring ON the landing stream (SURVEY §2 №139) — the
  * streaming twin of №135 contract_check's events side: the same
  * declarative rules (enum membership, range bounds, time window) run as
  * ONE streaming conditional aggregation over a №36d-shaped file landing
  * (3 id-band files, maxFilesPerTrigger=1), so a bad batch is visible
  * while it lands instead of at the next batch audit.
  *
  * State contract: the aggregation is UNWINDOWED with a constant-width
  * buffer (one running count per rule — the state IS the report), so
  * state is O(rules) however long the stream; complete-mode re-emission
  * per trigger is the live dashboard feed, and with AvailableNow the
  * final emission equals the batch answer over everything landed —
  * which is exactly №135's events-side oracle (the stream is an access
  * path: same rules, same totals, same verdicts). maxFilesPerTrigger=1
  * keeps the replay genuinely multi-batch (spec pins ≥ 2 data batches:
  * running totals must ACCUMULATE across triggers, not reset). */
object StreamContract {

  /** Data micro-batches of the last replay (spec pins ≥ 2). */
  private[streaming] var lastBatches: Int = -1

  def streamContract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val types = Seq("view", "click", "purchase", "signup", "error")
    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_contract_")
    val name = s"stream_contract_${System.nanoTime()}"
    val out: Array[(String, Long, Long)] = ReplayHarness.replay(spark, 8,
      andThen = () => graft.Fs.rmTree(scratch)) { (spark, register) =>
      // land the feed as 3 id-band files with ordered mtimes (№36d's
      // landing shape) so the running totals provably cross micro-batches
      val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)
      val ev = graft.Tables(spark, dir).events
        .select(col("event_id"), col("event_type"), col("value"), col("ts_ms"))
      ReplayHarness.landBands(scratch, inDir, (0 until 3).map { i =>
        ev.filter(col("event_id") % 3 === i).coalesce(1) })
      val raw = spark.readStream
        .schema("event_id LONG, event_type STRING, value DOUBLE, ts_ms LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
      val report = raw.agg(
        count(lit(1)).as("n_checked"),
        sum(when(!$"event_type".isin(types.map(lit(_)): _*), 1L).otherwise(0L)).as("v_event_type_enum"),
        sum(when(!($"value" > 0.0), 1L).otherwise(0L)).as("v_value_positive"),
        sum(when($"value" > 250.0, 1L).otherwise(0L)).as("v_value_le_250"),
        sum(when($"ts_ms" < 1704067200000L || $"ts_ms" >= 1706745600000L, 1L).otherwise(0L)).as("v_ts_in_window"))
      val q = report.writeStream
        .format("memory").queryName(name)
        .outputMode("complete") // running totals: the state IS the report
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .start()
      register(q)
      q.awaitTermination()
      lastBatches = q.recentProgress.count(_.numInputRows > 0)
      val rules = Seq("event_type_enum", "value_positive", "value_le_250", "ts_in_window")
      spark.table(name)
        .select($"n_checked",
          expr(s"stack(${rules.length}, " +
            rules.map(r => s"'$r', v_$r").mkString(", ") + ") AS (rule, n_violations)"))
        .select($"rule", $"n_checked", $"n_violations")
        .as[(String, Long, Long)].collect()
    }
    out.toSeq.toDF("rule", "n_checked", "n_violations")
      .withColumn("pass", col("n_violations") === 0L)
      .orderBy(col("rule"))
  }

  /** The stream is an access path: №135's events-side rules verbatim. */
  val streamContractSql: String =
    s"""WITH sc_e AS (
       |  SELECT count(*) AS n_checked,
       |    CAST(sum(CASE WHEN event_type NOT IN ('view','click','purchase','signup','error') THEN 1 ELSE 0 END) AS BIGINT) AS v_event_type_enum,
       |    CAST(sum(CASE WHEN NOT (value > 0.0) THEN 1 ELSE 0 END) AS BIGINT) AS v_value_positive,
       |    CAST(sum(CASE WHEN value > 250.0 THEN 1 ELSE 0 END) AS BIGINT) AS v_value_le_250,
       |    CAST(sum(CASE WHEN epoch_ms(ts) < 1704067200000 OR epoch_ms(ts) >= 1706745600000 THEN 1 ELSE 0 END) AS BIGINT) AS v_ts_in_window
       |  FROM events)
       |SELECT r.rule, n_checked, r.v AS n_violations, r.v = 0 AS pass
       |FROM sc_e, LATERAL (VALUES
       |  ('event_type_enum', v_event_type_enum), ('value_positive', v_value_positive),
       |  ('value_le_250', v_value_le_250), ('ts_in_window', v_ts_in_window)) r(rule, v)
       |ORDER BY r.rule""".stripMargin
}

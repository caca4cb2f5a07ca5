package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Watermark-windowed LOG-BUCKET quantiles (SURVEY §2 №171) — the
  * per-window p99-of-latency/size observability query over an UNBOUNDED
  * value domain, composing two previously-proven pieces exactly where
  * each earns its keep: №164's windowed-grid discipline (one
  * [[graft.functions.DyadicCountMin]] grid per OPEN window in the state
  * store, append-mode emission when the watermark closes the window,
  * late rows dropping per №153's closed-form recurrence) and №165's
  * log-linear bucket transform (integer octave from `bin()` length +
  * shift-only sub-buckets), so the per-window state stays
  * levels·depth·width longs while the VALUE domain spans all of BIGINT —
  * №164's linear grid would need its levels dial to track the domain,
  * and an exact per-window percentile would hold the window's rows.
  *
  * The whole read-out (exact verify + est rank + lower-edge decode) is
  * [[graft.queries.Analytics.logQuantileReadout]] keyed by window start
  * — the SAME one definition №165/№168 run keyed by event_type — so the
  * arithmetic cannot fork across the batch, running-stream and windowed
  * access paths. Targets: №164's dashboard trio
  * ([[StreamWindowQuantile.Pcts]] — p50/p90/p99 per emitted window).
  * The DuckDB oracle reproduces BOTH the №153 acceptance closed form and
  * the bucket/grid/decode chain from first principles, so a wrong drop,
  * a leaked late row or a forked slot all diverge the hash.
  *
  * StreamWindowLogQuantileSpec pins: streamed grid per window ≡ the
  * batch grid over the closed-form accepted rows BYTE-FOR-BYTE, ≥3 data
  * micro-batches, genuinely non-zero watermark drops, and emission
  * bounded by the final watermark. */
object StreamWindowLogQuantile {

  /** Data micro-batches of the last replay (spec pins ≥ 3). */
  private[graft] var lastBatches: Int = -1
  /** Engine-reported watermark-dropped rows of the last replay. */
  private[graft] var lastDropped: Long = -1L

  /** The emitted (window_start_ms, grid) pairs of one watermarked replay
    * over the №153 band landing, sketching the №165 log buckets. */
  private[graft] def emittedGrids(spark: SparkSession, dir: String): Array[(Long, Seq[Long])] = {
    import spark.implicits._
    import graft.queries.Analytics
    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_wlq_")
    val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val events = graft.Tables(spark, dir).events
      .select(col("event_id"), col("ts_ms"), col("value"))
    val name = s"stream_wlq_${System.nanoTime()}"
    ReplayHarness.replay(spark, 8, andThen = () => graft.Fs.rmTree(scratch)) { (spark, register) =>
      ReplayHarness.landBands(scratch, inDir,
        (0 until 3).map(i => events.filter(col("event_id") % 3 === i).coalesce(1)))
      val stream = spark.readStream
        .schema("event_id LONG, ts_ms LONG, value DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
      val grids = stream
        .withColumn("ts_utc", timestamp_millis(col("ts_ms")))
        .where(col("value").isNotNull)
        .withColumn("amt", expr(Analytics.LqAmtSql))
        .withColumn("b", expr(Analytics.logBucketSql("amt")))
        .withWatermark("ts_utc", s"${StreamLate.DelayMs / 1000} seconds")
        .groupBy(window(col("ts_utc"), s"${StreamLate.WindowMs / 1000} seconds"))
        .agg(graft.functions.DyadicCountMin.sketch(col("b"),
          Analytics.LqLevels, Analytics.LqDepth, Analytics.LqWidth).as("g"))
        .select(unix_millis(col("window.start")).as("ws"), col("g"))
      val q = grids.writeStream
        .format("memory").queryName(name)
        .outputMode("append") // grids emit ONCE, when the watermark closes the window
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .start()
      register(q)
      q.awaitTermination()
      lastBatches = q.recentProgress.count(_.numInputRows > 0)
      lastDropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      spark.table(name).as[(Long, Seq[Long])].collect()
    }
  }

  /** The №153 closed-form ACCEPTED row set, batch-side: (ws, amt, b)
    * rows the watermarked stream absorbed, in №165's bucket domain. */
  private[graft] def acceptedRows(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.Analytics
    val w = StreamLate.WindowMs
    val e = graft.Tables(spark, dir).events
      .where(col("value").isNotNull)
      .select((col("event_id") % 3).as("band"), col("ts_ms").as("ms"),
        expr(Analytics.LqAmtSql).as("amt"))
    val wm0 = e.filter(col("band") === 0)
      .agg((max(col("ms")) - StreamLate.DelayMs).as("wm0"))
    e.crossJoin(broadcast(wm0))
      .filter(col("band") < 2 ||
        expr(s"(ms DIV $w) * $w + $w") > col("wm0"))
      .select(expr(s"(ms DIV $w) * $w").as("ws"), col("amt"))
      .withColumn("b", expr(Analytics.logBucketSql("amt")))
  }

  def streamWindowLogQuantile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.queries.Analytics
    val grids = emittedGrids(spark, dir)
    val slots = grids.toSeq.toDF("ws", "g")
      .select(col("ws"), posexplode(col("g")))
      .select(col("ws"), col("pos").cast("long").as("i"), col("col").as("c"))
    // exact side over the SAME accepted set, restricted to emitted windows
    val acc = graft.CacheRegistry.track(acceptedRows(spark, dir)
      .join(broadcast(grids.toSeq.map(_._1).toDF("ws")), "ws").persist())
    Analytics.logQuantileReadout(spark, acc, slots,
      "ws", "window_start_ms", StreamWindowQuantile.Pcts)
  }

  val streamWindowLogQuantileSql: String = {
    import graft.queries.Analytics.{LqDepth, LqLevels, LqSub, LqSubBits, LqWidth}
    val w = StreamLate.WindowMs
    val pcts = StreamWindowQuantile.Pcts
    val slot = s"CAST(list_sum(list_transform(range(0, 15), j -> " +
      s"(strpos('0123456789abcdef', substr(md5(CAST(d AS VARCHAR) || '|' || CAST(l AS VARCHAR) || ':' || " +
      s"CAST(idx AS VARCHAR)), CAST(j + 1 AS INT), 1)) - 1) " +
      s"* (CAST(1 AS BIGINT) << CAST(4 * (14 - j) AS INT)))) AS BIGINT) % $LqWidth"
    val mins = pcts.map(q =>
      s"min(CASE WHEN 100*cum >= $q*n_ev THEN amt END) AS x$q,\n    " +
        s"min(CASE WHEN 100*est_rank >= $q*n_ev THEN b END) AS e$q").mkString(",\n    ")
    val unpivot = pcts
      .map(q => s"SELECT ws, $q AS pct, x$q AS amt_exact, e$q AS b_est FROM wl_a")
      .mkString("\n  UNION ALL ")
    s"""WITH wl_e AS (
       |  SELECT event_id % 3 AS band, epoch_ms(ts) AS ms, (c * c) // 100 + 1 AS amt
       |  FROM (SELECT event_id, ts,
       |          greatest(least(CAST(round(value * 100 + 0.000000001) AS BIGINT), 65535), 0) AS c
       |        FROM events WHERE value IS NOT NULL)),
       |wl_m0 AS (SELECT max(ms) - ${StreamLate.DelayMs} AS wm FROM wl_e WHERE band = 0),
       |wl_mf AS (SELECT max(ms) - ${StreamLate.DelayMs} AS wm FROM wl_e),
       |wl_acc AS (
       |  SELECT (ms // $w) * $w AS ws, amt FROM wl_e, wl_m0
       |  WHERE band IN (0, 1)
       |     OR (band = 2 AND (ms // $w) * $w + $w > wl_m0.wm)),
       |wl_em AS (SELECT ws, amt FROM wl_acc, wl_mf WHERE ws + $w <= wl_mf.wm),
       |wl_v AS (
       |  SELECT ws, amt,
       |    CAST(length(bin(amt)) - 1 AS BIGINT) AS e,
       |    CAST(1 AS BIGINT) << CAST(length(bin(amt)) - 1 AS INT) AS p
       |  FROM wl_em),
       |wl_b AS (
       |  SELECT ws, amt,
       |    e * $LqSub + CASE WHEN e >= $LqSubBits
       |      THEN (amt - p) >> CAST(e - $LqSubBits AS INT)
       |      ELSE (amt - p) << CAST($LqSubBits - e AS INT) END AS b
       |  FROM wl_v),
       |wl_h AS (SELECT ws, amt, b, count(*) AS cnt FROM wl_b GROUP BY 1, 2, 3),
       |wl_n AS (SELECT ws, CAST(sum(cnt) AS BIGINT) AS n_ev FROM wl_h GROUP BY ws),
       |wl_lv AS (SELECT l FROM range(0, $LqLevels) t(l)),
       |wl_dd AS (SELECT d FROM range(0, $LqDepth) t(d)),
       |wl_g AS (
       |  SELECT ws, l, d, $slot AS slot, CAST(sum(cnt) AS BIGINT) AS c
       |  FROM (SELECT ws, l, b >> CAST(l AS INT) AS idx, cnt FROM wl_h CROSS JOIN wl_lv)
       |  CROSS JOIN wl_dd GROUP BY 1, 2, 3, 4),
       |wl_cum AS (
       |  SELECT ws, amt, b,
       |    CAST(sum(cnt) OVER (PARTITION BY ws ORDER BY amt) AS BIGINT) AS cum
       |  FROM wl_h),
       |wl_db AS (SELECT DISTINCT ws, b FROM wl_h),
       |wl_dec AS (
       |  SELECT ws, b, l, ((b + 1) >> CAST(l AS INT)) - 1 AS idx
       |  FROM wl_db CROSS JOIN wl_lv WHERE ((b + 1) >> CAST(l AS INT)) & 1 = 1),
       |wl_pq AS (
       |  SELECT dec.ws, dec.b, dec.l, min(coalesce(g.c, 0)) AS pq
       |  FROM (SELECT ws, b, l, idx, d, $slot AS slot
       |        FROM wl_dec CROSS JOIN wl_dd) dec
       |  LEFT JOIN wl_g g ON g.ws = dec.ws AND g.l = dec.l
       |    AND g.d = dec.d AND g.slot = dec.slot
       |  GROUP BY 1, 2, 3),
       |wl_er AS (SELECT ws, b, CAST(sum(pq) AS BIGINT) AS er FROM wl_pq GROUP BY 1, 2),
       |wl_r AS (
       |  SELECT c.ws, c.amt, c.b, c.cum, n.n_ev, coalesce(s.er, 0) AS est_rank
       |  FROM wl_cum c JOIN wl_n n USING (ws)
       |  LEFT JOIN wl_er s ON s.ws = c.ws AND s.b = c.b),
       |wl_a AS (SELECT ws, $mins FROM wl_r GROUP BY ws),
       |wl_out AS (
       |  SELECT ws, pct, amt_exact, b_est, b_est // $LqSub AS e2 FROM ($unpivot))
       |SELECT ws AS window_start_ms, pct, amt_exact, b_est,
       |  (CAST(1 AS BIGINT) << CAST(e2 AS INT)) + CASE WHEN e2 >= $LqSubBits
       |    THEN (b_est % $LqSub) << CAST(e2 - $LqSubBits AS INT)
       |    ELSE (b_est % $LqSub) >> CAST($LqSubBits - e2 AS INT) END AS amt_est_lo,
       |  round(CAST(amt_exact - ((CAST(1 AS BIGINT) << CAST(e2 AS INT)) + CASE WHEN e2 >= $LqSubBits
       |    THEN (b_est % $LqSub) << CAST(e2 - $LqSubBits AS INT)
       |    ELSE (b_est % $LqSub) >> CAST($LqSubBits - e2 AS INT) END) AS DOUBLE) / amt_exact
       |    + 0.000000001, 6) AS rel_err
       |FROM wl_out ORDER BY window_start_ms, pct""".stripMargin
  }
}

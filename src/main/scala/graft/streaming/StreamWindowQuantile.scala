package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WINDOWED streaming quantiles under a real watermark (SURVEY §2 №164)
  * — the per-window-p99 observability query every production stream
  * dashboard runs, with the state story done right: per OPEN window the
  * state store holds one [[graft.functions.DyadicCountMin]] grid
  * (levels·depth·width longs — constant per window, NEVER the window's
  * rows, which is what exact per-window percentiles would require), the
  * watermark closes windows in append mode, and LATE rows drop exactly
  * per №153's measured recurrence.
  *
  * This completes the quantile-sketch matrix: №158 batch / №159 running
  * stream (complete mode) / №164 watermark-windowed append — and it
  * COMPOSES two previously-proven closed forms: №153's acceptance
  * predicate (band 0/1 pass; a band-2 row survives iff its window end >
  * max(band-0 ts) − delay; a window emits iff its end ≤ global max −
  * delay) decides WHICH rows each window's grid absorbed, and №158's
  * dyadic machinery turns the emitted grids into quantile estimates
  * graded against the exact quantiles of the SAME accepted row set —
  * both sides reproduced by the DuckDB oracle from first principles, so
  * a wrong drop, a leaked late row, or a forked slot all diverge the
  * hash. Targets: p50/p90/p99 per emitted window ([[Pcts]] — the
  * dashboard trio). Domain/geometry shared with №163 (cents in
  * [0, 2^[[graft.queries.Analytics.VqLevels]])).
  *
  * StreamWindowQuantileSpec pins: streamed grid per window ≡ the batch
  * grid over the closed-form accepted rows BYTE-FOR-BYTE (linear merge
  * × proven acceptance), ≥3 data micro-batches, and genuinely non-zero
  * watermark drops. */
object StreamWindowQuantile {

  val Pcts = Seq(50, 90, 99)

  /** Data micro-batches of the last replay (spec pins ≥ 3). */
  private[graft] var lastBatches: Int = -1
  /** Engine-reported watermark-dropped rows of the last replay. */
  private[graft] var lastDropped: Long = -1L

  /** The emitted (window_start_ms, grid) pairs of one watermarked replay
    * over the №153 landing. */
  private[graft] def emittedGrids(spark: SparkSession, dir: String): Array[(Long, Seq[Long])] = {
    import spark.implicits._
    import graft.queries.Analytics.{VqLevels, VqDepth, VqWidth, VqMax}
    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_wq_")
    val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val events = graft.Tables(spark, dir).events
      .select(col("event_id"), col("ts_ms"), col("value"))
    val name = s"stream_wq_${System.nanoTime()}"
    ReplayHarness.replay(spark, 8, andThen = () => graft.Fs.rmTree(scratch)) { (spark, register) =>
      ReplayHarness.landBands(scratch, inDir, (0 until 3).map { i =>
        events.filter(col("event_id") % 3 === i).coalesce(1) })
      val stream = spark.readStream
        .schema("event_id LONG, ts_ms LONG, value DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
      val grids = stream
        .withColumn("ts_utc", timestamp_millis(col("ts_ms")))
        // domain map mirrors №163 exactly (greatest/least/NOT NULL): the
        // sketch's internal negative-clamp and NULL-skip must match the
        // exact-side histogram or the est ≤ exact pin rides on the
        // generator's value ≥ 0 contract
        .where(col("value").isNotNull)
        .withColumn("v", greatest(least(
          expr("CAST(round(value * 100 + 0.000000001) AS BIGINT)"), lit(VqMax.toLong)), lit(0L)))
        .withWatermark("ts_utc", s"${StreamLate.DelayMs / 1000} seconds")
        .groupBy(window(col("ts_utc"), s"${StreamLate.WindowMs / 1000} seconds"))
        .agg(graft.functions.DyadicCountMin.sketch(col("v"), VqLevels, VqDepth, VqWidth).as("g"))
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

  /** The №153 closed-form ACCEPTED row set, batch-side: (ws, v) rows the
    * watermarked stream absorbed. */
  private[graft] def acceptedRows(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.Analytics.VqMax
    val w = StreamLate.WindowMs
    val e = graft.Tables(spark, dir).events
      .where(col("value").isNotNull)
      .select((col("event_id") % 3).as("band"), col("ts_ms").as("ms"),
        greatest(least(expr("CAST(round(value * 100 + 0.000000001) AS BIGINT)"),
          lit(VqMax.toLong)), lit(0L)).as("v"))
    val wm0 = e.filter(col("band") === 0)
      .agg((max(col("ms")) - StreamLate.DelayMs).as("wm0"))
    e.crossJoin(broadcast(wm0))
      .filter(col("band") < 2 ||
        expr(s"(ms DIV $w) * $w + $w") > col("wm0"))
      .select(expr(s"(ms DIV $w) * $w").as("ws"), col("v"))
  }

  def streamWindowQuantile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.queries.Analytics.{VqDepth, VqLevels, VqWidth, VqMax}
    import graft.queries.{TextQueries => TQ}
    val grids = emittedGrids(spark, dir)
    val slots = grids.toSeq.toDF("ws", "g")
      .select(col("ws"), posexplode(col("g")))
      .select(col("ws"), col("pos").cast("long").as("i"), col("col").as("c"))
    // exact side over the SAME accepted set, restricted to emitted windows
    val acc = graft.CacheRegistry.track(acceptedRows(spark, dir)
      .join(broadcast(grids.toSeq.map(_._1).toDF("ws")), "ws").persist())
    val hist = acc.groupBy(col("ws"), col("v")).agg(count(lit(1)).as("cnt"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ws")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = hist.groupBy(col("ws")).agg(sum(col("cnt")).as("n_ev"))
    val cum = hist.withColumn("cum", sum(col("cnt")).over(win)).join(broadcast(tot), "ws")
    // slot hashes depend on (v, l, d) only — one md5 per DISTINCT value,
    // not per (window, value): 29 windows would pay the probe hashing 29×
    val probes = hist.select(col("v")).distinct()
      .withColumn("l", explode(sequence(lit(0), lit(VqLevels - 1))))
      .filter(expr("(shiftright(v + 1, l) & 1) = 1"))
      .withColumn("idx", expr("shiftright(v + 1, l) - 1"))
      .withColumn("d", explode(sequence(lit(0), lit(VqDepth - 1))))
      .withColumn("i", expr(s"(l * $VqDepth + d) * $VqWidth + ${TQ.qsSlotExprW(VqWidth)}"))
      .select(col("v"), col("l"), col("i"))
    val er = cum.select(col("ws"), col("v"))
      .join(probes, "v")
      .join(broadcast(slots), Seq("ws", "i"))
      .groupBy(col("ws"), col("v"), col("l")).agg(min(col("c")).as("pq"))
      .groupBy(col("ws"), col("v")).agg(sum(col("pq")).as("er"))
    val ranks = cum.join(er, Seq("ws", "v"), "left")
      .withColumn("est_rank",
        when(col("v") === VqMax.toLong, col("n_ev")).otherwise(coalesce(col("er"), lit(0L))))
    val aggs = Pcts.flatMap(q => Seq(
      min(when(lit(100) * col("cum") >= lit(q) * col("n_ev"), col("v"))).as(s"x$q"),
      min(when(lit(100) * col("est_rank") >= lit(q) * col("n_ev"), col("v"))).as(s"e$q")))
    ranks.groupBy(col("ws")).agg(aggs.head, aggs.tail: _*)
      .select(col("ws").as("window_start_ms"), expr(s"stack(${Pcts.length}, " +
        Pcts.map(q => s"$q, x$q, e$q").mkString(", ") +
        ") AS (pct, cents_exact, cents_est)"))
      .withColumn("err", col("cents_est") - col("cents_exact"))
      .orderBy(col("window_start_ms"), col("pct"))
  }

  val streamWindowQuantileSql: String = {
    import graft.queries.Analytics.{VqDepth, VqLevels, VqWidth, VqMax}
    val w = StreamLate.WindowMs
    val slot = s"CAST(list_sum(list_transform(range(0, 15), j -> " +
      s"(strpos('0123456789abcdef', substr(md5(CAST(d AS VARCHAR) || '|' || CAST(l AS VARCHAR) || ':' || " +
      s"CAST(idx AS VARCHAR)), CAST(j + 1 AS INT), 1)) - 1) " +
      s"* (CAST(1 AS BIGINT) << CAST(4 * (14 - j) AS INT)))) AS BIGINT) % $VqWidth"
    val mins = Pcts.map(q =>
      s"min(CASE WHEN 100*cum >= $q*n_ev THEN v END) AS x$q,\n    " +
        s"min(CASE WHEN 100*est_rank >= $q*n_ev THEN v END) AS e$q").mkString(",\n    ")
    val unpivot = Pcts
      .map(q => s"SELECT ws, $q AS pct, x$q AS cents_exact, e$q AS cents_est FROM wq_a")
      .mkString("\n  UNION ALL ")
    s"""WITH wq_e AS (
       |  SELECT event_id % 3 AS band, epoch_ms(ts) AS ms,
       |    greatest(least(CAST(round(value * 100 + 0.000000001) AS BIGINT), $VqMax), 0) AS v
       |  FROM events WHERE value IS NOT NULL),
       |wq_m0 AS (SELECT max(ms) - ${StreamLate.DelayMs} AS wm FROM wq_e WHERE band = 0),
       |wq_mf AS (SELECT max(ms) - ${StreamLate.DelayMs} AS wm FROM wq_e),
       |wq_acc AS (
       |  SELECT (ms // $w) * $w AS ws, v FROM wq_e, wq_m0
       |  WHERE band IN (0, 1)
       |     OR (band = 2 AND (ms // $w) * $w + $w > wq_m0.wm)),
       |wq_em AS (SELECT ws, v FROM wq_acc, wq_mf WHERE ws + $w <= wq_mf.wm),
       |wq_h AS (SELECT ws, v, count(*) AS cnt FROM wq_em GROUP BY 1, 2),
       |wq_n AS (SELECT ws, CAST(sum(cnt) AS BIGINT) AS n_ev FROM wq_h GROUP BY ws),
       |wq_lv AS (SELECT l FROM range(0, $VqLevels) t(l)),
       |wq_dd AS (SELECT d FROM range(0, $VqDepth) t(d)),
       |wq_g AS (
       |  SELECT ws, l, d, $slot AS slot, CAST(sum(cnt) AS BIGINT) AS c
       |  FROM (SELECT ws, l, v >> l AS idx, cnt FROM wq_h CROSS JOIN wq_lv)
       |  CROSS JOIN wq_dd GROUP BY 1, 2, 3, 4),
       |wq_c AS (
       |  SELECT ws, v, CAST(sum(cnt) OVER (PARTITION BY ws ORDER BY v) AS BIGINT) AS cum
       |  FROM wq_h),
       |wq_dec AS (
       |  SELECT ws, v, l, ((v + 1) >> l) - 1 AS idx
       |  FROM wq_c CROSS JOIN wq_lv WHERE ((v + 1) >> l) & 1 = 1),
       |wq_pq AS (
       |  SELECT dec.ws, dec.v, dec.l, min(coalesce(g.c, 0)) AS pq
       |  FROM (SELECT ws, v, l, idx, d, $slot AS slot
       |        FROM wq_dec CROSS JOIN wq_dd) dec
       |  LEFT JOIN wq_g g ON g.ws = dec.ws AND g.l = dec.l
       |    AND g.d = dec.d AND g.slot = dec.slot
       |  GROUP BY 1, 2, 3),
       |wq_er AS (SELECT ws, v, CAST(sum(pq) AS BIGINT) AS er FROM wq_pq GROUP BY 1, 2),
       |wq_r AS (
       |  SELECT c.ws, c.v, c.cum, n.n_ev,
       |    CASE WHEN c.v = $VqMax THEN n.n_ev ELSE coalesce(s.er, 0) END AS est_rank
       |  FROM wq_c c JOIN wq_n n USING (ws)
       |  LEFT JOIN wq_er s ON s.ws = c.ws AND s.v = c.v),
       |wq_a AS (
       |  SELECT ws, $mins
       |  FROM wq_r GROUP BY ws)
       |SELECT ws AS window_start_ms, pct, cents_exact, cents_est,
       |  cents_est - cents_exact AS err
       |FROM ($unpivot) ORDER BY window_start_ms, pct""".stripMargin
  }
}

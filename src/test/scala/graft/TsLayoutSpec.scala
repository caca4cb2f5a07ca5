package graft

import graft.queries.{Analytics, ExportQueries}
import org.apache.spark.sql.functions._

/** The r8 repair's contract: `events.ts` arrives as EITHER raw nanosecond
  * longs (legacy corpora) or parquet timestamp[us] (driver corpora since
  * r7), and `Tables.normalizeTs` must make every consumer layout-blind —
  * same rows, same schemas, and a scan-level pushdown in BOTH layouts.
  * The corpus on disk is the timestamp layout; this spec materializes the
  * SAME events as nanosecond longs and proves the two reads equivalent
  * end-to-end.
  */
class TsLayoutSpec extends SparkSpec {

  private lazy val legacyDir: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_tslayout").toString
    // normalized `ts` IS the legacy value (LONG epoch-nanos); writing it
    // produces a plain INT64 column — exactly the legacy physical layout
    Tables(spark, sf).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .coalesce(2).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    tmp
  }

  test("normalizeTs presents one logical contract from either physical layout") {
    val ts = Tables(spark, sf).events
    val ns = Tables(spark, legacyDir).events
    assert(ts.schema("ts").dataType.typeName == "long")
    assert(ns.schema("ts").dataType.typeName == "long")
    assert(ts.schema("ts_raw").dataType.typeName == "timestamp") // new corpus
    assert(ns.schema("ts_raw").dataType.typeName == "long")      // legacy
    val a = ts.select(col("event_id"), col("ts"), col("ts_ms"), col("ts_utc"))
      .collect().map(_.toSeq).toSet
    val b = ns.select(col("event_id"), col("ts"), col("ts_ms"), col("ts_utc"))
      .collect().map(_.toSeq).toSet
    assert(a == b, "derived ts columns must be identical across layouts")
    // POSITIONAL layout-blindness too (r8 ADVICE): same column names in
    // the same order, so select(*)/positional consumers can't tell the
    // layouts apart either — only ts_raw's type may differ
    assert(ts.columns.toSeq == ns.columns.toSeq,
      s"column order differs across layouts: ${ts.columns.toSeq} vs ${ns.columns.toSeq}")
    assert(ts.schema.fields.zip(ns.schema.fields).filter(_._1.name != "ts_raw")
      .forall { case (x, y) => x.dataType == y.dataType },
      "non-raw column types must be identical across layouts")
  }

  test("kv_scan / time_range_scan / sessionize agree row-for-row across layouts") {
    for (q <- Seq(ExportQueries.kvScan _, ExportQueries.timeRangeScan _,
        Analytics.sessionize _)) {
      val a = q(spark, sf).collect().map(_.toSeq).toSeq
      val b = q(spark, legacyDir).collect().map(_.toSeq).toSeq
      assert(a == b, "layouts must be indistinguishable to queries")
    }
  }

  test("table reads take the inferred schema from the footer, with no schema job") {
    for (dir <- Seq(sf, legacyDir)) {
      val path = s"$dir/events.parquet"
      Tables(spark, dir).events // sets the session conf the events read needs
      assert(Tables.parquetSchema(spark, path) == spark.read.parquet(path).schema, dir)
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.add(e.stageInfos.map(_.name).mkString(";"))
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val df = Tables(spark, dir).events
        org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
        assert(jobs.isEmpty, s"building $dir's events submitted jobs: $jobs")
        assert(df.count() > 0)
        org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
        assert(!jobs.toArray.exists(_.toString.contains("Tables.scala")), s"schema job: $jobs")
      } finally spark.sparkContext.removeSparkListener(l)
    }
  }

  test("the time-range predicate pushes into the scan in BOTH layouts") {
    for (dir <- Seq(sf, legacyDir)) {
      val plan = ExportQueries.timeRangeScan(spark, dir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
        s"ts predicate not pushed for $dir:\n$plan")
    }
  }
}

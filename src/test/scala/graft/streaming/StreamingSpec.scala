package graft.streaming

import graft.SparkSpec
import graft.streaming.StatefulSessionize.{Ev, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSpec {

  test("stream_export windowed counts equal the batch equivalent") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val streamed = StreamExport.streamExport(spark, sf)
      .as[(String, Long, Long)].collect().toSet
    val batch = graft.kv.KvModel.kv(spark, sf)
      .filter(col("valid"))
      .groupBy(col("topic"), (col("ms").divide(600000)).cast("long").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("topic"), (col("w") * 600000).as("window_start_ms"), col("n"))
      .as[(String, Long, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("flatMapGroupsWithState sessionization emits closed sessions across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = StatefulSessionize.sessionize(input.toDS(), gapMs = 1000L)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    // trigger 1: user 1 has two bursts separated by > gap → first closes
    input.addData(Ev(1, 100), Ev(1, 200), Ev(1, 5000), Ev(2, 50))
    query.processAllAvailable()
    // trigger 2: user 1's open burst continues, user 2 jumps far → closes
    input.addData(Ev(1, 5500), Ev(2, 99999))
    query.processAllAvailable()

    val out = spark.table("sessions_out").as[Session].collect().toSet
    query.stop()
    assert(out.contains(Session(1, 100, 200, 2)))   // closed by the 5000 event
    assert(out.contains(Session(2, 50, 50, 1)))     // closed by the 99999 event
    // user 1's (5000,5500) session is still open → not emitted
    assert(!out.exists(s => s.user_id == 1 && s.start_ms == 5000))
  }

  test("interval merge: order-independent, gap-bridging, count-preserving") {
    import StatefulSessionize.merge
    val gap = 10L
    // any arrival order yields the same gap-connected components
    val orders = Seq(Seq(1L, 5L, 30L, 37L), Seq(37L, 1L, 30L, 5L), Seq(30L, 37L, 5L, 1L))
    val results = orders.map(_.foldLeft(List.empty[(Long, Long, Long)])((iv, t) => merge(iv, t, gap)))
    assert(results.distinct.size == 1)
    assert(results.head == List((1L, 5L, 2L), (30L, 37L, 2L)))
    // a middle event within gap of BOTH sides bridges two intervals
    // (18 is 13 from end=5 and 12 from start=30 — both ≤ gap 15)
    assert(merge(List((1L, 5L, 2L), (30L, 37L, 2L)), 18L, 15L) == List((1L, 37L, 5L)))
    // outside reach on both sides: new singleton interval in sorted position
    assert(merge(List((1L, 2L, 1L), (50L, 60L, 3L)), 25L, gap) ==
      List((1L, 2L, 1L), (25L, 25L, 1L), (50L, 60L, 3L)))
  }

  test("incremental sessions: out-of-order merge in-trigger, event-time timeout flush") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StatefulSessionize.sessionizeIncremental(input.toDS(), gapMs = 10000L, delay = "0 seconds")
      .writeStream.format("memory").queryName("inc_sessions")
      .outputMode("append").start()
    // trigger 1: user 1's events arrive OUT OF ORDER → one merged interval;
    // watermark 0 during the batch → nothing closes
    input.addData(Ev(1, 2000), Ev(1, 500), Ev(1, 1500))
    q.processAllAvailable()
    assert(spark.table("inc_sessions").isEmpty)
    // trigger 2: the 100000 event advances the watermark; the trailing
    // no-data micro-batch fires user 1's EVENT-TIME TIMEOUT (no user-1
    // events arrive — the flush is timeout-driven, not data-driven)
    input.addData(Ev(2, 100000))
    q.processAllAvailable()
    assert(spark.table("inc_sessions").as[Session].collect().toSet ==
      Set(Session(1, 500, 2000, 3)))
    // trigger 3: watermark passes user 2's first burst → it closes as its
    // own session (200000 - 100000 > gap); the 200000 interval stays open
    input.addData(Ev(2, 200000))
    q.processAllAvailable()
    val out = spark.table("inc_sessions").as[Session].collect().toSet
    q.stop()
    assert(out == Set(Session(1, 500, 2000, 3), Session(2, 100000, 100000, 1)))
  }

  test("incremental sessions run under the RocksDB state store (production conf)") {
    import spark.implicits._
    // the provider ReplayHarness configures — prove it actually hosts our
    // flatMapGroupsWithState state end-to-end
    val out = ReplayHarness.replay(spark, 4) { (spark, register) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[Ev]
      val q = StatefulSessionize.sessionizeIncremental(input.toDS(), gapMs = 10000L, delay = "0 seconds")
        .writeStream.format("memory").queryName("rocks_sessions")
        .outputMode("append").start()
      register(q)
      input.addData(Ev(1, 2000), Ev(1, 500))
      q.processAllAvailable()
      input.addData(Ev(2, 100000))
      q.processAllAvailable() // watermark passes user 1 → timeout flush
      assert(q.lastProgress.stateOperators.nonEmpty)
      spark.table("rocks_sessions").as[Session].collect().toSet
    }
    assert(out == Set(Session(1, 500, 2000, 2)))
  }

  test("continuous export: full record+manifest pipeline per micro-batch via foreachBatch") {
    val root = java.nio.file.Files.createTempDirectory("graft_stream_export").toString
    val n = StreamExport.continuousExport(spark, sf, root)
    assert(n == 989L) // same valid-record count as the batch pipeline
    // epoch directory holds encrypted chunk objects + manifests
    val epochs = new java.io.File(root).listFiles().filter(_.getName.startsWith("epoch="))
    assert(epochs.nonEmpty)
    val readBack = epochs.map(e =>
      graft.sources.JsonlSnapshotSink.readBack(spark, e.toString).count()).sum
    assert(readBack == 989L)
  }

  test("watermarked streaming dedup drops in-horizon duplicates") {
    import spark.implicits._
    import graft.streaming.StreamDedup.Doc
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = StreamDedup.dedup(input.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    input.addData(Doc(1, "alpha", 1000), Doc(2, "alpha", 2000), Doc(3, "beta", 3000))
    q.processAllAvailable()
    input.addData(Doc(4, "alpha", 4000), Doc(5, "gamma", 5000)) // dup across triggers
    q.processAllAvailable()
    val out = spark.table("dedup_out").as[(Long, String)].collect()
    q.stop()
    // one row per distinct text; the kept doc for "alpha" is from its first sighting
    assert(out.length == 3)
    assert(out.map(_._1).toSet == Set(1L, 3L, 5L))
  }

  test("file-backed streaming dedup: parquet source replay is multi-batch and matches the batch oracle") {
    import spark.implicits._
    // the production-shaped entry: readStream.format("parquet") over landed
    // files — result must equal the batch first-seen formulation, and the
    // replay must actually cross micro-batches (state path exercised)
    val out = StreamDedup.streamDedupFiles(spark, sf)
      .as[(Long, String)].collect().sortBy(_._2)
    val expect = graft.queries.TextQueries.dupCorpus(spark, sf)
      .groupBy(org.apache.spark.sql.functions.md5($"text").as("text_hash"))
      .agg(org.apache.spark.sql.functions.min($"doc_id").as("doc_id"))
      .select($"doc_id", $"text_hash")
      .as[(Long, String)].collect().sortBy(_._2)
    assert(out.length == expect.length && out.sameElements(expect),
      "file-fed streaming dedup diverged from the batch first-seen oracle")
    assert(StreamDedup.lastFileBatches >= 3,
      s"replay ran ${StreamDedup.lastFileBatches} data batches — the multi-batch state path was not exercised")
  }

  test("streaming contract: running totals accumulate across micro-batches and equal the batch rules") {
    import spark.implicits._
    val got = StreamContract.streamContract(spark, sf)
      .as[(String, Long, Long, Boolean)].collect().toSeq
    assert(StreamContract.lastBatches >= 3,
      s"replay ran ${StreamContract.lastBatches} data batches — totals never crossed a trigger")
    val batch = graft.queries.PipelineQueries.contractCheck(spark, sf)
      .filter($"tab" === "events")
      .select($"rule", $"n_checked", $"n_violations", $"pass")
      .as[(String, Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(got == batch, "streamed contract diverged from the batch events-side rules")
    assert(got.exists(_._4) && got.exists(!_._4), "report degenerate on this corpus")
  }

  test("streaming heavy hitters: sketch state crosses micro-batches, bounded, and the output equals batch №123") {
    import spark.implicits._
    val out = StreamHeavyHitters.streamHeavyHitters(spark, sf)
      .as[(String, Long, Long)].collect().toSeq
    graft.CacheRegistry.releaseAll(spark)
    assert(StreamHeavyHitters.lastBatches >= 3,
      s"replay ran ${StreamHeavyHitters.lastBatches} data batches — sketch state never crossed a micro-batch")
    val batch = graft.queries.TextQueries.heavyHitters(spark, sf)
      .as[(String, Long, Long)].collect().toSeq
    graft.CacheRegistry.releaseAll(spark)
    assert(out == batch, "streamed sketch-then-verify diverged from the batch operator")
    assert(out.nonEmpty)
  }

  test("stream_late: engine drop metric equals the closed-form late count; emitted windows match the recurrence") {
    import spark.implicits._
    val out = StreamLate.streamLate(spark, sf)
      .as[(Long, Long)].collect().toSeq
    assert(StreamLate.lastBatches >= 3,
      s"replay ran ${StreamLate.lastBatches} data batches — watermark never advanced mid-stream")
    // closed form (the measured k−2 recurrence): bands 0/1 pass, band-2
    // rows for windows closed by max(band0) − delay are DROPPED
    val ev = graft.Tables(spark, sf).events
      .select($"event_id", $"ts_ms").as[(Long, Long)].collect().toSeq
    val wm0 = ev.filter(_._1 % 3 == 0).map(_._2).max - StreamLate.DelayMs
    val wmF = ev.map(_._2).max - StreamLate.DelayMs
    def win(ms: Long) = (ms / StreamLate.WindowMs) * StreamLate.WindowMs
    val lateRows = ev.filter { case (id, ms) => id % 3 == 2 && win(ms) + StreamLate.WindowMs <= wm0 }
    // the drop metric counts PARTIAL-aggregate rows at the state operator
    // (map-side combine collapses the late rows per window per input
    // split first): bounded below by the distinct closed windows band 2
    // touches and above by the raw late-row count
    val lateWindows = lateRows.map(e => win(e._2)).distinct.size.toLong
    assert(StreamLate.lastDropped >= lateWindows && StreamLate.lastDropped <= lateRows.size.toLong,
      s"engine dropped ${StreamLate.lastDropped}, outside [$lateWindows, ${lateRows.size}]")
    assert(lateRows.nonEmpty, "no late rows — the watermark semantics are not exercised")
    // emitted set/counts equal the recurrence (the oracle cross-checks the
    // same thing in SQL; this is the plain-Scala pin)
    val expected = ev.filter { case (id, ms) =>
      (id % 3 != 2 || win(ms) + StreamLate.WindowMs > wm0) && win(ms) + StreamLate.WindowMs <= wmF
    }.groupBy(e => win(e._2)).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
    assert(out == expected, "emitted windows diverge from the watermark recurrence")
    // append mode: each window exactly once
    assert(out.map(_._1).distinct.size == out.size)
  }

  test("streaming CDC: order-robust state across micro-batches equals the batch merge; tombstones live") {
    import spark.implicits._
    val out = StreamCdc.streamCdc(spark, sf)
      .as[(Long, String, Long, Long, String)].collect().toSeq
    assert(StreamCdc.lastBatches >= 3,
      s"replay ran ${StreamCdc.lastBatches} data batches — CDC state never crossed a micro-batch")
    val batch = graft.queries.Analytics.cdcMerge(spark, sf)
      .as[(Long, String, Long, Long, String)].collect().toSeq
    assert(out == batch, "streamed CDC state diverged from the batch MERGE")
    // op labels well-formed (full keep/insert/update coverage is pinned by
    // the sf0.01 oracle gate; the tiny sf0.001 corpus has every user in
    // both slices)
    val ops = out.map(_._2).toSet
    assert(ops.nonEmpty && ops.subsetOf(Set("keep", "insert", "update")), s"ops seen: $ops")
    // tombstone consistency at ANY sf: a slice user is absent from the
    // table IFF their final delta event is the error marker
    val raw = graft.Tables(spark, sf).events
      .filter($"ts_ms" < graft.queries.ExportQueries.T2)
      .select($"user_id", $"event_id", $"event_type", $"ts_ms")
      .as[(Long, Long, String, Long)].collect().toSeq
    val t1 = graft.queries.ExportQueries.T1
    val expectedTombs = raw.filter(_._4 >= t1).groupBy(_._1).collect {
      case (u, rows) if rows.maxBy(r => (r._4, r._2))._3 == "error" => u
    }.toSet
    val absent = raw.map(_._1).toSet -- out.map(_._1).toSet
    assert(absent == expectedTombs,
      s"tombstoned set $absent != users whose final delta event is error $expectedTombs")
  }

  test("stream-stream interval join: boundary inclusion and cross-batch matching") {
    import spark.implicits._
    import graft.streaming.StreamJoin
    import graft.streaming.StreamJoin.Ev
    implicit val sqlCtx = spark.sqlContext
    val w = StreamJoin.AttributionMs
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = StreamJoin.attribute(clicks.toDS(), purchases.toDS(), "7 days")
      .writeStream.format("memory").queryName("join_out")
      .outputMode("append").start()
    // batch 1: PURCHASE arrives before its click (buffered in join state)
    purchases.addData(Ev(200, 1, 5000L + w))
    q.processAllAvailable()
    // batch 2: the click lands → the buffered purchase matches at the
    // EXACT window boundary (lag == AttributionMs, inclusive)
    clicks.addData(Ev(100, 1, 5000L))
    q.processAllAvailable()
    // batch 3: outside the window by 1ms / wrong user / purchase BEFORE click
    purchases.addData(Ev(201, 1, 5001L + w), Ev(202, 2, 6000L), Ev(203, 1, 4999L))
    q.processAllAvailable()
    val out = spark.table("join_out").as[(Long, Long, Long, Long)].collect().toSet
    q.stop()
    assert(out == Set((1L, 100L, 200L, w)),
      s"expected exactly the boundary match, got $out")
  }

  test("checkpoint recovery: dedup state survives a query restart (exactly-once across runs)") {
    import spark.implicits._
    // The production crash-recovery contract: run 1 drains two files and
    // STOPS; run 2 is a NEW query on the SAME checkpoint over two more
    // files whose contents duplicate run 1's — those rows can only be
    // dropped if the RocksDB state store restored from the checkpoint.
    val scratch = java.nio.file.Files.createTempDirectory("graft_ckpt_recovery_")
    val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    def landFile(idx: Int, rows: Seq[(Long, String, Long)]): Unit = {
      val tmp = scratch.resolve(s"tmp$idx")
      rows.toDF("doc_id", "text", "event_ms").coalesce(1).write.parquet(tmp.toString)
      val listing = java.nio.file.Files.list(tmp)
      try {
        val it = listing.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (p.getFileName.toString.endsWith(".parquet")) {
            val dst = inDir.resolve(f"f$idx%02d.parquet")
            java.nio.file.Files.move(p, dst)
            require(dst.toFile.setLastModified(60000L * (idx + 1)))
          }
        }
      } finally listing.close()
    }
    ReplayHarness.replay(spark, 4, andThen = () => graft.Fs.rmTree(scratch)) { (spark, register) =>
      def drain(name: String): Seq[(Long, String)] = {
        // foreachBatch, not the memory sink: memory does not support
        // checkpoint recovery — recovery IS the thing under test
        val buf = java.util.Collections.synchronizedList(new java.util.ArrayList[(Long, String)]())
        val q = StreamDedup.dedup(
          spark.readStream.schema("doc_id LONG, text STRING, event_ms LONG")
            .option("maxFilesPerTrigger", "1").parquet(inDir.toString).as[StreamDedup.Doc],
          "7 days")
          .writeStream.queryName(name).outputMode("append")
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            batch.select($"doc_id", $"text_hash").as[(Long, String)].collect().foreach(buf.add)
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", scratch.resolve("ckpt").toString)
          .start()
        register(q)
        try q.awaitTermination() finally q.stop()
        import scala.jdk.CollectionConverters._
        buf.asScala.toSeq
      }
      val t = (i: Long) => s"checkpoint recovery doc $i"
      landFile(0, (0L until 10L).map(i => (i, t(i), 1000000L + i)))
      landFile(1, (10L until 20L).map(i => (i, t(i), 1000000L + i)))
      val run1 = drain(s"ckpt_run1_${System.nanoTime()}")
      assert(run1.map(_._1).sorted == (0L until 20L), s"run 1 should emit all 20 originals: $run1")
      // run 2: 18 duplicates of run-1 docs + 2 genuinely new — state must
      // have survived the restart for the 18 to be dropped
      landFile(2, (100L until 110L).map(i => (i, t(i - 100L), 1000000L + (i - 100L))))
      landFile(3, ((110L until 118L).map(i => (i, t(i - 100L), 1000000L + (i - 100L)))
        ++ Seq((118L, t(900L), 1000018L), (119L, t(901L), 1000019L))))
      val run2 = drain(s"ckpt_run2_${System.nanoTime()}")
      assert(run2.map(_._1).sorted == Seq(118L, 119L),
        s"state lost across restart — duplicates re-emitted: ${run2.sortBy(_._1)}")
      // and the union equals the batch first-seen oracle over all 40 rows
      assert((run1 ++ run2).map(_._1).toSet == ((0L until 20L) ++ Seq(118L, 119L)).toSet)
    }
  }

  test("stream_asof replay equals the batch as-of join row for row") {
    val stream = graft.streaming.StreamAsof.streamAsof(spark, sf).collect().toSeq
    val batch = graft.queries.Analytics.asofJoin(spark, sf).collect().toSeq
    assert(stream.nonEmpty && stream == batch,
      s"stream/batch as-of diverged: ${stream.take(3)} vs ${batch.take(3)}")
  }

  test("stream_asof state is one row per user: same-ms view visible across a batch boundary") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamAsof.{TEv, asof}
    val input = MemoryStream[TEv]
    val name = s"asof_edge_${System.nanoTime()}"
    val q = asof(input.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // batch 1: view at ts 100; batch 2: purchase at the SAME ts —
      // visibility must survive the state round trip
      input.addData(TEv(1L, 100L, 10L, is_probe = false)); q.processAllAvailable()
      input.addData(TEv(1L, 100L, 11L, is_probe = true)); q.processAllAvailable()
      // batch 3: later view supersedes, next purchase sees it
      input.addData(TEv(1L, 150L, 12L, is_probe = false),
        TEv(1L, 160L, 13L, is_probe = true)); q.processAllAvailable()
      val out = spark.table(name)
        .as[(Long, Long, Long, Option[Long], Option[Long])].collect().toSet
      assert(out == Set(
        (11L, 1L, 100L, Some(10L), Some(100L)),
        (13L, 1L, 160L, Some(12L), Some(150L))), s"got $out")
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
      org.apache.spark.sql.graftbridge.StateStoreBridge.unloadAll()
    }
  }

  test("stream_topk: chained stateful aggs, append-once per closed window, heap ≡ window rank") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = StreamTopk.streamTopk(spark, sf)
      .as[(Long, Int, Long, Long)].collect().toSeq
    // batch recomputation: per-day per-user counts, watermark cutoff, top-K
    // by (n DESC, user ASC)
    val ev = graft.Tables(spark, sf).events
      .select($"user_id", $"ts_ms").as[(Long, Long)].collect()
    val wmCut = ev.map(_._2).max - StreamTopk.DelayMs
    val expected = ev
      .map { case (u, ms) => ((ms / StreamTopk.WindowMs) * StreamTopk.WindowMs, u) }
      .filter { case (ws, _) => ws + StreamTopk.WindowMs <= wmCut } // open window never emits
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((ws, u), n) => (ws, u, n) }
      .groupBy(_._1).toSeq.flatMap { case (ws, rows) =>
        rows.sortBy { case (_, u, n) => (-n, u) }.take(StreamTopk.K)
          .zipWithIndex.map { case ((_, u, n), i) => (ws, i + 1, u, n) }
      }.sortBy(r => (r._1, r._2))
    assert(got == expected, "streamed top-k must equal the batch recomputation")
    // the corpus's final (still-open) window must be absent
    val lastWs = (ev.map(_._2).max / StreamTopk.WindowMs) * StreamTopk.WindowMs
    assert(!got.exists(_._1 == lastWs), "open window leaked into append output")
    assert(got.groupBy(_._1).values.forall(_.size <= StreamTopk.K))
  }
}

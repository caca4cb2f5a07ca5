package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming CHECKPOINT-RECOVERY evidence (r10 verdict item 5): for one
  * stateful query per state shape — sketch registers (№143's HLL),
  * per-key running aggregates (№152's CDC sums + lexicographic-max
  * structs), and watermarked append windows (№153) — KILL a live replay
  * mid-stream (`StreamingQuery.stop()` after ≥2 data micro-batches, with
  * input still unconsumed), restart a fresh query from the SAME
  * checkpoint, and pin the final answer ≡ the uninterrupted run's.
  *
  * What this proves beyond the per-op stream ≡ batch specs: the state
  * store's crash story — committed state versions survive the kill, the
  * in-flight batch replays against the LAST COMMITTED version (no
  * double-count into non-idempotent sums), and the checkpointed
  * watermark resumes instead of rewinding (a rewind would re-admit
  * dropped late rows and change the append output).
  *
  * Kill timing: polling stop() races query completion, so each scenario
  * retries (fresh checkpoint) until the stop landed while input remained
  * — the assertion `killed before consuming all bands` is structural,
  * never assumed. */
class CheckpointRecoverySpec extends SparkSpec {
  import spark.implicits._

  private val Bands = 8

  /** Land `df` as [[Bands]] one-file bands with strictly increasing
    * mtimes (the №36d file-order determinism contract). */
  private def land(df: DataFrame, scratch: java.nio.file.Path, bandCol: String): java.nio.file.Path = {
    val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    (0 until Bands).foreach { i =>
      val bandDir = scratch.resolve(s"band$i")
      df.filter(col(bandCol) % Bands === i).coalesce(1).write.parquet(bandDir.toString)
      val listing = java.nio.file.Files.list(bandDir)
      try {
        val parts = listing.iterator()
        var j = 0
        while (parts.hasNext) {
          val p = parts.next()
          if (p.getFileName.toString.startsWith("part-") && p.getFileName.toString.endsWith(".parquet")) {
            val dst = inDir.resolve(f"band${i}_$j%03d.parquet")
            java.nio.file.Files.move(p, dst)
            require(dst.toFile.setLastModified(60000L * (i + 1) + j), s"setLastModified failed: $dst")
            j += 1
          }
        }
      } finally listing.close()
    }
    inDir
  }

  private def dataBatches(q: StreamingQuery): Int =
    q.recentProgress.count(_.numInputRows > 0)

  /** Start → stop after ≥2 data batches; true iff the kill landed while
    * the query was still active (input remained unconsumed). */
  private def killMidStream(start: () => StreamingQuery, register: StreamingQuery => Unit): (Boolean, Int) = {
    val q = start(); register(q)
    var polls = 0
    while (q.isActive && dataBatches(q) < 2 && polls < 3000) {
      Thread.sleep(10); polls += 1
    }
    val wasActive = q.isActive
    q.stop(); q.awaitTermination()
    (wasActive && dataBatches(q) < Bands, dataBatches(q))
  }

  /** One recovery scenario: `build` assembles the streaming DataFrame
    * from the landed dir; complete-mode rows (or append union) of the
    * RECOVERED run are compared by the caller. Retries until the kill
    * genuinely landed mid-stream. */
  private def recoveredRows(df: DataFrame, bandCol: String, build: DataFrame => DataFrame,
                            mode: String): (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) = {
    var attempt = 0
    var result: Option[(Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row])] = None
    while (result.isEmpty && attempt < 4) {
      attempt += 1
      val scratch = java.nio.file.Files.createTempDirectory("graft_ckpt_rec_")
      val name = s"ckpt_rec_${System.nanoTime()}"
      val nameB = s"${name}_b"
      val nameC = s"${name}_c"
      result = ReplayHarness.replay(spark, 8, andThen = () => graft.Fs.rmTree(scratch)) { (spark, register) =>
        val inDir = land(df, scratch, bandCol)
        def stream = spark.readStream.schema(df.schema.toDDL)
          .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
        // uninterrupted reference run (own checkpoint)
        val qa = build(stream).writeStream.format("memory").queryName(name)
          .outputMode(mode).trigger(Trigger.AvailableNow())
          .option("checkpointLocation", scratch.resolve("ckpt_ref").toString).start()
        register(qa); qa.awaitTermination()
        val reference = spark.table(name).collect().toSeq
        // killed run: same input, fresh checkpoint, stopped mid-stream
        val ckpt = scratch.resolve("ckpt_kill")
        val (killed, batchesBeforeKill) = killMidStream(() =>
          build(stream).writeStream.format("memory").queryName(nameB)
            .outputMode(mode).trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ckpt.toString).start(), register)
        val partial = spark.table(nameB).collect().toSeq
        if (!killed) None
        else {
          // RECOVERY: fresh query, SAME checkpoint — resumes committed
          // state + watermark, replays only uncommitted input
          val qc = build(stream).writeStream.format("memory").queryName(nameC)
            .outputMode(mode).trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ckpt.toString).start()
          register(qc); qc.awaitTermination()
          assert(batchesBeforeKill >= 2, s"killed after only $batchesBeforeKill data batches")
          assert(dataBatches(qc) >= 1, "recovered run processed nothing — the kill was vacuous")
          val rec = spark.table(nameC).collect().toSeq
          Some((reference,
            if (mode == "append") (partial ++ rec) else rec))
        }
      }
    }
    assert(result.nonEmpty, "could not land a mid-stream kill in 4 attempts")
    result.get
  }

  test("sketch-register state (HLL): killed + recovered registers ≡ uninterrupted, byte-for-byte") {
    val docs = graft.Tables(spark, sf).documents
      .select($"doc_id", $"source", $"text")
    val (ref, rec) = recoveredRows(docs, "doc_id", s =>
      s.select($"source", graft.queries.TextQueries.words($"text").as("ws"))
        .select($"source", explode(expr(graft.queries.TextQueries.TrigramCase)).as("sh"))
        .groupBy($"source")
        .agg(graft.functions.HyperLogLog.sketch($"sh", graft.queries.TextQueries.HllP).as("regs")),
      "complete")
    def key(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getSeq[Int](1))).sortBy(_._1)
    assert(key(rec) == key(ref), "recovered HLL registers diverge from the uninterrupted run")
  }

  test("per-key running aggregates (CDC shape): non-idempotent sums survive the kill without double-count") {
    val events = graft.Tables(spark, sf).events
      .select($"event_id", $"user_id", $"event_type", $"ts_ms")
    def shape(s: DataFrame): DataFrame = s.groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        max(struct($"ts_ms", $"event_id", $"event_type")).as("last"))
    val (ref, rec) = recoveredRows(events, "event_id", shape, "complete")
    def key(rows: Seq[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getLong(0), r.getLong(1), r.getStruct(2).toString)).sortBy(_._1)
    assert(key(rec) == key(ref), "recovered per-key state diverges — a batch double-counted or was lost")
    // and both equal the BATCH answer (the stream is an access path)
    val batch = shape(events).collect().toSeq
    assert(key(rec) == key(batch), "recovered state diverges from the batch aggregation")
  }

  test("windowed SKETCH state (№164's shape): killed + recovered per-window grids ≡ uninterrupted, byte-for-byte") {
    // the 4th state shape: a custom TypedImperativeAggregate buffer
    // (the dyadic grid) as WINDOWED append-mode state — the recovery
    // must restore serialized aggregate buffers, not just counters
    import graft.queries.Analytics.{VqDepth, VqLevels, VqWidth, VqMax}
    val events = graft.Tables(spark, sf).events
      .select($"event_id", $"ts_ms", $"value")
    def shape(s: DataFrame): DataFrame = s
      .withColumn("ts_utc", timestamp_millis($"ts_ms"))
      .withColumn("v", least(expr("CAST(round(value * 100 + 0.000000001) AS BIGINT)"), lit(VqMax.toLong)))
      .withWatermark("ts_utc", "1800 seconds")
      .groupBy(window($"ts_utc", "86400 seconds"))
      .agg(graft.functions.DyadicCountMin.sketch($"v", VqLevels, VqDepth, VqWidth).as("g"))
      .select(unix_millis($"window.start").as("ws"), $"g")
    var attempt = 0
    var result: Option[(Set[(Long, Seq[Long])], Set[(Long, Seq[Long])])] = None
    while (result.isEmpty && attempt < 4) {
      attempt += 1
      val scratch = java.nio.file.Files.createTempDirectory("graft_ckpt_rec_wq_")
      val name = s"ckpt_rec_wq_${System.nanoTime()}"
      result = ReplayHarness.replay(spark, 8, andThen = () => graft.Fs.rmTree(scratch)) { (spark, register) =>
        val inDir = land(events, scratch, "event_id")
        def stream = spark.readStream.schema(events.schema.toDDL)
          .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
        def sinkTo(path: java.nio.file.Path, ckpt: java.nio.file.Path) =
          shape(stream).writeStream.format("parquet")
            .option("path", path.toString).outputMode("append")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ckpt.toString)
        val refPath = scratch.resolve("out_ref")
        val qa = sinkTo(refPath, scratch.resolve("ckpt_ref")).start()
        register(qa); qa.awaitTermination()
        val ref = spark.read.parquet(refPath.toString)
          .as[(Long, Seq[Long])].collect().toSet
        val killPath = scratch.resolve("out_kill")
        val ckpt = scratch.resolve("ckpt_kill")
        val (killed, batchesBeforeKill) =
          killMidStream(() => sinkTo(killPath, ckpt).start(), register)
        if (!killed) None
        else {
          val qc = sinkTo(killPath, ckpt).start()
          register(qc); qc.awaitTermination()
          assert(batchesBeforeKill >= 2, s"killed after only $batchesBeforeKill data batches")
          assert(dataBatches(qc) >= 1, "recovered run processed nothing — the kill was vacuous")
          val rec = spark.read.parquet(killPath.toString)
            .as[(Long, Seq[Long])].collect().toSet
          Some((ref, rec))
        }
      }
    }
    assert(result.nonEmpty, "could not land a mid-stream kill in 4 attempts")
    val (ref, rec) = result.get
    assert(ref.nonEmpty, "no windows closed — scenario vacuous")
    assert(rec == ref,
      "recovered per-window grids diverge — serialized aggregate buffers did not survive the kill")
  }

  test("watermarked append windows: checkpointed watermark resumes; closed-window set ≡ uninterrupted") {
    // append + recovery needs a FAULT-TOLERANT sink (the memory sink
    // refuses to resume a checkpoint): the parquet file sink, whose
    // commit log also makes the read-back exactly-once — the kill run
    // and its recovery land in ONE sink directory, read once at the end
    val events = graft.Tables(spark, sf).events
      .select($"event_id", $"user_id", $"event_type", $"ts_ms")
    def shape(s: DataFrame): DataFrame = s
      .withColumn("ts_utc", timestamp_millis($"ts_ms"))
      .withWatermark("ts_utc", "30 seconds")
      .groupBy(window($"ts_utc", "60 seconds"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_millis($"window.start").as("ws"), $"n_events")
    var attempt = 0
    var result: Option[(Set[(Long, Long)], Set[(Long, Long)])] = None
    while (result.isEmpty && attempt < 4) {
      attempt += 1
      val scratch = java.nio.file.Files.createTempDirectory("graft_ckpt_rec_wm_")
      val name = s"ckpt_rec_wm_${System.nanoTime()}"
      result = ReplayHarness.replay(spark, 8, andThen = () => graft.Fs.rmTree(scratch)) { (spark, register) =>
        val inDir = land(events, scratch, "event_id")
        def stream = spark.readStream.schema(events.schema.toDDL)
          .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
        def sinkTo(path: java.nio.file.Path, ckpt: java.nio.file.Path) =
          shape(stream).writeStream.format("parquet")
            .option("path", path.toString).outputMode("append")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ckpt.toString)
        val refPath = scratch.resolve("out_ref")
        val qa = sinkTo(refPath, scratch.resolve("ckpt_ref")).start()
        register(qa); qa.awaitTermination()
        val ref = spark.read.parquet(refPath.toString)
          .as[(Long, Long)].collect().toSet
        val killPath = scratch.resolve("out_kill")
        val ckpt = scratch.resolve("ckpt_kill")
        val (killed, batchesBeforeKill) =
          killMidStream(() => sinkTo(killPath, ckpt).start(), register)
        if (!killed) None
        else {
          val qc = sinkTo(killPath, ckpt).start()
          register(qc); qc.awaitTermination()
          assert(batchesBeforeKill >= 2, s"killed after only $batchesBeforeKill data batches")
          assert(dataBatches(qc) >= 1, "recovered run processed nothing — the kill was vacuous")
          val rec = spark.read.parquet(killPath.toString)
            .as[(Long, Long)].collect().toSet
          Some((ref, rec))
        }
      }
    }
    assert(result.nonEmpty, "could not land a mid-stream kill in 4 attempts")
    val (ref, rec) = result.get
    // a watermark rewind (re-closing a window with fewer rows), a lost
    // emission, or a duplicated epoch all diverge the committed set
    assert(rec == ref, "recovered closed-window set diverges from the uninterrupted run")
    assert(ref.nonEmpty, "no windows closed — the watermark never advanced; scenario vacuous")
  }

  test("frozen-model encode state (№170's shape): killed + recovered codes ≡ uninterrupted ≡ batch encode") {
    // the 5th state shape: a stream-static broadcast join feeding
    // per-key max_by state — recovery must not re-encode a committed
    // arrival (duplicate rows in complete mode would fork the codes) nor
    // lose one mid-batch
    import graft.queries.VectorQueries
    val (model, _, d, _, _, batch) = VectorQueries.ivfPqIngestContext(spark, sf)
    // hash-banding: arrivals' vec_id ≡ 0 (mod 20) covers only 2 residues
    // of % 8 — a derived band column keeps all 8 bands populated so the
    // kill window is wide enough to land reliably
    val banded = batch.withColumn("band", pmod(hash($"vec_id"), lit(Bands)))
    val (ref, rec) = recoveredRows(banded, "band", s =>
      VectorQueries.encodeCells(s, model, VectorQueries.PquM, d),
      "complete")
    def key(rows: Seq[org.apache.spark.sql.Row]) = rows.map(_.toSeq).sortBy(_.head.toString)
    assert(key(rec) == key(ref), "recovered codes diverge from the uninterrupted run")
    // and ≡ the batch encode: the stream+recovery is an access path
    val batchCodes = VectorQueries.encodeCells(batch, model, VectorQueries.PquM, d).collect().toSeq
    graft.CacheRegistry.releaseAll(spark)
    assert(key(rec) == key(batchCodes), "recovered codes diverge from the batch encode")
  }
}

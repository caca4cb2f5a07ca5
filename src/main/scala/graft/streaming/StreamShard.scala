package graft.streaming

import graft.queries.{PipelineQueries, TextQueries}
import graft.queries.PipelineQueries.{hex8, packOffsets, seqContent, shardKeyed, shardPos, spanKeys}
import graft.sources.{ShardIncrement, TrainShardSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** THE SHARD STORE'S LIFECYCLE AS A STREAM (№221 `stream_shard`) — the
  * third store gets what №200/№203/№217 gave the other two: arrivals AND
  * a forget manifest as events on ONE stream against the packed-shard
  * files, under the №220 append-only discipline taken to its limit —
  * across the WHOLE lifecycle (two arrival generations, then a forget)
  * NOT ONE FILE IS EVER REWRITTEN. Arrivals land as gen-b files (№220's
  * supersede-at-original-pos for boundary sequences, fresh positions past
  * the shard's running max for new ones); the forget lands as TOMBSTONE
  * lines (n_tokens = 0, empty docs) superseding the contaminated
  * sequences at their keys — the reference's delete model exactly (an
  * HBase delete IS a tombstone cell that wins the version race;
  * HBaseResultProcessor.kt's live-cells-only read drops it), where №218
  * deletes the same content by rewriting files.
  *
  * The per-batch serve is №176's prefix visibility on the loader view:
  * read every file back, resolve LAST-WRITER-WINS per (bin, seq_id),
  * drop tombstones — serve b sees exactly the packing of base ∪ arrival
  * batches ≤ b, minus (after the forget) the span-contaminated keys. The
  * chains are real and pinned: an A1-created tail sequence superseded
  * again by A2 (three-generation key), and a tombstone landing on an
  * ARRIVAL-created key (the forget reaches content that only ever
  * existed post-stream).
  *
  * Offsets are a pure function of (doc, batch): ONE per-bin window
  * ordered by (batch, md5(doc_id), doc_id) gives base offsets and both
  * tail-appends at once — which is what makes the closed-form oracle
  * possible: every stage's visible content, position and generation is
  * relational, no replay state.
  *
  * At 100 TB: each batch writes O(batch) lines to ≤ Shards new files,
  * the key registry the positions need is sequence-count-sized but only
  * its per-shard MAX rides the driver (a Shards-sized frame), the serve
  * is one scan + one window, and the forget is a broadcast manifest join
  * — the stream adds ordering, not scaling terms; the dead bytes it
  * leaves (superseded + tombstoned lines) are №215's compaction slot.
  *
  * Output: (after_batch, shard, pos, bin, seq_id, n_tokens, docs, gen,
  * n_raw_lines, n_tombstones) — the resolved loader view after each of
  * the three events plus the raw-line/tombstone bill. */
object StreamShard {

  /** Spec diagnostics: per-stage metadata censuses (name → (size,
    * mtime)) and per-stage raw line counts. */
  private[graft] final case class ShardStreamCensus(
      batches: Int,
      files: Map[Long, Map[String, (Long, Long)]],
      rawLines: Map[Long, Long])

  def streamShard(spark: SparkSession, dir: String): DataFrame =
    streamShardWithCensus(spark, dir)._1

  private[graft] def streamShardWithCensus(
      spark: SparkSession, dir: String): (DataFrame, ShardStreamCensus) = {
    import spark.implicits._
    val SH = ShardIncrement.Shards
    // batch 0 = base, 1/2 = the arrival halves ((doc_id DIV 40) % 2 —
    // independent of both the bin mod and the arrival mod), forget
    // manifest = №218's residue over ALL docs (so it reaches
    // arrival-created keys too)
    val batchCol = when(PipelineQueries.incBatch === 0, 0)
      .when(pmod(expr("doc_id DIV 40"), lit(2)) === 0, 1).otherwise(2)
    // ONE window: per bin, ordered by (batch, hash) — base offsets and
    // both tail-appends in a single pass
    val off = graft.CacheRegistry.track(packOffsets(PipelineQueries.docTokens(spark, dir)
        .withColumn("batch", batchCol))
      .persist())
    // cumulative content of a key up to batch b: docs STARTING in it
    def contentUpTo(b: Int): DataFrame = seqContent(off.filter($"batch" <= b))
    val root = graft.Fs.storeDir("streamshard", dir).toString
    def writeGen(g: Int, f: DataFrame): Unit =
      TrainShardSink.writeLines(TrainShardSink.lineOf(f), root, SH, TrainShardSink.genFile(g))
    // gen 0: base pack, plain №68 names
    val l0 = graft.CacheRegistry.track(shardKeyed(contentUpTo(0), SH)
      .withColumn("pos", shardPos())
      .select($"shard", $"pos", $"bin", $"seq_id", $"n_tokens", $"docs").persist())
    TrainShardSink.write(TrainShardSink.lineOf(l0), root, SH)

    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_shard_")
    val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val name = s"stream_shard_${System.nanoTime()}"
    val results = scala.collection.mutable.ArrayBuffer.empty[
      (Long, Int, Long, Long, Long, Long, String, Int, Long, Long)]
    val files = scala.collection.mutable.Map.empty[Long, Map[String, (Long, Long)]]
    val rawLines = scala.collection.mutable.Map.empty[Long, Long]
    // the key registry: every key's (shard, pos, first gen) so far —
    // grown per batch from the batch's own new keys
    var keysSoFar: DataFrame = l0.select($"shard", $"pos", $"bin", $"seq_id")
    // the batches' grown registries, released when the replay ends
    val grown = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var batches = -1
    ReplayHarness.replay(spark, 8, andThen = () => {
      graft.CacheRegistry.release(grown)
      graft.Fs.rmTree(scratch); graft.Fs.rmTree(java.nio.file.Paths.get(root))
    }) { (spark, register) =>
      ReplayHarness.landBands(scratch, inDir, Seq(
        off.filter($"batch" === 1).select($"doc_id", lit(0L).as("kind")).coalesce(1),
        off.filter($"batch" === 2).select($"doc_id", lit(0L).as("kind")).coalesce(1),
        off.filter(pmod($"doc_id", lit(graft.sources.ShardForget.ForgetMod)) ===
            graft.sources.ShardForget.ForgetRes)
          .select($"doc_id", lit(1L).as("kind")).coalesce(1)))
      val stream = spark.readStream
        .schema("doc_id LONG, kind LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
      val q = stream.writeStream
        .foreachBatch { (bdf: DataFrame, id: Long) =>
          val gen = id.toInt + 1
          val isManifest = bdf.agg(max(col("kind"))).collect()(0).getLong(0) == 1L
          val ids = bdf.select(col("doc_id"))
          if (!isManifest) {
            // ARRIVAL: keys this batch's docs start in; supersedes carry
            // the key's CUMULATIVE content, new keys take positions past
            // the shard's running max (a Shards-sized broadcast)
            val touched = off.join(ids, Seq("doc_id"), "left_semi")
              .select($"bin", $"seq_id").distinct()
            val content = contentUpTo(gen).join(touched, Seq("bin", "seq_id"), "left_semi")
            val sup = content.join(keysSoFar.select($"shard", $"pos", $"bin", $"seq_id"),
              Seq("bin", "seq_id"))
            val mx = keysSoFar.groupBy($"shard").agg(max($"pos").as("mx"))
            val fresh = shardKeyed(content.join(keysSoFar.select($"bin", $"seq_id"),
                Seq("bin", "seq_id"), "left_anti"), SH)
              .join(broadcast(mx), Seq("shard"), "left")
              .withColumn("pos", coalesce($"mx", lit(0L)) + shardPos())
            writeGen(gen, sup.select($"shard", $"pos", $"bin", $"seq_id", $"n_tokens", $"docs")
              .unionAll(fresh.select($"shard", $"pos", $"bin", $"seq_id", $"n_tokens", $"docs")))
            keysSoFar = keysSoFar.unionAll(
              fresh.select($"shard", $"pos", $"bin", $"seq_id")).persist()
            grown += keysSoFar
            keysSoFar.count()
          } else {
            // FORGET: tombstones supersede every span-contaminated
            // EXISTING key at its registered (shard, pos)
            val doomed = spanKeys(off.join(ids, Seq("doc_id"), "left_semi"))
            writeGen(gen, keysSoFar.join(doomed, Seq("bin", "seq_id"), "left_semi")
              .select($"shard", $"pos", $"bin", $"seq_id",
                lit(0L).as("n_tokens"), lit("").as("docs")))
          }
          // SERVE from the files: resolve last-writer-wins, drop tombstones
          val back = TrainShardSink.readBack(spark, root)
          val bill = back.agg(count(lit(1)).as("n_raw_lines"),
            sum(when($"n_tokens" === 0L, 1L).otherwise(0L)).as("n_tombstones"))
          TrainShardSink.resolve(back, dropTombstones = true)
            .crossJoin(broadcast(bill)).collect().foreach { r =>
            results += ((id, r.getAs[Int]("shard"), r.getAs[Long]("pos"),
              r.getAs[Long]("bin"), r.getAs[Long]("seq_id"),
              r.getAs[Long]("n_tokens"), r.getAs[String]("docs"), r.getAs[Int]("gen"),
              r.getAs[Long]("n_raw_lines"), r.getAs[Long]("n_tombstones")))
          }
          files(id) = TrainShardSink.fileCensus(spark, root)
          // from the serve's own bill — never a second store scan
          rawLines(id) = results.reverseIterator.find(_._1 == id).map(_._9).getOrElse(0L)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .start()
      register(q)
      q.awaitTermination()
      batches = q.recentProgress.count(_.numInputRows > 0)
    }
    val df = results.toSeq
      .toDF("after_batch", "shard", "pos", "bin", "seq_id", "n_tokens", "docs", "gen",
        "n_raw_lines", "n_tombstones")
      .orderBy($"after_batch", $"shard", $"pos")
    (df, ShardStreamCensus(batches, files.toMap, rawLines.toMap))
  }

  /** The closed-form twin: offsets from the ONE (batch, hash)-ordered
    * window, positions from the ONE (first_gen, hash)-ordered window,
    * per-stage visible content relationally. */
  val streamShardSql: String = {
    val L = PipelineQueries.SeqLen
    val bins = PipelineQueries.PackBins
    val SH = ShardIncrement.Shards
    val fm = graft.sources.ShardForget.ForgetMod
    val fr = graft.sources.ShardForget.ForgetRes
    def stage(s: Int): String = {
      val b = math.min(s + 1, 2) // visible arrival batches after event s
      val doomFilter = if (s == 2) "ANTI JOIN ssh_doomk USING (bin, seq_id)" else ""
      // raw lines on disk after event s: gen-0 keys + per-arrival touched
      // keys + (s=2) tombstones
      val raw = (Seq("(SELECT count(*) FROM ssh_k WHERE first_gen = 0)") ++
        (1 to b).map(g => s"(SELECT count(*) FROM ssh_t WHERE batch = $g)") ++
        (if (s == 2) Seq("(SELECT count(*) FROM ssh_doomk)") else Nil)).mkString(" + ")
      val tombs = if (s == 2) "(SELECT count(*) FROM ssh_doomk)" else "0"
      s"""SELECT CAST($s AS BIGINT) AS after_batch, k.shard, k.pos, c.bin, c.seq_id,
         |  c.n_tokens, c.docs,
         |  CAST((SELECT coalesce(max(batch), 0) FROM ssh_o o
         |        WHERE o.bin = c.bin AND o.start_off // $L = c.seq_id AND o.batch <= $b) AS INT) AS gen,
         |  CAST($raw AS BIGINT) AS n_raw_lines,
         |  CAST($tombs AS BIGINT) AS n_tombstones
         |FROM (
         |  SELECT bin, seq_id, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY start_off, doc_id) AS docs
         |  FROM ssh_o WHERE batch <= $b GROUP BY bin, seq_id) c
         |JOIN ssh_k k USING (bin, seq_id) $doomFilter""".stripMargin
    }
    s"""WITH ssh_d AS (
       |  SELECT doc_id, doc_id % $bins AS bin,
       |    CAST(len(${TextQueries.wordsSql("text")}) AS BIGINT) AS n_tok,
       |    CASE WHEN doc_id % ${PipelineQueries.IncArrMod} <> ${PipelineQueries.IncArrRes} THEN 0
       |         WHEN (doc_id // 40) % 2 = 0 THEN 1 ELSE 2 END AS batch
       |  FROM documents),
       |ssh_o AS (
       |  SELECT doc_id, bin, n_tok, batch,
       |    CAST(sum(n_tok) OVER (PARTITION BY bin ORDER BY batch, md5(CAST(doc_id AS VARCHAR)), doc_id
       |                          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_off,
       |    CAST(sum(n_tok) OVER (PARTITION BY bin ORDER BY batch, md5(CAST(doc_id AS VARCHAR)), doc_id
       |                          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) // $L AS seq_id
       |  FROM ssh_d),
       |ssh_kh AS (
       |  SELECT bin, seq_id, CAST(min(batch) AS INT) AS first_gen,
       |    md5(CAST(bin AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR)) AS hk
       |  FROM ssh_o GROUP BY bin, seq_id),
       |ssh_k AS (
       |  SELECT bin, seq_id, first_gen, CAST($hex8 % $SH AS INT) AS shard,
       |    CAST(row_number() OVER (PARTITION BY $hex8 % $SH
       |      ORDER BY first_gen, hk, bin, seq_id) AS BIGINT) AS pos
       |  FROM ssh_kh),
       |ssh_t AS (SELECT DISTINCT bin, seq_id, batch FROM ssh_o),
       |ssh_doomcov AS (
       |  SELECT DISTINCT f.bin, CAST(u.sq AS BIGINT) AS seq_id
       |  FROM (SELECT * FROM ssh_o WHERE doc_id % $fm = $fr) f,
       |    UNNEST(range(f.start_off // $L, (f.start_off + f.n_tok - 1) // $L + 1)) AS u(sq)),
       |ssh_doomk AS (
       |  SELECT k.bin, k.seq_id FROM ssh_k k SEMI JOIN ssh_doomcov USING (bin, seq_id))
       |${(0 to 2).map(stage).mkString("\nUNION ALL\n")}
       |ORDER BY after_batch, shard, pos""".stripMargin
  }
}

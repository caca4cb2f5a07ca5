package graft.sources

import graft.queries.{PipelineQueries, TextQueries}
import graft.queries.PipelineQueries.{hex8, packOffsets, seqContent, shardKeyed, shardPos, spanKeys}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** COMPACT THE SHARD GENERATIONS (№222 `shard_compact`) — the №215/№216
  * consolidation leg for the third store, with a sharper reason to exist
  * than footer pressure: under the №220/№221 append-only discipline a
  * forget is a TOMBSTONE — logical deletion. The forgotten content is
  * still physically on disk in the superseded generations, and
  * `n_forgot_raw` bills that compliance exposure line by line; only
  * compaction completes the forget PHYSICALLY. S2 proves n_forgot_raw=0:
  * no byte of a manifest doc survives anywhere in the store.
  *
  * The store: gen-0 base pack + gen-1 arrival increment (№220's
  * supersede/new split) + gen-2 tombstones for the span-contaminated
  * keys (№218's manifest, №221's delete model). Compaction in the
  * object-store-safe order (№215's theorem): S0 serve the three
  * generations; C-WRITE one consolidated gen-3 file per shard carrying
  * exactly the RESOLVED lines at their existing positions (snapshot the
  * old file list first); S1 serve the OVERLAP — raw lines inflate by
  * exactly the consolidation bill while the resolved view is BYTE-EQUAL
  * (for surviving keys the gen-3 line duplicates the winner, and a
  * tombstoned key has no gen-3 line so its tombstone still wins — the
  * same last-writer-wins that makes the store readable makes lock-free
  * write-then-delete compaction safe); C-DELETE exactly the snapshotted
  * old files; S2 serve gen-3 alone — view unchanged, raw == resolved
  * (zero dead lines), one file per non-empty shard.
  *
  * At 100 TB: the consolidated write is resolved-store-sized but runs in
  * a scheduled slot (№117), the delete is metadata, and serving never
  * pauses — S1 is the in-flight state, not a lock.
  *
  * Output: the per-stage resolved view (stage, shard, pos, bin, seq_id,
  * n_tokens, docs) + the stage bills (n_raw_lines, n_files, n_dead_lines,
  * n_forgot_raw); closed-form oracle — a moved position, a resurrected
  * tombstone, a missed delete or a surviving forgotten byte all diverge. */
object ShardCompact {

  val Shards = ShardIncrement.Shards

  /** Spec diagnostics: per-stage file censuses and the raw read-back's
    * manifest-doc line count per stage (from the serve's scan). */
  private[graft] final case class CompactShardDetail(
      files: Map[Int, Map[String, (Long, Long)]],
      forgotRaw: Map[Int, Long])

  def shardCompact(spark: SparkSession, dir: String): DataFrame =
    shardCompactWithDetail(spark, dir)._1

  private[graft] def shardCompactWithDetail(
      spark: SparkSession, dir: String): (DataFrame, CompactShardDetail) = {
    import spark.implicits._
    // №220's two-phase corpus: base (batch 0) + one arrival batch (1)
    val off = graft.CacheRegistry.track(packOffsets(PipelineQueries.docTokens(spark, dir)
      .withColumn("batch", PipelineQueries.incBatch)).persist())
    def contentUpTo(b: Int): DataFrame = seqContent(off.filter($"batch" <= b))
    // every key's (shard, pos): №221's one (first_gen, hash) window
    val keys = graft.CacheRegistry.track(shardKeyed(
        off.groupBy($"bin", $"seq_id").agg(min($"batch").as("first_gen")), Shards)
      .withColumn("pos", shardPos($"first_gen"))
      .select($"shard", $"pos", $"bin", $"seq_id", $"first_gen")
      .persist())
    val root = rootOf(dir)
    def lineOf(f: DataFrame): DataFrame = TrainShardSink.lineOf(
      f.join(keys.select($"shard", $"pos", $"bin", $"seq_id"), Seq("bin", "seq_id")))
    def writeGen(g: Int, f: DataFrame): Unit =
      TrainShardSink.writeLines(lineOf(f), root, Shards, TrainShardSink.genFile(g))
    // gen 0 + gen 1 (№220), gen 2 tombstones (№218's manifest)
    TrainShardSink.write(lineOf(contentUpTo(0)), root, Shards)
    writeGen(1, contentUpTo(1).join(
      off.filter($"batch" === 1).select($"bin", $"seq_id").distinct(), Seq("bin", "seq_id"), "left_semi"))
    val manifest = off.filter(pmod($"doc_id", lit(ShardForget.ForgetMod)) === ShardForget.ForgetRes)
    val doomed = graft.CacheRegistry.track(spanKeys(manifest)
      .join(keys.select($"bin", $"seq_id"), Seq("bin", "seq_id"), "left_semi")
      .persist())
    writeGen(2, doomed.select($"bin", $"seq_id", lit(0L).as("n_tokens"), lit("").as("docs")))

    // the resolved loader view — stage-invariant by construction; the
    // drill proves the FILES agree at every stage
    val resolved = graft.CacheRegistry.track(contentUpTo(1)
      .join(doomed, Seq("bin", "seq_id"), "left_anti")
      .join(keys.select($"shard", $"pos", $"bin", $"seq_id"), Seq("bin", "seq_id"))
      .select($"shard", $"pos", $"bin", $"seq_id", $"n_tokens", $"docs")
      .persist())

    val files = scala.collection.mutable.Map.empty[Int, Map[String, (Long, Long)]]
    val forgotRaw = scala.collection.mutable.Map.empty[Int, Long]
    // scalar bills only ever reach the driver — the resolved VIEW stays
    // distributed (it is stage-invariant by construction; the drill's
    // per-stage evidence is the bills + the file censuses)
    val stageBills = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
    // the manifest's doc-id set rides the serve as a literal array flag —
    // manifest-bounded (it IS the forget request's size)
    val manifestArr = {
      val ids = manifest.select($"doc_id".cast("string")).distinct().collect().map(_.getString(0))
      array(ids.map(lit(_)).toIndexedSeq: _*)
    }
    val nRes = resolved.count()
    def serve(stage: Int): Unit = {
      val back = TrainShardSink.readBack(spark, root)
      // a raw line physically carries a forgotten doc iff the doc id is
      // in its docs list — billed on the same scan as the raw census
      val billRow = back.agg(count(lit(1)).as("n_raw_lines"),
          sum(when(size(array_intersect(split($"docs", ","), manifestArr)) > 0, 1L)
            .otherwise(0L)).as("n_forgot_raw"))
        .collect()(0)
      val nRaw = billRow.getAs[Long]("n_raw_lines")
      val nForgot = billRow.getAs[Long]("n_forgot_raw")
      files(stage) = TrainShardSink.fileCensus(spark, root)
      forgotRaw(stage) = nForgot
      stageBills += ((stage.toLong, nRaw, files(stage).size.toLong, nRaw - nRes, nForgot))
    }
    // S0: three generations on disk
    serve(0)
    // C-WRITE: snapshot the old files, land one consolidated gen-3 file
    // per shard from the CACHED resolved frame
    val oldFiles = TrainShardSink.fileCensus(spark, root).keySet
    TrainShardSink.writeLines(TrainShardSink.lineOf(resolved), root, Shards,
      TrainShardSink.genFile(3))
    // S1: the overlap — the in-flight state a lock-free reader sees
    serve(1)
    // C-DELETE: exactly the snapshot
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    oldFiles.foreach(n => fs.delete(new Path(s"$root/shards/$n"), false))
    // S2: gen-3 alone — the view must hold with the sources gone, so the
    // output frame reads the RESOLVED rows from the store's survivors
    serve(2)
    val bills = stageBills.toSeq
      .toDF("stage", "n_raw_lines", "n_files", "n_dead_lines", "n_forgot_raw")
    val finalView = graft.CacheRegistry.track(
      TrainShardSink.readBack(spark, root)
        .select($"shard", $"pos", $"bin", $"seq_id", $"n_tokens", $"docs").persist())
    finalView.count() // materialize before the scratch root is removed
    val df = finalView.crossJoin(broadcast(bills))
      .select($"stage", $"shard", $"pos", $"bin", $"seq_id", $"n_tokens", $"docs",
        $"n_raw_lines", $"n_files", $"n_dead_lines", $"n_forgot_raw")
      .orderBy($"stage", $"shard", $"pos")
    graft.Fs.rmTree(java.nio.file.Paths.get(root))
    (df, CompactShardDetail(files.toMap, forgotRaw.toMap))
  }

  /** The drill's store root for input `dir`. */
  private[graft] def rootOf(dir: String): String = graft.Fs.storeDir("shardcpt", dir).toString

  /** Closed-form twin: №221's offsets/keys/doomed CTEs at the two-batch
    * corpus, one resolved view crossed with the three stage bills. */
  val shardCompactSql: String = {
    val L = PipelineQueries.SeqLen
    val bins = PipelineQueries.PackBins
    val SH = Shards
    val fm = ShardForget.ForgetMod
    val fr = ShardForget.ForgetRes
    // raw lines: g0 keys + batch-1 touched keys + tombstones (+ resolved at
    // s1; only resolved at s2); forgotten raw lines: g0/g1 lines of doomed
    // keys whose docs list carries a manifest doc
    s"""WITH scp_d AS (
       |  SELECT doc_id, doc_id % $bins AS bin,
       |    CAST(len(${TextQueries.wordsSql("text")}) AS BIGINT) AS n_tok,
       |    CASE WHEN doc_id % ${PipelineQueries.IncArrMod} = ${PipelineQueries.IncArrRes} THEN 1 ELSE 0 END AS batch
       |  FROM documents),
       |scp_o AS (
       |  SELECT doc_id, bin, n_tok, batch,
       |    CAST(sum(n_tok) OVER (PARTITION BY bin ORDER BY batch, md5(CAST(doc_id AS VARCHAR)), doc_id
       |                          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_off,
       |    CAST(sum(n_tok) OVER (PARTITION BY bin ORDER BY batch, md5(CAST(doc_id AS VARCHAR)), doc_id
       |                          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) // $L AS seq_id
       |  FROM scp_d),
       |scp_kh AS (
       |  SELECT bin, seq_id, CAST(min(batch) AS INT) AS first_gen,
       |    md5(CAST(bin AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR)) AS hk
       |  FROM scp_o GROUP BY bin, seq_id),
       |scp_k AS (
       |  SELECT bin, seq_id, first_gen, CAST($hex8 % $SH AS INT) AS shard,
       |    CAST(row_number() OVER (PARTITION BY $hex8 % $SH
       |      ORDER BY first_gen, hk, bin, seq_id) AS BIGINT) AS pos
       |  FROM scp_kh),
       |scp_doomcov AS (
       |  SELECT DISTINCT f.bin, CAST(u.sq AS BIGINT) AS seq_id
       |  FROM (SELECT * FROM scp_o WHERE doc_id % $fm = $fr) f,
       |    UNNEST(range(f.start_off // $L, (f.start_off + f.n_tok - 1) // $L + 1)) AS u(sq)),
       |scp_doomk AS (
       |  SELECT k.bin, k.seq_id, k.first_gen FROM scp_k k SEMI JOIN scp_doomcov USING (bin, seq_id)),
       |scp_t1 AS (SELECT DISTINCT bin, seq_id FROM scp_o WHERE batch = 1),
       |scp_res AS (
       |  SELECT k.shard, k.pos, c.bin, c.seq_id, c.n_tokens, c.docs
       |  FROM (
       |    SELECT bin, seq_id, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |      string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY start_off, doc_id) AS docs
       |    FROM scp_o GROUP BY bin, seq_id) c
       |  JOIN scp_k k USING (bin, seq_id)
       |  ANTI JOIN scp_doomk USING (bin, seq_id)),
       |scp_n AS (
       |  SELECT
       |    CAST((SELECT count(*) FROM scp_k WHERE first_gen = 0) AS BIGINT) AS g0,
       |    CAST((SELECT count(*) FROM scp_t1) AS BIGINT) AS g1,
       |    CAST((SELECT count(*) FROM scp_doomk) AS BIGINT) AS g2,
       |    CAST((SELECT count(*) FROM scp_res) AS BIGINT) AS res,
       |    -- physically-forgotten lines: every g0/g1 line of a doomed key
       |    -- carries the manifest doc that doomed it (or its collateral);
       |    -- a manifest doc's line memberships = keys it STARTS in, per gen
       |    CAST((SELECT count(*) FROM scp_doomk WHERE first_gen = 0) AS BIGINT) AS fg0,
       |    CAST((SELECT count(*) FROM scp_doomk SEMI JOIN scp_t1 USING (bin, seq_id)) AS BIGINT) AS fg1,
       |    -- files: distinct shards per generation
       |    CAST($SH AS BIGINT) AS f0,
       |    CAST((SELECT count(DISTINCT shard) FROM scp_k SEMI JOIN scp_t1 USING (bin, seq_id)) AS BIGINT) AS f1,
       |    CAST((SELECT count(DISTINCT shard) FROM scp_k SEMI JOIN scp_doomk USING (bin, seq_id)) AS BIGINT) AS f2,
       |    CAST((SELECT count(DISTINCT shard) FROM scp_res) AS BIGINT) AS f3),
       |scp_forgot AS (
       |  -- raw lines whose docs list carries a manifest doc, per generation:
       |  -- gen-0 lines = keys where a manifest doc starts with batch 0 rows
       |  -- visible; gen-1 lines = touched keys whose cumulative docs carry one
       |  SELECT
       |    CAST((SELECT count(DISTINCT k.bin || ':' || k.seq_id) FROM scp_o o JOIN scp_k k
       |          ON o.bin = k.bin AND o.seq_id = k.seq_id
       |          WHERE o.doc_id % $fm = $fr AND o.batch = 0) AS BIGINT) AS raw0,
       |    CAST((SELECT count(DISTINCT t.bin || ':' || t.seq_id) FROM scp_o o JOIN scp_t1 t
       |          ON o.bin = t.bin AND o.seq_id = t.seq_id
       |          WHERE o.doc_id % $fm = $fr) AS BIGINT) AS raw1)
       |SELECT s.stage, r.shard, r.pos, r.bin, r.seq_id, r.n_tokens, r.docs,
       |  s.n_raw_lines, s.n_files, s.n_raw_lines - n.res AS n_dead_lines, s.n_forgot_raw
       |FROM scp_res r CROSS JOIN scp_n n CROSS JOIN scp_forgot fg
       |CROSS JOIN (
       |  SELECT CAST(0 AS BIGINT) AS stage,
       |    (SELECT g0 + g1 + g2 FROM scp_n) AS n_raw_lines,
       |    (SELECT f0 + f1 + f2 FROM scp_n) AS n_files,
       |    (SELECT raw0 + raw1 FROM scp_forgot) AS n_forgot_raw
       |  UNION ALL SELECT 1,
       |    (SELECT g0 + g1 + g2 + res FROM scp_n),
       |    (SELECT f0 + f1 + f2 + f3 FROM scp_n),
       |    (SELECT raw0 + raw1 FROM scp_forgot)
       |  UNION ALL SELECT 2,
       |    (SELECT res FROM scp_n), (SELECT f3 FROM scp_n), 0) s
       |ORDER BY stage, shard, pos""".stripMargin
  }
}

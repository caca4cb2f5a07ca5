package graft.sources

import graft.queries.{PipelineQueries, TextQueries}
import graft.queries.PipelineQueries.{hex8, packOffsets, seqContent, shardKeyed, shardPos, spanKeys}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FORGET APPLIED TO PACKED TRAINING SHARDS (№218 `shard_forget`) — the
  * third persisted store's lifecycle leg: the №195 platform's forget
  * manifests (№192 vector store, №196 dedup index, №198 both) stop at
  * the serving stores, but a real right-to-be-forgotten request must
  * also leave the ALREADY-PACKED training shards (№68's gzip shard
  * files) — the artifact a training loader actually reads. Reference
  * analogue: an HBase delete propagating to the already-exported
  * snapshot files, not just the live table
  * (app/batch/HBaseResultProcessor.kt's live-cells-only contract applied
  * retroactively to the export's output).
  *
  * Semantics — DROP, not repack: a packed sequence is CONTAMINATED when
  * any token of a manifest doc lands in it — the doc STARTS there or
  * SPANS into it ((start_off+n_tok-1) DIV SeqLen reaches it; spanning
  * contamination is real at every gate SF, the spec pins a doomed
  * sequence the doc does not start in). Contaminated sequences leave
  * their shard files; surviving lines keep their ORIGINAL (shard, pos)
  * — a loader's resume offsets stay valid, the gaps are the tombstones.
  * The alternative (repacking the touched bins) would save the
  * collateral tokens but re-cut every sequence downstream of the first
  * doomed doc and scatter new (bin,seq) hashes across EVERY shard file;
  * the drill bills that trade as a measured dial instead of taking it:
  * `n_collateral_tokens` = surviving-doc tokens inside dropped sequences
  * = exactly what repack would recover.
  *
  * Bounded repair: only shard files holding ≥1 contaminated line are
  * rewritten (tmp + atomic rename, №68's task-commit protocol); the
  * untouched files are not reopened — ShardForgetSpec pins them
  * (size, mtime)-identical from the metadata census. A touched shard
  * whose lines are ALL contaminated writes no replacement and its file
  * is dropped (№196's emptied-generation lesson; exercised directly in
  * the spec via [[rewriteTouched]]).
  *
  * At 100 TB: the manifest is a broadcast id set, contamination is one
  * join against the packing offsets (per-bin windows, no global sort),
  * the touched-shard set is bounded by the constant shard count, and the
  * rewrite reads/writes only touched files — the forget costs
  * O(touched shards), never O(corpus).
  *
  * Output: read-back of the post-forget shard files (shard, pos, bin,
  * seq_id, n_tokens, docs) with the billing constants
  * (n_files_rewritten, n_seqs_dropped, n_tokens_dropped,
  * n_collateral_tokens) on every row; the DuckDB oracle rebuilds the
  * packing, the shard hash, the span-covering doomed set and the billing
  * closed-form, so a lost line, a broken rename, a start-only (span-
  * blind) contamination rule or a miscounted bill all diverge the hash. */
object ShardForget {

  /** More shards than №68's NShards=4: the bounded-repair story needs
    * untouched files to exist at the gate SFs (sf0.001: 6 of 16 touched). */
  val Shards = 16
  val ForgetMod = 97L
  val ForgetRes = 13L

  /** Spec diagnostics: metadata censuses (name → (size, mtime)) around
    * the rewrite — a directory listing each, never file reads — plus the
    * touched-shard set and the doomed (bin, seq_id) keys (manifest-
    * bounded). */
  private[graft] final case class ForgetShardDetail(
      before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)],
      touched: Set[Int],
      doomed: Set[(Long, Long)])

  def shardForget(spark: SparkSession, dir: String): DataFrame =
    shardForgetWithDetail(spark, dir)._1

  private[graft] def shardForgetWithDetail(
      spark: SparkSession, dir: String): (DataFrame, ForgetShardDetail) = {
    import spark.implicits._
    val off = graft.CacheRegistry.track(packOffsets(PipelineQueries.docTokens(spark, dir)).persist())
    val lines = graft.CacheRegistry.track(shardKeyed(seqContent(off), Shards)
      .withColumn("pos", shardPos())
      .select($"shard", $"pos", $"bin", $"seq_id", $"n_tokens", $"docs")
      .persist())
    val root = graft.Fs.storeDir("shardfgt", dir).toString
    JsonlSnapshotSink.registerScratchRoot(spark, root)
    TrainShardSink.write(TrainShardSink.lineOf(lines), root, Shards)
    val before = TrainShardSink.fileCensus(spark, root)
    val manifest = off.filter(pmod($"doc_id", lit(ForgetMod)) === ForgetRes)
    val doomed = graft.CacheRegistry.track(spanKeys(manifest).persist())
    val doomedLines = lines.join(doomed, Seq("bin", "seq_id"), "left_semi")
    // bounded: ≤ Shards values
    val touched = doomedLines.select($"shard").distinct()
      .collect().map(_.getInt(0)).toSet
    rewriteTouched(
      TrainShardSink.lineOf(lines.join(doomed, Seq("bin", "seq_id"), "left_anti")
        .filter($"shard".isin(touched.toSeq.map(Int.box): _*))),
      root, touched)
    val after = TrainShardSink.fileCensus(spark, root)
    // the bill, distributively: dropped mass from the doomed lines,
    // manifest mass from the offsets — collateral is their difference
    val summary = doomedLines
      .agg(count(lit(1)).as("n_seqs_dropped"),
        coalesce(sum($"n_tokens"), lit(0L)).as("n_tokens_dropped"))
      .crossJoin(broadcast(manifest.agg(coalesce(sum($"n_tok"), lit(0L)).as("fgt_tok"))))
      .select(lit(touched.size.toLong).as("n_files_rewritten"),
        $"n_seqs_dropped", $"n_tokens_dropped",
        ($"n_tokens_dropped" - $"fgt_tok").as("n_collateral_tokens"))
    val back = TrainShardSink.readBack(spark, root).drop("gen")
      .crossJoin(broadcast(summary))
      .orderBy($"shard", $"pos")
    val detail = ForgetShardDetail(before, after, touched,
      doomed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    (back, detail)
  }

  /** Rewrite exactly the `touched` shard files with `lines`
    * (shard, pos, line): drop the old finals, then write through
    * [[TrainShardSink.writeLines]] (tmp + rename commit). A touched shard
    * with no surviving lines gets no replacement — its file stays
    * dropped. */
  private[graft] def rewriteTouched(
      lines: DataFrame, root: String, touched: Set[Int],
      nShards: Int = Shards): Unit = {
    if (touched.isEmpty) return
    val fs = new Path(root).getFileSystem(lines.sparkSession.sparkContext.hadoopConfiguration)
    touched.foreach { s =>
      fs.delete(new Path(s"$root/shards/${TrainShardSink.shardFile(s, nShards)}"), false)
    }
    TrainShardSink.writeLines(lines, root, nShards, maxTasks = touched.size)
    ()
  }

  /** The DuckDB twin: №68's packing + shard-hash CTEs at this drill's
    * shard count, the span-covering doomed set, the anti-joined
    * survivors at their ORIGINAL positions, and the closed-form bill. */
  val shardForgetSql: String = {
    val L = PipelineQueries.SeqLen
    val bins = PipelineQueries.PackBins
    s"""WITH d AS (
       |  SELECT doc_id, doc_id % $bins AS bin,
       |    CAST(len(${TextQueries.wordsSql("text")}) AS BIGINT) AS n_tok
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, bin, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY bin ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |                          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_off
       |  FROM d),
       |s AS (
       |  SELECT bin, start_off // $L AS seq_id, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY start_off, doc_id) AS docs
       |  FROM o GROUP BY bin, start_off // $L),
       |h AS (
       |  SELECT bin, seq_id, n_tokens, docs,
       |    md5(CAST(bin AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR)) AS hk
       |  FROM s),
       |l AS (
       |  SELECT CAST($hex8 % $Shards AS INT) AS shard,
       |    CAST(row_number() OVER (PARTITION BY $hex8 % $Shards ORDER BY hk, bin, seq_id) AS BIGINT) AS pos,
       |    bin, seq_id, n_tokens, docs
       |  FROM h),
       |f AS (SELECT doc_id, bin, n_tok, start_off FROM o WHERE doc_id % $ForgetMod = $ForgetRes),
       |doomed AS (
       |  SELECT DISTINCT bin, CAST(u.sq AS BIGINT) AS seq_id
       |  FROM f, UNNEST(range(start_off // $L, (start_off + n_tok - 1) // $L + 1)) AS u(sq)),
       |bill AS (
       |  SELECT
       |    (SELECT count(DISTINCT shard) FROM l JOIN doomed USING (bin, seq_id)) AS n_files_rewritten,
       |    (SELECT count(*) FROM l JOIN doomed USING (bin, seq_id)) AS n_seqs_dropped,
       |    CAST((SELECT coalesce(sum(n_tokens), 0) FROM l JOIN doomed USING (bin, seq_id)) AS BIGINT) AS n_tokens_dropped,
       |    CAST((SELECT coalesce(sum(n_tokens), 0) FROM l JOIN doomed USING (bin, seq_id))
       |      - (SELECT coalesce(sum(n_tok), 0) FROM f) AS BIGINT) AS n_collateral_tokens)
       |SELECT l.shard, l.pos, l.bin, l.seq_id, l.n_tokens, l.docs,
       |  bill.n_files_rewritten, bill.n_seqs_dropped, bill.n_tokens_dropped, bill.n_collateral_tokens
       |FROM l ANTI JOIN doomed USING (bin, seq_id) CROSS JOIN bill
       |ORDER BY shard, pos""".stripMargin
  }
}

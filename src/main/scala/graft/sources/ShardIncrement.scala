package graft.sources

import graft.queries.{PipelineQueries, TextQueries}
import graft.queries.PipelineQueries.{hex8, packOffsets, seqContent, shardKeyed, shardPos}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SHARD INCREMENT, APPEND-ONLY (№220 `shard_increment`) — №219's
  * tail-append pack materialized into №68's shard FILES under the
  * object-store discipline: history files are NEVER rewritten. An object
  * store has no append — "append" means a new file — so the arrival
  * batch lands as a GENERATION: per shard, one `*.g1.txt.gz` file next
  * to the immobile gen-0 file. The one wrinkle №219 predicts is the
  * boundary sequence per bin whose accounting GREW (base tail + first
  * arrival tokens): its gen-0 line is stale, and instead of rewriting
  * that file the corrected line rides gen-1 at the SAME (shard, pos) —
  * the loader resolves LAST-WRITER-WINS per (bin, seq_id), the exact
  * max_by(version) discipline of the reference's latest-cell read
  * (app/batch/HBaseResultProcessor.kt — the newest cell wins, older
  * versions stay on disk). №218 forgets by rewriting touched files;
  * №220 shows the complementary lever: correcting by superseding.
  *
  * What is billed: `n_superseded` gen-0 lines remain on disk as dead
  * bytes the resolve pass must read and drop — the read amplification
  * an append-only store trades for zero history rewrites (reclaimed in
  * a №215-style compaction slot). New sequences take positions strictly
  * past their shard's gen-0 maximum, so gen-0 resume offsets stay valid.
  *
  * ShardIncrementSpec pins the theorem file-by-file: EVERY gen-0 file
  * (size, mtime)-identical after the increment (zero rewrites — №218's
  * census, now asserting emptiness of the touched set), the raw
  * read-back carrying exactly n_superseded duplicate keys, resolution
  * dropping exactly the gen-0 members, and new positions past the gen-0
  * maximum per shard.
  *
  * At 100 TB: the gen-1 write is batch-sized (extended lines ≤ bins, new
  * lines = the batch's sequences), the g0-max frame is shard-count-sized
  * (broadcast), and the resolve is one window over (bin, seq_id) at read
  * time — the increment costs O(batch), the history costs nothing.
  *
  * Output: the resolved loader view (shard, pos, bin, seq_id, n_tokens,
  * docs, gen) + the bill (n_files_gen0, n_files_gen1, n_superseded,
  * n_new_lines); the DuckDB oracle rebuilds both generations and the
  * last-writer-wins resolution closed-form, so a rewritten history file,
  * a lost supersede, a stale line surviving resolution or a position
  * collision all diverge the hash. */
object ShardIncrement {

  val Shards = 16

  /** Spec diagnostics: gen-0 metadata census before/after the gen-1
    * write (one listing each), and the raw (unresolved) line count. */
  private[graft] final case class IncrementDetail(
      g0Before: Map[String, (Long, Long)],
      g0After: Map[String, (Long, Long)],
      rawLines: Long)

  def shardIncrement(spark: SparkSession, dir: String): DataFrame =
    shardIncrementWithDetail(spark, dir)._1

  private[graft] def shardIncrementWithDetail(
      spark: SparkSession, dir: String): (DataFrame, IncrementDetail) = {
    import spark.implicits._
    // base (batch 0) + the arrival batch (1): one window gives the base
    // offsets and №219's tail-append offsets at once
    val off = graft.CacheRegistry.track(packOffsets(PipelineQueries.docTokens(spark, dir)
      .withColumn("batch", PipelineQueries.incBatch)).persist())
    // gen 0: the base pack, №68's write
    val l0 = graft.CacheRegistry.track(shardKeyed(seqContent(off.filter($"batch" === 0)), Shards)
      .withColumn("pos", shardPos())
      .select($"shard", $"pos", $"bin", $"seq_id", $"n_tokens", $"docs")
      .persist())
    val root = graft.Fs.storeDir("shardinc", dir).toString
    JsonlSnapshotSink.registerScratchRoot(spark, root)
    TrainShardSink.write(TrainShardSink.lineOf(l0), root, Shards)
    def g0Census() = TrainShardSink.fileCensus(spark, root)
      .filter { case (name, _) => TrainShardSink.genOf(name) == 0 }
    val g0Before = g0Census()
    val inc = graft.CacheRegistry.track(
      seqContent(off, (min($"batch") === 1).as("all_arr"), (max($"batch") === 1).as("any_arr"))
        .persist())
    // gen-1 lines: extended sequences supersede AT THEIR ORIGINAL
    // (shard, pos); new sequences take positions past the shard's gen-0 max
    val ext = inc.filter(!$"all_arr" && $"any_arr")
      .join(l0.select($"shard", $"pos", $"bin", $"seq_id"), Seq("bin", "seq_id"))
      .select($"shard", $"pos", $"bin", $"seq_id", $"n_tokens", $"docs")
    val g0max = l0.groupBy($"shard").agg(max($"pos").as("mx")) // ≤ Shards rows
    val lnew = shardKeyed(inc.filter($"all_arr"), Shards)
      .join(broadcast(g0max), Seq("shard"), "left")
      .withColumn("pos", coalesce($"mx", lit(0L)) + shardPos())
      .select($"shard", $"pos", $"bin", $"seq_id", $"n_tokens", $"docs")
    val l1 = graft.CacheRegistry.track(ext.unionAll(lnew).persist())
    // new names, so the commit is a plain first-writer rename
    TrainShardSink.writeLines(TrainShardSink.lineOf(l1), root, Shards, TrainShardSink.genFile(1))
    val g0After = g0Census()
    // the loader view: last writer wins per (bin, seq_id)
    val back = graft.CacheRegistry.track(TrainShardSink.readBack(spark, root).persist())
    val rawLines = back.count()
    val resolved = TrainShardSink.resolve(back)
    // bill distributively: superseding lines are the l1 keys present in l0
    val billF = l1.join(l0.select($"bin", $"seq_id"), Seq("bin", "seq_id"), "left_semi")
      .agg(count(lit(1)).as("n_superseded"))
      .crossJoin(broadcast(l1.agg(count(lit(1)).as("g1_total"))))
      .crossJoin(broadcast(l1.select($"shard").distinct().agg(count(lit(1)).as("n_files_gen1"))))
      .select(lit(Shards.toLong).as("n_files_gen0"), $"n_files_gen1",
        $"n_superseded", ($"g1_total" - $"n_superseded").as("n_new_lines"))
    val out = resolved.crossJoin(broadcast(billF)).orderBy($"shard", $"pos")
    (out, IncrementDetail(g0Before, g0After, rawLines))
  }

  /** The DuckDB twin: both generations and the last-writer-wins
    * resolution, closed-form. */
  val shardIncrementSql: String = {
    val L = PipelineQueries.SeqLen
    val bins = PipelineQueries.PackBins
    s"""WITH d AS (
       |  SELECT doc_id, doc_id % $bins AS bin,
       |    CAST(len(${TextQueries.wordsSql("text")}) AS BIGINT) AS n_tok,
       |    doc_id % ${PipelineQueries.IncArrMod} = ${PipelineQueries.IncArrRes} AS arr
       |  FROM documents),
       |bo AS (
       |  SELECT doc_id, bin, n_tok, FALSE AS arr,
       |    CAST(sum(n_tok) OVER (PARTITION BY bin ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |                          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_off
       |  FROM d WHERE NOT arr),
       |bt AS (SELECT bin, CAST(sum(n_tok) AS BIGINT) AS base_tot FROM d WHERE NOT arr GROUP BY bin),
       |ao AS (
       |  SELECT d.doc_id, d.bin, d.n_tok, TRUE AS arr,
       |    coalesce(bt.base_tot, 0) +
       |      CAST(sum(d.n_tok) OVER (PARTITION BY d.bin ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
       |                              ROWS UNBOUNDED PRECEDING) - d.n_tok AS BIGINT) AS start_off
       |  FROM d LEFT JOIN bt USING (bin) WHERE d.arr),
       |s0 AS (
       |  SELECT bin, start_off // $L AS seq_id, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY start_off, doc_id) AS docs
       |  FROM bo GROUP BY bin, start_off // $L),
       |h0 AS (SELECT *, md5(CAST(bin AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR)) AS hk FROM s0),
       |l0 AS (
       |  SELECT CAST($hex8 % $Shards AS INT) AS shard,
       |    CAST(row_number() OVER (PARTITION BY $hex8 % $Shards ORDER BY hk, bin, seq_id) AS BIGINT) AS pos,
       |    bin, seq_id, n_tokens, docs
       |  FROM h0),
       |u AS (SELECT * FROM bo UNION ALL SELECT * FROM ao),
       |inc AS (
       |  SELECT bin, start_off // $L AS seq_id, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY start_off, doc_id) AS docs,
       |    bool_and(arr) AS all_arr, bool_or(arr) AS any_arr
       |  FROM u GROUP BY bin, start_off // $L),
       |g0max AS (SELECT shard, max(pos) AS mx FROM l0 GROUP BY shard),
       |hn AS (
       |  SELECT inc.*, md5(CAST(bin AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR)) AS hk
       |  FROM inc WHERE all_arr),
       |l1 AS (
       |  SELECT l0.shard, l0.pos, i.bin, i.seq_id, i.n_tokens, i.docs
       |  FROM inc i JOIN l0 USING (bin, seq_id) WHERE NOT i.all_arr AND i.any_arr
       |  UNION ALL
       |  SELECT CAST($hex8 % $Shards AS INT) AS shard,
       |    coalesce(g0max.mx, 0) + CAST(row_number() OVER (
       |      PARTITION BY $hex8 % $Shards ORDER BY hk, bin, seq_id) AS BIGINT) AS pos,
       |    bin, seq_id, n_tokens, docs
       |  FROM hn LEFT JOIN g0max ON g0max.shard = CAST($hex8 % $Shards AS INT)),
       |resolved AS (
       |  SELECT l0.shard, l0.pos, l0.bin, l0.seq_id, l0.n_tokens, l0.docs, 0 AS gen
       |  FROM l0 ANTI JOIN l1 USING (bin, seq_id)
       |  UNION ALL
       |  SELECT shard, pos, bin, seq_id, n_tokens, docs, 1 AS gen FROM l1),
       |bill AS (
       |  SELECT CAST($Shards AS BIGINT) AS n_files_gen0,
       |    CAST((SELECT count(DISTINCT shard) FROM l1) AS BIGINT) AS n_files_gen1,
       |    CAST((SELECT count(*) FROM l1 SEMI JOIN l0 USING (bin, seq_id)) AS BIGINT) AS n_superseded,
       |    CAST((SELECT count(*) FROM l1 ANTI JOIN l0 USING (bin, seq_id)) AS BIGINT) AS n_new_lines)
       |SELECT r.shard, r.pos, r.bin, r.seq_id, r.n_tokens, r.docs, r.gen,
       |  bill.n_files_gen0, bill.n_files_gen1, bill.n_superseded, bill.n_new_lines
       |FROM resolved r CROSS JOIN bill
       |ORDER BY shard, pos""".stripMargin
  }
}

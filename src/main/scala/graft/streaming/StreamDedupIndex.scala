package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** NIGHTLY NEAR-DUP DEDUP AS A STREAM (SURVEY §2 №191) — №190's
  * probe-then-append calendar through the 100 TB ACCESS PATH: each
  * micro-batch of arriving documents is signed, its base band keys probed
  * against the persisted band-row store READ BACK FROM FILES, the
  * candidates verified with the shared exact τ=3/5 test, and only then
  * the batch's own band rows APPENDED — so batch t+1 near-dups against
  * batch t (the growth №187's static index misses), and a batch can never
  * see itself (the probe-then-append blindness №190's audit stage
  * quantifies). The stream is the access path, not a fork: night n's
  * output row is definitionally №190's stage-n serve (same keys, same
  * store content, same verification), which is exactly what the oracle
  * rebuilds — a torn append, a self-visible batch or a lost night
  * diverges the driver hash. Reference semantics: the nightly time-range
  * increment of app/batch/HBaseReader.kt:131-160 consumed as a stream
  * instead of a batch scan.
  *
  * At 100 TB: the store is №187's bucketed band-key layout; the per-batch
  * probe is the same co-located equi-join, the append an executor-side
  * distributed write of batch-sized band rows (never a driver buffer —
  * №184's discipline), and verification joins the doc-shingle table by
  * id. Output: per-night (night, n_index_rows, n_lookups, n_candidates,
  * n_true, n_hit, prec, rec); StreamDedupIndexSpec pins 3 data
  * micro-batches, file-count growth per append, and that the store ends
  * with every night's rows. */
object StreamDedupIndex {

  /** Per-run replay census for the spec: data micro-batches seen, and
    * (night, store files visible at serve time). */
  private[graft] final case class IndexCensus(
      batches: Int, servedFiles: Seq[(Long, Int)])

  def streamDedupIndex(spark: SparkSession, dir: String): DataFrame =
    streamDedupIndexWithCensus(spark, dir)._1

  private[graft] def streamDedupIndexWithCensus(
      spark: SparkSession, dir: String): (DataFrame, IndexCensus) = {
    import graft.queries.{HashDedup, TextQueries}
    import HashDedup.clsOf
    val corpus = new HashDedup.IndexCorpus(spark, dir)
    import corpus.{ofCls, sh5, tok, truthAll}
    def truthNight(n: Int): DataFrame = {
      def indexed(c: org.apache.spark.sql.Column) =
        !clsOf(c).isin((n to 3).map(i => Long.box(i.toLong)): _*)
      truthAll.filter(
        (clsOf(col("doc_a")) === n && indexed(col("doc_b"))) ||
          (clsOf(col("doc_b")) === n && indexed(col("doc_a"))))
    }

    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_dedupix_")
    val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val store = scratch.resolve("store")
    val name = s"stream_dedupix_${System.nanoTime()}"
    val out = new HashDedup.ServeLog("night", "n_index_rows", "n_lookups", "n_candidates", "n_true", "n_hit")
    val servedFiles = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    var batches = -1
    ReplayHarness.replay(spark, 8, andThen = () => graft.Fs.rmTree(scratch)) { (spark, register) =>
      // E0: the base index lands before the stream opens
      ofCls(c => !c.isin(1L, 2L, 3L)).repartition(4)
        .write.mode("overwrite").parquet(store.toString)
      // arrivals: the three nights' TOKENIZED docs, one file per night —
      // signatures are per-doc, so the batch signs itself inside the batch
      ReplayHarness.landBands(scratch, inDir, (1 to 3).map(n =>
        tok.filter(clsOf(col("doc_id")) === n).coalesce(1)))
      val stream = spark.readStream
        .schema("doc_id LONG, ws ARRAY<STRING>")
        .option("maxFilesPerTrigger", "1") // one night per micro-batch
        .parquet(inDir.toString)
      val q = stream.writeStream
        .foreachBatch { (bdf: DataFrame, id: Long) =>
          val night = id + 1
          graft.CacheRegistry.withCache(HashDedup.mpBaseRows(HashDedup.mpSigFrom(bdf))
              .select(col("doc_id"), col("band"), col("band_key"))) { keys =>
            keys.count() // materialize before the store is touched
            val back = HashDedup.readIndex(spark, store)
            val cand = HashDedup.bandCandidates(keys, back)
            val verified = TextQueries.verifyPairsOf(sh5, cand).select(col("doc_a"), col("doc_b"))
            val tn = truthNight(night.toInt)
            val r = cand.agg(count(lit(1)).as("n_candidates"))
              .crossJoin(broadcast(back.agg(count(lit(1)).as("n_index_rows"))))
              .crossJoin(broadcast(keys.agg(count(lit(1)).as("n_lookups"))))
              .crossJoin(broadcast(tn.agg(count(lit(1)).as("n_true"))))
              .crossJoin(broadcast(verified.join(broadcast(tn), Seq("doc_a", "doc_b"))
                .agg(count(lit(1)).as("n_hit"))))
              .collect()(0)
            servedFiles += ((night, graft.Fs.parquetFiles(store).size))
            out += (night, r.getAs[Long]("n_index_rows"), r.getAs[Long]("n_lookups"),
              r.getAs[Long]("n_candidates"), r.getAs[Long]("n_true"), r.getAs[Long]("n_hit"))
            // probe BEFORE append: the night never sees itself
            keys.coalesce(1).write.mode("append").parquet(store.toString)
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .start()
      register(q)
      q.awaitTermination()
      batches = q.recentProgress.count(_.numInputRows > 0)
    }
    val df = out.frame(spark, ("prec", "n_hit", "n_candidates"), ("rec", "n_hit", "n_true"))
    (df, IndexCensus(batches, servedFiles.toSeq))
  }

  /** №190's nightly stages with the stream's column naming — night n's
    * serve is definitionally the batch calendar's stage-n probe (same
    * keys, same store content, no compaction in the stream path). */
  val streamDedupIndexSql: String = {
    import graft.queries.HashDedup
    val m = HashDedup.IncCalMod
    def idxCls(n: Int): String = s"doc_id % $m NOT IN (${(n to 3).mkString(", ")})"
    def candCte(n: Int): String =
      s"""sdix_c$n AS MATERIALIZED (
         |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b
         |  FROM (SELECT * FROM mp_base WHERE doc_id % $m = $n) a
         |  JOIN (SELECT * FROM mp_base WHERE ${idxCls(n)}) b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id <> b.doc_id),
         |sdix_v$n AS MATERIALIZED (
         |  SELECT c.doc_a, c.doc_b
         |  FROM sdix_c$n c JOIN sdix_s5 sa ON sa.doc_id = c.doc_a JOIN sdix_s5 sb ON sb.doc_id = c.doc_b
         |  WHERE len(list_intersect(sa.sh, sb.sh)) * 5
         |    >= (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) * 3)""".stripMargin
    def truthNight(n: Int): String =
      s"(doc_a % $m = $n AND doc_b % $m NOT IN (${(n to 3).mkString(", ")})) OR " +
        s"(doc_b % $m = $n AND doc_a % $m NOT IN (${(n to 3).mkString(", ")}))"
    def gradeRow(n: Int): String =
      s"""  SELECT CAST($n AS BIGINT) AS night,
         |    (SELECT count(*) FROM mp_base WHERE ${idxCls(n)}) AS n_index_rows,
         |    (SELECT count(*) FROM mp_base WHERE doc_id % $m = $n) AS n_lookups,
         |    (SELECT count(*) FROM sdix_c$n) AS n_candidates,
         |    (SELECT count(*) FROM truth WHERE ${truthNight(n)}) AS n_true,
         |    (SELECT count(*) FROM sdix_v$n v JOIN truth t USING (doc_a, doc_b) WHERE ${truthNight(n)}) AS n_hit""".stripMargin
    s"""WITH ${HashDedup.mpChainSql},
       |sdix_s5 AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(ws)-3), i ->
       |      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS sh
       |  FROM mp_d),
       |${candCte(1)},
       |${candCte(2)},
       |${candCte(3)},
       |sdix_g AS (
       |${Seq(gradeRow(1), gradeRow(2), gradeRow(3)).mkString("\n  UNION ALL\n")})
       |SELECT night, n_index_rows, n_lookups, n_candidates, n_true, n_hit,
       |  round(CAST(n_hit AS DOUBLE) / greatest(n_candidates, 1) + 0.000000001, 6) AS prec,
       |  round(CAST(n_hit AS DOUBLE) / greatest(n_true, 1) + 0.000000001, 6) AS rec
       |FROM sdix_g ORDER BY night""".stripMargin
  }
}

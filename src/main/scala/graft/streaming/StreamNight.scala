package graft.streaming

import graft.store.Layout
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** THE CROSS-STORE NIGHT AS A STREAM (SURVEY §2 №203) — №195's
  * composition through the 100 TB access path: each micro-batch of
  * arriving documents is signed in-batch (№191's discipline), its band
  * keys probed against the index FILES, the verified dup manifest landed
  * AS FILES (№195's lineage lesson gets its sharper test here — inside
  * `foreachBatch` the index append would invalidate the decision's
  * path-dependent lineage between batches, so a cached decision frame is
  * wrong twice over), and only then do BOTH stores append the survivors:
  * band rows to the index, embeddings to the vector store — which the
  * per-batch serve then reads back.
  *
  * The night spans TWO doc classes (cls 1 then cls 2 split in half), so
  * the SEQUENTIAL corner is real and non-vacuous: cls-2 near-dup copies
  * of cls-1 originals arrive AFTER their originals — they are dropped
  * only because an earlier micro-batch's SURVIVOR was appended
  * mid-stream (a base-only index would admit them, and the duplicate
  * would pollute retrieval; StreamNightSpec pins, doc by doc, that some
  * later-batch dups have NO base partner at all). The serve contract is
  * №176's prefix visibility on both stores at once: serve t sees base ∪
  * survivors of completed batches ≤ t in the index AND the vector store,
  * with the dedup decision CHAINED — batch b's dup set is computed
  * against base plus batches < b's survivors, which the oracle rebuilds
  * as a three-step CTE chain (a torn append, a self-visible batch, a
  * lost manifest or a broken chain all diverge the driver hash).
  * Reference semantics: the export's nightly increment
  * (app/batch/HBaseReader.kt:131-160) consumed as a stream, feeding
  * every downstream consumer of the same snapshot.
  *
  * At 100 TB: per batch, signing is batch-sized, the probe is №187's
  * co-located band join against the bucketed index, the manifest is a
  * batch-bounded file artifact, both appends are executor-side
  * distributed writes, and the serve is the №195 broadcast-scan shape —
  * the stream adds ordering, not scaling terms. Output: (after_batch,
  * n_index_rows, n_vecs, n_dropped, q_id, rank, doc_id, cos) with
  * n_dropped cumulative. */
object StreamNight {

  /** Per-run diagnostics: data-batch count, per-batch dup ids
    * (batch-bounded manifests — the one collect that stays), the night
    * docs that have a τ-partner in BASE (the spec's sequential-corner
    * classifier), and two DISTRIBUTED per-batch counts over the
    * read-back vector store (r14 verdict item 1 — the spec's invariants
    * as executor-side aggregates, never an O(store) id collect):
    *  - `dupsVisible`: store rows in the cumulative dup-manifest set
    *    after batch b (must be 0 always) — billed on the SAME store scan
    *    as the serve census via a broadcast dup-flag join, not a second
    *    pass over the store;
    *  - `unlanded`: previous-serve store files missing from the current
    *    file set (path-set containment over the snapshotted listing —
    *    must be 0: a completed batch never un-lands). The vector store
    *    is APPEND-ONLY and parquet files are immutable once committed,
    *    so path containment is exactly doc containment — and it prices
    *    at metadata (a directory listing), not a second full store scan
    *    per batch. */
  private[graft] final case class NightStreamCensus(
      batches: Int,
      dups: Map[Long, Set[Long]],
      dupsVisible: Map[Long, Long],
      unlanded: Map[Long, Long],
      baseTruthDocs: Set[Long])

  def streamNight(spark: SparkSession, dir: String): DataFrame =
    streamNightWithCensus(spark, dir)._1

  private[graft] def streamNightWithCensus(
      spark: SparkSession, dir: String): (DataFrame, NightStreamCensus) = {
    import graft.queries.{HashDedup, PipelineQueries, TextQueries, VectorQueries}
    import HashDedup.clsOf
    import VectorQueries.{EmbedQEvery, K}
    val corpus = new HashDedup.IndexCorpus(spark, dir)
    import corpus.{ofCls, sh5, tok, truthAll}
    val ve = PipelineQueries.corpusVectors(spark, dir)
    val queries = PipelineQueries.corpusQueries(ve, 1L, 2L)
    // night docs with a τ-partner in BASE — everything else a later batch
    // drops is dropped BECAUSE of a mid-stream survivor append
    def isNight(c: org.apache.spark.sql.Column) = clsOf(c).isin(1L, 2L)
    val baseTruthDocs = truthAll
      .select(when(isNight(col("doc_a")) && !isNight(col("doc_b")), col("doc_a"))
        .when(isNight(col("doc_b")) && !isNight(col("doc_a")), col("doc_b")).as("doc_id"))
      .filter(col("doc_id").isNotNull).distinct()
      .collect().map(_.getLong(0)).toSet

    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_night_")
    val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val ixStore = HashDedup.bandIndex(scratch.resolve("index"))
    val vStore = PipelineQueries.vectorStore(scratch.resolve("vectors"))
    val name = s"stream_night_${System.nanoTime()}"
    // E0: both stores land before the stream opens
    ixStore.append(HashDedup.atGen(ofCls(c => !c.isin(1L, 2L)), 0), Layout.Files(4))
    vStore.land(ve.filter(!col("cls").isin(1L, 2L) && !(col("doc_id") % EmbedQEvery === 0))
      .select(col("doc_id"), col("emb_arr"), col("norm_sq")), Layout.Files(4))

    val results = scala.collection.mutable.ArrayBuffer.empty[
      (Long, Long, Long, Long, Long, Long, Long, Double)]
    val dups = scala.collection.mutable.Map.empty[Long, Set[Long]]
    val dupsVisible = scala.collection.mutable.Map.empty[Long, Long]
    val unlanded = scala.collection.mutable.Map.empty[Long, Long]
    val dupFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // the previous serve's store FILES — the monotone-growth check reads
    // exactly this snapshot back and anti-joins the current store
    var prevVecFiles: Seq[String] = Nil
    var dropped = 0L
    var batches = -1
    ReplayHarness.replay(spark, 8, andThen = () => graft.Fs.rmTree(scratch)) { (spark, register) =>
      ReplayHarness.landBands(scratch, inDir, Seq(
        tok.filter(clsOf(col("doc_id")) === 1L).coalesce(1),
        tok.filter(clsOf(col("doc_id")) === 2L && expr("(doc_id DIV 7) % 2 = 0")).coalesce(1),
        tok.filter(clsOf(col("doc_id")) === 2L && expr("(doc_id DIV 7) % 2 = 1")).coalesce(1)))
      val stream = spark.readStream
        .schema("doc_id LONG, ws ARRAY<STRING>")
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
      val q = stream.writeStream
        .foreachBatch { (bdf: DataFrame, id: Long) =>
          // sign IN-BATCH (№191), probe the FILES, decide, land the decision
          graft.CacheRegistry.withCache(HashDedup.mpBaseRows(HashDedup.mpSigFrom(bdf))
              .select(col("doc_id"), col("band"), col("band_key"))) { keys =>
            keys.count()
            graft.CacheRegistry.withCache(bdf.select(col("doc_id"))) { batchIds =>
              batchIds.count()
              val cand = HashDedup.bandCandidates(keys, ixStore.read(spark))
              val dupFiles = HashDedup.landDecision(scratch.resolve(s"dups_$id"),
                TextQueries.verifyPairsOf(sh5, cand)
                  .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
                  .join(batchIds, Seq("doc_id"), "left_semi").distinct())
              dropped += dupFiles.count()
              // BOTH appends consume the landed decision
              ixStore.append(HashDedup.atGen(keys.join(dupFiles, Seq("doc_id"), "left_anti"), 1),
                Layout.Coalesced(1))
              vStore.append(ve.select(col("doc_id"), col("emb_arr"), col("norm_sq"))
                .join(batchIds, Seq("doc_id"), "left_semi")
                .join(dupFiles, Seq("doc_id"), "left_anti"), Layout.Coalesced(1))
              // SERVE both stores from the files; the scored probe pass and
              // the census-with-dup-flag pass share ONE vector-store scan
              val ixBack2 = ixStore.read(spark)
              graft.CacheRegistry.withCache(vStore.read(spark)) { vBack =>
                val scored = PipelineQueries.exactCos(vBack, queries)
                // Census DISTRIBUTIVELY (r14 verdict 1), and in ONE store scan
                // (r15 frontier 3): the cumulative dup-manifest set is
                // batch-bounded, so it rides the census aggregation as a
                // broadcast left join — sum(dup flag) over the same vBack pass
                // that counts n_vecs replaces the former separate left-semi
                // pass over the store. The other invariant stays at metadata
                // price: no file from the previous serve's snapshot left the
                // store (path containment — the store is append-only and
                // parquet files immutable, so file containment IS doc
                // containment, at directory-listing price).
                dupFrames += dupFiles
                val dupAll = dupFrames.reduce(_ unionAll _)
                  .select(col("doc_id")).distinct().withColumn("is_dup", lit(1L))
                val census = ixBack2.agg(count(lit(1)).as("n_index_rows"))
                  .crossJoin(broadcast(
                    vBack.join(broadcast(dupAll), Seq("doc_id"), "left")
                      .agg(count(lit(1)).as("n_vecs"),
                        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_visible"))))
                val servedRows = graft.plans.GroupedTopK.rankedTopK(scored, "q_id", "cos", "doc_id", K)
                  .crossJoin(broadcast(census)).collect()
                servedRows.foreach(r =>
                  results += ((id, r.getAs[Long]("n_index_rows"), r.getAs[Long]("n_vecs"),
                    dropped, r.getAs[Long]("q_id"), r.getAs[Number]("rank").longValue,
                    r.getAs[Long]("doc_id"), r.getAs[Double]("cos"))))
                dups(id) = dupFiles.collect().map(_.getLong(0)).toSet // batch-bounded
                dupsVisible(id) = servedRows.headOption
                  .map(_.getAs[Long]("n_dup_visible")).getOrElse(0L)
                val curFiles = vStore.allFiles.map(_.toString).toSet
                unlanded(id) = prevVecFiles.count(!curFiles.contains(_)).toLong
                prevVecFiles = curFiles.toVector
              }
            }
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .start()
      register(q)
      q.awaitTermination()
      batches = q.recentProgress.count(_.numInputRows > 0)
    }
    import spark.implicits._
    val df = results.toSeq
      .toDF("after_batch", "n_index_rows", "n_vecs", "n_dropped", "q_id", "rank", "doc_id", "cos")
      .orderBy(col("after_batch"), col("q_id"), col("rank"))
    (df, NightStreamCensus(batches, dups.toMap, dupsVisible.toMap, unlanded.toMap, baseTruthDocs))
  }

  val streamNightSql: String = {
    import graft.queries.{HashDedup, PipelineQueries, VectorQueries}
    import VectorQueries.{EmbedQEvery, K}
    val m = HashDedup.IncCalMod
    def batchPred(b: Int, c: String = "doc_id"): String = b match {
      case 0 => s"$c % $m = 1"
      case 1 => s"$c % $m = 2 AND ($c // $m) % 2 = 0"
      case 2 => s"$c % $m = 2 AND ($c // $m) % 2 = 1"
    }
    // the chained dedup decision: vis_b = base ∪ survivors of batches < b
    def chain(b: Int): String =
      s"""snt_c$b AS MATERIALIZED (
         |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b
         |  FROM (SELECT * FROM mp_base WHERE ${batchPred(b)}) a
         |  JOIN (SELECT mb.* FROM mp_base mb JOIN snt_vis$b v USING (doc_id)) b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id <> b.doc_id),
         |snt_d$b AS MATERIALIZED (
         |  SELECT DISTINCT CASE WHEN ${batchPred(b, "c.doc_a")} THEN c.doc_a ELSE c.doc_b END AS doc_id
         |  FROM snt_c$b c JOIN snt_s5 sa ON sa.doc_id = c.doc_a JOIN snt_s5 sb ON sb.doc_id = c.doc_b
         |  WHERE len(list_intersect(sa.sh, sb.sh)) * 5
         |    >= (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) * 3),
         |snt_vis${b + 1} AS MATERIALIZED (
         |  SELECT doc_id FROM snt_vis$b
         |  UNION
         |  SELECT doc_id FROM mp_sig
         |  WHERE (${batchPred(b)}) AND doc_id NOT IN (SELECT doc_id FROM snt_d$b))""".stripMargin
    def serveCtes(b: Int): String =
      s"""snt_mem$b AS (
         |  SELECT v.doc_id FROM snt_vis${b + 1} v JOIN snt_nrm n USING (doc_id)
         |  WHERE NOT (v.doc_id % $EmbedQEvery = 0 AND v.doc_id % $m NOT IN (1, 2))),
         |snt_dot$b AS (
         |  SELECT qe.doc_id AS q_id, ce.doc_id, CAST(sum(ce.e * qe.e) AS BIGINT) AS dot
         |  FROM e ce JOIN snt_mem$b mem ON mem.doc_id = ce.doc_id
         |  JOIN e qe ON qe.j = ce.j
         |  JOIN snt_q q ON q.q_id = qe.doc_id
         |  GROUP BY 1, 2),
         |snt_k$b AS MATERIALIZED (
         |  SELECT q_id, doc_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS rank
         |  FROM (
         |    SELECT d.q_id, d.doc_id,
         |      round(CAST(d.dot AS DOUBLE) / (sqrt(CAST(cn.norm_sq AS DOUBLE)) * sqrt(CAST(qn.norm_sq AS DOUBLE))), 6) AS cos
         |    FROM snt_dot$b d
         |    JOIN snt_nrm cn ON cn.doc_id = d.doc_id
         |    JOIN snt_nrm qn ON qn.doc_id = d.q_id) x)""".stripMargin
    def stageSelect(b: Int): String = {
      val droppedSql = (0 to b).map(i => s"(SELECT count(*) FROM snt_d$i)").mkString(" + ")
      s"""SELECT CAST($b AS BIGINT) AS after_batch,
         |  (SELECT count(*) FROM mp_base mb JOIN snt_vis${b + 1} v USING (doc_id)) AS n_index_rows,
         |  (SELECT count(*) FROM snt_mem$b) AS n_vecs,
         |  CAST($droppedSql AS BIGINT) AS n_dropped,
         |  r.q_id, r.rank, r.doc_id, r.cos
         |FROM snt_k$b r WHERE r.rank <= $K""".stripMargin
    }
    s"""WITH ${HashDedup.mpChainSql},
       |${PipelineQueries.embDimsCtesSqlFrom("corpus")},
       |snt_s5 AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(ws)-3), i ->
       |      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS sh
       |  FROM mp_d),
       |snt_nrm AS MATERIALIZED (SELECT doc_id, CAST(sum(e*e) AS BIGINT) AS norm_sq FROM e GROUP BY 1),
       |snt_q AS (
       |  SELECT doc_id AS q_id FROM snt_nrm
       |  WHERE doc_id % $EmbedQEvery = 0 AND doc_id % $m NOT IN (1, 2)),
       |snt_vis0 AS (SELECT doc_id FROM mp_sig WHERE doc_id % $m NOT IN (1, 2)),
       |${(0 to 2).map(chain).mkString(",\n")},
       |${(0 to 2).map(serveCtes).mkString(",\n")}
       |${(0 to 2).map(stageSelect).mkString("\nUNION ALL\n")}
       |ORDER BY after_batch, q_id, rank""".stripMargin
  }
}

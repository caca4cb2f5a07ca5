package graft.queries

import graft.store.Layout
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CROSS-STORE BACKFILL (SURVEY §2 №202) — №194 and №199 composed, the
  * backfill slice of the cross-store family (№195 night, №198 forget,
  * №201 retention): a nightly ingest that feeds BOTH stores retries, and
  * retries are rarely symmetric — the text append may re-run while the
  * vector append committed once. Four serves read the FILES through the
  * storm's phases:
  *
  *   S0  clean — one night landed in both stores
  *   S1  PARTIAL storm — the text append re-ran, the vector one did
  *       not: both serves are IDEMPOTENT (the band join's distinct, the
  *       candidate dedup before ranking — both already proven
  *       per-store, here proven under the same hash) while the
  *       cross-store censuses DISAGREE: `n_ix_night` reads 2× one
  *       night, `n_vec_night` one — exactly the drift a cross-store
  *       reconciliation monitor alarms on
  *   S2  SYMMETRIC storm — the vector append re-ran too: the
  *       reconciliation now AGREES AND IS WRONG (both stores read 2×
  *       the night — cross-store diffing catches a partial storm,
  *       never a symmetric one; only the absolute `n_*_distinct`
  *       censuses, flat through every stage, catch both). Published as
  *       the row's finding: a platform monitor needs both meters.
  *   S3  bounded repair on each store in its own safe form — text:
  *       №194's generation swap (read gen=1, distinct, land gen=11,
  *       drop gen=1 — read bill exactly 2× one night); vector: №199's
  *       cache-derived distinct rewrite of only the night's touched
  *       buckets (untouched buckets bit-for-bit untouched). Censuses
  *       restored, serves STILL identical.
  *
  * The text serve is the №190 shape (night-3 keys probe the index; the
  * candidate count is duplication-invariant by construction), the
  * vector serve the №195 shape (exact-integer cosine top-k with
  * candidate dedup). Reference analogue: the export's rerun semantics —
  * JobCompletionNotificationListener re-sends, every consumer dedups by
  * id, and a consumer that only cross-checks counts between two
  * downstream copies misses the double-send that hit both. The oracle
  * rebuilds every stage closed-form (multisets are pure functions of
  * doc_id and the stage's storm phase). At 100 TB: retries are
  * independent per store by construction (separate jobs), so the
  * partial storm is the COMMON case — this row is the proof the serving
  * paths never cared, plus the two-meter monitoring story. The vector
  * serves share ONE scored frame across membership-equal stages: every
  * stage still reads the files, computes its censuses, and proves its
  * distinct membership equal via distributed anti-joins — only a
  * membership change pays a re-scoring (r14 verdict item 2). */
object CorpusBackfill {

  /** Diagnostics: text candidate pairs and vector top-k pairs per stage
    * (the idempotence proofs), the repair bills, and the untouched
    * vector buckets' file counts before/after the repair. */
  private[graft] final case class BackfillDetail(
      candPairs: Map[Int, Set[(Long, Long)]],
      topk: Map[Int, Set[(Long, Long)]],
      ixRepairRead: Long,
      untouchedFilesBefore: Map[Long, Int],
      untouchedFilesAfter: Map[Long, Int])

  def corpusBackfill(spark: SparkSession, dir: String): DataFrame =
    corpusBackfillDetail(spark, dir)._1

  private[graft] def corpusBackfillDetail(
      spark: SparkSession, dir: String): (DataFrame, BackfillDetail) = {
    import VectorQueries.{EmbedQEvery, K}
    import CorpusForget.FgtBuckets
    import HashDedup.clsOf
    val corpus = new HashDedup.IndexCorpus(spark, dir)
    import corpus.ofCls
    val ve = PipelineQueries.corpusVectors(spark, dir)
    val queries = PipelineQueries.corpusQueries(ve, 3L)

    val root = graft.Fs.storeDir("corpbf", dir)
    graft.Fs.rmTree(root)
    val ixStore = HashDedup.bandIndex(root.resolve("index"))
    val vStore = PipelineQueries.vectorStore(root.resolve("vectors"), "bkt LONG")
    val ixNight = ofCls(_ === 1L)
    // vector store: bucket-partitioned (the №198 layout); night = cls 1
    def vRows(p: Column => Column): DataFrame =
      ve.filter(p(col("cls")) && !(col("doc_id") % EmbedQEvery === 0) && col("cls") =!= 3L)
        .select(col("doc_id"), col("emb_arr"), col("norm_sq"))
        .withColumn("bkt", pmod(col("doc_id"), lit(FgtBuckets)))
    ixStore.append(HashDedup.atGen(ofCls(c => c =!= 1L && c =!= 3L), 0), Layout.Files(4))
    ixStore.append(HashDedup.atGen(ixNight, 1), Layout.Files(2))
    vStore.append(vRows(_ =!= 1L)); vStore.append(vRows(_ === 1L))
    val probeKeys = ofCls(_ === 3L)

    val out = scala.collection.mutable.ArrayBuffer.empty[
      (Long, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long, Double)]
    val candPairs = scala.collection.mutable.Map.empty[Int, Set[(Long, Long)]]
    val topk = scala.collection.mutable.Map.empty[Int, Set[(Long, Long)]]
    // ONE scoring shared across membership-equal serves (r14 verdict item
    // 2 / frontier #6): the idempotence proof needs the READS — every
    // serve still reads both stores back, computes the censuses off the
    // files, and PROVES its distinct membership equal to the scored
    // frame's (two distributed anti-join emptiness checks); only a serve
    // whose membership actually differs pays a re-scoring. On this drill
    // all four stages are membership-equal by design (storms duplicate
    // rows, the repair dedups them), so scoring runs once — the ~4×
    // serve wall the r14 bench billed was proof work done four times.
    var scoredCache: Option[(DataFrame, Array[(Long, Long, Long, Double)])] = None
    def serve(stage: Int): Unit = {
      val ixBack = ixStore.read(spark).select(col("doc_id"), col("band"), col("band_key"))
      val cand = HashDedup.bandCandidates(probeKeys, ixBack)
      val vBack = vStore.read(spark).select(col("doc_id"), col("emb_arr"), col("norm_sq"))
      // candidate pairs: ONE execution per stage (guide §1.2 "don't
      // compute things twice") — the census's n_cand previously re-ran
      // the whole probe join under a count aggregate while candPairs
      // collected the identical distinct-pair frame a second time. The
      // collected set IS the count (cand is distinct by construction).
      val candSet = cand.collect().map(c => (c.getLong(0), c.getLong(1))).toSet
      candPairs(stage) = candSet
      val census = ixBack.agg(count(lit(1)).as("n_ix_rows"),
          sum(when(clsOf(col("doc_id")) === 1L, 1L).otherwise(0L)).as("n_ix_night"),
          countDistinct(col("doc_id"), col("band"), col("band_key")).as("n_ix_distinct"))
        .crossJoin(broadcast(vBack.agg(count(lit(1)).as("n_vec_rows"),
          sum(when(clsOf(col("doc_id")) === 1L, 1L).otherwise(0L)).as("n_vec_night"),
          countDistinct(col("doc_id")).as("n_vec_distinct"))))
        .collect()(0)
      val memIds = vBack.select(col("doc_id")).distinct()
      val served = scoredCache match {
        case Some((cachedIds, rows)) if
            memIds.join(cachedIds, Seq("doc_id"), "left_anti").isEmpty &&
              cachedIds.join(memIds, Seq("doc_id"), "left_anti").isEmpty => rows
        case _ =>
          // membership dedup BEFORE the query join — the idempotence
          // hinge: storm copies are full-row duplicates, so the distinct
          // collapses them and the cos never sees multiplicity
          val scored = PipelineQueries.exactCos(vBack.distinct(), queries)
          val rows = VectorQueries.topKRanked(scored, "q_id", "cos", "doc_id", K)
            .collect().map(r => (r.getAs[Long]("q_id"),
              r.getAs[Number]("rank").longValue, r.getAs[Long]("doc_id"),
              r.getAs[Double]("cos")))
          val ids = graft.CacheRegistry.track(memIds.persist())
          ids.count()
          scoredCache = Some((ids, rows))
          rows
      }
      served.foreach { case (q, rank, d, cos) =>
        out += ((stage.toLong, census.getAs[Long]("n_ix_rows"), census.getAs[Long]("n_ix_night"),
          census.getAs[Long]("n_ix_distinct"), candSet.size.toLong,
          census.getAs[Long]("n_vec_rows"), census.getAs[Long]("n_vec_night"),
          census.getAs[Long]("n_vec_distinct"), q, rank, d, cos))
      }
      topk(stage) = served.map(t => (t._1, t._3)).toSet
    }
    serve(0)
    ixStore.append(HashDedup.atGen(ixNight, 1), Layout.Files(2)) // PARTIAL storm: text only
    serve(1)
    vStore.append(vRows(_ === 1L)) // SYMMETRIC storm: vector too
    serve(2)
    // repairs, each store in its own safe form
    val ixRepairRead = graft.CacheRegistry.withCache(ixStore.read(spark, 1)
        .select(col("doc_id"), col("band"), col("band_key"))) { gen1 =>
      val n = gen1.count()
      ixStore.append(HashDedup.atGen(gen1.distinct(), 11), Layout.Files(2))
      n
    }
    ixStore.drop(1)
    val nightBuckets = vRows(_ === 1L).select(col("bkt")).distinct()
      .collect().map(_.getLong(0)).toSet
    val before = vStore.fileCounts.filter { case (b, _) => !nightBuckets(b) }
    val repairContent = vRows(c => c =!= 1L && c =!= 3L)
      .filter(col("bkt").isin(nightBuckets.toSeq.map(Long.box): _*))
      .unionAll(vRows(_ === 1L))
    vStore.replace(repairContent, nightBuckets)
    val after = vStore.fileCounts.filter { case (b, _) => !nightBuckets(b) }
    serve(3)
    import spark.implicits._
    val df = out.toSeq
      .toDF("stage", "n_ix_rows", "n_ix_night", "n_ix_distinct", "n_cand",
        "n_vec_rows", "n_vec_night", "n_vec_distinct", "q_id", "rank", "doc_id", "cos")
      .orderBy(col("stage"), col("q_id"), col("rank"))
    (df, BackfillDetail(candPairs.toMap, topk.toMap, ixRepairRead, before, after))
  }

  val corpusBackfillSql: String = {
    import VectorQueries.{EmbedQEvery, K}
    val m = HashDedup.IncCalMod
    // the night's duplication factor per stage: (text, vector)
    val phases = Seq(0 -> (1, 1), 1 -> (2, 1), 2 -> (2, 2), 3 -> (1, 1))
    def vecCtes(s: Int): String =
      s"""cbf_dot$s AS (
         |  SELECT qe.doc_id AS q_id, ce.doc_id, CAST(sum(ce.e * qe.e) AS BIGINT) AS dot
         |  FROM e ce JOIN cbf_mem mem ON mem.doc_id = ce.doc_id
         |  JOIN e qe ON qe.j = ce.j
         |  JOIN cbf_q q ON q.q_id = qe.doc_id
         |  GROUP BY 1, 2),
         |cbf_k$s AS MATERIALIZED (
         |  SELECT q_id, doc_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS rank
         |  FROM (
         |    SELECT d.q_id, d.doc_id,
         |      round(CAST(d.dot AS DOUBLE) / (sqrt(CAST(cn.norm_sq AS DOUBLE)) * sqrt(CAST(qn.norm_sq AS DOUBLE))), 6) AS cos
         |    FROM cbf_dot$s d
         |    JOIN cbf_nrm cn ON cn.doc_id = d.doc_id
         |    JOIN cbf_nrm qn ON qn.doc_id = d.q_id) x)""".stripMargin
    def stageSelect(s: Int, kIx: Int, kVec: Int): String =
      s"""SELECT CAST($s AS BIGINT) AS stage,
         |  (SELECT count(*) + ${kIx - 1} * (SELECT count(*) FROM mp_base WHERE doc_id % $m = 1)
         |   FROM mp_base WHERE doc_id % $m NOT IN (3)) AS n_ix_rows,
         |  (SELECT CAST($kIx AS BIGINT) * count(*) FROM mp_base WHERE doc_id % $m = 1) AS n_ix_night,
         |  (SELECT count(*) FROM mp_base WHERE doc_id % $m NOT IN (3)) AS n_ix_distinct,
         |  (SELECT count(*) FROM cbf_c) AS n_cand,
         |  (SELECT count(*) + ${kVec - 1} * (SELECT count(*) FROM cbf_mem WHERE doc_id % $m = 1)
         |   FROM cbf_mem) AS n_vec_rows,
         |  (SELECT CAST($kVec AS BIGINT) * count(*) FROM cbf_mem WHERE doc_id % $m = 1) AS n_vec_night,
         |  (SELECT count(*) FROM cbf_mem) AS n_vec_distinct,
         |  r.q_id, r.rank, r.doc_id, r.cos
         |FROM cbf_k$s r WHERE r.rank <= $K""".stripMargin
    s"""WITH ${HashDedup.mpChainSql},
       |${PipelineQueries.embDimsCtesSqlFrom("corpus")},
       |cbf_nrm AS MATERIALIZED (SELECT doc_id, CAST(sum(e*e) AS BIGINT) AS norm_sq FROM e GROUP BY 1),
       |cbf_q AS (
       |  SELECT doc_id AS q_id FROM cbf_nrm
       |  WHERE doc_id % $EmbedQEvery = 0 AND doc_id % $m <> 3),
       |cbf_mem AS MATERIALIZED (
       |  SELECT doc_id FROM cbf_nrm
       |  WHERE doc_id % $m <> 3 AND doc_id % $EmbedQEvery <> 0),
       |cbf_c AS MATERIALIZED (
       |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b
       |  FROM (SELECT * FROM mp_base WHERE doc_id % $m = 3) a
       |  JOIN (SELECT * FROM mp_base WHERE doc_id % $m <> 3) b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id <> b.doc_id),
       |${(0 to 3).map(vecCtes).mkString(",\n")}
       |${phases.map { case (s, (ki, kv)) => stageSelect(s, ki, kv) }.mkString("\nUNION ALL\n")}
       |ORDER BY stage, q_id, rank""".stripMargin
  }
}

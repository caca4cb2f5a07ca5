package graft.queries

import graft.store.Layout
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** THE CROSS-FAMILY NIGHT (SURVEY §2 №195) — the capstone composition the
  * per-family calendars (№190 text, №185/№189 vector) stop short of: a real
  * training-data platform runs ONE nightly batch through BOTH persisted
  * stores, and the dedup DECISION feeds the vector side — a batch doc that
  * near-dups an indexed doc is dropped BEFORE embedding, so the duplicate
  * never pollutes retrieval (the interaction surface where real pipelines
  * leak: a doc deduped from the corpus but still serving from the vector
  * store). Reference semantics: the export's single nightly increment
  * feeding every downstream consumer of the same snapshot
  * (app/batch/HBaseReader.kt:131-160).
  *
  * One night, two stores, two serves reading FILES:
  *   E0  land the banded dedup index (base band rows, gen=0) and the
  *       vector store (base docs' №82 hashed embeddings; query docs held
  *       out — the embed_knn convention)
  *   S0  serve: per-query exact-integer cosine top-[[VectorQueries.K]]
  *       over the store files + both censuses in every row
  *   NIGHT the batch (doc class 1 of [[HashDedup.IncCalMod]]):
  *       probe its band keys against the index files → verify with the
  *       shared exact τ=3/5 test → DUPS = batch docs with a verified
  *       indexed partner → append only the SURVIVORS' band rows (gen=1)
  *       AND only the survivors' embeddings (dups anti-joined out — a
  *       distributed anti-join, never a driver id list)
  *   S1  serve again: novel batch docs may enter top-k; dropped dups
  *       CANNOT (CorpusNightSpec reads the store files back and pins
  *       their absence, plus the control: appending the dups too would
  *       change served results — the dedup decision is load-bearing on
  *       the retrieval side, not bookkeeping)
  *
  * Output: (stage, n_index_rows, n_vecs, n_dropped, q_id, rank, doc_id,
  * cos) — censuses ride the driver hash. The oracle rebuilds everything
  * closed-form: band keys, candidates, τ verification, the dup set, both
  * store memberships, and the exact-integer cosine rankings. At 100 TB:
  * the probe is №187's co-located band join, the embed pass is
  * vocab-then-doc-sized (№82's shape), both appends are batch-sized file
  * adds, and the serves are the established store shapes — the
  * composition adds coordination, not new scaling terms. */
object CorpusNight {

  /** Diagnostics for the spec: the dup ids, survivor count, and the
    * vector-store doc ids visible at each serve. */
  private[graft] final case class NightDetail(
      dups: Set[Long],
      nSurvivors: Long,
      storeDocs: Map[Int, Set[Long]])

  def corpusNight(spark: SparkSession, dir: String): DataFrame =
    corpusNightDetail(spark, dir)._1

  private[graft] def corpusNightDetail(
      spark: SparkSession, dir: String): (DataFrame, NightDetail) = {
    import VectorQueries.{EmbedQEvery, K}
    import HashDedup.clsOf
    val m = HashDedup.IncCalMod.toLong
    val corpus = new HashDedup.IndexCorpus(spark, dir)
    import corpus.ofCls
    val ve = PipelineQueries.corpusVectors(spark, dir)
    val queries = PipelineQueries.corpusQueries(ve, 1L)

    val root = graft.Fs.storeDir("night", dir)
    graft.Fs.rmTree(root)
    val ixStore = HashDedup.bandIndex(root.resolve("index"))
    val vStore = PipelineQueries.vectorStore(root.resolve("vectors"))
    ixStore.append(HashDedup.atGen(ofCls(_ =!= 1L), 0), Layout.Files(4))
    vStore.append(ve.filter(col("cls") =!= 1L && !(col("doc_id") % EmbedQEvery === 0))
      .select(col("doc_id"), col("emb_arr"), col("norm_sq")), Layout.Files(4))

    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long, Long, Long, Double)]
    val storeDocs = scala.collection.mutable.Map.empty[Int, Set[Long]]
    def serve(stage: Int, nDropped: Long): Unit = {
      val ixBack = ixStore.read(spark)
      val vBack = vStore.read(spark)
      val scored = PipelineQueries.exactCos(vBack, queries)
      val census = ixBack.agg(count(lit(1)).as("n_index_rows"))
        .crossJoin(broadcast(vBack.agg(count(lit(1)).as("n_vecs"))))
      VectorQueries.topKRanked(scored, "q_id", "cos", "doc_id", K)
        .crossJoin(broadcast(census)).collect().foreach(r =>
          out += ((stage.toLong, r.getAs[Long]("n_index_rows"), r.getAs[Long]("n_vecs"),
            nDropped, r.getAs[Long]("q_id"), r.getAs[Number]("rank").longValue,
            r.getAs[Long]("doc_id"), r.getAs[Double]("cos"))))
      storeDocs(stage) = vBack.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    }
    serve(0, 0L)

    // THE NIGHT: probe the index FILES, verify exactly, split the batch;
    // the decision lands as a manifest ([[HashDedup.landDecision]])
    val batchKeys = ofCls(_ === 1L)
    val cand = HashDedup.bandCandidates(batchKeys, ixStore.read(spark))
    val dups = HashDedup.landDecision(root.resolve("dups"),
      HashDedup.batchDups(corpus.sh5, cand, clsOf(_) === 1L))
    val nDropped = dups.count()
    // survivors: distributed anti-join — the dup set is batch-bounded but
    // never becomes a driver-side literal list in the plan
    ixStore.append(HashDedup.atGen(batchKeys.join(dups, Seq("doc_id"), "left_anti"), 1), Layout.Files(2))
    vStore.append(ve.filter(col("cls") === 1L).select(col("doc_id"), col("emb_arr"), col("norm_sq"))
      .join(dups, Seq("doc_id"), "left_anti"), Layout.Files(2))
    serve(1, nDropped)

    import spark.implicits._
    val df = out.toSeq
      .toDF("stage", "n_index_rows", "n_vecs", "n_dropped", "q_id", "rank", "doc_id", "cos")
      .orderBy(col("stage"), col("q_id"), col("rank"))
    val dupIds = dups.collect().map(_.getLong(0)).toSet
    (df, NightDetail(dupIds, storeDocs(1).count(d => d % m == 1L).toLong, storeDocs.toMap))
  }

  val corpusNightSql: String = {
    import VectorQueries.{EmbedQEvery, K}
    val m = HashDedup.IncCalMod
    def searchCte(s: Int): String =
      s"""cnx_dot$s AS (
         |  SELECT qe.doc_id AS q_id, ce.doc_id, CAST(sum(ce.e * qe.e) AS BIGINT) AS dot
         |  FROM e ce JOIN cnx_mem$s mem ON mem.doc_id = ce.doc_id
         |  JOIN e qe ON qe.j = ce.j
         |  JOIN cnx_q q ON q.q_id = qe.doc_id
         |  GROUP BY 1, 2),
         |cnx_r$s AS (
         |  SELECT d.q_id, d.doc_id,
         |    round(CAST(d.dot AS DOUBLE) / (sqrt(CAST(cn.norm_sq AS DOUBLE)) * sqrt(CAST(qn.norm_sq AS DOUBLE))), 6) AS cos
         |  FROM cnx_dot$s d
         |  JOIN cnx_nrm cn ON cn.doc_id = d.doc_id
         |  JOIN cnx_nrm qn ON qn.doc_id = d.q_id),
         |cnx_k$s AS (
         |  SELECT q_id, doc_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS rank
         |  FROM cnx_r$s),
         |cnx_cnt$s AS (
         |  SELECT (SELECT count(*) FROM cnx_ix$s) AS n_index_rows,
         |    (SELECT count(*) FROM cnx_mem$s) AS n_vecs)""".stripMargin
    def stageSelect(s: Int, droppedSql: String): String =
      s"""SELECT CAST($s AS BIGINT) AS stage, c.n_index_rows, c.n_vecs,
         |  CAST($droppedSql AS BIGINT) AS n_dropped, r.q_id, r.rank, r.doc_id, r.cos
         |FROM cnx_k$s r, cnx_cnt$s c WHERE r.rank <= $K""".stripMargin
    s"""WITH ${HashDedup.mpChainSql},
       |${PipelineQueries.embDimsCtesSqlFrom("corpus")},
       |cnx_s5 AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(ws)-3), i ->
       |      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS sh
       |  FROM mp_d),
       |cnx_c AS MATERIALIZED (
       |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b
       |  FROM (SELECT * FROM mp_base WHERE doc_id % $m = 1) a
       |  JOIN (SELECT * FROM mp_base WHERE doc_id % $m <> 1) b
       |    ON a.band = b.band AND a.band_key = b.band_key),
       |cnx_dup AS MATERIALIZED (
       |  SELECT DISTINCT CASE WHEN c.doc_a % $m = 1 THEN c.doc_a ELSE c.doc_b END AS doc_id
       |  FROM cnx_c c JOIN cnx_s5 sa ON sa.doc_id = c.doc_a JOIN cnx_s5 sb ON sb.doc_id = c.doc_b
       |  WHERE len(list_intersect(sa.sh, sb.sh)) * 5
       |    >= (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) * 3),
       |cnx_nrm AS MATERIALIZED (SELECT doc_id, CAST(sum(e*e) AS BIGINT) AS norm_sq FROM e GROUP BY 1),
       |cnx_q AS (
       |  SELECT doc_id AS q_id FROM cnx_nrm
       |  WHERE doc_id % $EmbedQEvery = 0 AND doc_id % $m <> 1),
       |cnx_mem0 AS MATERIALIZED (
       |  SELECT doc_id FROM cnx_nrm
       |  WHERE doc_id % $m <> 1 AND doc_id % $EmbedQEvery <> 0),
       |cnx_mem1 AS MATERIALIZED (
       |  SELECT doc_id FROM cnx_mem0
       |  UNION ALL
       |  SELECT doc_id FROM cnx_nrm
       |  WHERE doc_id % $m = 1 AND doc_id NOT IN (SELECT doc_id FROM cnx_dup)),
       |cnx_ix0 AS (SELECT doc_id FROM mp_base WHERE doc_id % $m <> 1),
       |cnx_ix1 AS (
       |  SELECT doc_id FROM cnx_ix0
       |  UNION ALL
       |  SELECT doc_id FROM mp_base
       |  WHERE doc_id % $m = 1 AND doc_id NOT IN (SELECT doc_id FROM cnx_dup)),
       |${searchCte(0)},
       |${searchCte(1)}
       |${stageSelect(0, "0")}
       |UNION ALL
       |${stageSelect(1, "(SELECT count(*) FROM cnx_dup)")}
       |ORDER BY stage, q_id, rank""".stripMargin
  }
}

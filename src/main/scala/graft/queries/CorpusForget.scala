package graft.queries

import graft.store.Layout
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** THE CROSS-STORE FORGET (SURVEY §2 №198) — the composition the
  * per-store delete legs (№196 text, №192 vector) stop short of, and the
  * exact surface §17's frontier named as where real pipelines leak: ONE
  * right-to-be-forgotten manifest must leave BOTH persisted stores of the
  * №195 platform (the banded dedup index and the vector serving store),
  * and a forget applied to only one of them leaves the forgotten docs
  * SERVING from the other. That leak is not narrated here — it is a
  * measured stage: between the text-side and vector-side waves the index
  * reads back clean while the retrieval top-k still surfaces forgotten
  * docs, and the `n_forgot_topk` census bills it row by row. Reference
  * analogue: an HBase tombstone propagating to every downstream consumer
  * of the export — deleting from the source table alone leaves every
  * already-exported snapshot serving the row
  * (app/batch/HBaseResultProcessor.kt's live-cells-only contract).
  *
  * One manifest, two stores, four serves reading FILES:
  *   E0  land both stores (№195's layout; the vector store
  *       bucket-partitioned so its delete is delta-shaped)
  *   S0  serve both — forgotten docs genuinely index AND serve (the
  *       drill is not vacuous)
  *   W1  TEXT wave: the index's surviving band rows land as a new
  *       generation, the old generation drops (№190's add-then-remove)
  *   S1  THE LEAK — n_del_ix = 0 while n_del_vec > 0: the forgotten
  *       docs are gone from dedup but still retrievable
  *   W2  VECTOR waves: even then odd buckets dynamic-overwritten from
  *       the cached frame (№192's shape; a fully-forgotten bucket's
  *       stale directory is dropped explicitly)
  *   S2  both clean — n_del_vec = 0, n_forgot_topk = 0
  *   NIGHT the №195 nightly batch through the POST-forget stores:
  *       probe → verify → dup manifest landed as FILES (№195's lineage
  *       lesson) → both appends take only survivors. The interaction
  *       measured: the dedup decision now runs against a forgotten-free
  *       index, so the post-forget dup set is a SUBSET of the pre-forget
  *       one (a batch doc whose only near-dup partner was forgotten now
  *       survives — CorpusForgetSpec pins the containment and bills the
  *       difference)
  *   S3  serve both — novel survivors may enter top-k; forgotten docs
  *       are in NEITHER store and the appends cannot resurrect them
  *
  * Output: (stage, n_index_rows, n_vecs, n_del_ix, n_del_vec,
  * n_forgot_topk, n_dropped, q_id, rank, doc_id, cos). The oracle
  * rebuilds everything closed-form — both store memberships per stage
  * are pure functions of doc_id and the manifest residue, the dup set is
  * the τ=3/5 verification against the post-forget index, and the
  * rankings are the exact-integer cosine. At 100 TB: the manifest is a
  * broadcast id set on both sides, each wave rewrites only its
  * generations' / buckets' files, the night is №195's coordination — the
  * forget adds one ordering rule (text first is the leak-shaped order;
  * EITHER single-store forget leaks until its twin runs), not a new
  * scaling term. */
object CorpusForget {

  /** Diagnostics for the spec: the manifest ids, the dup decision under
    * the pre-forget and post-forget index (containment is the measured
    * interaction), and both stores' doc ids read back per stage. */
  private[graft] final case class ForgetDetail(
      manifest: Set[Long],
      preDups: Set[Long],
      postDups: Set[Long],
      ixDocs: Map[Int, Set[Long]],
      vecDocs: Map[Int, Set[Long]])

  val FgtBuckets = 8L

  def corpusForget(spark: SparkSession, dir: String): DataFrame =
    corpusForgetDetail(spark, dir)._1

  private[graft] def corpusForgetDetail(
      spark: SparkSession, dir: String): (DataFrame, ForgetDetail) = {
    import VectorQueries.{EmbedQEvery, K}
    import HashDedup.clsOf
    val m = HashDedup.IncCalMod.toLong
    // the manifest: stored docs only — batch (cls=1) and held-out query
    // docs share the residue but are probe/query keys, not store rows
    def delOf(c: Column): Column =
      c % HashDedup.TxtDelMod === HashDedup.TxtDelRes &&
        clsOf(c) =!= 1L && c % EmbedQEvery =!= 0
    val corpus = new HashDedup.IndexCorpus(spark, dir)
    import corpus.ofCls
    val ve = PipelineQueries.corpusVectors(spark, dir)
    val queries = PipelineQueries.corpusQueries(ve, 1L)

    val root = graft.Fs.storeDir("forget", dir)
    graft.Fs.rmTree(root)
    val ixStore = HashDedup.bandIndex(root.resolve("index"))
    val vStore = PipelineQueries.vectorStore(root.resolve("vectors"), "bkt LONG")
    val vStored = ve.filter(col("cls") =!= 1L && !(col("doc_id") % EmbedQEvery === 0))
      .select(col("doc_id"), col("emb_arr"), col("norm_sq"))
      .withColumn("bkt", pmod(col("doc_id"), lit(FgtBuckets)))
    ixStore.append(HashDedup.atGen(ofCls(_ =!= 1L), 0), Layout.Files(4))
    vStore.land(vStored)

    val out = scala.collection.mutable.ArrayBuffer.empty[
      (Long, Long, Long, Long, Long, Long, Long, Long, Long, Long, Double)]
    val ixDocs = scala.collection.mutable.Map.empty[Int, Set[Long]]
    val vecDocs = scala.collection.mutable.Map.empty[Int, Set[Long]]
    def serve(stage: Int, nDropped: Long): Unit = {
      val ixBack = ixStore.read(spark)
      val vBack = vStore.read(spark)
      val scored = PipelineQueries.exactCos(vBack, queries)
      val census = ixBack.agg(count(lit(1)).as("n_index_rows"),
          sum(when(delOf(col("doc_id")), 1L).otherwise(0L)).as("n_del_ix"))
        .crossJoin(broadcast(vBack.agg(count(lit(1)).as("n_vecs"),
          sum(when(delOf(col("doc_id")), 1L).otherwise(0L)).as("n_del_vec"))))
      val served = VectorQueries.topKRanked(scored, "q_id", "cos", "doc_id", K)
        .crossJoin(broadcast(census)).collect()
      val nForgot = served.count(r => {
        val d = r.getAs[Long]("doc_id")
        d % HashDedup.TxtDelMod == HashDedup.TxtDelRes && d % m != 1L && d % EmbedQEvery != 0
      }).toLong
      served.foreach(r =>
        out += ((stage.toLong, r.getAs[Long]("n_index_rows"), r.getAs[Long]("n_vecs"),
          r.getAs[Long]("n_del_ix"), r.getAs[Long]("n_del_vec"), nForgot, nDropped,
          r.getAs[Long]("q_id"), r.getAs[Number]("rank").longValue,
          r.getAs[Long]("doc_id"), r.getAs[Double]("cos"))))
      ixDocs(stage) = ixBack.select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
      vecDocs(stage) = vBack.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    }
    serve(0, 0L)

    // W1 — TEXT: surviving band rows land as gen=10, gen=0 drops
    ixStore.append(HashDedup.atGen(ofCls(_ =!= 1L).filter(!delOf(col("doc_id"))), 10), Layout.Files(4))
    ixStore.drop(0)
    serve(1, 0L)

    // W2 — VECTOR: even-then-odd bucket waves from the cached frame; a
    // bucket whose rows are all forgotten is dropped
    def wave(parity: Long): Unit =
      vStore.replace(vStored.filter(col("bkt") % 2 === parity && !delOf(col("doc_id"))),
        (0L until FgtBuckets).filter(_ % 2 == parity))
    wave(0L); wave(1L)
    serve(2, 0L)

    // THE NIGHT against the post-forget stores (№195's shape; the
    // decision lands as a manifest, [[HashDedup.landDecision]])
    val batchKeys = ofCls(_ === 1L)
    def dupIdsAgainst(ix: DataFrame): DataFrame = HashDedup.batchDups(
      corpus.sh5, HashDedup.bandCandidates(batchKeys, ix), clsOf(_) === 1L)
    // the pre-forget CONTROL decision, from the cached rows (never files)
    val preDups = dupIdsAgainst(ofCls(_ =!= 1L)).collect().map(_.getLong(0)).toSet
    val dups = HashDedup.landDecision(root.resolve("dups"), dupIdsAgainst(ixStore.read(spark)))
    val nDropped = dups.count()
    ixStore.append(HashDedup.atGen(batchKeys.join(dups, Seq("doc_id"), "left_anti"), 1), Layout.Files(2))
    val fresh = ve.filter(col("cls") === 1L).select(col("doc_id"), col("emb_arr"), col("norm_sq"))
      .join(dups, Seq("doc_id"), "left_anti")
      .withColumn("bkt", pmod(col("doc_id"), lit(FgtBuckets)))
    vStore.append(fresh)
    serve(3, nDropped)

    import spark.implicits._
    val df = out.toSeq
      .toDF("stage", "n_index_rows", "n_vecs", "n_del_ix", "n_del_vec",
        "n_forgot_topk", "n_dropped", "q_id", "rank", "doc_id", "cos")
      .orderBy(col("stage"), col("q_id"), col("rank"))
    val manifest = ixDocs(0).filter(d =>
      d % HashDedup.TxtDelMod == HashDedup.TxtDelRes && d % m != 1L && d % EmbedQEvery != 0)
    (df, ForgetDetail(manifest, preDups,
      dups.collect().map(_.getLong(0)).toSet, ixDocs.toMap, vecDocs.toMap))
  }

  val corpusForgetSql: String = {
    import VectorQueries.{EmbedQEvery, K}
    val m = HashDedup.IncCalMod
    val dm = HashDedup.TxtDelMod; val dr = HashDedup.TxtDelRes
    def del(c: String): String =
      s"($c % $dm = $dr AND $c % $m <> 1 AND $c % $EmbedQEvery <> 0)"
    def searchCte(s: Int): String =
      s"""cfg_dot$s AS (
         |  SELECT qe.doc_id AS q_id, ce.doc_id, CAST(sum(ce.e * qe.e) AS BIGINT) AS dot
         |  FROM e ce JOIN cfg_mem$s mem ON mem.doc_id = ce.doc_id
         |  JOIN e qe ON qe.j = ce.j
         |  JOIN cfg_q q ON q.q_id = qe.doc_id
         |  GROUP BY 1, 2),
         |cfg_r$s AS (
         |  SELECT d.q_id, d.doc_id,
         |    round(CAST(d.dot AS DOUBLE) / (sqrt(CAST(cn.norm_sq AS DOUBLE)) * sqrt(CAST(qn.norm_sq AS DOUBLE))), 6) AS cos
         |  FROM cfg_dot$s d
         |  JOIN cfg_nrm cn ON cn.doc_id = d.doc_id
         |  JOIN cfg_nrm qn ON qn.doc_id = d.q_id),
         |cfg_k$s AS MATERIALIZED (
         |  SELECT q_id, doc_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS rank
         |  FROM cfg_r$s),
         |cfg_cnt$s AS (
         |  SELECT (SELECT count(*) FROM cfg_ix$s) AS n_index_rows,
         |    (SELECT count(*) FROM cfg_mem$s) AS n_vecs,
         |    (SELECT count(*) FROM cfg_ix$s WHERE ${del("doc_id")}) AS n_del_ix,
         |    (SELECT count(*) FROM cfg_mem$s WHERE ${del("doc_id")}) AS n_del_vec,
         |    (SELECT count(*) FROM cfg_k$s WHERE rank <= $K AND ${del("doc_id")}) AS n_forgot_topk)""".stripMargin
    def stageSelect(s: Int, droppedSql: String): String =
      s"""SELECT CAST($s AS BIGINT) AS stage, c.n_index_rows, c.n_vecs, c.n_del_ix, c.n_del_vec,
         |  c.n_forgot_topk, CAST($droppedSql AS BIGINT) AS n_dropped, r.q_id, r.rank, r.doc_id, r.cos
         |FROM cfg_k$s r, cfg_cnt$s c WHERE r.rank <= $K""".stripMargin
    s"""WITH ${HashDedup.mpChainSql},
       |${PipelineQueries.embDimsCtesSqlFrom("corpus")},
       |cfg_s5 AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(ws)-3), i ->
       |      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS sh
       |  FROM mp_d),
       |cfg_c AS MATERIALIZED (
       |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b
       |  FROM (SELECT * FROM mp_base WHERE doc_id % $m = 1) a
       |  JOIN (SELECT * FROM mp_base WHERE doc_id % $m <> 1 AND NOT ${del("doc_id")}) b
       |    ON a.band = b.band AND a.band_key = b.band_key),
       |cfg_dup AS MATERIALIZED (
       |  SELECT DISTINCT CASE WHEN c.doc_a % $m = 1 THEN c.doc_a ELSE c.doc_b END AS doc_id
       |  FROM cfg_c c JOIN cfg_s5 sa ON sa.doc_id = c.doc_a JOIN cfg_s5 sb ON sb.doc_id = c.doc_b
       |  WHERE len(list_intersect(sa.sh, sb.sh)) * 5
       |    >= (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) * 3),
       |cfg_nrm AS MATERIALIZED (SELECT doc_id, CAST(sum(e*e) AS BIGINT) AS norm_sq FROM e GROUP BY 1),
       |cfg_q AS (
       |  SELECT doc_id AS q_id FROM cfg_nrm
       |  WHERE doc_id % $EmbedQEvery = 0 AND doc_id % $m <> 1),
       |cfg_mem0 AS MATERIALIZED (
       |  SELECT doc_id FROM cfg_nrm
       |  WHERE doc_id % $m <> 1 AND doc_id % $EmbedQEvery <> 0),
       |cfg_mem1 AS (SELECT doc_id FROM cfg_mem0),
       |cfg_mem2 AS MATERIALIZED (
       |  SELECT doc_id FROM cfg_mem0 WHERE NOT ${del("doc_id")}),
       |cfg_mem3 AS MATERIALIZED (
       |  SELECT doc_id FROM cfg_mem2
       |  UNION ALL
       |  SELECT doc_id FROM cfg_nrm
       |  WHERE doc_id % $m = 1 AND doc_id NOT IN (SELECT doc_id FROM cfg_dup)),
       |cfg_ix0 AS (SELECT doc_id FROM mp_base WHERE doc_id % $m <> 1),
       |cfg_ix1 AS MATERIALIZED (
       |  SELECT doc_id FROM mp_base WHERE doc_id % $m <> 1 AND NOT ${del("doc_id")}),
       |cfg_ix2 AS (SELECT doc_id FROM cfg_ix1),
       |cfg_ix3 AS (
       |  SELECT doc_id FROM cfg_ix1
       |  UNION ALL
       |  SELECT doc_id FROM mp_base
       |  WHERE doc_id % $m = 1 AND doc_id NOT IN (SELECT doc_id FROM cfg_dup)),
       |${(0 to 3).map(searchCte).mkString(",\n")}
       |${Seq(
          stageSelect(0, "0"), stageSelect(1, "0"), stageSelect(2, "0"),
          stageSelect(3, "(SELECT count(*) FROM cfg_dup)")).mkString("\nUNION ALL\n")}
       |ORDER BY stage, q_id, rank""".stripMargin
  }
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CROSS-STORE RETENTION (SURVEY §2 №201) — the last named frontier
  * composition: a freshness window is a CORPUS policy, not a per-store
  * one, and applying it to only one store leaves the platform
  * incoherent — dedup goes blind to docs that still serve from
  * retrieval. This row ages the SAME generations out of both №195
  * stores (the banded dedup index and the vector store) and measures
  * the incoherent middle state as its own stage, exactly as №198 did
  * for the forget leak:
  *
  *   S0  both stores full (window 3): night-3 probes find base
  *       partners; base docs serve from retrieval
  *   S1  INCOHERENT — text aged to window 2 (base generation dropped),
  *       vector still full: the dedup probe can no longer find ANY
  *       base-partner pair (n_hit restricted to night-1/2 partners)
  *       while base docs STILL SERVE from the vector store
  *       (`n_base_topk` > 0 — the staleness leak, billed per serve:
  *       retrieval keeps surfacing docs dedup can no longer protect
  *       against duplicating)
  *   S2  coherent window 2 — vector base generation dropped too:
  *       n_base_topk = 0, and the vector losses are exactly the aged
  *       members (№197's n_kept argument)
  *   S3  coherent window 1 — night 1 aged from both
  *
  * Both stores are gen-partitioned so every age-out is a directory
  * drop (№193/№197's file-level discipline — no rewrite, no pause);
  * probes and query routing never change (the bills are
  * window-independent on both sides); every serve reads the FILES
  * back. Reference analogue: one HBase column-family TTL governing
  * every consumer of the table — a per-consumer TTL is the bug this
  * row measures. The oracle rebuilds all four two-store states
  * closed-form (membership is a pure function of doc_id class). At
  * 100 TB: the window is one policy object; each store ages by
  * dropping its own generation directories; the ordering rule mirrors
  * №198's — EITHER single-store age-out leaves the platform
  * incoherent until its twin runs. */
object CorpusRetention {

  /** Diagnostics: text-side verified hit pairs and vector top-k pairs
    * per stage, plus both stores' generation directories per stage. */
  private[graft] final case class RetentionDetail(
      hitPairs: Map[Int, Set[(Long, Long)]],
      topk: Map[Int, Set[(Long, Long)]],
      ixGens: Map[Int, Seq[String]],
      vecGens: Map[Int, Seq[String]])

  def corpusRetention(spark: SparkSession, dir: String): DataFrame =
    corpusRetentionDetail(spark, dir)._1

  private[graft] def corpusRetentionDetail(
      spark: SparkSession, dir: String): (DataFrame, RetentionDetail) = {
    import VectorQueries.{EmbedQEvery, K}
    import HashDedup.clsOf
    val m = HashDedup.IncCalMod.toLong
    val corpus = new HashDedup.IndexCorpus(spark, dir)
    import corpus.{ofCls, truthAll}
    val ve = PipelineQueries.corpusVectors(spark, dir)
    // night-3 probes the index; queries are held-out non-batch docs
    val queries = PipelineQueries.corpusQueries(ve, 3L)
    val genOf: Column = when(clsOf(col("doc_id")) === 1L, 1)
      .when(clsOf(col("doc_id")) === 2L, 2).otherwise(0)

    val root = graft.Fs.storeDir("corpret", dir)
    graft.Fs.rmTree(root)
    val ixStore = HashDedup.bandIndex(root.resolve("index"))
    val vStore = PipelineQueries.vectorStore(root.resolve("vectors"), "gen INT")
    ixStore.land(ofCls(_ =!= 3L).withColumn("gen", genOf))
    vStore.land(ve.filter(col("cls") =!= 3L && !(col("doc_id") % EmbedQEvery === 0))
      .select(col("doc_id"), col("emb_arr"), col("norm_sq")).withColumn("gen", genOf))

    val night3Keys = ofCls(_ === 3L)
    // text truth per stage: night-3 pairs whose partner is in the stage's
    // TEXT window (stage 1 shares stage 2's text window — that is the point)
    def partnerAt(stage: Int)(c: Column): Column = stage match {
      case 0 => clsOf(c) =!= 3L
      case 1 | 2 => clsOf(c).isin(1L, 2L)
      case 3 => clsOf(c) === 2L
    }
    def truthAt(stage: Int): DataFrame = truthAll.filter(
      (clsOf(col("doc_a")) === 3L && partnerAt(stage)(col("doc_b"))) ||
        (clsOf(col("doc_b")) === 3L && partnerAt(stage)(col("doc_a"))))

    val out = scala.collection.mutable.ArrayBuffer.empty[
      (Long, Long, Long, Long, Long, Long, Long, Long, Long, Long, Double)]
    val hitPairs = scala.collection.mutable.Map.empty[Int, Set[(Long, Long)]]
    val topk = scala.collection.mutable.Map.empty[Int, Set[(Long, Long)]]
    val ixGens = scala.collection.mutable.Map.empty[Int, Seq[String]]
    val vecGens = scala.collection.mutable.Map.empty[Int, Seq[String]]
    var full: Set[(Long, Long)] = Set.empty
    def serve(stage: Int): Unit = {
      // TEXT leg: probe the index files, verify, hit vs the window truth
      val ixBack = ixStore.read(spark).select(col("doc_id"), col("band"), col("band_key"))
      val cand = HashDedup.bandCandidates(night3Keys, ixBack)
      val ts = truthAt(stage)
      val hits = TextQueries.verifyPairsOf(corpus.sh5, cand).select(col("doc_a"), col("doc_b"))
        .join(broadcast(ts), Seq("doc_a", "doc_b"))
      // VECTOR leg: serve the files
      val vBack = vStore.read(spark)
      val scored = PipelineQueries.exactCos(vBack, queries)
      val census = ixBack.agg(count(lit(1)).as("n_index_rows"))
        .crossJoin(broadcast(vBack.agg(count(lit(1)).as("n_vecs"))))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hit"))))
        .crossJoin(broadcast(ts.agg(count(lit(1)).as("n_true_w"))))
      val served = VectorQueries.topKRanked(scored, "q_id", "cos", "doc_id", K)
        .crossJoin(broadcast(census)).collect()
      val pairs = served.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("doc_id"))).toSet
      if (stage == 0) full = pairs
      val nKept = pairs.count(full.contains).toLong
      val nBaseTopk = served.count(r => {
        val c = r.getAs[Long]("doc_id") % m; c != 1L && c != 2L && c != 3L
      }).toLong
      served.foreach(r =>
        out += ((stage.toLong, r.getAs[Long]("n_index_rows"), r.getAs[Long]("n_vecs"),
          r.getAs[Long]("n_hit"), r.getAs[Long]("n_true_w"), nKept, nBaseTopk,
          r.getAs[Long]("q_id"), r.getAs[Number]("rank").longValue,
          r.getAs[Long]("doc_id"), r.getAs[Double]("cos"))))
      hitPairs(stage) = hits.select(col("doc_a"), col("doc_b")).collect()
        .map(h => (h.getLong(0), h.getLong(1))).toSet
      topk(stage) = pairs
      ixGens(stage) = ixStore.dirs; vecGens(stage) = vStore.dirs
    }
    serve(0)
    ixStore.drop(0); serve(1)   // INCOHERENT
    vStore.drop(0); serve(2)
    ixStore.drop(1)
    vStore.drop(1); serve(3)
    import spark.implicits._
    val df = out.toSeq
      .toDF("stage", "n_index_rows", "n_vecs", "n_hit", "n_true_w",
        "n_kept", "n_base_topk", "q_id", "rank", "doc_id", "cos")
      .orderBy(col("stage"), col("q_id"), col("rank"))
    (df, RetentionDetail(hitPairs.toMap, topk.toMap, ixGens.toMap, vecGens.toMap))
  }

  val corpusRetentionSql: String = {
    import VectorQueries.{EmbedQEvery, K}
    val m = HashDedup.IncCalMod
    def ixWin(s: Int): String = s match {
      case 0 => s"doc_id % $m <> 3"
      case 1 | 2 => s"doc_id % $m IN (1, 2)"
      case 3 => s"doc_id % $m = 2"
    }
    def partner(s: Int, c: String): String = s match {
      case 0 => s"$c % $m <> 3"
      case 1 | 2 => s"$c % $m IN (1, 2)"
      case 3 => s"$c % $m = 2"
    }
    def truthPred(s: Int, p: String = ""): String =
      s"($p" + s"doc_a % $m = 3 AND ${partner(s, p + "doc_b")}) OR ($p" +
        s"doc_b % $m = 3 AND ${partner(s, p + "doc_a")})"
    def vecWin(s: Int): String = s match {
      case 0 | 1 => s"doc_id % $m <> 3"
      case 2 => s"doc_id % $m IN (1, 2)"
      case 3 => s"doc_id % $m = 2"
    }
    def textCtes(s: Int): String =
      s"""crt_c$s AS MATERIALIZED (
         |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b
         |  FROM (SELECT * FROM mp_base WHERE doc_id % $m = 3) a
         |  JOIN (SELECT * FROM mp_base WHERE ${ixWin(s)}) b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id <> b.doc_id),
         |crt_h$s AS MATERIALIZED (
         |  SELECT c.doc_a, c.doc_b
         |  FROM crt_c$s c JOIN crt_s5 sa ON sa.doc_id = c.doc_a JOIN crt_s5 sb ON sb.doc_id = c.doc_b
         |  JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
         |  WHERE (${truthPred(s, "c.")})
         |    AND len(list_intersect(sa.sh, sb.sh)) * 5
         |      >= (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) * 3)""".stripMargin
    def vecCtes(s: Int): String =
      s"""crt_mem$s AS (SELECT doc_id FROM crt_nrm WHERE (${vecWin(s)}) AND doc_id % $EmbedQEvery <> 0),
         |crt_dot$s AS (
         |  SELECT qe.doc_id AS q_id, ce.doc_id, CAST(sum(ce.e * qe.e) AS BIGINT) AS dot
         |  FROM e ce JOIN crt_mem$s mem ON mem.doc_id = ce.doc_id
         |  JOIN e qe ON qe.j = ce.j
         |  JOIN crt_q q ON q.q_id = qe.doc_id
         |  GROUP BY 1, 2),
         |crt_k$s AS MATERIALIZED (
         |  SELECT q_id, doc_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS rank
         |  FROM (
         |    SELECT d.q_id, d.doc_id,
         |      round(CAST(d.dot AS DOUBLE) / (sqrt(CAST(cn.norm_sq AS DOUBLE)) * sqrt(CAST(qn.norm_sq AS DOUBLE))), 6) AS cos
         |    FROM crt_dot$s d
         |    JOIN crt_nrm cn ON cn.doc_id = d.doc_id
         |    JOIN crt_nrm qn ON qn.doc_id = d.q_id) x),
         |crt_cnt$s AS (
         |  SELECT (SELECT count(*) FROM mp_base WHERE ${ixWin(s)}) AS n_index_rows,
         |    (SELECT count(*) FROM crt_mem$s) AS n_vecs,
         |    (SELECT count(*) FROM crt_h$s) AS n_hit,
         |    (SELECT count(*) FROM truth WHERE ${truthPred(s)}) AS n_true_w,
         |    (SELECT count(*) FROM crt_k$s w JOIN crt_k0 f
         |       ON f.q_id = w.q_id AND f.doc_id = w.doc_id
         |     WHERE w.rank <= $K AND f.rank <= $K) AS n_kept,
         |    (SELECT count(*) FROM crt_k$s
         |     WHERE rank <= $K AND doc_id % $m NOT IN (1, 2, 3)) AS n_base_topk)""".stripMargin
    def stageSelect(s: Int): String =
      s"""SELECT CAST($s AS BIGINT) AS stage, c.n_index_rows, c.n_vecs, c.n_hit, c.n_true_w,
         |  c.n_kept, c.n_base_topk, r.q_id, r.rank, r.doc_id, r.cos
         |FROM crt_k$s r, crt_cnt$s c WHERE r.rank <= $K""".stripMargin
    s"""WITH ${HashDedup.mpChainSql},
       |${PipelineQueries.embDimsCtesSqlFrom("corpus")},
       |crt_s5 AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(ws)-3), i ->
       |      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS sh
       |  FROM mp_d),
       |crt_nrm AS MATERIALIZED (SELECT doc_id, CAST(sum(e*e) AS BIGINT) AS norm_sq FROM e GROUP BY 1),
       |crt_q AS (
       |  SELECT doc_id AS q_id FROM crt_nrm
       |  WHERE doc_id % $EmbedQEvery = 0 AND doc_id % $m <> 3),
       |${(0 to 3).map(textCtes).mkString(",\n")},
       |${(0 to 3).map(vecCtes).mkString(",\n")}
       |${(0 to 3).map(stageSelect).mkString("\nUNION ALL\n")}
       |ORDER BY stage, q_id, rank""".stripMargin
  }
}

package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FORGET UNDER LIVE STREAMING (SURVEY §2 №200) — the CRUD composition
  * the lifecycle matrix still lacked: right-to-be-forgotten manifests do
  * not arrive once a quarter in a maintenance window, they arrive ON THE
  * SAME STREAM as the data — and the store must apply each one between
  * micro-batch serves without tearing a cell or pausing ingest. This row
  * runs №184's file-backed serving discipline with №192's delete waves
  * INSIDE the stream: one replayed stream interleaves arrival batches and
  * forget manifests (A1, F1, A2, F2 — F1 names base rows, F2 names rows
  * that themselves ARRIVED via A1: a streamed-in row is later streamed
  * out, the corner no batch-mode delete exercises), and after every
  * completed micro-batch the store FILES are read back and served.
  *
  * Contract (closed-form, the oracle rebuilds it per prefix): serve t
  * sees base ∪ arrivals≤t MINUS manifests≤t — never a torn wave, never a
  * resurrected row, and `n_del_visible` (visible rows named by the FULL
  * manifest set) falls monotonically to 0: while a row's manifest is
  * still in flight the row legitimately serves (the streaming form of
  * №198's leak — billed per serve, not narrated). Applying a manifest is
  * №192's shape in miniature: touched cells only (the manifest's cells
  * under the frozen model), content derived from the CACHED assignment
  * frames (base + each completed arrival batch — never read-then-
  * overwrite of the live path), one dynamic partition overwrite, emptied
  * cells' directories dropped. Reference analogue: HBase deletes are
  * WRITES on the same WAL as puts — tombstones interleave with data and
  * every later scan honors the order
  * (app/batch/HBaseResultProcessor.kt's live-cells-only contract).
  * At 100 TB: manifests are batch-sized id sets, each wave rewrites only
  * its touched cells' files, serves stay broadcast-probe equi-joins —
  * the stream is an access path for deletion exactly as №184 made it one
  * for ingest. */
object StreamForget {

  /** Per-run diagnostics: served top-k pairs per batch, manifest sizes,
    * the data-batch count, and three DISTRIBUTED per-batch counts over
    * the read-back store (r14 verdict item 1 — the spec's invariants
    * re-pinned as executor-side aggregates, never an O(store) driver
    * collect):
    *  - `appliedVisible`: store rows named by any ALREADY-APPLIED
    *    manifest (left-semi count — must be 0 from the wave on);
    *  - `delBaseVisible` / `delA1Visible`: store rows named by the FULL
    *    manifest set, split base-leg vs arrived-via-A1 leg (pure
    *    predicates of vec_id — the nonEmpty-before / empty-after bill). */
  private[graft] final case class ForgetCensus(
      batches: Int,
      topk: Map[Long, Set[(Long, Long)]],
      appliedVisible: Map[Long, Long],
      delBaseVisible: Map[Long, Long],
      delA1Visible: Map[Long, Long],
      manifestSizes: Map[Long, Long])

  def streamForget(spark: SparkSession, dir: String): DataFrame =
    streamForgetWithCensus(spark, dir)._1

  private[graft] def streamForgetWithCensus(
      spark: SparkSession, dir: String): (DataFrame, ForgetCensus) = {
    import graft.queries.VectorQueries
    import VectorQueries.{K, Probe}
    val (queries, corpus) = VectorQueries.querySplit(VectorQueries.vectorsOf(spark, dir))
    val base = corpus.filter(col("vec_id") % 20 =!= 0) // №176's split
    val arrivals = corpus.filter(col("vec_id") % 20 === 0)
    val a1Of: Column = expr("vec_id % 20 = 0 AND (vec_id DIV 20) % 2 = 0")
    val cent = VectorQueries.refinedCentroids(spark, base, VectorQueries.Centroids)
    val baseA = graft.CacheRegistry.track(
      VectorQueries.cellsOf(base, cent).select(col("vec_id"), col("emb"), col("cell")).persist())
    // the FULL manifest set — the n_del_visible meter (a pure function of
    // vec_id: base and A1 rows with the residue; A2 rows are never named)
    val delFull: Column =
      expr("vec_id % 9 = 4 AND NOT (vec_id % 20 = 0 AND (vec_id DIV 20) % 2 = 1)")

    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_forget_")
    val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val store = scratch.resolve("store").toString
    VectorQueries.landStore(store, baseA)
    val name = s"stream_forget_${System.nanoTime()}"
    val nullEmb = lit(null).cast("array<float>")
    val bands = Seq(
      arrivals.filter(a1Of)
        .select(col("vec_id"), lit(0L).as("kind"), col("emb")),
      base.filter(col("vec_id") % 9 === 4)
        .select(col("vec_id"), lit(1L).as("kind"), nullEmb.as("emb")),
      arrivals.filter(!a1Of)
        .select(col("vec_id"), lit(0L).as("kind"), col("emb")),
      arrivals.filter(a1Of && col("vec_id") % 9 === 4)
        .select(col("vec_id"), lit(1L).as("kind"), nullEmb.as("emb")))

    val results = scala.collection.mutable.ArrayBuffer.empty[VectorQueries.Served]
    val topk = scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    val appliedVisible = scala.collection.mutable.Map.empty[Long, Long]
    val delBaseVisible = scala.collection.mutable.Map.empty[Long, Long]
    val delA1Visible = scala.collection.mutable.Map.empty[Long, Long]
    val manifestSizes = scala.collection.mutable.Map.empty[Long, Long]
    // cached content frames (base + completed arrival batches) and the
    // manifests applied so far — the rewrite's safe derivation source
    val landed = scala.collection.mutable.ArrayBuffer[DataFrame](baseA)
    val forgotten = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var batches = -1
    // the arrival and manifest frames are cached in the stream's cloned
    // session (later batches rewrite from them), so the replay releases
    // them when it ends
    ReplayHarness.replay(spark, 8, andThen = () => {
      graft.CacheRegistry.release(landed.drop(1) ++ forgotten); graft.Fs.rmTree(scratch)
    }) { (spark, register) =>
      ReplayHarness.landBands(scratch, inDir, bands.map(_.coalesce(1)))
      val stream = spark.readStream
        .schema("vec_id LONG, kind LONG, emb ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
      val q = stream.writeStream
        .foreachBatch { (bdf: DataFrame, id: Long) =>
          val isManifest = bdf.agg(max(col("kind"))).collect()(0).getLong(0) == 1L
          if (!isManifest) {
            // ARRIVAL batch: assign under the frozen model, append files
            val a = VectorQueries.cellsOf(bdf.select(col("vec_id"), col("emb")), cent)
              .select(col("vec_id"), col("emb"), col("cell")).persist()
            landed += a
            a.count()
            VectorQueries.appendCells(store, a)
          } else {
            // FORGET manifest: №192's wave on the touched cells, content
            // from the cached frames minus every manifest so far
            val ids = bdf.select(col("vec_id")).persist()
            forgotten += ids
            val n = ids.count() // materialize once; reuse for the census
            manifestSizes(id) = n
            val all = landed.reduce(_ unionAll _)
            val touched = all.join(ids, Seq("vec_id"), "left_semi")
              .select(col("cell")).distinct().collect().map(_.getLong(0)).toSet
            val manifest = forgotten.reduce(_ unionAll _)
            val content = all
              .filter(col("cell").isin(touched.toSeq.map(Long.box): _*))
              .join(manifest, Seq("vec_id"), "left_anti")
            VectorQueries.overwriteCells(store, content)
            val surviving = content.select(col("cell")).distinct()
              .collect().map(_.getLong(0)).toSet
            VectorQueries.dropCells(store, touched.filterNot(surviving))
          }
          // SERVE: the files are the store — №184's discipline
          graft.CacheRegistry.withCache(VectorQueries.readStore(spark, store)) { back =>
            // Census in ONE store scan (r15 verdict item 7 — stream_night's
            // 58cb504 single-scan serve pattern, guide §6 "do fewer passes"):
            // the serve's n_rows/n_del_visible aggregate, the per-leg
            // del-visibility split, and the applied-manifest resurrection
            // check previously each re-scanned the store files (three
            // aggregation passes per micro-batch on top of the serve's probe
            // join). The applied-manifest set is batch-bounded, so it rides
            // the census aggregation as a broadcast left join — sum(ap) over
            // the same pass that counts n_rows equals the former left-semi
            // count (ids are distinct, each store row matches ≤1). All five
            // census numbers are DISTRIBUTIVE (r14 verdict 1) and splice
            // into the result rows driver-side — the returned frame's values
            // are unchanged.
            val applied = forgotten.toSeq.reduceOption(_ unionAll _)
              .map(_.select(col("vec_id")).distinct().withColumn("ap", lit(1L)))
            val backC = applied.map(m => back.join(broadcast(m), Seq("vec_id"), "left"))
              .getOrElse(back.withColumn("ap", lit(0L)))
            val census = backC.agg(
              count(lit(1)).as("n_rows"),
              sum(when(delFull, 1L).otherwise(0L)).as("n_del_visible"),
              sum(when(delFull && col("vec_id") % 20 =!= 0, 1L).otherwise(0L)).as("del_base"),
              sum(when(delFull && col("vec_id") % 20 === 0, 1L).otherwise(0L)).as("del_a1"),
              sum(coalesce(col("ap"), lit(0L))).as("applied_vis")).collect()(0)
            val nRows = census.getAs[Long]("n_rows")
            val nDelVis = census.getAs[Long]("n_del_visible")
            val served = VectorQueries.ivfSearch(back, cent, queries, Probe, K).collect()
            val rows = served.map(r => VectorQueries.toServed(id, r, nRows, nDelVis))
            results ++= rows
            topk(id) = VectorQueries.pairsOf(rows)
            appliedVisible(id) = census.getAs[Long]("applied_vis")
            delBaseVisible(id) = census.getAs[Long]("del_base")
            delA1Visible(id) = census.getAs[Long]("del_a1")
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .start()
      register(q)
      q.awaitTermination()
      batches = q.recentProgress.count(_.numInputRows > 0)
    }
    val df = VectorQueries.servedFrame(spark, results.toSeq, "after_batch", "n_del_visible")
    (df, ForgetCensus(batches, topk.toMap, appliedVisible.toMap,
      delBaseVisible.toMap, delA1Visible.toMap, manifestSizes.toMap))
  }

  val streamForgetSql: String = {
    import graft.queries.VectorQueries
    import VectorQueries.{Centroids, K, NQueries, Probe}
    val cos6 = (a: String, b: String) => VectorQueries.cos6Sql(a, b)
    // a1/a2/base and the full manifest as pure functions of vec_id
    val isA1 = "(vec_id % 20 = 0 AND (vec_id // 20) % 2 = 0)"
    val isA2 = "(vec_id % 20 = 0 AND (vec_id // 20) % 2 = 1)"
    val isBase = "(vec_id % 20 <> 0)"
    val del = s"(vec_id % 9 = 4 AND NOT $isA2)"
    // visibility at prefix t: base always (minus del once F1 ≤ t), A1 from
    // t≥0 (minus del once F2 ≤ t), A2 from t≥2
    def vis(t: Int): String = {
      val baseP = if (t >= 1) s"($isBase AND NOT $del)" else isBase
      val a1P = if (t >= 3) s"($isA1 AND NOT $del)" else isA1
      Seq(Some(baseP), Some(a1P), if (t >= 2) Some(isA2) else None)
        .flatten.mkString("(", " OR ", ")")
    }
    def prefixSelect(t: Int): String =
      s"""SELECT CAST($t AS BIGINT) AS after_batch, c.n_rows, c.n_del_visible,
         |  r.q_id, r.rank, r.vec_id, r.cos
         |FROM (
         |  SELECT p.q_id, e.vec_id, ${cos6("e.emb", "p.q_emb")} AS cos,
         |    row_number() OVER (PARTITION BY p.q_id ORDER BY ${cos6("e.emb", "p.q_emb")} DESC, e.vec_id) AS rank
         |  FROM sfg_cells e JOIN sfg_probes p USING (cell)
         |  WHERE ${vis(t)}) r,
         |  (SELECT count(*) AS n_rows,
         |     coalesce(CAST(sum(CASE WHEN $del THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_del_visible
         |   FROM sfg_cells WHERE ${vis(t)}) c
         |WHERE r.rank <= $K""".stripMargin
    s"""WITH sfg_v AS (SELECT vec_id, embedding AS emb FROM embeddings),
       |sfg_q AS (SELECT vec_id AS q_id, emb AS q_emb FROM sfg_v WHERE vec_id < $NQueries),
       |sfg_all AS (SELECT vec_id, emb FROM sfg_v WHERE vec_id >= $NQueries),
       |sfg_b AS (SELECT vec_id, emb FROM sfg_all WHERE $isBase),
       |${VectorQueries.refinedCentSql("sfg_b", "sfg_")},
       |sfg_cells AS MATERIALIZED (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT a.vec_id, a.emb, c.c_id AS cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY ${cos6("a.emb", "c.c_emb")} DESC, c.c_id) AS crank
       |    FROM sfg_all a, sfg_cent c) x WHERE crank = 1),
       |sfg_probes AS (
       |  SELECT q_id, q_emb, c_id AS cell FROM (
       |    SELECT q.q_id, q.q_emb, c.c_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY ${cos6("q.q_emb", "c.c_emb")} DESC, c.c_id) AS prank
       |    FROM sfg_q q, sfg_cent c) x WHERE prank <= $Probe)
       |${(0 until 4).map(prefixSelect).mkString("\nUNION ALL\n")}
       |ORDER BY after_batch, q_id, rank""".stripMargin
  }
}

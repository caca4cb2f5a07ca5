package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** COMPACTION UNDER LIVE STREAMING (SURVEY §2 №217) — the round-15
  * frontier's streaming leg for the compaction pair (№215/№216): a real
  * store never gets a maintenance window, so the consolidation's
  * write-then-delete halves arrive as COMMANDS ON THE SAME STREAM as the
  * data, with arrival batches landing BETWEEN them. One replayed stream
  * interleaves A1 (arrivals), C1 (consolidate: snapshot the touched
  * cells' files, append ONE consolidated file per touched cell from the
  * CACHED frames), A2 (more arrivals — landing while the compaction is
  * in flight), C2 (delete exactly the C1-SNAPSHOTTED files). After every
  * completed micro-batch the store FILES are read back and served.
  *
  * The theorem this row adds over №216: an in-flight compaction and a
  * concurrent append DO NOT INTERFERE iff the delete set is snapshotted
  * at write time — C2 removes the files C1 doomed and not one byte A2
  * landed into the same cell directories afterwards. A delete that
  * re-listed the cells at C2 time would eat A2's files; the spec pins,
  * file by file, that A2's files survive. Serve contract (closed-form,
  * the oracle rebuilds it per prefix): serve t sees base ∪ arrivals ≤ t
  * with `n_rows` inflated by exactly the consolidation bill while the
  * overlap lives (C1 ≤ t < C2), and the served top-k NEVER depends on
  * the overlap — the candidate frame dedups on (q_id, vec_id, cos)
  * before ranking, №199's at-least-once tolerance doing double duty as
  * the lock-free-compaction reader guarantee. Reference analogue: HBase
  * minor compactions run under live writes, and scans never see a
  * half-compacted row (app/batch/HBaseReader.kt's consistency contract).
  * At 100 TB: the consolidation job reads exactly the touched cells'
  * cached rows, the delete is metadata against a frozen snapshot, and
  * serving never pauses — compaction is just another batch on the
  * stream, exactly as №200 made deletion one. */
object StreamCompact {

  /** Per-run diagnostics: data/command batch count, the touched cells,
    * the consolidation bill, per-touched-cell file counts after each
    * batch, the C1-snapshotted (doomed) file names, and the A2-appended
    * file names (the survival proof's two sides). */
  private[graft] final case class CompactStreamCensus(
      batches: Int,
      touched: Set[Long],
      rewrittenRows: Long,
      filesAt: Map[Long, Map[Long, Int]],
      doomedFiles: Set[String],
      a2Files: Set[String],
      topk: Map[Long, Set[(Long, Long)]])

  def streamCompact(spark: SparkSession, dir: String): DataFrame =
    streamCompactWithCensus(spark, dir)._1

  private[graft] def streamCompactWithCensus(
      spark: SparkSession, dir: String): (DataFrame, CompactStreamCensus) = {
    import graft.queries.VectorQueries
    // every job carries its phase's name (graft.Trace)
    def phase[T](label: String)(body: => T): T = graft.Trace.phase(spark, s"stream_compact: $label")(body)
    val (queries, corpus) = phase("build")(VectorQueries.querySplit(VectorQueries.vectorsOf(spark, dir)))
    val base = corpus.filter(col("vec_id") % 20 =!= 0) // №176's split
    val arrivals = corpus.filter(col("vec_id") % 20 === 0)
    val a1Of: Column = expr("vec_id % 20 = 0 AND (vec_id DIV 20) % 2 = 0")
    val cent = phase("build")(VectorQueries.refinedCentroids(spark, base, VectorQueries.Centroids))
    val baseA = graft.CacheRegistry.track(
      VectorQueries.cellsOf(base, cent).select(col("vec_id"), col("emb"), col("cell")).persist())
    val probes = graft.CacheRegistry.track(VectorQueries.probeSet(queries, cent).persist())

    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_compact_")
    val inDir = scratch.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val store = VectorQueries.cellStore(scratch.resolve("store"))
    phase("land")(store.land(baseA))
    val name = s"stream_compact_${System.nanoTime()}"
    val nullEmb = lit(null).cast("array<float>")
    // A1 / C1 / A2 / C2 — the compaction's two halves interleaved with data
    val bands = Seq(
      arrivals.filter(a1Of).select(col("vec_id"), lit(0L).as("kind"), col("emb")),
      spark.range(1).select(lit(-1L).as("vec_id"), lit(1L).as("kind"), nullEmb.as("emb")),
      arrivals.filter(!a1Of).select(col("vec_id"), lit(0L).as("kind"), col("emb")),
      spark.range(1).select(lit(-2L).as("vec_id"), lit(2L).as("kind"), nullEmb.as("emb")))

    val results = scala.collection.mutable.ArrayBuffer.empty[VectorQueries.Served]
    val topk = scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    val filesAt = scala.collection.mutable.Map.empty[Long, Map[Long, Int]]
    val landed = scala.collection.mutable.ArrayBuffer[DataFrame](baseA)
    var touched: Set[Long] = Set.empty
    var doomed = store.snapshot(Nil)
    var a2Files: Set[String] = Set.empty
    var rewrittenRows = 0L
    var batches = -1
    // the arrival frames are cached in the stream's cloned session (C1
    // consolidates from them), so the replay releases them when it ends
    ReplayHarness.replay(spark, 8, andThen = () => {
      graft.CacheRegistry.release(landed.drop(1)); graft.Fs.rmTree(scratch)
    }) { (spark, register) =>
      phase("replay input")(ReplayHarness.landBands(scratch, inDir, bands.map(_.coalesce(1))))
      val stream = spark.readStream
        .schema("vec_id LONG, kind LONG, emb ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
      val q = stream.writeStream
        .foreachBatch { (bdf: DataFrame, id: Long) =>
          // the batch's command: one job, no exchange
          val kind = phase("kind")(bdf.select(col("kind")).as(org.apache.spark.sql.Encoders.scalaLong)
            .reduce((a: Long, b: Long) => math.max(a, b)))
          kind match {
            case 0L => phase("arrival") {
              // ARRIVAL: assign under the frozen model, append files.
              // After C1 the appended files share directories with the
              // doomed ones — the survival corner under test.
              val afterC1 = doomed.files.nonEmpty && a2Files.isEmpty
              def touchedFiles(): Set[String] = touched.flatMap(c => store.files(c).map(_.toString))
              val preFiles = if (afterC1) touchedFiles() else Set.empty[String]
              // the append's write fills the cache C1 consolidates from
              val a = VectorQueries.cellsOf(bdf.select(col("vec_id"), col("emb")), cent)
                .select(col("vec_id"), col("emb"), col("cell")).persist()
              landed += a
              store.append(a)
              if (afterC1) a2Files = touchedFiles() -- preFiles
            }
            case 1L => phase("consolidate") {
              // C1: snapshot the touched cells' files, THEN land the
              // consolidated copy next to them (content from the cached
              // frames — never read-then-overwrite of the live path)
              val a1 = landed(1) // the first arrival batch's assignment
              touched = a1.select(col("cell")).distinct()
                .collect().map(_.getLong(0)).toSet
              doomed = store.snapshot(touched)
              val consolidated = landed.toSeq.reduce(_ unionAll _)
                .filter(col("cell").isin(touched.toSeq.map(Long.box): _*))
              rewrittenRows = consolidated.count()
              store.append(consolidated)
            }
            case 2L => phase("delete") {
              // C2: delete EXACTLY the C1 snapshot — never a re-listing,
              // which would eat the files A2 landed in between
              doomed.delete()
            }
          }
          // SERVE: the files are the store; candidates dedup before
          // ranking, so the compaction overlap is invisible to the top-k
          phase("serve")(graft.CacheRegistry.withCache(store.read(spark)) { back =>
            val served = VectorQueries.serveStage(id, back, probes, VectorQueries.storeCensus(back))
            results ++= served
            topk(id) = VectorQueries.pairsOf(served)
            filesAt(id) = touched.map(c => c -> store.files(c).size).toMap
          })
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .start()
      register(q)
      q.awaitTermination()
      batches = q.recentProgress.count(_.numInputRows > 0)
    }
    val df = VectorQueries.servedFrame(spark, results.toSeq, "after_batch", "n_distinct")
    (df, CompactStreamCensus(batches, touched, rewrittenRows, filesAt.toMap,
      doomed.files.map(_.toString).toSet, a2Files, topk.toMap))
  }

  val streamCompactSql: String = {
    import graft.queries.VectorQueries
    import VectorQueries.{Centroids, K, NQueries, Probe}
    val cos6 = (a: String, b: String) => VectorQueries.cos6Sql(a, b)
    val isA1 = "(vec_id % 20 = 0 AND (vec_id // 20) % 2 = 0)"
    val isA2 = "(vec_id % 20 = 0 AND (vec_id // 20) % 2 = 1)"
    val isBase = "(vec_id % 20 <> 0)"
    // visibility at prefix t (distinct membership — the overlap only
    // inflates n_rows): A1 from t≥0, A2 from t≥2
    def vis(t: Int): String =
      if (t >= 2) "TRUE" else s"($isBase OR $isA1)"
    // n_rows at prefix t: membership plus the consolidation overlap
    // (touched cells' pre-C1 content again) while C1 ≤ t < C2
    def nRows(t: Int): String = {
      val memb = s"(SELECT count(*) FROM scs_cells WHERE ${vis(t)})"
      val dup = s"(SELECT count(*) FROM scs_cells WHERE ($isBase OR $isA1) AND cell IN (SELECT cell FROM scs_touched))"
      t match {
        case 0 => memb
        case 1 | 2 => s"$memb + $dup"
        case 3 => memb
      }
    }
    def prefixSelect(t: Int): String =
      s"""SELECT CAST($t AS BIGINT) AS after_batch,
         |  CAST(${nRows(t)} AS BIGINT) AS n_rows,
         |  (SELECT count(*) FROM scs_cells WHERE ${vis(t)}) AS n_distinct,
         |  r.q_id, r.rank, r.vec_id, r.cos
         |FROM (
         |  SELECT p.q_id, e.vec_id, ${cos6("e.emb", "p.q_emb")} AS cos,
         |    row_number() OVER (PARTITION BY p.q_id ORDER BY ${cos6("e.emb", "p.q_emb")} DESC, e.vec_id) AS rank
         |  FROM scs_cells e JOIN scs_probes p USING (cell)
         |  WHERE ${vis(t)}) r
         |WHERE r.rank <= $K""".stripMargin
    s"""WITH scs_v AS (SELECT vec_id, embedding AS emb FROM embeddings),
       |scs_q AS (SELECT vec_id AS q_id, emb AS q_emb FROM scs_v WHERE vec_id < $NQueries),
       |scs_all AS (SELECT vec_id, emb FROM scs_v WHERE vec_id >= $NQueries),
       |scs_b AS (SELECT vec_id, emb FROM scs_all WHERE $isBase),
       |${VectorQueries.refinedCentSql("scs_b", "scs_")},
       |scs_cells AS MATERIALIZED (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT a.vec_id, a.emb, c.c_id AS cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY ${cos6("a.emb", "c.c_emb")} DESC, c.c_id) AS crank
       |    FROM scs_all a, scs_cent c) x WHERE crank = 1),
       |scs_touched AS (SELECT DISTINCT cell FROM scs_cells WHERE $isA1),
       |scs_probes AS (
       |  SELECT q_id, q_emb, c_id AS cell FROM (
       |    SELECT q.q_id, q.q_emb, c.c_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY ${cos6("q.q_emb", "c.c_emb")} DESC, c.c_id) AS prank
       |    FROM scs_q q, scs_cent c) x WHERE prank <= $Probe)
       |${(0 until 4).map(prefixSelect).mkString("\nUNION ALL\n")}
       |ORDER BY after_batch, q_id, rank""".stripMargin
  }
}

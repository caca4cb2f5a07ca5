package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.Row

/** №172 knn_ivf_rebalance: the drift-triggered re-cluster's contracts.
  * The oracle pins the VALUES; this pins the DIRECTIONS the operator's
  * story rides on — trigger fires, occupancy and tightness improve, the
  * scan bill collapses, per-candidate efficiency rises, and the
  * stale index's accidental equal-probe recall win (the hot-cell
  * artifact the scaladoc narrates) stays the direction it is. */
class IvfRebalanceSpec extends SparkSpec {

  private def byKey(rows: Array[Row]): Map[(String, Long), Row] =
    rows.map(r => (r.getString(0), r.getLong(1)) -> r).toMap

  test("trigger fires; rebalance fixes occupancy, tightness and scan cost; the equal-probe recall trap is real") {
    val out = VectorQueries.knnIvfRebalance(spark, sf).collect()
    assert(out.length == 2 * VectorQueries.RebalProbes.length)
    val m = byKey(out)
    def f(phase: String, probe: Int, col: String): Long = {
      val r = m((phase, probe.toLong))
      col match {
        case "tv_ppm" => r.getLong(2)
        case "max_cell_n" => r.getLong(5)
        case "max_over_mean_ppm" => r.getLong(6)
        case "mean_ccos_ppm" => r.getLong(7)
        case "n_cand" => r.getLong(8)
        case "n_hits" => r.getLong(9)
      }
    }
    val p0 = VectorQueries.RebalProbes.head
    val pw = VectorQueries.RebalProbes.last
    // the monitor genuinely fires: drift reads far above the threshold
    out.foreach { r =>
      assert(r.getLong(2) > VectorQueries.RebalTvThresholdPpm, "tv_ppm at/below threshold")
      assert(r.getBoolean(3), "triggered flag not set")
    }
    // occupancy: the hot cell collapses, the max/mean ratio with it
    assert(f("t1_rebalanced", p0, "max_cell_n") < f("t0_stale", p0, "max_cell_n") / 2,
      "rebalance did not collapse the hot cell")
    assert(f("t1_rebalanced", p0, "max_over_mean_ppm") < f("t0_stale", p0, "max_over_mean_ppm"),
      "max-over-mean occupancy did not improve")
    // tightness: vectors sit closer to their own centroid after re-train
    assert(f("t1_rebalanced", p0, "mean_ccos_ppm") > f("t0_stale", p0, "mean_ccos_ppm"),
      "assignment tightness did not improve")
    // scan bill: at every probe the rebalanced index scores fewer candidates,
    // and per-candidate efficiency (hits per scored row) strictly rises
    VectorQueries.RebalProbes.foreach { p =>
      assert(f("t1_rebalanced", p, "n_cand") < f("t0_stale", p, "n_cand"),
        s"probe $p: candidate volume did not drop")
      assert(f("t1_rebalanced", p, "n_hits") * f("t0_stale", p, "n_cand") >
        f("t0_stale", p, "n_hits") * f("t1_rebalanced", p, "n_cand"),
        s"probe $p: hits-per-candidate efficiency did not rise")
    }
    // the honest trap: at the narrow probe the STALE index wins on raw hits
    // (its hot cell is accidental exhaustive search) — pinned so the
    // scaladoc's narrative stays true to the data
    assert(f("t0_stale", p0, "n_hits") > f("t1_rebalanced", p0, "n_hits"),
      "equal-probe accidental-recall direction flipped — re-narrate the scaladoc")
    // and the wide-probe rebalanced point beats the stale FLOOR on cost
    // while staying within K·NQueries sight of its hits
    assert(f("t1_rebalanced", pw, "n_cand") < f("t0_stale", p0, "n_cand"),
      "rebalanced wide-probe scan bill not below the stale narrow-probe floor")
    assert(f("t1_rebalanced", pw, "n_hits") * 10 >= f("t0_stale", p0, "n_hits") * 8,
      "rebalanced wide-probe recall fell below 80% of the stale narrow-probe hits")
  }

  test("№175 incremental rebalance: warm start keeps movement small, the rewrite partial, the store exact") {
    val r = VectorQueries.knnIvfRebalanceInc(spark, sf).head()
    val (nTotal, nChanged, movedPpm) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val (cellsTotal, cellsTouched) = (r.getLong(3), r.getLong(4))
    val (billPpm, storeDiff) = (r.getLong(7), r.getLong(8))
    // warm start preserves identity: only boundary-crossers move (a cold
    // re-train renames every cell and "moves" ~99% — the degenerate form
    // this operator exists to avoid)
    assert(nChanged > 0L, "no vector moved — the drift scenario is vacuous")
    assert(movedPpm < 200000L, s"warm re-train moved ${movedPpm}ppm — identity not preserved")
    // the rewrite is genuinely partial, and the files match the target
    assert(cellsTouched < cellsTotal, "every cell touched — nothing incremental about it")
    assert(billPpm < 1000000L, s"write bill ${billPpm}ppm — the delta rewrote the whole store")
    assert(storeDiff == 0L, "store read-back diverged from the target assignment")
    assert(nTotal > 0L)
  }

  test("partialRewrite: untouched partitions keep their files; an emptied cell leaves no ghost partition") {
    import spark.implicits._
    val store = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_spec_prw_${System.nanoTime()}").toString
    try {
      val emb = Seq(1.0f)
      // cell 10 untouched (vecs 1, 2); vec 3 moves 20 → 30 emptying cell
      // 20; cell 30 gains. Old side lands as THREE part files per its
      // repartition — the untouched-partition proof is that exact file
      // set surviving the delta.
      val oldA = Seq((1L, emb, 10L), (2L, emb, 10L), (3L, emb, 20L), (4L, emb, 30L))
        .toDF("vec_id", "emb", "cell").repartition(3)
      val newA = Seq((1L, emb, 10L), (2L, emb, 10L), (3L, emb, 30L), (4L, emb, 30L))
        .toDF("vec_id", "emb", "cell")
      def parts(cell: String): Map[String, (Long, Long)] = {
        val d = java.nio.file.Paths.get(store, cell)
        val s = java.nio.file.Files.list(d)
        try {
          val b = Map.newBuilder[String, (Long, Long)]
          val it = s.iterator()
          while (it.hasNext) {
            val p = it.next(); val n = p.getFileName.toString
            if (n.endsWith(".parquet"))
              b += n -> ((java.nio.file.Files.size(p), p.toFile.lastModified()))
          }
          b.result()
        } finally s.close()
      }
      val cells = VectorQueries.cellStore(java.nio.file.Paths.get(store))
      cells.land(oldA)
      val c10Before = parts("cell=10")
      assert(c10Before.nonEmpty)
      Thread.sleep(1100) // mtime resolution: a rewrite MUST read as newer
      val emptied = VectorQueries.deltaRewrite(cells, oldA, newA)
      assert(emptied.toSeq == Seq(20L), s"emptied cells ${emptied.toSeq}, want [20]")
      assert(java.nio.file.Files.notExists(java.nio.file.Paths.get(store, "cell=20")),
        "ghost partition survived — dynamic overwrite never clears loser-only cells")
      val back = spark.read.parquet(store).select($"vec_id", $"cell")
        .as[(Long, Long)].collect().toSet
      assert(back == Set((1L, 10L), (2L, 10L), (3L, 30L), (4L, 30L)),
        s"store content wrong after delta: $back")
      // the untouched partition's EXACT files survive (names, sizes,
      // mtimes) — the delta never opened cell=10
      assert(parts("cell=10") == c10Before,
        "untouched partition's files were rewritten by the delta")
    } finally {
      graft.Fs.rmTree(java.nio.file.Paths.get(store))
    }
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** graft's benchmark sweep: every `SparkEntry.queries` row at one scale
  * factor, sampled by one rule.
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_CPUS (local[N], default 4), SPARK_GRAFT_BENCH_N (timed
  * iterations per row, default 3) and SPARK_GRAFT_BENCH_ONLY (a
  * comma-separated subset of rows).
  *
  * Prints one JSON line of at most [[LineBytes]] bytes as the last stdout
  * line, writes the full record (every row, every iteration) to
  * `target/bench.json`, and appends this run's per-row minima to
  * `bench_history.json` ([[BenchHistory]]). Exits 1 if a row failed.
  */
object Bench {
  /** An iteration slower than this × its row's min is contended: kept in
    * the record, left out of the row's median (contention only ever
    * inflates a sample, so the min is the most robust floor). */
  val OutlierX = 3.0
  /** A row whose min exceeds this × its `bench_history.json` floor ships
    * flagged `band_exceeded`. */
  val BandTrigger = 2.0
  /** The stdout line fits a log capture that keeps a run's last 2,000
    * characters, with room for a build tool's trailer line. */
  val LineBytes = 1800

  /** Rows with no history or a floor below this are warmed once at
    * sf0.001 before timing: their one-time codegen/JIT bill is the same
    * order as the floor (an unwarmed 0.2 s query benches at 0.5 s even on
    * its min). The drills above it absorb that bill in their first run. */
  private val WarmFloorS = 2.0
  private val WarmDir = "/root/testdata/sf0.001"

  /** Rows timed once cold, after dropping their persisted model/index,
    * reported as `cold_build_s` apart from the steady-state sample (which
    * the run right after rebuilds for). */
  private val ColdDrops: Map[String, (SparkSession, String) => Unit] = {
    import graft.queries.VectorQueries._
    Map("knn_index_update" -> dropIndexUpdateCaches _, "knn_ivf_pq_update" -> dropIvfPqUpdateCaches _,
      "knn_ivf_pq_res_update" -> dropIvfPqResUpdateCaches _, "knn_res_rebalance" -> dropResRebalanceCaches _,
      "knn_res_serve_repair" -> dropResServeRepairCaches _, "knn_res_calendar" -> dropResCalendarCaches _,
      "dedup_incremental_minhash" -> graft.queries.HashDedup.dropIncrementalMinhashCaches _)
  }

  /** Each iteration's layers (from [[Trace]]), with the stdout record's
    * name for the sum over rows of their medians (ms fields in seconds):
    * Catalyst planning (`executedPlan`), jobs, the union of their
    * intervals, summed executor run time, and the driver's share (wall
    * minus job wall, planning included). */
  private val Layers = Seq("plan_ms" -> "planning.s", "jobs" -> "exec.jobs", "job_wall_ms" -> "exec.job_wall_s",
    "task_ms" -> "exec.task_s", "driver_ms" -> "exec.driver_gap_s")

  /** One timed iteration: start offset and wall (s), then [[Layers]] and
    * the host sample (`loadavg1`, `steal_pct`) by name. */
  final case class Iter(t: Double, s: Double, fields: Map[String, Double])

  /** One row's sample. Failed = no iteration completed. */
  final case class Row(name: String, iters: Vector[Iter], band: Option[Double], coldS: Option[Double]) {
    def failed: Boolean = iters.isEmpty
    def min: Double = iters.map(_.s).min
    def clean: Vector[Iter] = iters.filter(_.s <= min * OutlierX)
    def median: Double = med(clean.map(_.s))
    def bandExceeded: Boolean = !failed && band.exists(min > _ * BandTrigger)
    def layer(k: String): Double = med(clean.map(_.fields(k)))
  }

  private def med(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Time `rows` at `sfDir`: the light warm-up, one cold run of each
    * cold-drop row, then `iters` back-to-back iterations of each row. */
  def run(spark: SparkSession, sfDir: String, rows: Seq[String], iters: Int): Seq[Row] = {
    val bands = BenchHistory.bands(sfDir)
    val fns = rows.map(n => n -> SparkEntry.queries(n))
    if (new java.io.File(WarmDir).isDirectory && WarmDir != sfDir) {
      val toWarm = fns.filter { case (n, _) => bands.get(n).forall(_ < WarmFloorS) }
      val w0 = System.currentTimeMillis()
      toWarm.foreach { case (_, fn) =>
        try fn(spark, WarmDir).queryExecution.toRdd.count() catch { case _: Throwable => () }
        CacheRegistry.releaseAll(spark)
      }
      System.err.println(f"[bench] warmup: ${toWarm.size}/${fns.size} queries in ${(System.currentTimeMillis() - w0) / 1e3}%.1fs")
    }
    val start = System.currentTimeMillis()
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Iter] = {
      val off = (System.currentTimeMillis() - start) / 1e3
      val trace = Trace.start(spark)
      val t0 = System.nanoTime()
      // toRdd.count() materializes EVERY output column (count() alone lets
      // Catalyst prune the projection)
      val timed = try {
        val qe = fn(spark, sfDir).queryExecution
        val planNs = { val p0 = System.nanoTime(); qe.executedPlan; System.nanoTime() - p0 }
        qe.toRdd.count()
        Some((System.nanoTime() - t0) / 1e6 -> planNs / 1e6)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        e.getStackTrace.take(8).foreach(fr => System.err.println(s"[bench]   at $fr"))
        None
      } finally trace.stop()
      CacheRegistry.releaseAll(spark) // caches must not carry across iterations
      timed.map { case (wallMs, planMs) =>
        val jobWall = trace.jobWallMs.toDouble
        Iter(off, wallMs / 1e3, scala.collection.immutable.ListMap("plan_ms" -> planMs, "jobs" -> trace.jobs.size.toDouble,
          "job_wall_ms" -> jobWall, "task_ms" -> trace.taskMs.toDouble, "driver_ms" -> (wallMs - jobWall).max(0),
          "loadavg1" -> trace.loadavg1, "steal_pct" -> trace.stealPct))
      }
    }
    val cold = fns.collect { case (n, fn) if ColdDrops.contains(n) =>
      ColdDrops(n)(spark, sfDir)
      n -> once(s"$n(cold)", fn).map(_.s)
    }.toMap
    fns.map { case (n, fn) =>
      Row(n, (1 to iters).flatMap(_ => once(n, fn)).toVector, bands.get(n), cold.get(n).flatten)
    }
  }

  private def num(d: Double): JValue =
    if (d.isNaN || d.isInfinite) JNull else JDecimal(BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP))
  private def nums(kv: Iterable[(String, Double)]): JObject = JObject(kv.map { case (k, v) => k -> num(v) }.toList)
  private def names(xs: Seq[String]): JValue = JArray(xs.map(JString(_)).toList)

  /** The comparison with the frozen sf0.1 medians in `graft/baseline.json`
    * over the rows both hold: the aggregate ratio (sum of medians over sum
    * of baselines) and the rows above 2× their baseline. */
  private def vsBaseline(sfDir: String, ok: Seq[Row], verbose: Boolean): JValue = {
    val res = getClass.getResourceAsStream("/graft/baseline.json")
    // the sf gate matches the directory's basename, so a trailing slash or
    // a relocated data root does not silently disable it
    val sfBase = sfDir.replaceAll("/+$", "").split('/').last
    def skipped(why: String) = JObject("skipped" -> JString(why))
    if (res == null) skipped("baseline resource missing")
    else if (sfBase != "sf0.1") skipped(s"sf is $sfBase, anchor is sf0.1")
    else {
      val base = try JsonMethods.parse(res).asInstanceOf[JObject].obj.collect { case (k, JDouble(d)) => k -> d }.toMap
        finally res.close()
      val inter = ok.filter(r => base.contains(r.name)).map(r => (r.name, r.median, base(r.name)))
      val flagged = inter.filter { case (_, m, b) => m > 2.0 * b }.sortBy { case (_, m, b) => -m / b }
      if (inter.isEmpty) skipped("empty intersection")
      else JObject(List("agg_ratio" -> num(inter.map(_._2).sum / inter.map(_._3).sum),
        "n_compared" -> JInt(inter.size), "n_flagged" -> JInt(flagged.size)) ++ (if (!verbose) Nil else List(
        "baseline_flagged" -> JArray(flagged.map { case (k, m, b) =>
          JObject("q" -> JString(k), "sec" -> num(m), "baseline" -> num(b), "ratio" -> num(m / b)) }.toList),
        "unbaselined" -> names(ok.map(_.name).filterNot(base.contains).sorted))))
    }
  }

  /** The bench record. Verbose: the full record of `target/bench.json`,
    * with every row and iteration. Otherwise the stdout line: the totals,
    * counts and the failed rows' names that fit in [[LineBytes]]. */
  def record(sfDir: String, iters: Int, rows: Seq[Row], verbose: Boolean): String = {
    val ok = rows.filterNot(_.failed)
    val failed = rows.filter(_.failed).map(_.name).sorted
    val banded = ok.filter(_.bandExceeded).map(_.name)
    def peak(k: String) = ok.flatMap(_.iters.map(_.fields(k))).maxOption.getOrElse(Double.NaN)
    val head = List("metric" -> JString("total"), "value" -> num(ok.map(_.median).sum),
      "unit" -> JString("sec"), "n" -> JInt(rows.size), "iters" -> JInt(iters), "n_failed" -> JInt(failed.size))
    val tail = List("n_band_exceeded" -> JInt(banded.size), "vs_baseline" -> vsBaseline(sfDir, ok, verbose),
      "layers" -> nums(Layers.map { case (k, total) =>
        total -> ok.map(_.layer(k)).sum / (if (k.endsWith("_ms")) 1e3 else 1) }),
      "host" -> nums(Seq("loadavg1_max" -> peak("loadavg1"), "steal_pct_max" -> peak("steal_pct")))) ++
      (if (!verbose) Nil else List("band_exceeded" -> names(banded),
        "cold_build_s" -> nums(rows.flatMap(r => r.coldS.map(r.name -> _))),
        "trim" -> JString(s"median over iterations <= ${OutlierX}x the row's min; " +
          s"band_exceeded = min > ${BandTrigger}x the bench_history floor"),
        "queries" -> JObject(rows.map(r => r.name -> rowJson(r)).toList))) :+ ("sf" -> JString(sfDir))
    def line(failedNames: Seq[String]) =
      JsonMethods.compact(JObject((head :+ ("failed" -> names(failedNames))) ++ tail))
    if (verbose) line(failed)
    else (failed.size to 0 by -1).iterator.map(k => line(failed.take(k)))
      .find(_.getBytes("UTF-8").length <= LineBytes).getOrElse(line(Nil))
  }

  private def rowJson(r: Row): JValue =
    if (r.failed) JObject("failed" -> JBool(true))
    else {
      val stats = nums(Seq("median" -> r.median, "min" -> r.min, "max" -> r.iters.map(_.s).max) ++
        Layers.map { case (k, _) => k -> r.layer(k) } ++ r.band.map("band" -> _))
      val iters = JArray(r.iters.map(i => nums(Seq("t" -> i.t, "s" -> i.s) ++ i.fields)).toList)
      JObject(stats.obj ++ List("n" -> JInt(r.iters.size), "contended" -> JInt(r.iters.size - r.clean.size)) ++
        r.band.map(_ => "band_exceeded" -> JBool(r.bandExceeded)) :+ ("iters" -> iters))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // ≥3 iterations: single runs carry ±2-3× JIT/GC transients
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "3").toInt.max(1)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // fail fast: a typo would otherwise bench nothing and print a total of 0
    only.foreach(names => require(names.subsetOf(SparkEntry.queries.keySet),
      s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: ${(names -- SparkEntry.queries.keySet).mkString(", ")}"))
    val rows = SparkEntry.queries.keys.toSeq.filter(n => only.forall(_(n)))
    // the tuned session: the benched plans are the plans the library ships
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val res = run(spark, sfDir, rows, iters)
    java.nio.file.Files.writeString(java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
      .resolve("bench.json"), record(sfDir, iters, res, verbose = true) + "\n")
    // the next run's bands: each row's min (contention only ever inflates);
    // cold builds under "<name>__cold", which no query name can collide with
    BenchHistory.record(sfDir, res.filterNot(_.failed).map(r => r.name -> r.min).toMap ++
      res.flatMap(r => r.coldS.map(s"${r.name}__cold" -> _)))
    spark.stop()
    println(record(sfDir, iters, res, verbose = false))
    // a run with failed rows must not report success
    if (res.exists(_.failed)) sys.exit(1)
  }
}

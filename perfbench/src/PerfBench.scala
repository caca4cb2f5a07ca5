package perfbench

import graft.{CacheRegistry, GraftSession, SparkEntry}
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler._

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run of one workload in one JVM (see perfbench/README.md).
  *
  * Usage: perfbench.PerfBench <workload> <dataDir> <outDir> <seconds>
  *          <trace 0|1> <launchEpochMs> <query>...
  *
  * Every layer is measured from outside, around calls into graft's public
  * entry points: `GraftSession.builder`, the `SparkEntry.queries` functions,
  * `queryExecution.executedPlan`, `queryExecution.toRdd.count()` and the
  * `graft.functions` column constructors, plus a `SparkListener`,
  * `/proc/self/io` and `/proc/self/status`.
  *
  * Phases: build the session; one oracle pass that writes every query's
  * result (with `SparkEntry.oracleSql`) for the DuckDB compare; one untimed
  * warm-up pass (the second execution of a workload still runs 10-50%
  * slower than the third; more warm-up does not fit the time budget of a
  * run); then measured passes back to back until `seconds` have elapsed
  * (at least one; two when traced). With trace=1 the measured passes
  * alternate untraced and traced, and the traced ones record spans and
  * listener counters. Every pass is reported (the warm-up as `warmup_s`);
  * none is re-run or dropped.
  *
  * Writes `<outDir>/record.json` and `<outDir>/spans.jsonl`, and prints the
  * run record as the last stdout line, prefixed `PERFBENCH `.
  */
object PerfBench {
  val Cores = 4

  final case class Span(id: Int, name: String, parent: Int, pass: Int, start: Long, var end: Long = 0L)

  /** Spans kept in memory and written once, when the run ends. Records only
    * while `recording`; `pass` labels spans and errors. */
  final class Tracer(val on: Boolean) {
    val spans = mutable.ArrayBuffer.empty[Span]
    private var stack = List(0)
    var pass = 0
    var recording = on
    def span[T](name: String)(body: => T): T =
      if (!recording) body
      else {
        val s = Span(spans.size + 1, name, stack.head, pass, System.nanoTime())
        spans += s
        stack = s.id :: stack
        try body finally { s.end = System.nanoTime(); stack = stack.tail }
      }
  }

  final case class Job(id: Int, start: Long, var end: Long = -1L)
  final class Stats {
    var stages, tasks = 0L
    var taskMs, gcMs, inBytes, shRead, shWrite, spill = 0L
  }

  /** Collects job intervals and stage metrics while attached. */
  final class Collector extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[Job]
    val stats = new Stats
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += Job(e.jobId, e.time) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stats.stages += 1
      stats.tasks += e.stageInfo.numTasks
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        stats.taskMs += m.executorRunTime
        stats.gcMs += m.jvmGCTime
        stats.inBytes += m.inputMetrics.bytesRead
        stats.shRead += m.shuffleReadMetrics.totalBytesRead
        stats.shWrite += m.shuffleWriteMetrics.bytesWritten
        stats.spill += m.diskBytesSpilled
      }
    }
  }

  /** Total length of the union of [start, end) intervals (ms). */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  private def procLines(path: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(path)).toArray(Array.empty[String]).toSeq.map(_.trim.split("\\s+"))

  /** Second field of the line starting with `key` (`/proc/self/io`, `/proc/self/status`). */
  def procField(path: String, key: String): Long =
    procLines(path).find(_.head == key).map(_(1).toLong).getOrElse(-1L)

  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuJiffies(): (Long, Long) = {
    val f = procLines("/proc/stat").head.drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  def loadavg1(): Double = procLines("/proc/loadavg").head(0).toDouble

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  // ---------------------------------------------------------------- JSON out
  def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def jv(v: Any): String = v match {
    case s: String => js(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => js(k.toString) + ":" + jv(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(jv).mkString("[", ",", "]")
    case b: Boolean => b.toString
    case n: Number => n.toString
    case null => "null"
    case o => js(o.toString)
  }
  def obj(kv: (String, Any)*): mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap(kv: _*)

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, secondsS, traceS, launchS) = args.take(6)
    val queries = args.drop(6).toSeq
    val seconds = secondsS.toDouble
    val tracer = new Tracer(traceS == "1")
    val launchMs = launchS.toLong
    val fns = queries.map(q => q -> SparkEntry.queries(q)).toMap
    var attempted = 0L
    val errors = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]

    val spark = tracer.span("session.build") {
      val s = GraftSession.builder(s"local[$Cores]", Cores)
        .config("spark.local.dir", s"$outDir/spark-local").getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val sessionS = (System.currentTimeMillis() - launchMs) / 1000.0

    // conf isolation between queries, as graft.Verify does
    val baselineConf = spark.conf.getAll
    def resetConfs(): Unit = {
      val cur = spark.conf.getAll
      for ((k, v) <- baselineConf if !cur.get(k).contains(v))
        try spark.conf.set(k, v) catch { case _: Throwable => () }
      for (k <- cur.keySet -- baselineConf.keySet)
        try spark.conf.unset(k) catch { case _: Throwable => () }
    }
    def attempt[T](q: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch { case e: Throwable =>
        errors += obj("pass" -> tracer.pass, "query" -> q,
          "error" -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
      }
    }

    // ---- oracle pass (cold)
    tracer.pass = -1
    tracer.span("oracle_pass") {
      for (q <- queries) tracer.span(s"oracle.$q") {
        attempt(q)(fns(q)(spark, dataDir).write.mode("overwrite").parquet(s"$outDir/results/$q"))
        CacheRegistry.releaseAll(spark); resetConfs()
      }
    }
    Files.writeString(Paths.get(s"$outDir/results/oracle_sql.json"),
      jv(queries.map(q => q -> SparkEntry.oracleSql(q)).toMap))

    // ---- one measured pass: every query fully materialised with toRdd.count()
    final case class QTime(q: String, wall: Double, build: Double, plan: Double, exec: Double, t0Ms: Long, t1Ms: Long)
    def runPass(pass: Int): (Double, Seq[QTime]) = {
      tracer.pass = pass
      val p0 = System.nanoTime()
      val qs = tracer.span("pass") {
        queries.flatMap { q =>
          val q0Ms = System.currentTimeMillis()
          val r = tracer.span(s"query.$q") {
            attempt(q) {
              val t0 = System.nanoTime()
              val df = tracer.span("queries.build")(fns(q)(spark, dataDir))
              val t1 = System.nanoTime()
              tracer.span("planning")(df.queryExecution.executedPlan)
              val t2 = System.nanoTime()
              tracer.span("exec")(df.queryExecution.toRdd.count())
              val t3 = System.nanoTime()
              (t3 - t0, t1 - t0, t2 - t1, t3 - t2)
            }.map { case (w, b, p, e) => QTime(q, w / 1e9, b / 1e9, p / 1e9, e / 1e9, q0Ms, System.currentTimeMillis()) }
          }
          tracer.span("cache.release") { CacheRegistry.releaseAll(spark); resetConfs() }
          r
        }
      }
      ((System.nanoTime() - p0) / 1e9, qs)
    }

    val warmupWall = runPass(-2)._1
    val setupS = (System.currentTimeMillis() - launchMs) / 1000.0

    // ---- measured passes
    val passes = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    val traced = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    val qTraced = mutable.ArrayBuffer.empty[(String, Map[String, Double])]
    // traced runs alternate untraced and traced passes for trace.overhead_pct
    val minPasses = if (tracer.on) 2 else 1
    val m0 = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - m0) / 1e9 < seconds) {
      val isTraced = tracer.on && pass % 2 == 1
      val (steal0, tot0) = cpuJiffies()
      val load = loadavg1()
      val collector = new Collector
      val rchar0 = procField("/proc/self/io", "rchar:")
      val wchar0 = procField("/proc/self/io", "wchar:")
      if (isTraced) spark.sparkContext.addSparkListener(collector)
      tracer.recording = isTraced
      val (wall, qs) = runPass(pass)
      val leaked = spark.sparkContext.getPersistentRDDs.size
      if (isTraced) { ListenerBridge.flush(spark.sparkContext); spark.sparkContext.removeSparkListener(collector) }
      val (steal1, tot1) = cpuJiffies()
      val rec = obj("pass" -> pass, "traced" -> isTraced, "wall_s" -> wall, "ok" -> (qs.size == queries.size),
        "loadavg1" -> load, "persistent_rdds" -> leaked, "steal_pct" -> (if (tot1 > tot0) 100.0 * (steal1 - steal0) / (tot1 - tot0) else 0.0),
        "queries" -> qs.map(t => t.q -> t.wall).toMap)
      passes += rec
      if (isTraced) {
        val jobs = collector.synchronized(collector.jobs.filter(_.end >= 0).toList)
        val unionS = unionMs(jobs.map(j => (j.start, j.end))) / 1000.0
        val st = collector.stats
        val mb = 1024.0 * 1024.0
        traced += obj(
          "wall_s" -> wall,
          "queries.build_s" -> qs.map(_.build).sum, "planning.s" -> qs.map(_.plan).sum, "exec.s" -> qs.map(_.exec).sum,
          "exec.jobs" -> jobs.size.toDouble, "exec.jobs_lt_50ms" -> jobs.count(j => j.end - j.start < 50).toDouble,
          "exec.stages" -> st.stages.toDouble, "exec.tasks" -> st.tasks.toDouble,
          "exec.job_wall_s" -> unionS, "exec.driver_gap_s" -> (wall - unionS),
          "exec.task_s" -> st.taskMs / 1000.0, "exec.core_busy" -> st.taskMs / 1000.0 / (wall * Cores),
          "exec.gc_s" -> st.gcMs / 1000.0, "exec.input_mb" -> st.inBytes / mb,
          "exec.shuffle_read_mb" -> st.shRead / mb, "exec.shuffle_write_mb" -> st.shWrite / mb,
          "exec.spill_mb" -> st.spill / mb,
          "io.read_mb" -> (procField("/proc/self/io", "rchar:") - rchar0) / mb,
          "io.write_mb" -> (procField("/proc/self/io", "wchar:") - wchar0) / mb,
          "cache.leaked_after_pass" -> leaked.toDouble)
        for (t <- qs) {
          val qj = jobs.filter(j => j.start >= t.t0Ms && j.end <= t.t1Ms)
          val qUnion = unionMs(qj.map(j => (j.start, j.end))) / 1000.0
          qTraced += t.q -> Map("wall_s" -> t.wall, "jobs" -> qj.size.toDouble,
            "planning_s" -> t.plan, "driver_gap_s" -> (t.wall - qUnion))
        }
      }
      pass += 1
    }
    val peakRssMb = procField("/proc/self/status", "VmHWM:") / 1024.0

    val layers = mutable.LinkedHashMap.empty[String, Any]
    tracer.recording = tracer.on
    if (tracer.on) {
      val sessionSpan = tracer.spans.find(_.name == "session.build").get
      layers("session.build_s") = (sessionSpan.end - sessionSpan.start) / 1e9
      for (k <- traced.head.keys if k != "wall_s")
        layers(k) = median(traced.map(_(k).asInstanceOf[Double]).toSeq)
      for (q <- queries; k <- Seq("wall_s", "jobs", "planning_s", "driver_gap_s"))
        layers(s"q.$q.$k") = median(qTraced.filter(_._1 == q).map(_._2(k)).toSeq)
      val wallTraced = median(passes.filter(_("traced") == true).map(_("wall_s").asInstanceOf[Double]).toSeq)
      val wallPlain = median(passes.filter(_("traced") == false).map(_("wall_s").asInstanceOf[Double]).toSeq)
      layers("trace.overhead_pct") = 100.0 * (wallTraced / wallPlain - 1.0)
      layers ++= tracer.span("functions")(Kernels.nsPerRow(spark))
    }

    // ---- spans: written once, at the end, with self time
    val children = tracer.spans.groupBy(_.parent)
    val spanLines = tracer.spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      val selfNs = (s.end - s.start) - unionMs(kids.toSeq)
      jv(obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "workload" -> workload, "pass" -> s.pass,
        "start_ns" -> s.start, "end_ns" -> s.end, "self_ns" -> selfNs))
    }
    Files.write(Paths.get(s"$outDir/spans.jsonl"), java.util.Arrays.asList(spanLines.toSeq: _*))
    val selfByName = tracer.spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.end - s.start) - unionMs(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)).sum / 1e9
    }

    val record = obj(
      "queries" -> queries, "attempted" -> attempted, "errors" -> errors,
      "session_s" -> sessionS, "setup_s" -> setupS, "peak_rss_mb" -> peakRssMb, "warmup_s" -> warmupWall,
      "passes" -> passes, "layers" -> layers, "span_self_s" -> selfByName)
    val line = jv(record)
    Files.writeString(Paths.get(s"$outDir/record.json"), line)
    spark.stop()
    println("PERFBENCH " + line)
  }
}

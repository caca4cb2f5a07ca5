package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Multi-host TIMING for shuffle-bound flagships — the r13 verdict's
  * "measure, don't just execute" ask. [[ClusterDrill]] pins row
  * EQUALITY on the real two-host cluster but its one-run walls mix
  * executor startup into the cluster leg; this main benches with the
  * protocol a real comparison needs:
  *   - WARM executors: per leg, each query runs once UNTIMED first
  *     (forked-executor startup, codegen, broadcast warmup all land
  *     there), then `iters` timed iterations;
  *   - ≥3 iterations, median reported, every iteration shipped;
  *   - executed-metrics capture: a [[Trace]] over each query's timed
  *     iterations sums fetch-wait, remote/local shuffle-read bytes per
  *     host and shuffle-write bytes — the network-shuffle story as the
  *     executors actually paid it, not as the plan implies;
  *   - the local[8] leg runs in the SAME JVM with the same warm-up, so
  *     the delta is cluster overhead (network fetch, cross-JVM
  *     broadcast, scheduler placement), not JIT noise.
  * Output: one JSON line (CLUSTER_DRILL.md's timing table is generated
  * from it). Usage: graft.ClusterBench [sfDir] [iters]. */
object ClusterBench {

  /** Default legs: the two shuffle-bound flagships. Override with
    * SPARK_GRAFT_CLUSTER_QUERIES (comma-separated SparkEntry names) to
    * time other rows — e.g. the store-lifecycle drills, whose
    * serve-over-files path (land / wave-rewrite / read-back) runs on the
    * shared filesystem and so exercises executor-side store I/O under
    * real multi-host scheduling. */
  val Queries: Seq[String] = sys.env.get("SPARK_GRAFT_CLUSTER_QUERIES")
    .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    .filter(_.nonEmpty) // blank/commas-only override → defaults, not a zero-query run
    .getOrElse(Seq("dedup_pipeline", "knn_graph_indexed"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val iters = if (args.length > 1) args(1).toInt else 3
    val scratch = java.nio.file.Files.createTempDirectory("graft_cluster_bench_")
    val opens = Seq("java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
      "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
      "java.base/sun.nio.cs", "java.base/sun.security.action",
      "java.base/sun.util.calendar").map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")

    val (masterUrl, clusterEnvs) = org.apache.spark.deploy.graftbridge.ClusterBridge.start(
      new SparkConf(false), Seq("127.0.0.1", "127.0.0.2"),
      coresPerWorker = 4, memoryPerWorkerMb = 6144,
      workDirOf = i => scratch.resolve(s"work$i").toString)

    def f(d: Double): String = BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }

    /** Warm-up + `iters` timed runs of each query; per-query walls and
      * the trace of the timed iterations. */
    def leg(spark: SparkSession): Map[String, (Seq[Double], Trace)] =
      Queries.map { name =>
        val fn = SparkEntry.queries(name)
        fn(spark, sfDir).collect(); CacheRegistry.releaseAll(spark) // warm-up, untimed
        val trace = Trace.start(spark)
        val walls = (1 to iters).map { _ =>
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).collect(); (System.nanoTime() - t0) / 1e9 } finally CacheRegistry.releaseAll(spark)
        }
        name -> (walls, trace.stop())
      }.toMap

    try {
      // SPARK_GRAFT_CLUSTER_CONF="k=v;k=v" applies to BOTH cluster legs —
      // the knob that let the r15 shard-family drill prove its
      // reducer-locality finding (spark.locality.wait=0 collapses the
      // micro-stage stalls; see CLUSTER_DRILL.md)
      val envConf: Map[String, String] = sys.env.get("SPARK_GRAFT_CLUSTER_CONF")
        .map(_.split(";").toSeq.map(_.trim).filter(_.contains("="))
          .map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap)
        .getOrElse(Map.empty)
      def clusterSession(extra: Map[String, String]): SparkSession = {
        val b = GraftSession.builder(masterUrl, 8)
          .config("spark.driver.host", "127.0.0.1")
          .config("spark.executor.memory", "5g")
          .config("spark.executor.extraClassPath", sys.props("java.class.path"))
          .config("spark.executor.extraJavaOptions", opens)
        (envConf ++ extra).foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
      }
      val cluster = clusterSession(Map.empty)
      cluster.sparkContext.setLogLevel("ERROR")
      val clusterRes = leg(cluster)
      cluster.stop()

      // forced-remote leg: at gate SFs the AQE-coalesced shuffles sit
      // under Spark's reducer-locality threshold, so the default leg's
      // fetches are executor-local (remote_read ≈ 0 — a finding, not a
      // failure). Disabling reduce locality forces reducers to fetch
      // across the executors, so the NETWORK path itself gets a number.
      val remote = clusterSession(Map("spark.shuffle.reduceLocality.enabled" -> "false"))
      remote.sparkContext.setLogLevel("ERROR")
      val remoteRes = leg(remote)
      remote.stop()

      val local = GraftSession.builder("local[8]", 8).getOrCreate()
      local.sparkContext.setLogLevel("ERROR")
      val localRes = leg(local)
      local.stop()

      val hostsV = (clusterRes.values ++ remoteRes.values).flatMap(_._2.hosts.keys).toVector.distinct.sorted
      def mj(t: Trace): String = {
        val h = t.hosts.values
        s"""{"fetch_wait_ms":${h.map(_.fetchWaitMs).sum},"remote_read_mb":${f(h.map(_.remoteBytes).sum / 1e6)},""" +
          s""""local_read_mb":${f(h.map(_.localBytes).sum / 1e6)},"shuffle_write_mb":${f(t.jobs.map(_.shWrite).sum / 1e6)}}"""
      }
      val per = Queries.map { n =>
        val (cw, cmx) = clusterRes(n); val (lw, lmx) = localRes(n)
        val (rw, rmx) = remoteRes(n)
        s""""$n":{"cluster_s":[${cw.map(f).mkString(",")}],"cluster_med":${f(median(cw))},""" +
          s""""remote_s":[${rw.map(f).mkString(",")}],"remote_med":${f(median(rw))},""" +
          s""""local_s":[${lw.map(f).mkString(",")}],"local_med":${f(median(lw))},""" +
          s""""ratio":${f(median(cw) / median(lw))},""" +
          s""""cluster_shuffle":${mj(cmx)},"remote_shuffle":${mj(rmx)},"local_shuffle":${mj(lmx)}}"""
      }.mkString(",")
      println(s"""{"sf":"$sfDir","iters":$iters,"cores":"2x4 vs local[8]",""" +
        s""""hosts":[${hostsV.map("\"" + _ + "\"").mkString(",")}],$per}""")
    } finally {
      org.apache.spark.deploy.graftbridge.ClusterBridge.stop(clusterEnvs)
      graft.Fs.rmTree(scratch)
    }
  }
}

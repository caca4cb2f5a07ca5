package graft.sources

import org.apache.spark.SparkConf
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicInteger

/** Speculative execution under the REAL scheduler — the leg
  * SinkSpeculationSpec's deterministic two-attempt race cannot reach:
  * there, the spec IS the scheduler; here, `spark.speculation=true` and
  * Spark's own TaskSetManager decides to launch the duplicate attempt,
  * kills the loser, and the dot-temp commit protocols of BOTH physical
  * sinks — [[TrainShardSink.writePartitionBody]] (race A) and
  * [[JsonlSnapshotSink.writePartitionBody]] (race B, per-object commits
  * + manifests under encryption) — must still yield one winner each.
  *
  * Why a dedicated main and not a spec: `TaskSchedulerImpl` only starts
  * its speculation thread when `!isLocal`, so `local[N]` — the shared
  * test master — can NEVER speculate; `spark.speculation` is fixed at
  * SparkContext construction, so the shared session cannot be re-armed;
  * and a speculative copy only launches on a DIFFERENT host than the
  * original, so even `local-cluster` (all workers on one hostname) marks
  * tasks speculatable without ever running the copy — measured, that was
  * this drill's first failure mode. [[ClusterBridge]] therefore binds two
  * real Workers to 127.0.0.1 / 127.0.0.2: distinct hosts to the
  * scheduler, one shared local filesystem for the commit race, REAL
  * forked executor JVMs for everything else. SpeculationSchedulerSpec
  * launches this main in a fresh JVM (env needs SPARK_SCALA_VERSION=2.13
  * — the launcher's classpath builder reads it where bin/spark-class
  * would have exported it) and asserts on the one-line JSON verdict.
  *
  * The straggler is data-shaped and ATTEMPT-AWARE: partition [[SlowShard]]
  * sleeps per line only on attempt 0 (the injector `var` lives per-JVM
  * and executors are fresh JVMs — a closure travels, a `@volatile` field
  * does not). The scheduler marks the crawling original speculatable
  * after the fast tasks set the median, launches the copy on the OTHER
  * host, the copy blasts through and commits first, and the scheduler
  * kills the original MID-WRITE — so one run exercises speculation
  * selection, the cross-process rename race, the task-kill path, and
  * loser-litter invisibility, all under Spark's own machinery.
  *
  * Verdict fields: `speculative` (speculative task starts the scheduler
  * launched — must be ≥ 1 or the run proves nothing), `killed` (loser
  * attempts the scheduler reaped — ≥ 1: the original was killed mid-sleep
  * or lost the rename), `visible` (shard files a reader sees — exactly
  * [[NShards]]), `back_ok` (readBack ≡ the deterministic expected lines),
  * `tmp_visible` (dot-temps a reader's glob sees — 0; litter ON DISK from
  * the killed loser is allowed and reported as `tmp_on_disk`, the same
  * present-AND-invisible contract SinkRetrySpec pins for dead retries). */
object SpeculationDrill {

  val NShards = 8
  val LinesPerShard = 200
  val SlowShard = 7
  val SlowSleepMsPerLine = 40L // 8s total on attempt 0: ≫ the fast tasks' median

  def expectedLines: Seq[String] =
    (0 until NShards).flatMap { s =>
      (0 until LinesPerShard).map(p => s"$s|$p|payload-$s-$p")
    }

  def main(args: Array[String]): Unit = {
    val scratch = java.nio.file.Files.createTempDirectory("graft_spec_drill_")
    val opens = Seq("java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
      "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
      "java.base/sun.nio.cs", "java.base/sun.security.action",
      "java.base/sun.util.calendar").map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")

    val (masterUrl, clusterEnvs) = org.apache.spark.deploy.graftbridge.ClusterBridge.start(
      new SparkConf(false), Seq("127.0.0.1", "127.0.0.2"),
      coresPerWorker = 1, memoryPerWorkerMb = 1024,
      workDirOf = i => scratch.resolve(s"work$i").toString)

    val spark = SparkSession.builder()
      .master(masterUrl)
      .appName("graft-speculation-drill")
      .config("spark.speculation", "true")
      .config("spark.speculation.interval", "50ms")
      .config("spark.speculation.multiplier", "1.0")
      .config("spark.speculation.quantile", "0.2")
      .config("spark.speculation.efficiency.enabled", "false")
      .config("spark.locality.wait", "0ms")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions", opens)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val speculative = new AtomicInteger(0)
    val killed = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (e.taskInfo.speculative) speculative.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskInfo.killed) killed.incrementAndGet()
    })

    val root = scratch.resolve("out").toString
    var ok = true
    def check(cond: Boolean, what: String): Unit =
      if (!cond) { ok = false; System.err.println(s"DRILL FAIL: $what") }
    try {
      val confEntries = JsonlSnapshotSink.confEntriesOf(spark)
      val nShards = NShards; val linesPer = LinesPerShard
      val slow = SlowShard; val sleepMs = SlowSleepMsPerLine
      // one partition per shard; the real sink task body does the commit
      val summaries = spark.sparkContext
        .parallelize(0 until nShards, nShards)
        .mapPartitions { shards =>
          val attempt = Option(org.apache.spark.TaskContext.get())
            .map(_.attemptNumber()).getOrElse(0)
          shards.flatMap { s =>
            val rows = (0 until linesPer).iterator.map { p =>
              if (s == slow && attempt == 0) Thread.sleep(sleepMs)
              (s, s"$s|$p|payload-$s-$p")
            }
            TrainShardSink.writePartitionBody(
              rows, root, nShards, GzipSnapshotCodec, confEntries)
          }
        }
        .collect()

      Thread.sleep(1500) // listener bus is async; let the start/end events drain
      check(speculative.get() >= 1,
        s"scheduler launched no speculative attempt (speculative=${speculative.get()})")
      check(killed.get() >= 1,
        s"no loser attempt was killed (killed=${killed.get()}) — the race never resolved")
      val (specA, killedA) = (speculative.get(), killed.get())

      // ------------------------------------------------ race B: jsonl snapshot
      // same straggler shape through JsonlSnapshotSink's task body: 8
      // partitions of 3 objects × 150 records; the slow partition's
      // attempt 0 crawls per record. Object keys are synthetic (readBack
      // and the stub key provider are generic over the key string).
      val jroot = scratch.resolve("jout").toString
      val objsPer = 3; val recsPer = 150; val jSleep = 25L
      spark.sparkContext.parallelize(0 until nShards, nShards)
        .mapPartitions { parts =>
          val attempt = Option(org.apache.spark.TaskContext.get())
            .map(_.attemptNumber()).getOrElse(0)
          parts.flatMap { s =>
            val rows = (0 until objsPer).iterator.flatMap { o =>
              (0 until recsPer).iterator.map { p =>
                if (s == slow && attempt == 0) Thread.sleep(jSleep)
                (f"exports/drill-$s%02d-${o + 1}%06d.txt.gz.enc",
                  s"""{"s":$s,"o":$o,"p":$p}""", s"$s|$o|$p")
              }
            }
            JsonlSnapshotSink.writePartitionBody(
              rows, jroot, GzipSnapshotCodec,
              JsonlSnapshotSink.StubDerivedKeyProvider, confEntries)
          }
        }
        .collect()
      Thread.sleep(1500)
      val (specB, killedB) = (speculative.get() - specA, killed.get() - killedA)
      check(specB >= 1, s"jsonl race: no speculative attempt (specB=$specB)")
      check(killedB >= 1, s"jsonl race: no loser kill (killedB=$killedB)")
      val jBack = JsonlSnapshotSink.readBack(spark, jroot)
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      val jWant = (for (s <- 0 until nShards; o <- 0 until objsPer; p <- 0 until recsPer)
        yield (f"exports/drill-$s%02d-${o + 1}%06d.txt.gz.enc", s"""{"s":$s,"o":$o,"p":$p}""")).sorted
      check(jBack == jWant, "jsonl read-back diverged under the real-scheduler race")
      val jTmpVisible = spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true").option("pathGlobFilter", "*.tmp")
        .load(s"$jroot/data").count()
      check(jTmpVisible == 0, s"$jTmpVisible jsonl temps visible through a reader glob")
      // accounting: whichever attempts survived, exactly the 8 shards report
      check(summaries.map(_._1).toSet ==
        (0 until nShards).map(TrainShardSink.shardFile(_, nShards)).toSet,
        s"summaries cover ${summaries.map(_._1).toSet.size} shards, want $nShards")

      // reader view: exactly 8 visible shard files, bytes ≡ expected
      val back = TrainShardSink.readBack(spark, root)
        .selectExpr("concat_ws('|', shard, pos, concat('payload-', shard, '-', pos))")
        .collect().map(_.getString(0)).sorted.toSeq
      check(back == expectedLines.sorted,
        "readBack diverged from the deterministic expected lines")
      val shardDir = java.nio.file.Paths.get(root, "shards")
      val names = graft.Fs.list(shardDir).map(_.getFileName.toString)
      check(names.count(_.endsWith(".gz")) == nShards,
        s"visible shard files ${names.count(_.endsWith(".gz"))}, want $nShards")
      // the killed loser may leave a dot-temp ON DISK; it must be invisible
      // to readers (dot-prefix is hidden from Spark/Hadoop listings)
      val tmpOnDisk = names.count(_.endsWith(".tmp"))
      val visibleThroughGlob = TrainShardSink.shardFiles(spark, root, "*.tmp").count()
      check(visibleThroughGlob == 0, s"$visibleThroughGlob temps visible through a reader glob")

      println(s"""{"speculative":$specA,"killed":$killedA,""" +
        s""""visible":${names.count(_.endsWith(".gz"))},"tmp_on_disk":$tmpOnDisk,""" +
        s""""tmp_visible":$visibleThroughGlob,"back_ok":${back == expectedLines.sorted},""" +
        s""""speculative_jsonl":$specB,"killed_jsonl":$killedB,""" +
        s""""back_ok_jsonl":${jBack == jWant},"tmp_visible_jsonl":$jTmpVisible,"ok":$ok}""")
    } finally {
      spark.stop()
      org.apache.spark.deploy.graftbridge.ClusterBridge.stop(clusterEnvs)
      graft.Fs.rmTree(scratch)
    }
    if (!ok) sys.exit(1)
  }
}

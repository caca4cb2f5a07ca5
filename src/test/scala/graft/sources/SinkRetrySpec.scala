package graft.sources

import graft.SparkSpec
import java.util.concurrent.atomic.AtomicInteger

/** Exactly-once under TASK RETRY for the physical sinks (reference:
  * Spring Batch's retry template around the S3 writer,
  * app/configuration/JobConfiguration.kt): the test session runs
  * `local[4, 2]` (maxFailures = 2), so an attempt the spec kills
  * mid-object via the sink fault point is re-attempted by Spark's REAL
  * task-retry machinery — the dead attempt's partial dot-temp litters
  * the directory, the retried attempt re-runs the whole partition
  * (including re-committing objects the dead attempt already committed),
  * and the committed output must be byte-identical to an uninterrupted
  * run with no duplicate and no partial visible to any reader. Both FS
  * branches: raw-local (java.io fast path, POSIX rename replaces) and
  * `mockfs://` (the Hadoop-API path hdfs/s3a take). The last case kills
  * every attempt of a shard compaction's consolidated write, so the job
  * fails: the store it leaves must still resolve to the pre-compaction
  * view. */
class SinkRetrySpec extends SparkSpec {

  // this suite's entire point is injected attempt failures
  override protected def expectsTaskFailures: Boolean = true

  private def noJsonlFault(): Unit = JsonlSnapshotSink.faultInjector = (_, _, _) => ()
  private def noShardFault(): Unit = TrainShardSink.faultInjector = (_, _, _) => ()

  private def tmps(root: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".tmp")).toSeq
  }

  private def records = graft.queries.ExportQueries.pipelineRecords(spark, sf)

  private def jsonlRoundTrip(root: String): (Set[(String, Long, Long)], Seq[(String, String)], Long) = {
    val summary = JsonlSnapshotSink.write(records, root)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val back = JsonlSnapshotSink.readBack(spark, root)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    val manifests = spark.read.option("recursiveFileLookup", "true")
      .text(s"$root/manifests").count()
    (summary, back, manifests)
  }

  private def installJsonlFault(fired: AtomicInteger): Unit =
    JsonlSnapshotSink.faultInjector = (_, nRec, committed) => {
      val tc = org.apache.spark.TaskContext.get()
      // die on the FIRST attempt, one record into the task's SECOND
      // object: the first object is already committed (the retry must
      // re-commit it — the duplicate-attempt rename path), the second is
      // a partial dot-temp (the litter a reader must never see)
      if (tc != null && tc.attemptNumber() == 0 && committed >= 1 && nRec == 1) {
        fired.incrementAndGet()
        throw new java.io.IOException("SinkRetrySpec: attempt killed mid-object")
      }
    }

  test("jsonl snapshot, local branch: killed attempts leave hidden litter; retried run is byte-identical") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_retry_jsonl"
    val (cleanSummary, cleanBack, cleanManifests) = jsonlRoundTrip(s"${base}_clean")
    val fired = new AtomicInteger
    installJsonlFault(fired)
    val (summary, back, manifests) =
      try jsonlRoundTrip(s"${base}_faulty") finally noJsonlFault()
    assert(fired.get >= 1, "fault never fired — the retry path went untested")
    // the dead attempts' partial temps ARE on disk (nothing cleaned them)…
    assert(tmps(s"${base}_faulty").nonEmpty, "expected dead-attempt dot-temp litter")
    // …and invisible: committed output ≡ the uninterrupted run
    assert(summary == cleanSummary, "summary diverged under task retry")
    assert(back == cleanBack, "round-tripped records diverged under task retry")
    assert(manifests == cleanManifests, "manifest lines duplicated or lost under task retry")
  }

  test("jsonl snapshot, mockfs:// branch: same exactly-once through the Hadoop API path") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockRemoteFs].getName)
    val local = s"${System.getProperty("java.io.tmpdir")}/graft_retry_jsonl_mockfs"
    val (cleanSummary, cleanBack, cleanManifests) =
      jsonlRoundTrip(s"mockfs:${local}_clean")
    val fired = new AtomicInteger
    installJsonlFault(fired)
    val (summary, back, manifests) =
      try jsonlRoundTrip(s"mockfs:${local}_faulty") finally noJsonlFault()
    assert(fired.get >= 1, "fault never fired through the Hadoop branch")
    assert(tmps(s"${local}_faulty").nonEmpty, "expected dead-attempt dot-temp litter")
    assert(summary == cleanSummary && back == cleanBack && manifests == cleanManifests,
      "Hadoop-branch output diverged under task retry")
  }

  test("train shard sink: killed attempts mid-shard; retried run parses back identical") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_retry_shards"
    def lines = TrainShardSink.lineOf(graft.queries.PipelineQueries.sequenceShuffle(spark, sf)
      .join(graft.queries.PipelineQueries.sequenceManifest(spark, sf).select("bin", "seq_id", "docs"),
        Seq("bin", "seq_id")))
    def roundTrip(root: String): (Set[(String, Long, Long)], Seq[String]) = {
      val s = TrainShardSink.write(lines, root)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val b = TrainShardSink.readBack(spark, root)
        .selectExpr("concat_ws('|', shard, pos, bin, seq_id, n_tokens, docs)")
        .collect().map(_.getString(0)).toSeq.sorted
      (s, b)
    }
    val (cleanSummary, cleanBack) = roundTrip(s"${base}_clean")
    val fired = new AtomicInteger
    TrainShardSink.faultInjector = (_, n, committed) => {
      val tc = org.apache.spark.TaskContext.get()
      // die two lines into the task's first shard: a partial compressed
      // temp is on disk, nothing committed by this attempt yet
      if (tc != null && tc.attemptNumber() == 0 && committed == 0 && n == 2) {
        fired.incrementAndGet()
        throw new java.io.IOException("SinkRetrySpec: attempt killed mid-shard")
      }
    }
    val (summary, back) = try roundTrip(s"${base}_faulty") finally noShardFault()
    assert(fired.get >= 1, "fault never fired — the retry path went untested")
    assert(tmps(s"${base}_faulty").nonEmpty, "expected dead-attempt dot-temp litter")
    assert(summary == cleanSummary, "shard summary diverged under task retry")
    assert(back == cleanBack, "shard lines diverged under task retry")
    graft.CacheRegistry.releaseAll(spark)
  }

  test("shard compaction killed after its first consolidated file leaves the view intact") {
    graft.CacheRegistry.releaseAll(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val fired = new AtomicInteger
    // every attempt of a consolidation task dies once it has committed a
    // file, so the job fails with committed gen-3 files and a dot-temp
    TrainShardSink.faultInjector = (name, _, committed) =>
      if (TrainShardSink.genOf(name) == 3 && committed >= 1) {
        fired.incrementAndGet()
        throw new java.io.IOException("SinkRetrySpec: consolidation killed after its first file")
      }
    try intercept[org.apache.spark.SparkException](ShardCompact.shardCompactWithDetail(spark, sf))
    finally noShardFault()
    assert(fired.get >= 1, "the fault never fired")
    graft.CacheRegistry.releaseAll(spark)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "the killed compaction left a cached frame behind")
    val root = ShardCompact.rootOf(sf)
    val names = graft.Fs.list(java.nio.file.Paths.get(root, "shards"))
      .map(_.getFileName.toString).toSet
    val back = TrainShardSink.readBack(spark, root)
    val killedView = TrainShardSink.resolve(back, dropTombstones = true).collect()
      .map(r => (r.getAs[Int]("shard"), r.getAs[Long]("pos"), r.getAs[Long]("bin"),
        r.getAs[Long]("seq_id"), r.getAs[Long]("n_tokens"), r.getAs[String]("docs"))).toSet
    val readGens = back.select("gen").distinct().collect().map(_.getInt(0)).toSet
    // a clean run replaces the store; its stage 0 is the pre-compaction
    // view and its S0 files the pre-compaction file set
    val (clean, detail) = ShardCompact.shardCompactWithDetail(spark, sf)
    val cleanView = clean.collect().filter(_.getLong(0) == 0L)
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getString(6))).toSet
    val preFiles = detail.files(0).keySet
    assert(preFiles.subsetOf(names), "a pre-compaction file vanished")
    val (temps, committed) = (names -- preFiles).partition(_.startsWith("."))
    assert(committed.nonEmpty && committed.forall(TrainShardSink.genOf(_) == 3),
      s"leftovers other than committed gen-3 files: $committed")
    assert(temps.nonEmpty && temps.forall(_.endsWith(".tmp")),
      s"leftovers other than dot-temps: $temps")
    assert(readGens === Set(0, 1, 2, 3), "the read-back missed a generation or read a temp")
    assert(killedView === cleanView, "the killed compaction changed the resolved view")
    graft.CacheRegistry.releaseAll(spark)
  }
}

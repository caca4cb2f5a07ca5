package graft.sources

import graft.SparkSpec
import graft.kv.KvModel
import com.fasterxml.jackson.databind.ObjectMapper

/** The sink's output contract (reference: S3StreamingWriter +
  * StreamingManifestWriter): one encrypted gzip object per byte-bounded
  * chunk, a pipe-CSV manifest object per chunk, and the decrypted content
  * must be consumable as mongo-backup-format input (one JSON object per
  * line, `$`-keys sanitised, no raw control characters).
  */
/** A "remote" filesystem for tests: Hadoop's RawLocalFileSystem
  * re-registered under its own scheme, so the sink's Hadoop-API branch
  * (fs.create + rename-first task commit, the path hdfs:// and s3a://
  * take; reference S3StreamingWriter.kt:77-175) is exercised without a
  * real cluster — the full FileSystem contract, local disk behind it. */
class MockRemoteFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockfs"
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
}

class SnapshotFormatSpec extends SparkSpec {

  private lazy val root = {
    val r = s"${System.getProperty("java.io.tmpdir")}/graft_snapshot_fmt"
    val records = graft.queries.ExportQueries.pipelineRecords(spark, sf)
    JsonlSnapshotSink.write(records, r).collect() // force the write
    r
  }

  test("decrypted snapshot lines parse as JSON; manifests split into 8 columns") {
    val mapper = new ObjectMapper()
    val lines = JsonlSnapshotSink.readBack(spark, root)
      .collect().map(_.getString(1))
    assert(lines.length == 989)
    lines.foreach { l =>
      val node = mapper.readTree(l) // throws on malformed JSON
      assert(node.isObject)
      // no raw control characters in the line (JSONL contract)
      assert(!l.exists(_ < ' '))
      // sanitisation applied: no `$`-prefixed keys survive
      assert(!l.contains("\"$"))
    }
    val manifests = spark.read.option("recursiveFileLookup", "true")
      .text(s"$root/manifests").collect().map(_.getString(0))
    assert(manifests.length == 989)
    manifests.foreach { m =>
      // pipe-split honoring CSV quoting: count unquoted pipes == 7
      var inQ = false
      var pipes = 0
      m.foreach {
        case '"' => inQ = !inQ
        case '|' if !inQ => pipes += 1
        case _ => ()
      }
      assert(pipes == 7, s"bad manifest line: $m")
    }
  }

  test("one encrypted object per chunk, named per the reference objectKey format") {
    val summary = JsonlSnapshotSink.write(
      graft.queries.ExportQueries.pipelineRecords(spark, sf), root).collect()
    val expected = graft.queries.ExportQueries.snapshotNameQ(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val actual = summary.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(actual == expected) // same objects, same per-object record counts
    actual.keys.foreach(k =>
      assert(k.matches("""exports/[-\w.]+-\d{3}-\d{3}-\d{6}\.txt\.gz\.enc"""), k))
  }

  test("byte bound: every chunk's JSONL payload ≤ target + one record overshoot") {
    val summary = JsonlSnapshotSink.write(
      graft.queries.ExportQueries.pipelineRecords(spark, sf), root).collect()
    val maxRecordBytes = graft.queries.ExportQueries.pipelineRecords(spark, sf)
      .selectExpr("max(length(record) + 1)").head().getInt(0)
    summary.foreach { r =>
      assert(r.getLong(2) <= KvModel.ChunkMaxBytes + maxRecordBytes,
        s"${r.getString(0)} overshoots: ${r.getLong(2)}")
    }
  }

  test("decrypt round trip: read-back records == pipeline records") {
    val back = JsonlSnapshotSink.readBack(spark, root)
      .collect().map(_.getString(1)).sorted
    val direct = graft.queries.ExportQueries.exportRecords(spark, sf)
      .collect().map(_.getAs[String]("record")).sorted
    assert(back.toSeq == direct.toSeq)
  }

  test("pluggable compression: zstd snapshot round-trips, extension in the key") {
    // reference behavior: the compression extension is PART of the object
    // key (S3StreamingWriter.kt:99-101) — a zstd export names .txt.zst.enc
    // objects and round-trips through the same write/readBack machinery
    val r = s"${System.getProperty("java.io.tmpdir")}/graft_snapshot_zst"
    val records = graft.queries.ExportQueries.pipelineRecords(spark, sf)
    val summary = JsonlSnapshotSink.write(records, r, codec = ZstdSnapshotCodec).collect()
    assert(summary.nonEmpty)
    summary.foreach(row =>
      assert(row.getString(0).matches("""exports/[-\w.]+-\d{3}-\d{3}-\d{6}\.txt\.zst\.enc"""),
        row.getString(0)))
    val back = JsonlSnapshotSink.readBack(spark, r, ZstdSnapshotCodec)
      .collect().map(_.getString(1)).sorted
    val direct = graft.queries.ExportQueries.exportRecords(spark, sf)
      .collect().map(_.getAs[String]("record")).sorted
    assert(back.toSeq == direct.toSeq)
    // manifests are named off the same stem whatever the codec
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    summary.foreach { row =>
      val m = JsonlSnapshotSink.manifestKey(row.getString(0), ZstdSnapshotCodec)
      assert(m.endsWith(".csv") && !m.contains(".zst"))
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$r/manifests/$m")))
    }
  }

  test("Hadoop FS branch: snapshot round-trips through a non-file:// scheme, commit protocol off the java.io fast path") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mockfs.impl", classOf[MockRemoteFs].getName)
    val local = s"${System.getProperty("java.io.tmpdir")}/graft_snapshot_mockfs"
    val r = s"mockfs:$local"
    val records = graft.queries.ExportQueries.pipelineRecords(spark, sf)
    val summary = JsonlSnapshotSink.write(records, r).collect()
    // chunking + naming are branch-independent: same objects, same counts
    // as the window-chunk formulation
    val expected = graft.queries.ExportQueries.snapshotNameQ(spark, sf).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(summary.map(x => x.getString(0) -> x.getLong(1)).toMap == expected,
      "Hadoop-branch objects diverge from the chunk oracle")
    // byte bound holds through the Hadoop write path too
    val maxRecordBytes = records.selectExpr("max(length(record) + 1)").head().getInt(0)
    summary.foreach(x => assert(x.getLong(2) <= KvModel.ChunkMaxBytes + maxRecordBytes,
      s"${x.getString(0)} overshoots through the Hadoop branch"))
    // task commit completed: every attempt temp was renamed away
    import scala.jdk.CollectionConverters._
    val leftovers = java.nio.file.Files.walk(java.nio.file.Paths.get(local)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".tmp")).toSeq
    assert(leftovers.isEmpty, s"uncommitted attempt temps left behind: $leftovers")
    // decrypt round trip THROUGH the scheme'd root (readBack also goes
    // through the Hadoop API here)
    val back = JsonlSnapshotSink.readBack(spark, r).collect().map(_.getString(1)).sorted
    val direct = graft.queries.ExportQueries.exportRecords(spark, sf)
      .collect().map(_.getAs[String]("record")).sorted
    assert(back.toSeq == direct.toSeq, "Hadoop-branch round trip lost or corrupted records")
    // and the branch really resolved our scheme, not the local fast path
    val fs = new org.apache.hadoop.fs.Path(r).getFileSystem(hc)
    assert(fs.isInstanceOf[MockRemoteFs], s"unexpected fs ${fs.getClass}")
  }

  test("each object holds its chunk's records in (key_hash, eid) order, in file order") {
    // the oracle compares sorted rows, so it cannot see the order INSIDE
    // an object: decrypt every object file directly, in file order, and
    // compare with the chunk frame's rows for that key
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val records = graft.queries.ExportQueries.pipelineRecords(spark, sf)
    val r = s"${System.getProperty("java.io.tmpdir")}/graft_snapshot_order"
    JsonlSnapshotSink.write(records, r)
    val expected = JsonlSnapshotSink
      .chunkedFrame(records, JsonlSnapshotSink.Prefix, KvModel.ChunkMaxBytes, GzipSnapshotCodec)
      .select("object_key", "key_hash", "eid", "record").as[(String, String, Long, String)]
      .collect().groupBy(_._1)
      .map { case (k, rows) => k -> rows.sortBy(x => (x._2, x._3)).map(_._4).toSeq }
    val data = java.nio.file.Paths.get(r, "data")
    val actual = java.nio.file.Files.walk(data).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".enc") && !p.getFileName.toString.startsWith("."))
      .map { p =>
        val key = data.relativize(p).toString
        val (dk, iv) = JsonlSnapshotSink.StubDerivedKeyProvider.keyMaterial(key)
        val plain = graft.functions.AesCtrCrypt.crypt(java.nio.file.Files.readAllBytes(p), dk, iv)
        val text = new String(GzipSnapshotCodec.decompress(
          new java.io.ByteArrayInputStream(plain)).readAllBytes(), "UTF-8")
        key -> text.split("\n").toSeq.filter(_.nonEmpty)
      }.toMap
    assert(actual.keySet == expected.keySet)
    expected.foreach { case (k, recs) => assert(actual(k) == recs, s"$k: records out of order") }
  }

  test("read-back decrypts below no exchange; its ordered consumer sorts locally") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
    val q = JsonlSnapshotSink.readBack(spark, root)
      .orderBy(org.apache.spark.sql.functions.col("object_key"), org.apache.spark.sql.functions.col("record"))
    val shuffles = graft.queries.ExportQueriesPlanHelper.exec(q).collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1 && shuffles.head.outputPartitioning.isInstanceOf[RangePartitioning] &&
      shuffles.head.shuffleOrigin != ENSURE_REQUIREMENTS,
      s"read-back plans other exchanges:\n${q.queryExecution.executedPlan}")
    assert(!shuffles.head.child.toString.contains("UDF"), "decrypt below the exchange")
    // the range sample scans file statuses: no object content below the exchange
    val scans = shuffles.head.child.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.size == 1 && scans.head.requiredSchema.fieldNames.toSeq == Seq("path"),
      s"read-back scan reads more than paths: ${scans.map(_.requiredSchema)}")
  }

  test("every data object has a manifest object alongside") {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dataKeys = JsonlSnapshotSink.readBack(spark, root)
      .select("object_key").distinct().collect().map(_.getString(0))
    dataKeys.foreach { k =>
      val m = new org.apache.hadoop.fs.Path(s"$root/manifests/${JsonlSnapshotSink.manifestKey(k)}")
      assert(fs.exists(m), s"missing manifest for $k")
    }
  }
}

package graft.sources

import graft.functions.AesCtrCrypt
import graft.kv.KvModel
import graft.operators.ExportOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.ByteArrayInputStream
import java.security.MessageDigest
import javax.crypto.{Cipher, CipherOutputStream}
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

/** Mongo-backup-format snapshot sink (SURVEY §2 №18; reference:
  * app/batch/S3StreamingWriter.kt:77-175): one AES-CTR-encrypted gzip
  * object per byte-bounded chunk, named
  * `prefix/<topic>-<pstart>-<pstop>-NNNNNN.txt.gz.enc` (objectKey at
  * S3StreamingWriter.kt:99-100), with a plain pipe-CSV manifest object per
  * chunk alongside (`...-NNNNNN.csv`, StreamingManifestWriter.kt:23-27).
  * Byte order inside an object matches the reference's stream nesting:
  * JSONL → gzip → AES/CTR (EncryptingOutputStream wraps the compressor
  * around the cipher stream).
  *
  * Spark-first shape: chunk ids come from the SAME window cumsum as the
  * verified `chunk_batch` operator ([[ExportOps.withChunkIds]] — one
  * definition for query and sink), and the writer is a `mapPartitions`
  * pass straight over the window's output. The window clusters rows on
  * (keyspace partition, topic) and sorts them by (partition, topic,
  * key_hash, eid) within each task, so every object's rows arrive
  * contiguous and in the reference's order: no shuffle or sort of its
  * own. Records spread by [[ExportOps.chunkSpread]] (as
  * `ExportQueries.pipelineRecords` is) bring that clustering from below
  * the per-row pipeline, at cluster width, and the window adds no
  * exchange. Each task streams its objects through cipher+gzip without
  * buffering an object in memory, and emits per-object stats as the
  * summary frame. IO goes through the Hadoop FileSystem API, so the same
  * code writes file://, hdfs:// or s3a:// at cluster scale.
  *
  * Key material comes from a pluggable [[SnapshotKeyProvider]]; the
  * default [[StubDerivedKeyProvider]] derives it from the object key
  * (SURVEY §6: the DKS round-trip is environment plumbing), which makes
  * the sink's output verifiable end-to-end — [[readBack]] re-derives the
  * key, decrypts, decompresses and yields (object_key, record) rows that
  * the driver's DuckDB oracle reproduces independently — but is NOT
  * protection (see its scaladoc warning).
  */
object JsonlSnapshotSink {

  val Prefix = "exports"

  /** Test-only fault point, called after every record written:
    * (object key, records in current object, objects committed so far by
    * this task). A spec installs a throwing hook (visible to local-mode
    * executor threads — same JVM) to kill a live attempt mid-object and
    * prove the dot-temp + rename commit protocol is exactly-once under
    * Spark's real task retry; production never sets it. */
  @volatile private[graft] var faultInjector: (String, Long, Int) => Unit = (_, _, _) => ()

  /** Cipher per writer thread — Cipher.getInstance per object serializes
    * on the JCE provider lookup across tasks; init() per object is cheap. */
  private val cipherTL: ThreadLocal[Cipher] =
    ThreadLocal.withInitial(() => Cipher.getInstance("AES/CTR/NoPadding"))

  /** Key service abstraction (reference: DKS — the external Data Key
    * Service that returns (plaintext dataKey, encrypted dataKey) per
    * object; SURVEY §6 scopes the SERVICE out as environment plumbing, the
    * sink only needs the material). A production deployment implements
    * this against its KMS; [[StubDerivedKeyProvider]] is the test stub. */
  trait SnapshotKeyProvider extends Serializable {
    /** (dataKey, IV) for one object key — 16 bytes each. */
    def keyMaterial(objectKey: String): (Array[Byte], Array[Byte])
  }

  /** STUB key material, deterministically DERIVED from the PUBLIC object
    * key (16 md5 bytes each for key and IV).
    *
    * WARNING — NOT protection: anyone who can list the bucket can re-derive
    * every data key, so objects written with this provider are effectively
    * plaintext. It exists so the oracle can decrypt-read-back the sink's
    * output without an external key service; never point [[write]] at real
    * data without a real [[SnapshotKeyProvider]]. */
  object StubDerivedKeyProvider extends SnapshotKeyProvider {
    def keyMaterial(objectKey: String): (Array[Byte], Array[Byte]) = {
      val md = MessageDigest.getInstance("MD5")
      val dk = md.digest(s"dk|$objectKey".getBytes("UTF-8"))
      md.reset()
      val iv = md.digest(s"iv|$objectKey".getBytes("UTF-8"))
      (dk, iv)
    }
  }

  /** Manifest object key for a data object key. The number is the data
    * object's MINUS ONE, matching the reference exactly: the manifest file
    * is named with `currentBatch` BEFORE the increment
    * (S3StreamingWriter.kt:174 in encryptingOutputStream) while the data
    * object key formats AFTER it (S3StreamingWriter.kt:99-101,159), so
    * reference manifest N rides with data object N+1 (first pair:
    * `…-000000.csv` / `…-000001.txt.gz.enc`). */
  def manifestKey(objectKey: String, codec: SnapshotCodec = GzipSnapshotCodec): String = {
    val stem = objectKey.stripSuffix(s".txt.${codec.extension}.enc")
    val cut = stem.lastIndexOf('-')
    val n = stem.substring(cut + 1).toLong
    f"${stem.substring(0, cut + 1)}${n - 1}%06d.csv"
  }

  /** Write chunked, encrypted snapshot objects + per-chunk manifests.
    *
    * @param records pipeline output with (topic, record, manifest_line,
    *                key_byte, key_hash, eid) — ExportQueries.pipelineRecords;
    *                spread by [[ExportOps.chunkSpread]] so the writer runs
    *                at cluster width
    * @return per-object summary (object_key, n_records, jsonl_bytes)
    */
  def write(records: DataFrame, root: String, prefix: String = Prefix,
            maxBytes: Long = KvModel.ChunkMaxBytes,
            codec: SnapshotCodec = GzipSnapshotCodec,
            keys: SnapshotKeyProvider = StubDerivedKeyProvider): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._

    // overwrite semantics: clear previous output (driver-side, once)
    val hc = spark.sparkContext.hadoopConfiguration
    val rootPath = new Path(root)
    val fs0 = rootPath.getFileSystem(hc)
    if (fs0.exists(rootPath)) fs0.delete(rootPath, true)

    val confEntries = confEntriesOf(spark)

    // The chunk window's output order is the writer's: one streaming pass
    // per task with at most one open object (see the object scaladoc).
    chunkedFrame(records, prefix, maxBytes, codec)
      .select(col("object_key"), col("record"), col("manifest_line"))
      .as[(String, String, String)]
      .mapPartitions(rows => writePartitionBody(rows, root, codec, keys, confEntries))
      .collect()  // EAGER: the write executes exactly once, HERE — a lazy
      // summary would re-run the side-effecting writer stage on every
      // action a caller takes on it. The summary is one row per OBJECT
      // (not per record): bounded driver-side even at scale (raise
      // maxBytes with the data; 10⁶ objects ≈ tens of MB).
      .toSeq.toDF("object_key", "n_records", "jsonl_bytes")
  }

  /** The driver's Hadoop configuration as entries, for executors to
    * rebuild with [[confFrom]] (the public-API equivalent of broadcasting
    * SerializableConfiguration). */
  private[sources] def confEntriesOf(spark: SparkSession): Array[(String, String)] = {
    val it = spark.sparkContext.hadoopConfiguration.iterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (it.hasNext) { val e = it.next(); buf += (e.getKey -> e.getValue) }
    buf.toArray
  }

  private[sources] def confFrom(entries: Array[(String, String)]): org.apache.hadoop.conf.Configuration = {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    entries.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** An object's bytes, read on an executor through the Hadoop API. The
    * configuration is rebuilt once per deserialized instance, i.e. once
    * per task. */
  private final class ObjectReader(entries: Array[(String, String)]) extends Serializable {
    @transient private lazy val conf = confFrom(entries)
    def bytes(path: String): Array[Byte] = {
      val p = new Path(path)
      val in = p.getFileSystem(conf).open(p)
      try in.readAllBytes() finally in.close()
    }
  }

  /** Chunk assignment + object naming for `records` — the exact frame the
    * writer partitions on (private[graft] so SinkSpeculationSpec can feed
    * the identical row set to racing attempt bodies). */
  private[graft] def chunkedFrame(records: DataFrame, prefix: String, maxBytes: Long,
      codec: SnapshotCodec): DataFrame =
    ExportOps.withChunkIds(
        records.select(col("topic"), col("record"), col("manifest_line"),
          col("key_byte"), col("key_hash"), col("eid")), maxBytes)
      .withColumn("object_key",
        ExportOps.snapshotName(prefix, col("topic"), col("pstart"), col("pstop"), col("batch"),
          codec.extension))
      .select(col("object_key"), col("key_hash"), col("eid"), col("record"), col("manifest_line"))

  /** The per-task writer body: one streaming pass over (object_key,
    * record, manifest_line) rows with each object's rows contiguous,
    * dot-temp + atomic-rename commit per object. A key that comes back
    * after its object closed fails the task: reopening it would replace
    * the committed object with its tail. Extracted (private[graft]) so
    * SinkSpeculationSpec can drive TWO LIVE attempt contexts through it
    * concurrently against one root — the `spark.speculation` duplicate-
    * attempt race SinkRetrySpec's kill-then-retry cannot reach. */
  private[graft] def writePartitionBody(
      rows: Iterator[(String, String, String)], root: String,
      codec: SnapshotCodec, keys: SnapshotKeyProvider,
      confEntries: Array[(String, String)]): Iterator[(String, Long, Long)] = {
        if (rows.isEmpty) Iterator.empty
        else {
          // file:// fast path: Hadoop's LocalFileSystem costs ~1ms per
          // create (Path URI parse + per-create mkdirs + checksum/wrapper
          // streams) — ~15x the raw java.io cost, and with byte-small test
          // chunks the create overhead DOMINATES the write stage. Remote
          // filesystems (hdfs://, s3a://) go through the Hadoop API, where
          // per-object latency is network-bound anyway.
          // Path.toUri, not new URI(root): Path percent-encodes, so roots
          // with spaces etc. don't throw URISyntaxException per task
          // (getPath below still returns the decoded form)
          val rootUri = new Path(root).toUri
          val rawLocal = rootUri.getScheme == null || rootUri.getScheme == "file"
          val localRoot = if (rootUri.getScheme == null) root else rootUri.getPath
          var fsRef: org.apache.hadoop.fs.FileSystem = null
          def fs = {
            if (fsRef == null) {
              val conf = confFrom(confEntries)
              // PRIVATE instance: FileSystem.CACHE is keyed by (scheme,
              // authority, ugi) — mutating checksum flags on the shared
              // cached instance would disable checksums for every other
              // writer in this executor (parquet, shuffle spill, logs).
              // Closed in the finally below (uncached instances otherwise
              // leak connection/thread pools on remote filesystems).
              conf.setBoolean(s"fs.${rootUri.getScheme}.impl.disable.cache", true)
              val f = new Path(root).getFileSystem(conf)
              // no .crc sidecars — the AES envelope detects corruption
              f.setWriteChecksum(false)
              f.setVerifyChecksum(false)
              fsRef = f
            }
            fsRef
          }
          // Task-commit protocol: write to a DOT-PREFIXED, attempt-suffixed
          // temp name in the final directory, rename on object close.
          // Concurrent duplicate attempts (speculation, zombie tasks) then
          // cannot interleave bytes into one object: rename is atomic, both
          // attempts produce identical content, first-rename-wins. Leftover
          // temps from failed attempts are hidden files — Spark's file
          // sources (text, binaryFile) skip '.'-prefixed paths, so neither
          // readBack nor manifest consumers ever see them; the next
          // overwrite removes them with the root.
          val attempt = Option(org.apache.spark.TaskContext.get())
            .map(_.taskAttemptId()).getOrElse(0L)
          def tmpOf(rel: String) = {
            val i = rel.lastIndexOf('/')
            s"${rel.substring(0, i + 1)}.${rel.substring(i + 1)}.a$attempt.tmp"
          }
          val madeDirs = scala.collection.mutable.HashSet.empty[String]
          def createOut(rel: String): java.io.OutputStream =
            if (rawLocal) {
              val f = new java.io.File(s"$localRoot/$rel")
              val parent = f.getParent
              if (madeDirs.add(parent)) f.getParentFile.mkdirs()
              new java.io.FileOutputStream(f)
            } else fs.create(new Path(s"$root/$rel"), true)
          def commit(rel: String): Unit =
            if (rawLocal) {
              // POSIX rename(2): atomically replaces an existing target
              val t = new java.io.File(s"$localRoot/${tmpOf(rel)}")
              val f = new java.io.File(s"$localRoot/$rel")
              if (!t.renameTo(f)) {
                if (f.exists()) t.delete() // a duplicate attempt won — same bytes
                else throw new java.io.IOException(s"commit rename failed: $rel")
              }
            } else {
              // rename FIRST — a delete-then-rename window would let a
              // killed duplicate attempt delete the winner's committed
              // object. Hadoop rename refuses an existing dest → existing
              // dest means a duplicate attempt won (same bytes): drop ours.
              val t = new Path(s"$root/${tmpOf(rel)}")
              val f = new Path(s"$root/$rel")
              if (!fs.rename(t, f)) {
                if (fs.exists(f)) fs.delete(t, false)
                else throw new java.io.IOException(s"commit rename failed: $rel")
              }
            }
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
          val closed = scala.collection.mutable.HashSet.empty[String]

          var curKey: String = null
          var gz: java.io.OutputStream = null
          var manifest: java.io.OutputStream = null
          var nRecords = 0L
          var nBytes = 0L

          def closeCurrent(): Unit = if (curKey != null) {
            gz.close() // closes cipher + data streams
            manifest.close()
            commit(s"data/$curKey")
            commit(s"manifests/${manifestKey(curKey, codec)}")
            out += ((curKey, nRecords, nBytes))
            curKey = null
          }

          def openObject(key: String): Unit = {
            if (!closed.add(key))
              throw new IllegalStateException(s"object $key's rows are not contiguous")
            val (dk, iv) = keys.keyMaterial(key)
            val cipher = cipherTL.get()
            cipher.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(dk, "AES"), new IvParameterSpec(iv))
            val dataOut = createOut(tmpOf(s"data/$key"))
            // 64 KB buffer between deflate and cipher: one cipher.update and
            // one file write per 64 KB instead of per ~512 B deflate burst
            gz = codec.compress(new java.io.BufferedOutputStream(
              new CipherOutputStream(dataOut, cipher), 65536))
            manifest = new java.io.BufferedOutputStream(
              createOut(tmpOf(s"manifests/${manifestKey(key, codec)}")))
            curKey = key
            nRecords = 0L
            nBytes = 0L
          }

          try {
            rows.foreach { case (key, record, manifestLine) =>
              if (key != curKey) { closeCurrent(); openObject(key) }
              val line = (record + "\n").getBytes("UTF-8")
              gz.write(line)
              manifest.write((manifestLine + "\n").getBytes("UTF-8"))
              nRecords += 1
              nBytes += line.length
              // test-only fault point (no-op in production): SinkRetrySpec
              // kills a live attempt mid-object here and proves the commit
              // protocol exactly-once under Spark's REAL task retry
              JsonlSnapshotSink.faultInjector(curKey, nRecords, out.size)
            }
            closeCurrent()
          } catch {
            case e: Throwable =>
              // don't leak fds on a mid-partition failure (including a
              // PARTIALLY opened object: openObject sets curKey last, so
              // guard on the streams, not the key — double-close of an
              // already-closed stream is a no-op); the uncommitted hidden
              // temp of the current object stays invisible to readers
              try { if (gz != null) gz.close() } catch { case _: Throwable => () }
              try { if (manifest != null) manifest.close() } catch { case _: Throwable => () }
              throw e
          } finally {
            if (fsRef != null) fsRef.close() // uncached instance — ours to close
          }
          out.iterator
        }
  }

  /** Decrypt + decompress every data object back to (object_key, record)
    * rows — the round-trip proof the driver's oracle checks. Distributed:
    * a binaryFile listing of the objects (path only: the scan reads no
    * object content), the object key derived from the path as a column, a
    * range exchange on it, then one read + decrypt per object in a
    * generator. The exchange's sample job therefore scans file statuses,
    * not bytes, so each object is read once, after the exchange; a
    * consumer ordering by (object_key, …) sorts locally. Each object's
    * records keep their file order. */
  def readBack(spark: SparkSession, root: String,
               codec: SnapshotCodec = GzipSnapshotCodec,
               keys: SnapshotKeyProvider = StubDerivedKeyProvider): DataFrame = {
    val reader = new ObjectReader(confEntriesOf(spark))
    val records = udf { (key: String, path: String) =>
      val (dk, iv) = keys.keyMaterial(key)
      val plain = AesCtrCrypt.crypt(reader.bytes(path), dk, iv)
      val text = new String(codec.decompress(new ByteArrayInputStream(plain)).readAllBytes(), "UTF-8")
      text.split("\n", -1).toSeq.filter(_.nonEmpty)
    }
    val objects = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.enc")
      .load(s"$root/data")
      // greedy: the ROOT may itself contain "/data/"; object keys
      // (prefix/<topic>-...) never do
      .select(regexp_extract(col("path"), "^.*/data/(.*)$", 1).as("object_key"), col("path"))
    graft.Spread.ordered(objects, col("object_key"))
      .select(col("object_key"), explode(records(col("object_key"), col("path"))).as("record"))
  }

  /** Verify-runnable form (№18 `jsonl_snapshot`): write the sf's export to
    * a scratch root, then prove the round trip by decrypting every object —
    * the driver's DuckDB oracle reconstructs the same (object_key, record)
    * pairs from the kv model + the window chunk formulation. */
  def snapshotQuery(spark: SparkSession, dir: String): DataFrame = {
    val records = graft.queries.ExportQueries.pipelineRecords(spark, dir)
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_snapshot_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    registerScratchRoot(spark, root)
    // eager — the objects exist when this returns
    graft.Trace.phase(spark, "jsonl_snapshot: write")(write(records, root))
    readBack(spark, root).orderBy(col("object_key"), col("record"))
  }

  /** Scratch roots written by [[snapshotQuery]], deleted when the owning
    * Spark application ends. The listener is installed once per
    * SparkContext (tracked by applicationId, NOT once per JVM — a later
    * session after the first application ends gets its own), and the
    * registered roots are cleared once deleted so a subsequent application
    * starts from a clean slate. */
  private val scratchRoots = scala.collection.mutable.HashSet.empty[String]
  private val listenerApps = scala.collection.mutable.HashSet.empty[String]
  /** Shared with [[TrainShardSink]] — same lifecycle for its scratch. */
  private[sources] def registerScratchRoot(spark: SparkSession, root: String): Unit = synchronized {
    val ctx = spark.sparkContext
    val appId = ctx.applicationId
    if (listenerApps.add(appId)) {
      ctx.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          JsonlSnapshotSink.synchronized {
            scratchRoots.foreach { r =>
              try {
                def rm(f: java.io.File): Unit = {
                  if (f.isDirectory) f.listFiles().foreach(rm)
                  f.delete(); ()
                }
                rm(new java.io.File(r))
              } catch { case scala.util.control.NonFatal(_) => () }
            }
            scratchRoots.clear()
            listenerApps.remove(appId)
            ()
          }
      })
    }
    scratchRoots += root
  }
}

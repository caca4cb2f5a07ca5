package graft.sources

import graft.queries.PipelineQueries
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-shard sink (№68) — the LLM side's physical output, the
  * counterpart of [[JsonlSnapshotSink]] on the export side: materialize
  * the shuffled packed sequences ([[PipelineQueries.sequenceShuffle]] ×
  * [[PipelineQueries.sequenceManifest]]) as one compressed shard file per
  * data-parallel shard, lines in consumption order — exactly what a
  * training loader streams. Line format (pipe-separated, the manifest
  * style): `shard|pos|bin|seq_id|n_tokens|docs` with `docs` the
  * comma-joined doc ids in concatenation order.
  *
  * Spark-first shape: ONE shuffle on shard + within-partition sort on
  * (shard, pos); each task streams its shard groups through one open
  * compressor at a time with the dot-temp + atomic-rename task-commit
  * protocol (same rationale as JsonlSnapshotSink: speculative/zombie
  * attempts cannot interleave bytes; readers never see temps). Shard
  * count is the cluster's data-parallelism — a constant — so
  * file-create overhead is nil and per-file windows scale.
  *
  * This object holds the file half of the packed-shard store's one path
  * (see [[PipelineQueries.packedSeqs]]'s section): the line format
  * ([[lineOf]]), the writer ([[writeLines]]), the read-back with
  * generations ([[readBack]]), the last-writer-wins [[resolve]] and the
  * [[fileCensus]]. A
  * generation g ≥ 1 is a new file per shard named by [[genFile]]; files
  * are never appended to.
  *
  * The round trip is oracle-verified: [[readBack]] decompresses and
  * re-parses every line, and the driver's DuckDB oracle reconstructs the
  * identical rows relationally (packing CTEs + shuffle hash + manifest
  * string_agg). */
object TrainShardSink {

  def shardFile(shard: Int, of: Int): String = f"shard-$shard%04d-of-$of%04d.txt.gz"

  /** Generation `g`'s file name for a shard: [[shardFile]] with `.gN.`. */
  private[graft] def genFile(g: Int)(shard: Int, of: Int): String =
    f"shard-$shard%04d-of-$of%04d.g$g.txt.gz"

  private val GenName = java.util.regex.Pattern.compile("\\.g(\\d+)\\.txt\\.gz$")

  /** The generation a shard file's name or path carries: N for a `.gN.`
    * name, 0 for a plain [[shardFile]] name. */
  private[graft] def genOf(name: String): Int = {
    val m = GenName.matcher(name)
    if (m.find()) m.group(1).toInt else 0
  }

  /** Test-only fault point (see [[JsonlSnapshotSink.faultInjector]]):
    * (file name, lines in the current file, files committed so far by
    * this task). */
  @volatile private[graft] var faultInjector: (String, Long, Int) => Unit = (_, _, _) => ()

  /** №68's line, keyed for the writer: (shard, pos, line) from a frame of
    * (shard, pos, bin, seq_id, n_tokens, docs). */
  private[graft] def lineOf(f: DataFrame): DataFrame = f.select(col("shard"), col("pos"),
    concat_ws("|", col("shard"), col("pos"), col("bin"), col("seq_id"),
      col("n_tokens"), col("docs")).as("line"))

  /** Write `lines` (shard, pos, line) as one gzip file per shard under
    * `root/shards/`, replacing whatever `root` held; returns the per-file
    * summary (shard_file, n_seqs, txt_bytes). Eager — the files exist
    * when this returns. */
  def write(lines: DataFrame, root: String,
            nShards: Int = PipelineQueries.NShards,
            codec: SnapshotCodec = GzipSnapshotCodec): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    val rootPath = new Path(root)
    val fs0 = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs0.exists(rootPath)) fs0.delete(rootPath, true)
    writeLines(lines, root, nShards, codec = codec)
      .toSeq.toDF("shard_file", "n_seqs", "txt_bytes")
  }

  /** The one shard writer: one file per shard present in `lines`
    * (shard, pos, line), named by `nameOf`, next to whatever `root/shards/`
    * already holds. ONE shuffle on shard over at most `maxTasks` tasks
    * (and at most the shard count and the cluster's parallelism), a
    * within-partition (shard, pos) sort, then [[writePartitionBody]].
    * Eager; returns (file name, lines, txt_bytes) per file. */
  private[graft] def writeLines(lines: DataFrame, root: String, nShards: Int,
      nameOf: (Int, Int) => String = shardFile, maxTasks: Int = Int.MaxValue,
      codec: SnapshotCodec = GzipSnapshotCodec): Array[(String, Long, Long)] = {
    val spark = lines.sparkSession
    import spark.implicits._
    val confEntries = JsonlSnapshotSink.confEntriesOf(spark)
    graft.Trace.phase(spark, "shards: write")(lines
      .repartition(Seq(maxTasks, nShards, spark.sparkContext.defaultParallelism).min, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .select(col("shard"), col("line"))
      .as[(Int, String)]
      .mapPartitions(rows => writePartitionBody(rows, root, nShards, codec, confEntries, nameOf))
      .collect()) // eager: the side-effecting write must run exactly once
  }

  /** The per-task writer body: one streaming pass over (shard, line) rows
    * sorted by shard, dot-temp + rename-first commit per shard file.
    * Extracted (private[graft]) so SinkSpeculationSpec can race two live
    * attempt contexts against one root (the `spark.speculation` case). */
  private[graft] def writePartitionBody(
      rows: Iterator[(Int, String)], root: String, nShards: Int,
      codec: SnapshotCodec,
      confEntries: Array[(String, String)],
      nameOf: (Int, Int) => String = shardFile): Iterator[(String, Long, Long)] = {
        if (rows.isEmpty) Iterator.empty
        else {
          val conf = JsonlSnapshotSink.confFrom(confEntries)
          // PRIVATE FileSystem instance: the global cache is keyed by
          // (scheme, authority, ugi) — NOT conf — so mutating checksum
          // flags on the cached instance would disable .crc sidecars for
          // every other writer in this JVM for the session's remainder.
          // Closed in the finally below.
          // Path.toUri, not new URI(root): Path percent-encodes, so roots
          // that are valid Hadoop paths but invalid raw URIs (spaces, ...)
          // don't throw URISyntaxException inside every task
          val scheme = Option(new Path(root).toUri.getScheme).getOrElse("file")
          conf.setBoolean(s"fs.$scheme.impl.disable.cache", true)
          val fs = new Path(root).getFileSystem(conf)
          fs.setWriteChecksum(false)
          val attempt = Option(org.apache.spark.TaskContext.get())
            .map(_.taskAttemptId()).getOrElse(0L)
          def tmpOf(name: String) = s"$root/shards/.$name.a$attempt.tmp"
          def finalOf(name: String) = s"$root/shards/$name"
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]

          var cur = -1
          var name = ""
          var gz: java.io.OutputStream = null
          var n = 0L; var bytes = 0L
          def closeCurrent(): Unit = if (cur >= 0) {
            gz.close()
            val t = new Path(tmpOf(name)); val f = new Path(finalOf(name))
            if (!fs.rename(t, f)) {
              // duplicate attempt won with identical bytes — drop ours
              if (fs.exists(f)) fs.delete(t, false)
              else throw new java.io.IOException(s"commit rename failed: $name")
            }
            out += ((name, n, bytes)); cur = -1
          }
          try {
            rows.foreach { case (shard, line) =>
              if (shard != cur) {
                closeCurrent()
                name = nameOf(shard, nShards)
                gz = codec.compress(new java.io.BufferedOutputStream(
                  fs.create(new Path(tmpOf(name)), true), 65536))
                cur = shard; n = 0L; bytes = 0L
              }
              val b = (line + "\n").getBytes("UTF-8")
              gz.write(b); n += 1; bytes += b.length
              TrainShardSink.faultInjector(name, n, out.size)
            }
            closeCurrent()
          } catch { case e: Throwable =>
            try { if (gz != null) gz.close() } catch { case _: Throwable => () }
            throw e
          } finally {
            // uncached instances leak connection/thread pools if not closed
            try fs.close() catch { case _: Throwable => () }
          }
          out.iterator
        }
  }

  /** The committed shard files a reader sees under `glob`: dot-temps are
    * hidden from Hadoop listings, so a writer's litter never reaches it. */
  private[graft] def shardFiles(spark: SparkSession, root: String, glob: String = "*.gz"): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(s"$root/shards")

  /** The one read-back: decompress + re-parse every line of every shard
    * file — (shard, pos, bin, seq_id, n_tokens, docs, gen), `gen` from the
    * file name ([[genOf]]). Distributed binaryFile read, one file per
    * row; the loader's raw view before [[resolve]]. */
  def readBack(spark: SparkSession, root: String,
               codec: SnapshotCodec = GzipSnapshotCodec): DataFrame = {
    import spark.implicits._
    graft.Trace.phase(spark, "shards: read-back")(shardFiles(spark, root))
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val gen = genOf(path)
        val text = new String(codec.decompress(new java.io.ByteArrayInputStream(bytes)).readAllBytes(), "UTF-8")
        text.split("\n", -1).iterator.filter(_.nonEmpty).map(l => (gen, l))
      }
      .select(col("_1").as("gen"), split(col("_2"), "\\|").as("f"))
      .select(
        element_at(col("f"), 1).cast("int").as("shard"),
        element_at(col("f"), 2).cast("long").as("pos"),
        element_at(col("f"), 3).cast("long").as("bin"),
        element_at(col("f"), 4).cast("long").as("seq_id"),
        element_at(col("f"), 5).cast("long").as("n_tokens"),
        element_at(col("f"), 6).as("docs"),
        col("gen"))
  }

  /** Last writer wins per (bin, seq_id): each key serves its line of the
    * highest generation — the reference's latest-cell read
    * (app/batch/HBaseResultProcessor.kt: the newest cell wins, older
    * versions stay on disk). With `dropTombstones`, a winning tombstone
    * (n_tokens 0, empty docs) hides its key, as an HBase delete marker
    * hides its cell. */
  private[graft] def resolve(back: DataFrame, dropTombstones: Boolean = false): DataFrame = {
    val won = back
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("bin"), col("seq_id")).orderBy(col("gen").desc)))
      .filter(col("rn") === 1).drop("rn")
    if (dropTombstones) won.filter(col("n_tokens") > 0L) else won
  }

  /** Metadata census of the committed shard files: name → (size, mtime).
    * One directory listing, no file reads; dot-temps are not counted. */
  private[graft] def fileCensus(spark: SparkSession, root: String): Map[String, (Long, Long)] = {
    val p = new Path(s"$root/shards")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).filter(_.isFile)
      .filterNot(_.getPath.getName.startsWith("."))
      .map(s => s.getPath.getName -> (s.getLen, s.getModificationTime)).toMap
  }

  /** The store root [[shardQuery]] writes for input `dir`. */
  private[graft] def rootOf(dir: String): String = graft.Fs.storeDir("shards", dir).toString

  /** Verify-runnable form (№68 `train_shard_sink`): build the shard
    * lines from the SHARED shuffle + manifest frames, write to scratch,
    * and return the parsed read-back — the driver's oracle reconstructs
    * the same rows relationally, so a lost/reordered/corrupted line
    * anywhere in the write path fails the hash. */
  def shardQuery(spark: SparkSession, dir: String): DataFrame = {
    val shuffled = PipelineQueries.sequenceShuffle(spark, dir)
    val manifest = PipelineQueries.sequenceManifest(spark, dir)
      .select(col("bin"), col("seq_id"), col("docs"))
    val root = rootOf(dir)
    JsonlSnapshotSink.registerScratchRoot(spark, root)
    write(lineOf(shuffled.join(manifest, Seq("bin", "seq_id"))), root)
    readBack(spark, root).drop("gen").orderBy(col("shard"), col("pos"))
  }
}

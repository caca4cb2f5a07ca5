package graft.store

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** How a write lays its rows out in files. Each store keeps the layout its
  * drills pin file counts with: [[Layout.Clustered]] gives one file per
  * partition per write; [[Layout.Files]] and [[Layout.Coalesced]] give a
  * fixed number of files, round-robin or without a shuffle. */
sealed trait Layout
object Layout {
  /** Hash-clustered by the store's keys at cluster width
    * ([[graft.Spread.clustered]]): one task, so one file, per partition. */
  case object Clustered extends Layout
  /** `repartition(n)`: n files (per partition the rows reach). */
  final case class Files(n: Int) extends Layout
  /** `coalesce(n)`: at most n files, no shuffle. */
  final case class Coalesced(n: Int) extends Layout
}

/** The files of a store at `root` that a [[PartStore.snapshot]] dooms,
  * listed once. [[delete]] removes exactly these and never re-lists, so a
  * file appended to the same partitions after the snapshot survives it. */
final case class Snapshot(root: Path, files: Seq[Path]) {
  /** Delete the files with their checksum siblings, then each partition
    * directory the delete left empty: no orphan is left behind. */
  def delete(): Unit = {
    files.foreach { f =>
      Files.delete(f)
      Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
    }
    files.map(_.getParent).distinct.foreach(prune)
  }

  private def prune(dir: Path): Unit =
    if (dir != root && dir.startsWith(root) && graft.Fs.list(dir).isEmpty) {
      Files.delete(dir)
      prune(dir.getParent)
    }
}

/** ONE PARTITIONED-PARQUET STORE: the IVF cell and PQ-code stores, the
  * banded index and the corpus vector stores are each one value of this
  * class, and every write, drop, read-back and file census of theirs goes
  * through its verbs.
  *
  * A store is its root directory, its row columns (`rows`, DDL), its
  * partition keys (`keys`, DDL: `cell LONG`, `gen INT`, `bkt LONG`,
  * `gen INT, cell LONG`, or none) and the [[graft.Trace.phase]] label its
  * jobs carry (`<label>: land|append|replace|read-back`). Every key is
  * integral. A partition is one value of the FIRST key — one top-level
  * directory, `<key>=<value>`, with whatever lies under it.
  *
  * The lifecycle, each rule with one definition:
  *  - [[land]] overwrites the whole store, [[append]] adds files only;
  *  - [[replace]] rewrites the partitions its content has rows for and
  *    drops every `touched` partition the content left without rows: a
  *    dynamic partition overwrite never clears a partition it writes no
  *    data to, so without the drop that partition's stale rows (a ghost)
  *    would survive into every later read-back;
  *  - [[drop]] deletes whole partitions (a generation's age-out, a
  *    compaction's source generations);
  *  - [[snapshot]] lists the files a compaction will delete once its
  *    consolidated copy has landed (write-then-delete: readers see old and
  *    new copies through the overlap, never neither);
  *  - [[read]] builds the read-back with the known schema and lists the
  *    partitions on the driver: no job runs before the read's own, and
  *    the keys read with their declared types, not inferred ones.
  *
  * The file census ([[parts]], [[files]], [[allFiles]], [[fileCounts]])
  * is driver-side listing, for the drills' file-level proofs. */
final class PartStore private (val root: Path, val label: String, rows: StructType, keyFields: StructType) {
  val keys: Seq[String] = keyFields.fieldNames.toSeq
  val schema: StructType = StructType(rows.fields ++ keyFields.fields)

  private def phase[T](spark: SparkSession, verb: String)(body: => T): T =
    graft.Trace.phase(spark, s"$label: $verb")(body)

  private def writer(content: DataFrame, layout: Layout) = {
    val laid = layout match {
      case Layout.Clustered => graft.Spread.clustered(content, keys.map(col): _*)
      case Layout.Files(n) => content.repartition(n)
      case Layout.Coalesced(n) => content.coalesce(n)
    }
    if (keys.isEmpty) laid.write else laid.write.partitionBy(keys: _*)
  }

  /** Overwrite the whole store with `content`. */
  def land(content: DataFrame, layout: Layout = Layout.Clustered): Unit =
    phase(content.sparkSession, "land")(writer(content, layout).mode("overwrite").parquet(root.toString))

  /** Add `content`'s rows as new files; no existing file changes. */
  def append(content: DataFrame, layout: Layout = Layout.Clustered): Unit =
    phase(content.sparkSession, "append")(writer(content, layout).mode("append").parquet(root.toString))

  /** Rewrite the partitions `content` has rows for (dynamic partition
    * overwrite: every other partition keeps its files), then drop each
    * `touched` partition the write left without rows. Returns the dropped
    * partitions, ascending.
    *
    * The dropped set needs no Spark job: a partition the overwrite wrote
    * holds only new files, whose names carry the write job's UUID, so a
    * touched partition whose file names are exactly those listed before
    * the write got no rows. */
  def replace(content: DataFrame, touched: Iterable[Long], layout: Layout = Layout.Clustered): Seq[Long] = {
    require(keys.nonEmpty, s"$root: replace needs a partitioned store")
    val before = touched.toSeq.distinct.sorted.map(p => p -> files(p).toSet)
    phase(content.sparkSession, "replace")(writer(content, layout).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(root.toString))
    val emptied = before.collect { case (p, old) if old.nonEmpty && files(p).toSet == old => p }
    drop(emptied: _*)
    emptied
  }

  /** Delete the partitions `ps` (absent ones are skipped). */
  def drop(ps: Long*): Unit = ps.foreach(p => graft.Fs.rmTree(root.resolve(dir(p))))

  /** The store, or only its partitions `ps`, read back from its files:
    * the row columns, then the keys. */
  def read(spark: SparkSession, ps: Long*): DataFrame = phase(spark, "read-back") {
    val r = spark.read.schema(schema)
    val df = if (ps.isEmpty) r.parquet(root.toString)
      else r.option("basePath", root.toString).parquet(ps.map(p => root.resolve(dir(p)).toString): _*)
    df.select(schema.fieldNames.toSeq.map(col): _*)
  }

  /** The directory name of partition `p`. */
  def dir(p: Long): String = s"${keys.head}=$p"

  /** The partitions on disk, ascending. */
  def parts: Seq[Long] =
    if (keys.isEmpty || !Files.isDirectory(root)) Nil
    else graft.Fs.subdirs(root, s"${keys.head}=").map(_.stripPrefix(s"${keys.head}=").toLong).sorted

  /** The partitions' directory names on disk, in [[parts]] order. */
  def dirs: Seq[String] = parts.map(dir)

  /** The parquet files of partition `p` (none once it is dropped). */
  def files(p: Long): Seq[Path] = PartStore.parquetUnder(root.resolve(dir(p)))

  /** Every parquet file of the store. */
  def allFiles: Seq[Path] = PartStore.parquetUnder(root)

  /** Parquet file count per partition on disk. */
  def fileCounts: Map[Long, Int] = parts.map(p => p -> files(p).size).toMap

  /** The files of partitions `ps` as they are now, for a later delete. */
  def snapshot(ps: Iterable[Long]): Snapshot = Snapshot(root, ps.toSeq.flatMap(files))
}

object PartStore {
  /** A store at `root` with row columns `rows` and partition keys `keys`
    * (both DDL; `keys` may be empty), its jobs labelled `label`. */
  def apply(root: Path, label: String, rows: String, keys: String = ""): PartStore =
    new PartStore(root, label, StructType.fromDDL(rows),
      if (keys.isEmpty) new StructType() else StructType.fromDDL(keys))

  /** The parquet files under `dir`, at any depth (none if it is absent). */
  private def parquetUnder(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else graft.Fs.list(dir).flatMap(p =>
      if (Files.isDirectory(p)) parquetUnder(p)
      else if (p.getFileName.toString.endsWith(".parquet")) Seq(p) else Nil)
}

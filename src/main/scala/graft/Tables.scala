package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Loaders for the driver-generated test corpus (TESTDATA.md). One parquet
  * file per table under a scale-factor directory. All queries take the
  * directory as a parameter so the same code runs at any SF (and, on a real
  * cluster, against a multi-file partitioned layout — `spark.read.parquet`
  * takes directories/globs transparently).
  */
final case class Tables(spark: SparkSession, dir: String) {
  /** Source-format resolution: parquet preferred, ORC / JSON-lines / CSV
    * accepted (`<dir>/<name>.{parquet,orc,json,csv}`). Local-filesystem
    * probe — a production deployment would state the format explicitly; the
    * point is that every graft operator is source-format agnostic (the
    * returned frame is identical, so the whole pipeline + oracles carry
    * over; ORC keeps predicate pushdown + column pruning like parquet).
    * Parquet reads take their schema from [[Tables.parquetSchema]], so a
    * table read submits no schema-inference job.
    */
  private def t(name: String): DataFrame = {
    val base = s"$dir/$name"
    if (new java.io.File(s"$base.parquet").exists)
      spark.read.schema(Tables.parquetSchema(spark, s"$base.parquet")).parquet(s"$base.parquet")
    else if (new java.io.File(s"$base.orc").exists) spark.read.orc(s"$base.orc")
    else if (new java.io.File(s"$base.json").exists)
      spark.read.schema(Tables.knownSchema(name).orNull).json(s"$base.json")
    else if (new java.io.File(s"$base.csv").exists)
      spark.read.option("header", "true").schema(Tables.knownSchema(name).orNull).csv(s"$base.csv")
    else spark.read.parquet(s"$base.parquet") // fail with the parquet error
  }

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")

  /** `events.ts` arrives in one of two physical layouts depending on the
    * corpus generation: raw nanosecond LONGs (readable only under
    * spark.sql.legacy.parquet.nanosAsLong=true) or timestamp[us]. Both are
    * normalized to ONE logical contract so every consumer stays
    * layout-blind — see [[Tables.normalizeTs]].
    */
  def events: DataFrame = {
    // runtime-settable; makes events readable from ANY session (e.g. the
    // driver's), not just ones built by GraftSession/Verify/Bench
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // timestamp[us] must arrive as an INSTANT (TimestampType), never
    // TIMESTAMP_NTZ: sessions run UTC and the DuckDB oracle's epoch_ms(ts)
    // reads the same stored microseconds, so the engines agree exactly
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    Tables.normalizeTs(t("events"))
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  import org.apache.spark.sql.types._

  /** The schema `spark.read.parquet(path)` infers, read on the driver:
    * inference reads one footer in a one-task Spark job per read, this
    * reads the same footer inline and converts it with Spark's own
    * conversion under the session conf (`nanosAsLong`,
    * `inferTimestampNTZ`, binary-as-string, …). Not memoized: the file
    * may be rewritten between reads. `path` is a file or a directory of
    * part files; for a directory the first data file (by name) stands
    * for all, as inference without `mergeSchema` takes one. */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    val file =
      if (!st.isDirectory) st
      else fs.listStatus(p)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
        .minByOption(_.getPath.getName)
        .getOrElse(throw new java.io.FileNotFoundException(s"no parquet data file under $path"))
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Normalizes either physical `ts` layout to the logical contract:
    *   - `ts`     LONG epoch-nanos (the arithmetic column — every
    *              downstream ts_ms/window/session derivation reads this)
    *   - `ts_ms`  LONG epoch-millis
    *   - `ts_utc` TimestampType instant (microsecond precision)
    *   - `ts_raw` the UNTOUCHED physical column — range predicates built
    *     against it (type-aware: see ExportQueries.tsNsRange) reach the
    *     storage scan as parquet/ORC pushdown, which predicates on the
    *     derived columns never can.
    * Shared by the batch loader and the streaming source so the two paths
    * cannot drift.
    */
  def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val derived = raw.schema("ts").dataType match {
      case LongType => // raw nanosecond longs
        raw.withColumn("ts_raw", col("ts"))
          .withColumn("ts_ms", expr("ts DIV 1000000"))
          .withColumn("ts_utc", timestamp_micros(expr("ts DIV 1000")))
      case _ => // timestamp[us]; the cast is a no-op for TimestampType and
        // pins any exotic NTZ read to the UTC wall clock all entry
        // points (GraftSession/Verify/Bench) run under
        raw.withColumn("ts_raw", col("ts"))
          .withColumn("ts_utc", col("ts").cast(TimestampType))
          .withColumn("ts", unix_micros(col("ts_utc")) * lit(1000L))
          .withColumn("ts_ms", expr("ts DIV 1000000"))
    }
    // ONE column order for both layouts (physical columns first, derived
    // after, fixed) — the contract is layout-blind POSITIONALLY too, not
    // just for named selects
    derived.select(raw.columns.map(col) ++ Seq(col("ts_raw"), col("ts_ms"), col("ts_utc")): _*)
  }

  /** Epoch-ms half-open range [loMs, hiMs) on the RAW events column
    * (`ts_raw`), typed to the layout (LONG nanos or TIMESTAMP micros) so
    * Catalyst pushes it into the scan — predicates on the derived
    * `ts`/`ts_ms` columns never reach storage. Exact in both units:
    * ms = floor(ns/1e6) = floor(us/1e3). */
  def tsRangeMs(df: DataFrame, loMs: Long, hiMs: Long, c: String = "ts_raw"): Column = {
    import org.apache.spark.sql.functions._
    df.schema(c).dataType match {
      case LongType =>
        col(c) >= loMs * 1000000L && col(c) < hiMs * 1000000L
      case _ =>
        col(c) >= timestamp_millis(lit(loMs)) && col(c) < timestamp_millis(lit(hiMs))
    }
  }

  /** `ms < hiMs` on the raw column — the open-ended lower half of
    * [[tsRangeMs]]. */
  def tsBeforeMs(df: DataFrame, hiMs: Long, c: String = "ts_raw"): Column = {
    import org.apache.spark.sql.functions._
    df.schema(c).dataType match {
      case LongType => col(c) < hiMs * 1000000L
      case _        => col(c) < timestamp_millis(lit(hiMs))
    }
  }

  /** Streaming twin of [[Tables#events]]: file streams must declare their
    * schema up front, so it is taken from a footer-only batch read of the
    * same file, then the SAME normalization applies. This is the
    * production ingestion shape — no driver-side materialization. */
  def streamEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val schema = parquetSchema(spark, s"$dir/events.parquet")
    normalizeTs(spark.readStream.schema(schema).parquet(s"$dir/events.parq*"))
  }

  /** Explicit schemas for schemaless formats (JSON/CSV) — events carries
    * raw nanosecond longs, matching the parquet read under nanosAsLong. */
  def knownSchema(name: String): Option[StructType] = name match {
    case "events" => Some(StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))))
    case "documents" => Some(StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
    case _ => None
  }
}

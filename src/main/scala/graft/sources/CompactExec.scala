package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** №117 compact_exec — the №99 compaction plan EXECUTED (compact_plan
  * stops at the metadata layer; this rewrites the files and measures the
  * result — the №93→ZOrderSkippingSpec "model becomes a measured plan
  * property" discipline applied to compaction):
  *
  *   1. materialize the SMALL-FILES layout the plan exists to fix — one
  *      file per source (`partitionBy(source)` after repartitioning on
  *      it), the classic per-ingest-batch landing shape;
  *   2. compute the first-fit bin assignment with the SAME shared
  *      fragment compact_plan ships (`Analytics.compactPlan` — execution
  *      cannot drift from planning);
  *   3. rewrite: join the data to its bin (the plan is FILE-METADATA
  *      sized — broadcast by AQE), one hash shuffle on bin,
  *      `partitionBy(bin)` write → one file per bin;
  *   4. measure both layouts from the filesystem (file counts) and
  *      aggregate the COMPACTED read per bin — a lost row, duplicated
  *      row, or mis-binned file diverges the driver hash.
  *
  * Scale shape: compaction cost is ONE read + one bin shuffle + one
  * write of the data being compacted (the minimum possible), driven by a
  * metadata-sized plan; at 100 TB the plan runs over the file listing
  * and only touched bins rewrite. The driver row's n_files columns carry
  * the measured before/after counts: the oracle derives them from the
  * plan's own arithmetic (files before = distinct sources, after =
  * distinct bins), so execution must land exactly the planned layout.
  */
object CompactExec {

  private def countDataFiles(root: java.nio.file.Path): Long = {
    var n = 0L
    java.nio.file.Files.walk(root).forEach { p =>
      val name = p.getFileName.toString
      if (name.startsWith("part-") && name.endsWith(".parquet")) n += 1
    }
    n
  }

  def compactExec(spark: SparkSession, dir: String): DataFrame = {
    val scratch = java.nio.file.Files.createTempDirectory("graft_compact_")
    try {
      val small = scratch.resolve("small")
      val compacted = scratch.resolve("compacted")
      val docs = Tables(spark, dir).documents
        .select(col("doc_id"), col("source"), col("n_chars"))
      // 1. the small-files landing layout: one file per source
      graft.Spread.clustered(docs, col("source"))
        .write.partitionBy("source").parquet(small.toString)
      val filesBefore = countDataFiles(small)
      // 2. the shared plan fragment (source -> bin)
      val plan = graft.queries.Analytics.compactPlan(spark, dir)
        .select(col("source"), col("bin"))
      // 3. execute: read the small layout, attach bins, one file per bin
      val binned = spark.read.parquet(small.toString)
        .join(plan, "source") // metadata-sized plan side — AQE broadcasts
      graft.Spread.clustered(binned, col("bin"))
        .write.partitionBy("bin").parquet(compacted.toString)
      val filesAfter = countDataFiles(compacted)
      // 4. verify FROM the compacted layout
      val rows = spark.read.parquet(compacted.toString)
        .groupBy(col("bin").cast("long").as("bin"))
        .agg(countDistinct(col("source")).as("n_sources"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_bytes"))
        .orderBy(col("bin"))
        .collect()
      import spark.implicits._
      rows.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toDF("bin", "n_sources", "n_docs", "n_bytes")
        .withColumn("n_files_before", lit(filesBefore))
        .withColumn("n_files_after", lit(filesAfter))
        .orderBy(col("bin"))
    } finally graft.Fs.rmTree(scratch)
  }

  /** Oracle: per-bin rollup of the SAME first-fit arithmetic compact_plan
    * publishes, plus the layout counts execution must land — files before
    * = one per source, after = one per bin. */
  val compactExecSql: String =
    s"""WITH f AS (
       |  SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_bytes
       |  FROM documents GROUP BY source),
       |c AS (
       |  SELECT source, n_docs, n_bytes,
       |    CAST(coalesce(sum(n_bytes) OVER (ORDER BY source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM f),
       |b AS (
       |  SELECT source, n_docs, n_bytes,
       |    CAST(dense_rank() OVER (ORDER BY cum_before // ${graft.queries.Analytics.CompactTarget}) - 1 AS BIGINT) AS bin
       |  FROM c),
       |agg AS (
       |  SELECT bin, count(*) AS n_sources, CAST(sum(n_docs) AS BIGINT) AS n_docs,
       |    CAST(sum(n_bytes) AS BIGINT) AS n_bytes
       |  FROM b GROUP BY bin),
       |tot AS (
       |  SELECT count(DISTINCT source) AS nf_before, count(DISTINCT bin) AS nf_after FROM b)
       |SELECT bin, n_sources, n_docs, n_bytes,
       |  CAST(nf_before AS BIGINT) AS n_files_before,
       |  CAST(nf_after AS BIGINT) AS n_files_after
       |FROM agg CROSS JOIN tot ORDER BY bin""".stripMargin
}

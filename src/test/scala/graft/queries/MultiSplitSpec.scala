package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The 100 TB shape: inputs arrive as multi-file partitioned directories,
  * not single files. Rewrites events as an 8-file directory and proves
  * (a) the pipeline reads directories transparently, (b) results are
  * IDENTICAL to the single-file run, and (c) the pipeline's keyed spread
  * (a range on `eid`) is the only exchange: the final sort reuses it
  * rather than adding its own.
  */
class MultiSplitSpec extends SparkSpec {

  test("export pipeline on a multi-file events directory matches the single-file run") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_multisplit").toString
    // copy the sf tables the pipeline touches; events split into 8 files
    graft.Tables(spark, sf).events
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")

    val single = ExportQueries.exportRecords(spark, sf)
      .select("eid", "record", "manifest_line").collect().map(_.toSeq).toSet
    val multiDf = ExportQueries.exportRecords(spark, tmp)
    val multi = multiDf.select("eid", "record", "manifest_line").collect().map(_.toSeq).toSet
    assert(multi == single)
    // the keyed spread IS the final sort's exchange: one exchange in all
    val shuffles = ExportQueriesPlanHelper.exec(multiDf).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size == 1, s"${shuffles.size} exchanges:\n${multiDf.queryExecution.executedPlan}")
  }
}

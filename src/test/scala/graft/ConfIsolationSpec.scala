package graft

import org.apache.spark.graftbridge.TestListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** No query body writes session conf. Per-call parameters are arguments,
  * and the narrow widths of the streaming replays and of the label loop
  * live on a child session ([[GraftSession.scoped]]), so a row can
  * neither leak a conf into a later row nor see one a concurrent row
  * set. */
class ConfIsolationSpec extends SparkSpec {

  /** The rows that used to set and restore session conf: three replays
    * (one with two chained stateful operators), the label-propagation
    * loop behind `dedup_cluster`, and the probe-budgeted pipeline; and
    * two streams started on the caller's session outside the replay
    * scaffold, whose clones must leave the listener bus too. */
  private val Rows = Seq("stream_late", "stream_topk", "stream_compact",
    "dedup_cluster", "dedup_pipeline_mp_budget", "stream_export", "stream_partition_sink")

  test("each row leaves session conf and listeners as they were; stateful replays run at width 8") {
    // Tables sets its two event-read confs on the first events read, by
    // design (a session not built by GraftSession must still read the
    // corpus): one read first puts them in the baseline
    Tables(spark, sf).events.schema
    spark.streams // the test session's own streaming listener bus, if not there yet
    val buses = TestListenerBridge.streamListenerBuses(spark.sparkContext)
    val widths = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val progress = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: StreamingQueryListener.QueryProgressEvent =>
          p.progress.stateOperators.foreach(op => widths.add(p.progress.name -> op.numShufflePartitions))
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(progress)
    try Rows.foreach { name =>
      val before = spark.conf.getAll
      assert(SparkEntry.queries(name)(spark, sf).collect().nonEmpty, s"$name returned no rows")
      CacheRegistry.releaseAll(spark)
      val after = spark.conf.getAll
      val drift = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
      assert(drift.isEmpty, s"$name changed session conf: " +
        drift.map(k => s"$k: ${before.get(k)} -> ${after.get(k)}").mkString(", "))
    } finally {
      TestListenerBridge.flush(spark.sparkContext)
      spark.sparkContext.removeSparkListener(progress)
    }
    // each replay's child session, and Spark's clone per query, is dropped
    assert(TestListenerBridge.streamListenerBuses(spark.sparkContext) == buses,
      "a stream left its session's streaming listener bus on the SparkContext")
    import scala.jdk.CollectionConverters._
    val seen = widths.asScala.toSeq
    Seq("stream_late_", "stream_topk_").foreach { prefix =>
      val ops = seen.filter(_._1.startsWith(prefix)).map(_._2)
      assert(ops.nonEmpty, s"no state-operator progress from $prefix*")
      assert(ops.forall(_ == 8L), s"$prefix* state width ${ops.distinct} (session width " +
        s"${spark.conf.get("spark.sql.shuffle.partitions")}), expected the replay's 8")
    }
  }

  test("in src/main, session conf is written only by GraftSession, Tables and ScaleAdversarial") {
    // a session's conf is reached as `<session>.conf`; the sinks' Hadoop
    // Configurations are plain `conf` values and do not match
    val write = """\.conf\.(set|unset)\(|\.setConf\(""".r
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under ${new java.io.File(".").getAbsolutePath}")
    val files = {
      val walk = java.nio.file.Files.walk(root)
      try { import scala.jdk.CollectionConverters._; walk.iterator().asScala.toList }
      finally walk.close()
    }.filter(_.toString.endsWith(".scala"))
    val writers = files.filter(f => write.findFirstIn(java.nio.file.Files.readString(f)).nonEmpty)
      .map(_.getFileName.toString).toSet
    assert(writers == Set("GraftSession.scala", "Tables.scala", "ScaleAdversarial.scala"),
      s"session conf writers: ${writers.toSeq.sorted.mkString(", ")}")
  }
}

package graft.queries

import graft.{Fs, SparkSpec}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The IVF store's fixed cost per write and per read-back: a landing of a
  * 64-cell assignment writes at cluster width and still leaves one file
  * per cell, and a read-back of that store lists its cells on the driver
  * and infers no schema — no Spark job before the read's own. */
class StoreLayoutSpec extends SparkSpec {

  private val Cells = 64

  /** `body`'s result and the jobs it submits, in job-id order. */
  private def jobsOf[A](body: => A): (A, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = seen.add(js)
    }
    org.apache.spark.graftbridge.ListenerBridge.flush(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      org.apache.spark.graftbridge.ListenerBridge.flush(sc)
      import scala.jdk.CollectionConverters._
      (a, seen.asScala.toSeq.sortBy(_.jobId))
    } finally sc.removeSparkListener(l)
  }

  private def description(js: SparkListenerJobStart): String =
    Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")

  private def landed(): (java.nio.file.Path, Seq[SparkListenerJobStart]) = {
    val store = java.nio.file.Files.createTempDirectory("graft_store_layout_")
    val a = spark.range(0, Cells * 10L).select(col("id").as("vec_id"),
      array(col("id").cast("float"), lit(1.0f)).as("emb"), (col("id") % Cells).as("cell"))
    val (_, jobs) = jobsOf(VectorQueries.landStore(store.toString, a))
    (store, jobs)
  }

  test("landStore writes a 64-cell assignment at cluster width, one file per cell") {
    val (store, jobs) = landed()
    try {
      // the write job runs after its shuffle's map-stage job; its result
      // stage is the one that writes the cell files
      val resultStage = jobs.last.stageInfos.maxBy(_.stageId)
      assert(resultStage.numTasks === spark.sparkContext.defaultParallelism,
        s"the write ran ${resultStage.numTasks} task(s) (jobs: ${jobs.map(_.jobId)})")
      assert(VectorQueries.cellFileCounts(store.toString) === (0 until Cells).map(_.toLong -> 1).toMap)
    } finally Fs.rmTree(store)
  }

  test("a store read-back lists its cells on the driver and infers no schema") {
    val (store, _) = landed()
    try {
      val (back, atRead) = jobsOf(VectorQueries.readStore(spark, store.toString))
      assert(atRead.isEmpty,
        s"building the read-back submitted jobs: ${atRead.map(j => (j.jobId, description(j)))}")
      val (n, atCount) = jobsOf(back.count())
      assert(n === Cells * 10L)
      assert(!atCount.exists(description(_).startsWith("Listing leaf files")),
        s"the read-back listed its cells with a job: ${atCount.map(description)}")
      assert(back.schema.map(f => f.name -> f.dataType.simpleString) ===
        Seq("vec_id" -> "bigint", "emb" -> "array<float>", "cell" -> "bigint"))
    } finally Fs.rmTree(store)
  }
}

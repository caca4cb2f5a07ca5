package graft.queries

import graft.{Fs, SparkSpec}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The file stores' fixed cost per write and per read-back: a landing of
  * a 64-cell IVF assignment writes at cluster width and still leaves one
  * file per cell, and a read-back of that store — or of a `gen=`-partitioned
  * band index ([[HashDedup.readIndex]]) — lists its partitions on the
  * driver and infers no schema: no Spark job before the read's own. */
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

  /** Build `read`'s frame, then count it: building submits no job, the
    * count lists no partition with a job, and the frame has `schema`. */
  private def assertJoblessRead(read: => org.apache.spark.sql.DataFrame, rows: Long,
                                schema: Seq[(String, String)]): Unit = {
    val (back, atRead) = jobsOf(read)
    assert(atRead.isEmpty,
      s"building the read-back submitted jobs: ${atRead.map(j => (j.jobId, description(j)))}")
    val (n, atCount) = jobsOf(back.count())
    assert(n === rows)
    assert(!atCount.exists(description(_).startsWith("Listing leaf files")),
      s"the read-back listed its partitions with a job: ${atCount.map(description)}")
    assert(back.schema.map(f => f.name -> f.dataType.simpleString) === schema)
  }

  test("a store read-back lists its cells on the driver and infers no schema") {
    val (store, _) = landed()
    try assertJoblessRead(VectorQueries.readStore(spark, store.toString), Cells * 10L,
      Seq("vec_id" -> "bigint", "emb" -> "array<float>", "cell" -> "bigint"))
    finally Fs.rmTree(store)
    // the band index: generations landed as the index drills land them
    val index = java.nio.file.Files.createTempDirectory("graft_index_layout_")
    try {
      val rows = spark.range(0, 400L).select(col("id").as("doc_id"),
        (col("id") % 4).cast("int").as("band"), md5(col("id").cast("string")).as("band_key"))
      (0 until Cells).foreach(g => HashDedup.landGen(index, rows.filter(col("doc_id") % Cells === g), g, 1))
      assertJoblessRead(HashDedup.readIndex(spark, index), 400L,
        Seq("doc_id" -> "bigint", "band" -> "int", "band_key" -> "string", "gen" -> "int"))
    } finally Fs.rmTree(index)
  }
}

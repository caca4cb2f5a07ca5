package graft.queries

import graft.{Fs, SparkSpec}
import graft.store.{Layout, PartStore}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The partitioned-parquet store primitive ([[graft.store.PartStore]]) and
  * the stores built on it. A landing of a 64-cell IVF assignment writes at
  * cluster width and still leaves one file per cell; a read-back of any
  * store — the cell store, the `gen=`-partitioned band index, the `bkt=`
  * corpus vectors, the PQ codes — lists its partitions on the driver and
  * infers no schema: no Spark job before the read's own. `replace` drops
  * exactly the touched partitions it left empty without a job of its own,
  * a snapshot's delete spares files appended after it, and no code outside
  * `graft/store` writes or drops store partitions itself. */
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

  private def tmp(prefix: String): java.nio.file.Path = java.nio.file.Files.createTempDirectory(prefix)

  /** `n` (vec_id, emb, cell) rows spread over `cells` cells. */
  private def cellRows(n: Long, cells: Int, from: Long = 0L) =
    spark.range(from, from + n).select(col("id").as("vec_id"),
      array(col("id").cast("float"), lit(1.0f)).as("emb"), (col("id") % cells).as("cell"))

  private def landed(): (PartStore, Seq[SparkListenerJobStart]) = {
    val store = VectorQueries.cellStore(tmp("graft_store_layout_"))
    val (_, jobs) = jobsOf(store.land(cellRows(Cells * 10L, Cells)))
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
      assert(store.fileCounts === (0 until Cells).map(_.toLong -> 1).toMap)
    } finally Fs.rmTree(store.root)
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
    try assertJoblessRead(store.read(spark), Cells * 10L,
      Seq("vec_id" -> "bigint", "emb" -> "array<float>", "cell" -> "bigint"))
    finally Fs.rmTree(store.root)
    // the band index: generations landed as the index drills land them
    val index = HashDedup.bandIndex(tmp("graft_index_layout_"))
    try {
      val rows = spark.range(0, 400L).select(col("id").as("doc_id"),
        (col("id") % 4).cast("int").as("band"), md5(col("id").cast("string")).as("band_key"))
      (0 until Cells).foreach(g =>
        index.append(HashDedup.atGen(rows.filter(col("doc_id") % Cells === g), g), Layout.Files(1)))
      assertJoblessRead(index.read(spark), 400L,
        Seq("doc_id" -> "bigint", "band" -> "int", "band_key" -> "string", "gen" -> "int"))
    } finally Fs.rmTree(index.root)
  }

  test("the bkt= corpus-vector store and the PQ-code store read back without jobs") {
    val vectors = PipelineQueries.vectorStore(tmp("graft_vec_layout_"), "bkt LONG")
    try {
      vectors.land(spark.range(0, 300L).select(col("id").as("doc_id"),
        array(col("id"), lit(1L)).as("emb_arr"), (col("id") * col("id") + 1).as("norm_sq"),
        pmod(col("id"), lit(CorpusForget.FgtBuckets)).as("bkt")))
      assert(vectors.parts === (0L until CorpusForget.FgtBuckets))
      assertJoblessRead(vectors.read(spark), 300L, Seq("doc_id" -> "bigint",
        "emb_arr" -> "array<bigint>", "norm_sq" -> "bigint", "bkt" -> "bigint"))
    } finally Fs.rmTree(vectors.root)
    val codeCols = (0 until VectorQueries.PquM).map(m => s"code_$m")
    val codes = VectorQueries.codeStore(tmp("graft_code_layout_"), codeCols, versioned = true)
    try {
      codes.land(spark.range(0, Cells * 5L).select((col("id").as("vec_id") +:
        codeCols.map(c => (col("id") % 16).as(c))) ++
        Seq(lit(0).as("model_v"), (col("id") % Cells).as("cell")): _*))
      assertJoblessRead(codes.read(spark), Cells * 5L, (("vec_id" -> "bigint") +:
        codeCols.map(_ -> "bigint")) ++ Seq("model_v" -> "int", "cell" -> "bigint"))
    } finally Fs.rmTree(codes.root)
  }

  /** (file name, size) of every parquet file of partition `p`. */
  private def evidence(store: PartStore, p: Long): Set[(String, Long)] =
    store.files(p).map(f => (f.getFileName.toString, java.nio.file.Files.size(f))).toSet

  test("replace drops exactly the touched partitions it left empty; untouched ones keep their files") {
    val store = VectorQueries.cellStore(tmp("graft_store_replace_"))
    try {
      store.land(cellRows(60L, 6)) // cells 0..5, ten rows and one file each
      val untouched = Seq(0L, 4L, 5L)
      val before = untouched.map(c => c -> evidence(store, c)).toMap
      val rewritten = Seq(1L, 2L).map(c => c -> evidence(store, c)).toMap
      // cells 1 and 2 keep their rows below 30, cell 3 loses all of its rows,
      // and cell 9 is touched but was never on disk
      val content = cellRows(60L, 6).filter(col("cell").isin(1L, 2L) && col("vec_id") < 30L)
      val (dropped, jobs) = jobsOf(store.replace(content, Seq(1L, 2L, 3L, 9L)))
      assert(dropped === Seq(3L))
      assert(store.parts === Seq(0L, 1L, 2L, 4L, 5L))
      untouched.foreach(c => assert(evidence(store, c) === before(c), s"cell $c was rewritten"))
      Seq(1L, 2L).foreach(c => assert((evidence(store, c) intersect rewritten(c)).isEmpty,
        s"cell $c kept a file the replace should have rewritten"))
      // the dropped set came from listings: every job is the write's
      assert(jobs.nonEmpty && jobs.forall(description(_) == "ivf: replace"),
        s"jobs outside the write: ${jobs.map(description)}")
      val back = store.read(spark).select(col("vec_id"), col("cell")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (0L until 60L).map(v => (v, v % 6)).filter { case (v, c) =>
        c == 0L || c >= 4L || ((c == 1L || c == 2L) && v < 30L) }.toSet
      assert(back === want)
    } finally Fs.rmTree(store.root)
  }

  test("a snapshot delete removes the snapshotted files and keeps files appended after it") {
    val store = VectorQueries.cellStore(tmp("graft_store_snapshot_"))
    try {
      store.land(cellRows(40L, 4))
      val doomed = store.snapshot(Seq(1L, 2L))
      assert(doomed.files.size === 2)
      store.append(cellRows(8L, 4, from = 100L)) // lands in cells 1 and 2 too
      val appended = Seq(1L, 2L).flatMap(c => store.files(c)).toSet -- doomed.files
      assert(appended.size === 2)
      doomed.delete()
      assert(Seq(1L, 2L).flatMap(c => store.files(c)).toSet === appended)
      val back = store.read(spark).select(col("vec_id")).collect().map(_.getLong(0)).toSet
      assert(back === ((0L until 40L).filter(v => v % 4 == 0 || v % 4 == 3) ++ (100L until 108L)).toSet)
    } finally Fs.rmTree(store.root)
  }

  test("in src/main, only graft/store writes store partitions or removes a gen=/cell=/bkt= directory") {
    // a store-keyed partitioned write, a dynamic overwrite, or a
    // partition directory's name outside the store primitive is store
    // code written again
    val storeCode = Seq(
      """\.partitionBy\(\s*"(gen|cell|bkt)"""".r,
      """partitionOverwriteMode""".r,
      """"(gen|cell|bkt)=""".r)
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under ${new java.io.File(".").getAbsolutePath}")
    val files = {
      val walk = java.nio.file.Files.walk(root)
      try { import scala.jdk.CollectionConverters._; walk.iterator().asScala.toList }
      finally walk.close()
    }.filter(_.toString.endsWith(".scala"))
    def code(f: java.nio.file.Path): String = java.nio.file.Files.readAllLines(f).toArray
      .map(_.toString).filterNot(_.trim.matches("""(//|/?\*).*""")).mkString("\n")
    val (inStore, outside) = files.partition(_.startsWith(root.resolve("graft/store")))
    val offenders = outside.flatMap(f => storeCode.filter(_.findFirstIn(code(f)).nonEmpty)
      .map(r => s"${root.relativize(f)}: $r"))
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // the store primitive is where those lines live
    val primitive = inStore.map(code).mkString("\n")
    assert(primitive.contains(".partitionBy(") && primitive.contains("partitionOverwriteMode") &&
      primitive.contains("rmTree"))
  }
}

package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Per-job profile of ONE driver query (guide §1: measure first).
  *
  * Usage: graft.JobProf <query> [sfDir] [reps]
  *
  * Runs the query `reps` times (default 2: first run pays codegen/JIT, the
  * LAST run's per-job table is printed) and prints, for every Spark job the
  * query's action tree submitted: wall ms, executor task time, shuffle
  * read/write bytes, input bytes, records, and the job's call site — the
  * breakdown the Spark UI would show, for a headless box. A multi-stage
  * lifecycle drill shows up as dozens of jobs; the table names which of
  * them own the wall.
  */
object JobProf {
  /** Run `body` with the Spark job description set to `label`, so every
    * job it submits (AQE's stage jobs included: they inherit the thread's
    * local properties) is named after the drill phase in this profile's
    * table. The previous description — a streaming micro-batch's, say —
    * is restored in `finally`. */
  def phase[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Description)
    sc.setJobDescription(label)
    try body finally sc.setLocalProperty(Description, prev)
  }

  private val Description = "spark.job.description"

  private case class JobStat(jobId: Int, var name: String = "", var t0: Long = 0L,
      var wallMs: Long = 0L, var taskMs: Long = 0L, var inBytes: Long = 0L,
      var inRecords: Long = 0L, var shRead: Long = 0L, var shWrite: Long = 0L,
      var spill: Long = 0L, var tasks: Int = 0, var phase: String = "")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.JobProf <query> [sfDir] [reps]")
    val qname = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val fn = SparkEntry.queries.getOrElse(qname,
      sys.error(s"unknown query $qname"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = mutable.LinkedHashMap[Int, JobStat]()
    val stageToJob = mutable.HashMap[Int, Int]()
    var collecting = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = if (collecting) {
        val st = JobStat(js.jobId)
        st.t0 = js.time
        st.phase = Option(js.properties).flatMap(p => Option(p.getProperty(Description)))
          .getOrElse("")
        st.name = Option(st.phase).filter(_.nonEmpty)
          .orElse(Option(js.properties).flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
          .replace('\n', ' ')
        if (st.name.isEmpty)
          st.name = js.stageInfos.lastOption.map(_.name.replace('\n', ' ')).getOrElse("")
        jobs.synchronized { jobs(js.jobId) = st }
        js.stageIds.foreach(sid => stageToJob.synchronized { stageToJob(sid) = js.jobId })
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = if (collecting)
        jobs.synchronized { jobs.get(je.jobId).foreach(s => s.wallMs = je.time - s.t0) }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = if (collecting) {
        val jid = stageToJob.synchronized { stageToJob.get(sc.stageInfo.stageId) }
        jid.flatMap(j => jobs.synchronized { jobs.get(j) }).foreach { s =>
          val m = sc.stageInfo.taskMetrics
          if (m != null) {
            s.taskMs += m.executorRunTime
            s.inBytes += m.inputMetrics.bytesRead
            s.inRecords += m.inputMetrics.recordsRead
            s.shRead += m.shuffleReadMetrics.totalBytesRead
            s.shWrite += m.shuffleWriteMetrics.bytesWritten
            s.spill += m.diskBytesSpilled
            s.tasks += sc.stageInfo.numTasks
          }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    var lastWall = 0L
    for (rep <- 1 to reps) {
      CacheRegistry.releaseAll(spark)
      if (rep == reps) { jobs.clear(); stageToJob.clear(); collecting = true }
      val t0 = System.nanoTime()
      // the query's own action is named after it; phases the query runs
      // eagerly while building (a sink's write, say) keep their own names
      phase(spark, qname)(fn(spark, sfDir).queryExecution.toRdd.count())
      lastWall = (System.nanoTime() - t0) / 1000000L
      // drain the async listener bus BEFORE dropping the collecting flag:
      // onJobEnd/onStageCompleted events for the final jobs may still be
      // queued, and the if(collecting) guard would discard them — tail
      // jobs would under-report wall/task metrics.
      org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
      collecting = false
      System.err.println(s"[jobprof] rep $rep: ${lastWall / 1000.0}s")
    }
    CacheRegistry.releaseAll(spark)

    def mb(b: Long): String = f"${b / 1048576.0}%9.1f"
    println(f"%nquery=$qname sf=$sfDir wall=${lastWall / 1000.0}%.2fs jobs=${jobs.size}")
    println(f"${"job"}%4s ${"wall_ms"}%8s ${"task_ms"}%9s ${"in_MB"}%9s ${"in_rec"}%10s ${"shR_MB"}%9s ${"shW_MB"}%9s ${"spill_MB"}%9s ${"tasks"}%6s  site")
    val all = jobs.values.toSeq
    all.foreach { s =>
      println(f"${s.jobId}%4d ${s.wallMs}%8d ${s.taskMs}%9d ${mb(s.inBytes)} ${s.inRecords}%10d ${mb(s.shRead)} ${mb(s.shWrite)} ${mb(s.spill)} ${s.tasks}%6d  ${s.name.take(100)}")
    }
    println(f"%nTOTAL wall_ms=${all.map(_.wallMs).sum} task_ms=${all.map(_.taskMs).sum} " +
      f"in=${all.map(_.inBytes).sum / 1048576.0}%.1fMB shR=${all.map(_.shRead).sum / 1048576.0}%.1fMB " +
      f"shW=${all.map(_.shWrite).sum / 1048576.0}%.1fMB jobs=${all.size}")
    val jobWall = all.map(_.wallMs).sum
    println(f"%n${"jobs"}%5s ${"wall_ms"}%8s ${"share"}%6s  phase (job description)")
    all.groupBy(_.phase).toSeq.sortBy(-_._2.map(_.wallMs).sum).foreach { case (p, js) =>
      val w = js.map(_.wallMs).sum
      println(f"${js.size}%5d $w%8d ${100.0 * w / math.max(jobWall, 1)}%5.1f%%  " +
        (if (p.isEmpty) "(none)" else p.replace('\n', ' ').take(100)))
    }
    val gap = lastWall - jobWall
    println(f"driver/planning gap (wall - sum job wall): ${gap}ms")
    spark.stop()
  }
}

package graft

/** Per-job profile of ONE driver query (guide §1: measure first).
  *
  * Usage: graft.JobProf <query> [sfDir] [reps]
  *
  * Runs the query `reps` times (default 2: first run pays codegen/JIT, the
  * LAST run is traced) and prints, for every Spark job the query's action
  * tree submitted: wall ms, executor task time, shuffle read/write bytes,
  * input bytes, records, and the job's phase label or call site — the
  * breakdown the Spark UI would show, for a headless box — then the job
  * wall per phase ([[Trace.phase]]). A multi-stage lifecycle drill shows
  * up as dozens of jobs; the tables name which of them own the wall.
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.JobProf <query> [sfDir] [reps]")
    val qname = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val fn = SparkEntry.queries.getOrElse(qname, sys.error(s"unknown query $qname"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def rep(n: Int): Long = {
      CacheRegistry.releaseAll(spark)
      val t0 = System.nanoTime()
      // the query's own action is named after it; phases the query runs
      // eagerly while building (a sink's write, say) nest under that name
      Trace.phase(spark, qname)(fn(spark, sfDir).queryExecution.toRdd.count())
      val ms = (System.nanoTime() - t0) / 1000000L
      System.err.println(s"[jobprof] rep $n: ${ms / 1000.0}s")
      ms
    }
    (1 until reps).foreach(rep)
    val trace = Trace.start(spark)
    val lastWall = rep(reps)
    trace.stop()
    CacheRegistry.releaseAll(spark)

    def mb(b: Long): String = f"${b / 1048576.0}%9.1f"
    val all = trace.jobs
    println(f"%nquery=$qname sf=$sfDir wall=${lastWall / 1000.0}%.2fs jobs=${all.size}")
    println(f"${"job"}%4s ${"wall_ms"}%8s ${"task_ms"}%9s ${"in_MB"}%9s ${"in_rec"}%10s ${"shR_MB"}%9s ${"shW_MB"}%9s ${"spill_MB"}%9s ${"tasks"}%6s  site")
    all.foreach { s =>
      println(f"${s.id}%4d ${s.wallMs}%8d ${s.taskMs}%9d ${mb(s.inBytes)} ${s.inRecords}%10d ${mb(s.shRead)} ${mb(s.shWrite)} ${mb(s.spill)} ${s.tasks}%6d  ${s.name.take(100)}")
    }
    val jobWall = all.map(_.wallMs).sum
    println(f"%nTOTAL wall_ms=$jobWall task_ms=${trace.taskMs} gc_ms=${all.map(_.gcMs).sum} " +
      f"in=${all.map(_.inBytes).sum / 1048576.0}%.1fMB shR=${all.map(_.shRead).sum / 1048576.0}%.1fMB " +
      f"shW=${all.map(_.shWrite).sum / 1048576.0}%.1fMB jobs=${all.size}")
    println(f"%n${"jobs"}%5s ${"wall_ms"}%8s ${"share"}%6s  phase (job description)")
    all.groupBy(_.label).toSeq.sortBy(-_._2.map(_.wallMs).sum).foreach { case (p, js) =>
      val w = js.map(_.wallMs).sum
      println(f"${js.size}%5d $w%8d ${100.0 * w / math.max(jobWall, 1)}%5.1f%%  " +
        (if (p.isEmpty) "(none)" else p.replace('\n', ' ').take(100)))
    }
    println(f"driver/planning gap (wall - union of job intervals): ${lastWall - trace.jobWallMs}ms")
    spark.stop()
  }
}

package graft

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The profiling layer of graft's mains ([[Bench]], [[JobProf]],
  * [[ClusterBench]]): one listener that records a window of Spark work,
  * the phase labels that name the drill step behind each job, and a host
  * sample that says whether the machine was busy meanwhile.
  *
  * A trace records from [[Trace.start]] until [[stop]]:
  *  - each job started in the window: its interval, its description (the
  *    [[Trace.phase]] label) and call site, and over its stages the tasks,
  *    executor run time, GC time, input, shuffle and spill bytes;
  *  - per task host: shuffle fetch wait, and remote and local
  *    shuffle-read bytes;
  *  - the host: the 1-min load average at start and the share of CPU time
  *    stolen from this machine over the window (`/proc/stat`).
  *
  * The layer names follow perfbench's: `exec.jobs`, `exec.job_wall_s` =
  * [[jobWallMs]] (the union of the job intervals, so overlapping jobs count
  * once) and `exec.driver_gap_s` = wall minus that union. */
final class Trace private (sc: SparkContext) extends SparkListener {
  import Trace._

  /** 1-min load average when the window opened (NaN off Linux). */
  val loadavg1: Double = Host.loadavg1()
  private val jiffies0 = Host.jiffies()
  private var steal = Double.NaN
  private val byId = mutable.LinkedHashMap.empty[Int, Job]
  private val ofStage = mutable.HashMap.empty[Int, Job]
  private val byHost = mutable.TreeMap.empty[String, HostTasks]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).filter(_.nonEmpty)
    val site = prop("callSite.short").orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("")
    val j = new Job(e.jobId, prop(Description).getOrElse(""), site, e.time)
    synchronized { byId(e.jobId) = j; e.stageIds.foreach(ofStage(_) = j) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { byId.get(e.jobId).foreach(_.end = e.time) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    ofStage.get(e.stageInfo.stageId).foreach { j =>
      j.stages += 1
      j.tasks += e.stageInfo.numTasks
      Option(e.stageInfo.taskMetrics).foreach { m =>
        j.taskMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.inBytes += m.inputMetrics.bytesRead
        j.inRecords += m.inputMetrics.recordsRead
        j.shRead += m.shuffleReadMetrics.totalBytesRead
        j.shWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (ofStage.contains(e.stageId)) {
      val h = byHost.getOrElseUpdate(e.taskInfo.host, new HostTasks)
      Option(e.taskMetrics).foreach { m =>
        h.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        h.remoteBytes += m.shuffleReadMetrics.remoteBytesRead
        h.localBytes += m.shuffleReadMetrics.localBytesRead
      }
    }
  }

  /** Close the window: deliver the events still queued, detach, and take
    * the steal share. Returns this trace for reading. */
  def stop(): Trace = {
    ListenerBridge.flush(sc)
    sc.removeSparkListener(this)
    val (s1, t1) = Host.jiffies()
    steal = if (t1 > jiffies0._2) 100.0 * (s1 - jiffies0._1) / (t1 - jiffies0._2) else 0.0
    this
  }

  /** Jobs that started and ended in the window, in start order. */
  def jobs: Seq[Job] = synchronized(byId.values.filter(_.end >= 0).toList)
  def jobWallMs: Long = unionMs(jobs.map(j => (j.start, j.end)))
  def taskMs: Long = jobs.map(_.taskMs).sum
  /** Fetch wait and shuffle-read bytes per host that ran a task. */
  def hosts: Map[String, HostTasks] = synchronized(byHost.toMap)
  /** Percent of this machine's CPU time stolen over the window (0 off
    * Linux, NaN until [[stop]]). */
  def stealPct: Double = steal
}

object Trace {
  private val Description = "spark.job.description"
  /** The name of the innermost [[phase]] in force on this thread. */
  private val Phase = "graft.trace.phase"

  /** Attach a new trace to `spark`'s context; it records until
    * [[Trace.stop]]. */
  def start(spark: SparkSession): Trace = {
    val t = new Trace(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Run `body` with the Spark job description set to `label`, so every
    * job it submits (AQE's stage jobs included: they inherit the thread's
    * local properties) carries the drill phase's name in a trace. Inside
    * an enclosing phase the name is `outer / label`, unless something
    * else (a streaming micro-batch) set the description since. The
    * previous description is restored when `body` ends. */
  def phase[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val (prev, outer) = (sc.getLocalProperty(Description), sc.getLocalProperty(Phase))
    val name = if (outer != null && outer == prev) s"$outer / $label" else label
    sc.setJobDescription(name)
    sc.setLocalProperty(Phase, name)
    try body finally { sc.setLocalProperty(Description, prev); sc.setLocalProperty(Phase, outer) }
  }

  final class Job(val id: Int, val label: String, val site: String, val start: Long) {
    var end = -1L
    var stages, tasks = 0
    var taskMs, gcMs, inBytes, inRecords, shRead, shWrite, spill = 0L
    def wallMs: Long = end - start
    /** The job's name in a profile: its phase label, else its call site. */
    def name: String = (if (label.nonEmpty) label else site).replace('\n', ' ')
  }

  final class HostTasks {
    var fetchWaitMs, remoteBytes, localBytes = 0L
  }

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = 0L; var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total + (curE - curS) else total
  }

  private object Host {
    private def firstLine(path: String): Array[String] =
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).get(0).trim.split("\\s+")
    def loadavg1(): Double = try firstLine("/proc/loadavg")(0).toDouble catch { case _: Exception => Double.NaN }
    /** (steal, total) jiffies of the aggregate cpu line. */
    def jiffies(): (Long, Long) = try {
      val f = firstLine("/proc/stat").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }
  }
}

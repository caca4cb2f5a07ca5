package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{Success, TaskKilled, TaskKilledException}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * startup is ~2s, per-suite sessions would dominate test time). */
object TestSession {
  /** Count of task attempts that FAILED (retried under maxFailures = 2).
    * Intentional kills (streaming `stop()`, speculation losers) are not
    * failures and are excluded. See [[SparkSpec.afterAll]]. */
  val taskFailures = new AtomicLong(0)

  /** Last few failure reasons, for the guard's error message. */
  val failureReasons = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      // local[4, 2]: maxFailures = 2, so a task that fails ONCE is retried
      // (Spark's real task-retry path) — SinkRetrySpec kills sink attempts
      // mid-object and proves the commit protocols exactly-once under the
      // retry. The retry would also silently mask a genuinely flaky task
      // in any OTHER suite, so the listener below counts every non-killed
      // task failure and SparkSpec.afterAll asserts the count unchanged
      // for suites that don't opt in via expectsTaskFailures.
      .master("local[4, 2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // graft's store read-back path: driver-side partition listing
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        GraftSession.PartitionDiscoveryThreshold.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = ev.reason match {
        case Success | _: TaskKilled | _: TaskKilledException => ()
        case other =>
          taskFailures.incrementAndGet()
          if (failureReasons.size < 8) failureReasons.add(other.toString.take(400))
      }
    })
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = "/root/testdata/sf0.001"

  /** Suites that INTENTIONALLY fail task attempts (SinkRetrySpec's fault
    * injector, DriftOverflowSpec's provoked ANSI overflow) override this;
    * everywhere else an attempt failure means the maxFailures = 2 session
    * silently retried real nondeterminism, and the suite fails loudly. */
  protected def expectsTaskFailures: Boolean = false

  private var failuresBefore: Long = 0L

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark // force session + listener registration before the snapshot
    org.apache.spark.graftbridge.TestListenerBridge.flush(spark.sparkContext)
    failuresBefore = TestSession.taskFailures.get()
  }

  override def afterAll(): Unit = {
    // forked test JVM runs suites sequentially (sbt testForkedParallel
    // defaults to false), so the delta is attributable to THIS suite
    org.apache.spark.graftbridge.TestListenerBridge.flush(spark.sparkContext)
    val delta = TestSession.taskFailures.get() - failuresBefore
    if (!expectsTaskFailures && delta != 0) {
      import scala.jdk.CollectionConverters._
      fail(s"$delta task attempt(s) failed and were silently retried under " +
        s"local[4, 2] in ${getClass.getSimpleName} — real nondeterminism the " +
        s"maxFailures = 1 setup would have surfaced. Recent reasons:\n  " +
        TestSession.failureReasons.asScala.mkString("\n  "))
    }
    super.afterAll()
  }
}

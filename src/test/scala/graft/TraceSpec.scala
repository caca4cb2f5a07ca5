package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.TestListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.col

class TraceSpec extends SparkSpec {
  private def sc = spark.sparkContext

  test("job and stage counts equal a plain listener's on a two-job query") {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val plain = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    }
    TestListenerBridge.flush(sc)
    sc.addSparkListener(plain)
    val trace = Trace.start(spark)
    try {
      val df = spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()
      df.collect()
      df.count()
    } finally {
      trace.stop() // delivers the queued events to both listeners
      sc.removeSparkListener(plain)
    }
    assert(jobs.get >= 2)
    assert(trace.jobs.size == jobs.get)
    assert(trace.jobs.map(_.stages).sum == stages.get)
    assert(trace.jobs.forall(_.tasks > 0))
    assert(trace.hosts.nonEmpty)
  }

  test("nested phase names its jobs outer / inner and restores the outer description") {
    val before = sc.getLocalProperty("spark.job.description")
    val trace = Trace.start(spark)
    Trace.phase(spark, "outer") {
      Trace.phase(spark, "inner")(spark.range(10).collect())
      spark.range(5).collect()
    }
    spark.range(3).collect()
    trace.stop()
    assert(trace.jobs.map(_.label).distinct == Seq("outer / inner", "outer", Option(before).getOrElse("")))
    assert(sc.getLocalProperty("spark.job.description") == before)
  }

  test("the union of job intervals counts overlapping time once") {
    assert(Trace.unionMs(Nil) == 0L)
    assert(Trace.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 25L), (21L, 22L))) == 20L)
    assert(Trace.unionMs(Seq((30L, 40L), (0L, 10L))) == 20L)
    assert(Trace.unionMs(Seq((0L, 10L), (10L, 20L))) == 20L)
  }

  test("the host sample carries the load average and the steal share") {
    val t = Trace.start(spark)
    spark.range(10).collect()
    t.stop()
    assert(t.loadavg1 >= 0.0)
    assert(t.stealPct >= 0.0 && t.stealPct <= 100.0)
  }
}

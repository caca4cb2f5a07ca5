package graft

import org.scalatest.funsuite.AnyFunSuite

/** Launches [[graft.ClusterDrill]] in a fresh JVM (a standalone cluster
  * cannot share the suite's local[N] context) and asserts on its one-line
  * JSON verdict — the SpeculationSchedulerSpec harness: SPARK_SCALA_VERSION
  * for the executor launcher's classpath builder, both pipes drained on
  * background threads so a stderr-filling child can never deadlock the
  * stdout read. The drill itself asserts the strong contracts (tasks on
  * BOTH loopback hosts, three flagship queries row-identical to local[8]);
  * this spec pins that the drill ran to completion and said ok. */
class ClusterFlagshipSpec extends AnyFunSuite {

  test("flagship queries run on a real two-host cluster and match local[8] row-for-row") {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val opens = Seq("java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
      "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
      "java.base/sun.nio.cs", "java.base/sun.security.action",
      "java.base/sun.util.calendar").flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ opens ++ Seq("-Xmx2g",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", System.getProperty("java.class.path"),
      "graft.ClusterDrill", "/root/testdata/sf0.001")
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.environment().put("SPARK_HOME", sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
    pb.redirectErrorStream(false)
    val proc = pb.start()
    def drain(in: java.io.InputStream): (Thread, java.io.ByteArrayOutputStream) = {
      val buf = new java.io.ByteArrayOutputStream()
      val t = new Thread(() => try in.transferTo(buf) finally in.close())
      t.setDaemon(true); t.start(); (t, buf)
    }
    val (tOut, outBuf) = drain(proc.getInputStream)
    val (tErr, errBuf) = drain(proc.getErrorStream)
    val done = proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) proc.destroyForcibly()
    tOut.join(10000); tErr.join(10000)
    val out = outBuf.toString("UTF-8")
    val err = errBuf.toString("UTF-8")
    assert(done, "cluster drill JVM did not finish within 300s")
    val verdict = out.linesIterator.filter(_.startsWith("{")).toSeq.lastOption
      .getOrElse(fail(s"no JSON verdict from the drill; stderr tail:\n${err.takeRight(2000)}"))
    assert(proc.exitValue() == 0, s"drill exited ${proc.exitValue()}; verdict: $verdict; " +
      s"stderr tail:\n${err.linesIterator.filter(_.contains("DRILL FAIL")).mkString("\n")}")
    assert(verdict.contains("\"ok\":true"), s"drill verdict not ok: $verdict")
    // both hosts executed tasks and every flagship matched
    assert(verdict.contains("127.0.0.1") && verdict.contains("127.0.0.2"), verdict)
    ClusterDrill.Flagships.foreach { q =>
      assert(verdict.contains(s""""$q":{"rows""") && !verdict.contains(s""""$q":{"rows":0"""),
        s"$q missing or empty in verdict: $verdict")
      assert(!verdict.contains(s""""equal":false"""), s"an equality check failed: $verdict")
    }
    // the multi-host plan capture made it out (the committed artifact's source)
    assert(err.contains("multi-host executed plan: knn_graph_indexed"), "plan capture missing")
  }
}

package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Speculative execution under Spark's REAL scheduler — launches
  * [[SpeculationDrill]] in a fresh JVM (a dedicated SparkContext with
  * `spark.speculation=true` against [[org.apache.spark.deploy.graftbridge.ClusterBridge]]'s
  * two-loopback-host standalone cluster; the shared test session can do
  * neither: speculation is off in local mode and pinned at context
  * construction) and asserts on its one-line JSON verdict. Deliberately
  * NOT a SparkSpec: the child owns its cluster; this JVM only forks and
  * parses.
  *
  * What the drill proves that SinkSpeculationSpec cannot: the SCHEDULER
  * itself selects the straggler (median × multiplier over the fast tasks),
  * launches the duplicate on the other host, kills the loser mid-write,
  * and the sink's dot-temp protocol still yields exactly one visible
  * winner with the loser's litter present on disk but invisible to
  * readers — the full production speculation lifecycle, cross-process. */
class SpeculationSchedulerSpec extends AnyFunSuite {

  test("real scheduler launches a speculative duplicate; sink commits one winner; loser litter invisible") {
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
      "graft.sources.SpeculationDrill")
    val pb = new ProcessBuilder(cmd: _*)
    // the launcher's classpath builder reads these where bin/spark-class
    // would have exported them (executor forking needs both)
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.environment().put("SPARK_HOME", sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
    pb.redirectErrorStream(false)
    val proc = pb.start()
    // drain BOTH pipes on background threads: a blocking readAllBytes on
    // stdout deadlocks if the child fills the stderr pipe (Spark WARN
    // spew, worst exactly under the failure storms the 240s timeout
    // exists for) — the child blocks on stderr writes, stdout never
    // closes, and the timeout is never reached
    def drain(in: java.io.InputStream): (Thread, java.io.ByteArrayOutputStream) = {
      val buf = new java.io.ByteArrayOutputStream()
      val t = new Thread(() => try in.transferTo(buf) finally in.close())
      t.setDaemon(true); t.start(); (t, buf)
    }
    val (tOut, outBuf) = drain(proc.getInputStream)
    val (tErr, errBuf) = drain(proc.getErrorStream)
    val done = proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) proc.destroyForcibly()
    tOut.join(10000); tErr.join(10000)
    val out = outBuf.toString("UTF-8")
    val err = errBuf.toString("UTF-8")
    assert(done, "drill JVM did not finish within 240s")
    val verdict = out.linesIterator.filter(_.startsWith("{")).toSeq.lastOption
      .getOrElse(fail(s"no JSON verdict from the drill; stderr tail:\n${err.takeRight(2000)}"))
    assert(proc.exitValue() == 0,
      s"drill failed (exit ${proc.exitValue()}): $verdict\n${err.linesIterator.filter(_.contains("DRILL FAIL")).mkString("\n")}")
    def field(k: String): Long =
      s""""$k":(-?\\d+)""".r.findFirstMatchIn(verdict)
        .getOrElse(fail(s"field $k missing in $verdict")).group(1).toLong
    assert(field("speculative") >= 1, s"no speculative launch: $verdict")
    assert(field("killed") >= 1, s"no loser kill: $verdict")
    assert(field("visible") == SpeculationDrill.NShards.toLong, s"wrong visible shard count: $verdict")
    assert(field("tmp_visible") == 0, s"loser litter visible to readers: $verdict")
    assert(verdict.contains(""""back_ok":true"""), s"read-back diverged: $verdict")
    // race B: the jsonl snapshot sink under the same scheduler
    assert(field("speculative_jsonl") >= 1, s"jsonl race: no speculative launch: $verdict")
    assert(field("killed_jsonl") >= 1, s"jsonl race: no loser kill: $verdict")
    assert(field("tmp_visible_jsonl") == 0, s"jsonl loser litter visible: $verdict")
    assert(verdict.contains(""""back_ok_jsonl":true"""), s"jsonl read-back diverged: $verdict")
    assert(verdict.contains(""""ok":true"""), s"drill self-check failed: $verdict")
  }
}

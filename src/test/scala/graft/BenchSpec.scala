package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

class BenchSpec extends SparkSpec {

  test("Bench.run times each row, a cold-drop row once cold, with its layers and host sample") {
    val rows = Seq("topic_table_map", "token_count", "knn_index_update")
    val res = Bench.run(spark, sf, rows, 2)
    assert(res.map(_.name) == rows)
    res.foreach { r =>
      assert(r.iters.size == 2, r.name)
      r.iters.foreach { i =>
        assert(i.s > 0 && i.fields("jobs") > 0 && i.fields("job_wall_ms") > 0, s"${r.name}: $i")
        assert(Seq("plan_ms", "task_ms", "driver_ms", "loadavg1", "steal_pct").forall(i.fields(_) >= 0), s"${r.name}: $i")
      }
    }
    assert(res.map(r => r.name -> r.coldS.nonEmpty) ==
      Seq("topic_table_map" -> false, "token_count" -> false, "knn_index_update" -> true))
    val full = JsonMethods.parse(Bench.record(sf, 2, res, verbose = true))
    rows.foreach { n =>
      val q = full \ "queries" \ n
      Seq("median", "plan_ms", "jobs", "job_wall_ms", "task_ms", "driver_ms").foreach(k =>
        assert(q \ k != JNothing, s"$n lacks $k"))
      assert((q \ "iters").children.size == 2)
    }
    assert(full \ "cold_build_s" \ "knn_index_update" != JNothing)
  }

  test("the stdout record of the full registry parses as JSON in at most LineBytes") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val failed = names.take(40).toSet
    val rows = names.zipWithIndex.map { case (n, k) =>
      val iters = if (failed(n)) Vector.empty else Vector.tabulate(3)(j =>
        Bench.Iter(k * 3.0 + j, 0.5 + j * 0.25, Map("plan_ms" -> (40.0 + j), "jobs" -> (12.0 + j),
          "job_wall_ms" -> 300.0, "task_ms" -> 900.0, "driver_ms" -> 200.0, "loadavg1" -> 3.25, "steal_pct" -> 0.5)))
      Bench.Row(n, iters, band = Some(if (k % 10 == 0) 0.2 else 1.0), coldS = None)
    }
    val sfDir = "/data/sf0.1"
    val line = Bench.record(sfDir, 3, rows, verbose = false)
    assert(line.getBytes("UTF-8").length <= Bench.LineBytes, s"${line.length} bytes: $line")
    val j = JsonMethods.parse(line)
    assert(j \ "n" == JInt(231))
    assert(j \ "n_failed" == JInt(40))
    val shown = (j \ "failed").children.collect { case JString(s) => s }
    assert(shown.nonEmpty && shown.forall(failed))
    assert(j \ "n_band_exceeded" == JInt(rows.count(_.bandExceeded)))
    assert((j \ "vs_baseline" \ "n_compared").isInstanceOf[JInt])
    assert(j \ "layers" \ "exec.jobs" != JNothing)
    assert(j \ "host" \ "loadavg1_max" != JNothing)
    assert(j \ "queries" == JNothing)
    val full = JsonMethods.parse(Bench.record(sfDir, 3, rows, verbose = true))
    assert((full \ "queries").children.size == 231)
    assert((full \ "failed").children.size == 40)
  }
}

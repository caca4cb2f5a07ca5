package graft.plans

import graft.SparkSpec
import graft.queries.VectorQueries
import org.apache.spark.sql.functions._

/** The custom whole-operator top-k (logical node + pruning rule + strategy
  * + two-phase physical plan) against the TopKByScore-aggregate
  * formulation: identical rows, the intended plan shape (partial heaps →
  * ONE hash exchange on the group → final ranked emit), and child column
  * pruning through the custom node.
  */
class GroupedTopKSpec extends SparkSpec {
  import spark.implicits._

  private def scored = spark.range(0, 10000)
    .select(($"id" % 37).as("g"), ($"id" % 1000).cast("double").as("s"), $"id".as("i"))

  /** The reference formulation: the TopKByScore aggregate + posexplode
    * chain, with the operator's (group, id, score, rank) columns. */
  private def topKByScore(df: org.apache.spark.sql.DataFrame, group: String, score: String,
                          id: String, k: Int): org.apache.spark.sql.DataFrame =
    df.groupBy(col(group))
      .agg(graft.functions.TopKByScore.topK(col(score), col(id), k).as("top"))
      .select(col(group), posexplode($"top").as(Seq("pos", "e")))
      .select(col(group), $"e.id".as(id), $"e.score".as(score), ($"pos" + 1).as("rank"))

  test("native path rows == aggregate fallback rows (ties included)") {
    val native = GroupedTopK.rankedTopK(scored.toDF(), "g", "s", "i", 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val agg = topKByScore(scored.toDF(), "g", "s", "i", 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(native == agg)
    assert(native.nonEmpty)
  }

  test("plan: partial + final exec with exactly one exchange between them") {
    val plan = GroupedTopK.rankedTopK(scored.toDF(), "g", "s", "i", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("GroupedTopKPartial"), plan)
    assert(plan.contains("GroupedTopKFinal"), plan)
    assert("hashpartitioning".r.findAllIn(plan).size == 1,
      s"expected exactly one exchange on the group:\n$plan")
  }

  test("pruning rule cuts unused child columns before the heaps/exchange") {
    val wide = scored.withColumn("payload", concat(lit("x"), $"i")) // never read by top-k
    val opt = GroupedTopK.rankedTopK(wide, "g", "s", "i", 5).queryExecution.optimizedPlan
    // the rule narrows the custom node's child to exactly the three
    // referenced columns — nothing else reaches the heaps or the exchange.
    // (In a GraftExtensions-built session the rule interleaves with
    // ColumnPruning, which then also drops the computation from the scan;
    // experimental-registered sessions run it post-batch, so the unused
    // column may still be computed-and-dropped below the Project.)
    val node = opt.collectFirst { case g: GroupedTopKPlan => g }.get
    assert(node.child.output.map(_.name) == Seq("g", "s", "i"), opt.toString)
  }

  test("driver knn queries run the native operator, row-equal to TopKByScore") {
    val knn = VectorQueries.knnBrute(spark, sf)
    val nativePlan = knn.queryExecution.executedPlan.toString
    assert(nativePlan.contains("GroupedTopKFinal"), nativePlan)
    // the reference: knn_brute's scored frame through the aggregate formulation
    val (queries, corpus) = VectorQueries.querySplit(VectorQueries.vectorsOf(spark, sf))
    val reference = topKByScore(corpus.join(broadcast(queries))
      .select($"q_id", $"vec_id", graft.functions.VectorOps.cosine6($"emb", $"q_emb").as("cos")),
      "q_id", "cos", "vec_id", VectorQueries.K)
    assert(reference.queryExecution.executedPlan.toString.contains("top_k_by_score"))
    val nat = knn.select($"q_id", $"vec_id", $"cos", $"rank").collect().map(_.toString).sorted
    val ref = reference.collect().map(_.toString).sorted
    assert(nat.nonEmpty && nat.toSeq == ref.toSeq)
  }
}

package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, BindReferences, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import java.util.PriorityQueue

/** Grouped top-k as a WHOLE-OPERATOR Catalyst extension (SURVEY tier (c)):
  * a custom logical node, its own column-pruning rule, a planner strategy
  * and a two-phase physical operator — replacing the
  * ObjectHashAggregate(TopKByScore) + posexplode + project chain the knn
  * queries would otherwise plan, while keeping the identical scale shape:
  * per-partition bounded heaps emit ≤k rows per (group, partition) to ONE
  * hash exchange on the group, and the final phase re-heaps and emits
  * ranked rows directly — no array materialization, no generator. The knn
  * queries always plan this operator ([[graft.queries.VectorQueries]]).
  *
  * Ordering matches [[graft.functions.TopKByScore]] exactly: score DESC,
  * id ASC on 6dp-rounded ties — the operator is row-for-row identical to
  * the aggregate formulation (GroupedTopKSpec uses it as the reference).
  */
object GroupedTopK {

  /** Build the ranked top-k frame: output (group, id, score, rank) with the
    * input column names preserved and `rank` 1-based. `score` must be
    * DOUBLE and `id` BIGINT (the heap layout — same contract as
    * TopKByScore). */
  def rankedTopK(df: DataFrame, group: String, score: String, id: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    ensureRegistered(spark)
    val child = df.queryExecution.analyzed
    def attr(n: String): Attribute = child.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"column $n not in ${child.output.map(_.name)}"))
    val (g, s, i) = (attr(group), attr(score), attr(id))
    require(s.dataType == DoubleType, s"score must be double, got ${s.dataType}")
    require(i.dataType == LongType, s"id must be bigint, got ${i.dataType}")
    // group keys become the exec's hash-map keys: binary and nested types
    // would alias the reused scan row / compare by reference. Float/double
    // are excluded too: Catalyst's NormalizeFloatingNumbers only rewrites
    // nodes it knows, so -0.0/0.0 (and NaN) would land in different heap-map
    // groups here while the TopKByScore aggregate fallback normalizes them
    // into one — the two paths must stay row-for-row identical.
    import org.apache.spark.sql.types._
    val groupTypeOk = g.dataType match {
      case BinaryType | FloatType | DoubleType => false
      case _: NumericType | StringType | BooleanType | DateType | TimestampType => true
      case _ => false
    }
    require(groupTypeOk,
      s"group must be an atomic non-binary, non-floating type, got ${g.dataType}")
    val node = GroupedTopKPlan(k, g, s, i,
      AttributeReference(id, i.dataType, nullable = false)(),
      AttributeReference(score, s.dataType, nullable = false)(),
      AttributeReference("rank", IntegerType, nullable = false)(),
      child)
    DatasetBridge.ofRows(spark, node)
  }

  /** Idempotently add the strategy + pruning rule to an EXISTING session
    * (sessions built with `.withExtensions(new GraftExtensions)` or
    * `spark.sql.extensions=graft.GraftExtensions` already have them). */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = synchronized {
    // the planner's strategy list covers BOTH routes (extension-injected and
    // experimental) — a GraftExtensions-built session registers nothing twice
    if (!DatasetBridge.plannerStrategies(spark).contains(GroupedTopKStrategy)) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ GroupedTopKStrategy
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ GroupedTopKPruning
    }
  }

  /** Heap head = weakest entry (lowest score, then largest id) — identical
    * comparator to TopKByScore. */
  private[graft] val heapOrdering: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    override def compare(x: (Double, Long), y: (Double, Long)): Int = {
      val c = java.lang.Double.compare(x._1, y._1)
      if (c != 0) c else java.lang.Long.compare(y._2, x._2)
    }
  }

  private[graft] def offer(buf: PriorityQueue[(Double, Long)], k: Int, e: (Double, Long)): Unit = {
    if (buf.size < k) { buf.offer(e); () }
    else if (heapOrdering.compare(e, buf.peek()) > 0) { buf.poll(); buf.offer(e); () }
  }

  /** Consume a partition into per-group bounded heaps. Group values are
    * copied when buffer-backed (UTF8String) — input rows are reused. */
  private[graft] def heapsOf(iter: Iterator[InternalRow], k: Int,
                             groupOf: InternalRow => Any,
                             scoreOf: InternalRow => Any,
                             idOf: InternalRow => Any): java.util.LinkedHashMap[Any, PriorityQueue[(Double, Long)]] = {
    val heaps = new java.util.LinkedHashMap[Any, PriorityQueue[(Double, Long)]]()
    while (iter.hasNext) {
      val row = iter.next()
      val s = scoreOf(row)
      val i = idOf(row)
      if (s != null && i != null) {
        // copyValue: buffer-backed values (UTF8String) must not alias the
        // reused input row (group types are restricted to atomic non-binary
        // at the API, so map-key equality is value equality)
        val g = InternalRow.copyValue(groupOf(row))
        var heap = heaps.get(g)
        if (heap == null) { heap = new PriorityQueue[(Double, Long)](k + 1, heapOrdering); heaps.put(g, heap) }
        offer(heap, k, (s.asInstanceOf[Double], i.asInstanceOf[Long]))
      }
    }
    heaps
  }
}

/** Logical node: top-k rows per `group` by (`score` DESC, `id` ASC),
  * output (group, id, score, rank). Output attributes are constructor
  * fields so exprIds survive plan transformations. */
case class GroupedTopKPlan(k: Int, group: Attribute, score: Attribute, id: Attribute,
                           outId: Attribute, outScore: Attribute, rankAttr: Attribute,
                           child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = Seq(group, outId, outScore, rankAttr)
  override def producedAttributes: AttributeSet = AttributeSet(Seq(outId, outScore, rankAttr))
  override def maxRows: Option[Long] = None
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupedTopKPlan =
    copy(child = newChild)
}

/** Column pruning for the custom node: Catalyst's ColumnPruning doesn't
  * know it, so scanning wide children (e.g. an embedding column the top-k
  * doesn't read) would ship every column through the exchange. Idempotent:
  * fires only while the child outputs more than the three referenced
  * columns. */
object GroupedTopKPruning extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case g: GroupedTopKPlan if g.child.outputSet.size > 3 =>
      g.copy(child = Project(Seq(g.group, g.score, g.id).distinct, g.child))
  }
}

object GroupedTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case g: GroupedTopKPlan =>
      val partial = GroupedTopKPartialExec(g.k, g.group, g.score, g.id, planLater(g.child))
      GroupedTopKFinalExec(g.k, g.group, g.score, g.id, g.output, partial) :: Nil
    case _ => Nil
  }
}

/** Phase 1: per-partition bounded heaps → at most k rows per (group,
  * partition), schema (group, score, id) — the map-side combine. */
case class GroupedTopKPartialExec(k: Int, group: Attribute, score: Attribute, idAttr: Attribute,
                                  child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = Seq(group, score, idAttr)
  override def requiredChildDistribution: Seq[Distribution] = Seq(UnspecifiedDistribution)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] = {
    val gB = BindReferences.bindReference[org.apache.spark.sql.catalyst.expressions.Expression](group, child.output)
    val sB = BindReferences.bindReference[org.apache.spark.sql.catalyst.expressions.Expression](score, child.output)
    val iB = BindReferences.bindReference[org.apache.spark.sql.catalyst.expressions.Expression](idAttr, child.output)
    val out = output
    child.execute().mapPartitions({ iter =>
      val heaps = GroupedTopK.heapsOf(iter, k, gB.eval, sB.eval, iB.eval)
      val proj = UnsafeProjection.create(out, out)
      val entries = heaps.entrySet().iterator()
      new Iterator[InternalRow] {
        private var cur: Iterator[InternalRow] = Iterator.empty
        override def hasNext: Boolean = {
          while (!cur.hasNext && entries.hasNext) {
            val e = entries.next()
            val g = e.getKey
            val it = e.getValue.iterator()
            cur = new Iterator[InternalRow] {
              override def hasNext: Boolean = it.hasNext
              override def next(): InternalRow = {
                val (s, i) = it.next()
                proj(InternalRow(g, s, i))
              }
            }
          }
          cur.hasNext
        }
        override def next(): InternalRow = cur.next()
      }
    }, preservesPartitioning = true)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): GroupedTopKPartialExec =
    copy(child = newChild)
}

/** Phase 2: requires clustering on the group (EnsureRequirements inserts
  * the single hash exchange), merges the partial heaps and emits ranked
  * (group, id, score, rank) rows directly. */
case class GroupedTopKFinalExec(k: Int, group: Attribute, score: Attribute, idAttr: Attribute,
                                output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  override def requiredChildDistribution: Seq[Distribution] = Seq(ClusteredDistribution(Seq(group)))
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] = {
    val gB = BindReferences.bindReference[org.apache.spark.sql.catalyst.expressions.Expression](group, child.output)
    val sB = BindReferences.bindReference[org.apache.spark.sql.catalyst.expressions.Expression](score, child.output)
    val iB = BindReferences.bindReference[org.apache.spark.sql.catalyst.expressions.Expression](idAttr, child.output)
    val out = output
    child.execute().mapPartitions({ iter =>
      val heaps = GroupedTopK.heapsOf(iter, k, gB.eval, sB.eval, iB.eval)
      val proj = UnsafeProjection.create(out, out)
      val entries = heaps.entrySet().iterator()
      new Iterator[InternalRow] {
        private var cur: Iterator[InternalRow] = Iterator.empty
        override def hasNext: Boolean = {
          while (!cur.hasNext && entries.hasNext) {
            val e = entries.next()
            val g = e.getKey
            val arr = {
              val a = new Array[(Double, Long)](e.getValue.size)
              val it = e.getValue.iterator(); var j = 0
              while (it.hasNext) { a(j) = it.next(); j += 1 }
              a.sortBy { case (s, i) => (-s, i) } // rank order
            }
            cur = arr.iterator.zipWithIndex.map { case ((s, i), pos) =>
              proj(InternalRow(g, i, s, pos + 1)): InternalRow
            }
          }
          cur.hasNext
        }
        override def next(): InternalRow = cur.next()
      }
    }, preservesPartitioning = true)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): GroupedTopKFinalExec =
    copy(child = newChild)
}

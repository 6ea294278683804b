package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Custom whole-operator integration (SURVEY §2 ladder step (c)):
  * top-k rows per key WITHOUT sorting whole partitions.
  *
  * The DataFrame idiom — row_number().over(partitionBy(key).orderBy(o))
  * then filter <= k — shuffles on the key and then SORTS every
  * partition end to end. For k << group size (the common "top 10 per
  * user over billions of rows" shape) the sort is wasted work and
  * spill risk. This operator keeps one bounded heap per key: O(n log k)
  * per partition, O(distinct keys * k) memory, no sort, no spill.
  *
  * Pieces: logical node -> planner Strategy -> physical exec whose
  * requiredChildDistribution lets EnsureRequirements insert the ONE
  * key shuffle. [[TopKPerKeyApi.topKPerKey]], the only builder of the
  * node, installs [[TopKStrategy]] on the node's session (experimental
  * strategies), so any session can plan it, also one built without
  * [[graft.functions.GraftExtensions]].
  */
case class TopKPerKey(k: Int, keys: Seq[Expression], order: Seq[SortOrder],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(k, keys, order, child) =>
      TopKPerKeyExec(k, keys, order, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(k: Int, keys: Seq[Expression], order: Seq[SortOrder],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  /** One shuffle on the key — inserted by EnsureRequirements. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val kLocal = k
    val keyExprs = keys
    val sortOrder = order
    child.execute().mapPartitionsInternal { rows =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val rowOrd = new LazilyGeneratedOrdering(sortOrder, childOutput)
      // max-heap on the ordering: root = WORST retained row, evicted
      // when a better row arrives and the heap is full
      val heaps = new java.util.HashMap[InternalRow,
        java.util.PriorityQueue[InternalRow]]()
      rows.foreach { row =>
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](kLocal + 1,
            rowOrd.reverse.asInstanceOf[java.util.Comparator[InternalRow]])
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kLocal) heap.add(row.copy())
        else if (rowOrd.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKeyApi {

  /** Top-k rows per key. Keys/order are column names of `df` (bridged
    * Column expressions stay lazy ColumnNode wrappers the analyzer
    * won't resolve inside a hand-built node, so we bind against the
    * analyzed child's attributes directly). `order` entries are
    * (columnName, ascending) — include a tiebreaker for deterministic
    * results.
    */
  def topKPerKey(df: DataFrame, keyNames: Seq[String],
      order: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    val analyzed = castToImpl(df).queryExecution.analyzed
    val attrs = analyzed.output.map(a => a.name -> a).toMap
    def attr(n: String) = attrs.getOrElse(n,
      throw new IllegalArgumentException(
        s"column '$n' not in ${attrs.keys.mkString(", ")}"))
    val keyExprs: Seq[Expression] = keyNames.map(attr)
    val sortExprs = order.map { case (n, asc) =>
      SortOrder(attr(n),
        if (asc) org.apache.spark.sql.catalyst.expressions.Ascending
        else org.apache.spark.sql.catalyst.expressions.Descending)
    }
    ClassicDataset.ofRows(castToImpl(spark),
      TopKPerKey(k, keyExprs, sortExprs, analyzed))
  }
}

package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator extension: per-key top-k WITHOUT a sort.
  *
  * The window-function spelling (`row_number() OVER (PARTITION BY k
  * ORDER BY v) <= n`) sorts every partition's full contents — at
  * 100 TB that is a corpus-wide sort whose output is then mostly
  * discarded. This operator keeps a bounded k-row buffer per key:
  *
  *   - partial exec (map side, any distribution): every input
  *     partition emits at most k rows per key it saw — the top-k
  *     analogue of partial aggregation; the shuffle carries
  *     O(keys·k), not the corpus;
  *   - final exec (requires ClusteredDistribution on the keys, so
  *     EnsureRequirements plants exactly one hash exchange): merges
  *     the partials into the exact per-key top-k.
  *
  * Both sides are one streaming pass, O(keys_in_partition · k)
  * memory (the same residency contract as hash aggregation), and
  * rows are compared by a codegen'd ordering over the caller's
  * SortOrder list — DESC/ASC and tie-breaks included, so results are
  * deterministic whenever the ordering is total.
  */
case class TopKPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, "top-k needs k > 0")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      val partial = TopKPerKeyExec(keys, order, k, planLater(child), partial = true)
      TopKPerKeyExec(keys, order, k, partial, partial = false) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan,
    partial: Boolean) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKeyFinal"

  protected override def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val (keyExprs, sortOrder, limit) = (keys, order, k)
    child.execute().mapPartitionsInternal { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord = GenerateOrdering.generate(sortOrder, childOutput)
      val buffers =
        new java.util.HashMap[UnsafeRow, scala.collection.mutable.ArrayBuffer[InternalRow]]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var buf = buffers.get(key)
        if (buf == null) {
          buf = new scala.collection.mutable.ArrayBuffer[InternalRow](limit)
          buffers.put(key.copy(), buf)
        }
        // buf is sorted ascending under ord; fast-reject against the
        // current worst before any insertion work
        if (buf.length < limit || ord.compare(row, buf(limit - 1)) < 0) {
          var i = buf.length
          while (i > 0 && ord.compare(row, buf(i - 1)) < 0) i -= 1
          if (i < limit) {
            buf.insert(i, row.copy())
            if (buf.length > limit) buf.remove(limit)
          }
        }
      }
      import scala.jdk.CollectionConverters._
      buffers.values.asScala.iterator.flatMap(_.iterator)
    }
  }
}

/** Conf-gated optimizer rule (`graft.topk.rewrite=true`): rewrites
  * the classic rank-filter window pattern
  * `Project(no rank col, Filter(row_number <= k, Window(row_number)))`
  * into the native TopKPerKey operator — the user keeps writing the
  * familiar window spelling and the engine substitutes the bounded-
  * buffer plan (no partition sort, O(keys·k) shuffle). Gated off by
  * default so the rewrite never silently changes other queries'
  * audited plans; semantics are identical when it fires (the project
  * list must not reference the rank attribute, so the output is
  * exactly the surviving child rows).
  */
object InferTopKFromWindow
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, EqualTo, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, RowNumber, WindowExpression}
  import org.apache.spark.sql.catalyst.expressions.Attribute
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, Window}
  import org.apache.spark.sql.types.IntegerType

  val Flag = "graft.topk.rewrite"

  private object RankLimit {
    def unapply(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Option[(Attribute, Int)] = e match {
      case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType)) => Some((a, v))
      case LessThan(a: Attribute, Literal(v: Int, IntegerType)) => Some((a, v - 1))
      case GreaterThanOrEqual(Literal(v: Int, IntegerType), a: Attribute) => Some((a, v))
      case EqualTo(a: Attribute, Literal(v: Int, IntegerType)) if v == 1 => Some((a, 1))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(Flag, "false").toBoolean) return plan
    plan.transformUp {
      case Project(projectList,
          Filter(RankLimit(rankAttr, k),
            Window(Seq(alias @ Alias(WindowExpression(_: RowNumber, _), _)),
              partitionSpec, orderSpec, child, _)))
          if k > 0 && alias.toAttribute.semanticEquals(rankAttr) &&
            projectList.forall(_.references.subsetOf(child.outputSet)) =>
        // Spark's own InferWindowGroupLimit may already have planted a
        // WindowGroupLimit below the Window — TopKPerKey subsumes it
        // (and its sorts), so strip it from the child
        val base = child match {
          case wgl: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit =>
            wgl.child
          case other => other
        }
        Project(projectList, TopKPerKey(partitionSpec, orderSpec, k, base))
    }
  }
}

/** DataFrame-level entry for the native top-k operator. */
object TopKOps {

  /** Exact top-k rows per key group under `order` (express DESC and
    * tie-breaks in the Columns, e.g. `col("v").desc, col("id").asc`).
    * The session must carry `GraftExtensions`, which plans the node
    * (every `GraftSession` does).
    */
  def topKPerKey(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val spark = ds.sparkSession
    // eager ColumnNode→catalyst conversion (the lazy bridge node is
    // neither analyzable inside a custom plan nor serializable)
    val sortOrder = order.map(c => spark.expression(c) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    })
    org.apache.spark.sql.classic.Dataset.ofRows(spark,
      TopKPerKey(keys.map(spark.expression), sortOrder, k, ds.logicalPlan))
  }
}

package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.types.{AbstractDataType, DataType, DoubleType, IntegerType}

/** Nearest 2-D centroid of (x, y): the argmin cid (`distance` =
  * false) or the minimum squared distance (`distance` = true), as
  * one primitive loop.
  *
  * Engine rationale: the centroids change every Lloyd iteration. As
  * literals they are written into the generated Java source, so each
  * iteration compiles a new class that starts out interpreted. Here
  * they ride along as one reference object (constant-pool entry, not
  * code) and the loop bound is that array's length: the source
  * carries neither a centroid value nor k, so every iteration and
  * every later job hits Spark's codegen cache and runs the class the
  * JIT has already compiled. Same native-loop argument as PqEncode.
  *
  * Semantics are bit-identical to the literal spelling it replaced
  * (an array_min over (dist, cid) structs and a least over the
  * distances; pinned in NearestCentroidSpec): distance
  * (x−cx)·(x−cx) + (y−cy)·(y−cy); the first minimum wins, so ties go
  * to the lowest cid; NaN orders after every number, as in Spark's
  * SQL ordering; a null x or y gives cid 0 and a null distance.
  *
  * `centroids` is (cx0, cy0, cx1, cy1, …), at least one pair.
  */
case class NearestCentroid(left: Expression, right: Expression,
    centroids: Seq[Double], distance: Boolean)
    extends BinaryExpression with ImplicitCastInputTypes {

  require(centroids.nonEmpty && centroids.length % 2 == 0,
    s"need (cx, cy) pairs, got ${centroids.length} values")

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = if (distance) DoubleType else IntegerType
  override def nullable: Boolean = distance && (left.nullable || right.nullable)
  override def prettyName: String = "graft_nearest_centroid"

  @transient private lazy val flat: Array[Double] = centroids.toArray

  override def eval(input: InternalRow): Any = {
    val xv = left.eval(input)
    val yv = if (xv == null) null else right.eval(input)
    if (yv == null) {
      if (distance) null else 0
    } else {
      val x = xv.asInstanceOf[Double]
      val y = yv.asInstanceOf[Double]
      var dx = x - flat(0)
      var dy = y - flat(1)
      var best = dx * dx + dy * dy
      var bestJ = 0
      var j = 2
      while (j < flat.length) {
        dx = x - flat(j)
        dy = y - flat(j + 1)
        val d = dx * dx + dy * dy
        // SQL ordering: NaN is greater than every number
        if (d < best || (best.isNaN && !d.isNaN)) { best = d; bestJ = j }
        j += 2
      }
      if (distance) best else bestJ >> 1
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", flat, "double[]")
    val xe = left.genCode(ctx)
    val ye = right.genCode(ctx)
    val cs = ctx.freshName("cs")
    val dx = ctx.freshName("dx")
    val dy = ctx.freshName("dy")
    val d = ctx.freshName("d")
    val best = ctx.freshName("best")
    val bestJ = ctx.freshName("bestJ")
    val j = ctx.freshName("j")
    val onNull = if (distance) s"${ev.isNull} = true;" else s"${ev.value} = 0;"
    val result = if (distance) best else s"$bestJ >> 1"
    ev.copy(code = code"""
      |${xe.code}
      |${ye.code}
      |boolean ${ev.isNull} = false;
      |${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      |if (${xe.isNull} || ${ye.isNull}) {
      |  $onNull
      |} else {
      |  double[] $cs = $ref;
      |  double $dx = ${xe.value} - $cs[0];
      |  double $dy = ${ye.value} - $cs[1];
      |  double $best = $dx * $dx + $dy * $dy;
      |  int $bestJ = 0;
      |  for (int $j = 2; $j < $cs.length; $j += 2) {
      |    $dx = ${xe.value} - $cs[$j];
      |    $dy = ${ye.value} - $cs[$j + 1];
      |    double $d = $dx * $dx + $dy * $dy;
      |    if ($d < $best || ($best != $best && $d == $d)) { $best = $d; $bestJ = $j; }
      |  }
      |  ${ev.value} = $result;
      |}
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

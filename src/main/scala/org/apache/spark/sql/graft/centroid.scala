package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.types.{AbstractDataType, DataType, DoubleType, IntegerType}

/** Nearest 2-D centroid of (x, y): the argmin cid (`distance` =
  * false) or the minimum squared distance (`distance` = true), both
  * from `NearestCentroid.argmin` — the same function the Lloyd sweep's
  * tasks call, so SQL and the loop cannot disagree on a tie, a NaN or
  * the lowest cid.
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
      val c = NearestCentroid.argmin(flat, x, y)
      if (distance) NearestCentroid.sqDist(flat, c, x, y) else c
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", flat, "double[]")
    val xe = left.genCode(ctx)
    val ye = right.genCode(ctx)
    val nc = classOf[NearestCentroid].getName
    val c = s"$nc.argmin($ref, ${xe.value}, ${ye.value})"
    val onNull = if (distance) s"${ev.isNull} = true;" else s"${ev.value} = 0;"
    val result = if (distance) s"$nc.sqDist($ref, $c, ${xe.value}, ${ye.value})" else c
    ev.copy(code = code"""
      |${xe.code}
      |${ye.code}
      |boolean ${ev.isNull} = false;
      |${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      |if (${xe.isNull} || ${ye.isNull}) {
      |  $onNull
      |} else {
      |  ${ev.value} = $result;
      |}
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NearestCentroid {

  /** The one nearest-centroid argmin, shared by the SQL kernel (eval
    * and generated code) and the Lloyd sweep's tasks: the index of the
    * centroid in `cs` = (cx0, cy0, cx1, cy1, …) nearest (x, y). The
    * first minimum wins, so ties go to the lowest index; NaN orders
    * after every number, as in Spark's SQL ordering.
    */
  def argmin(cs: Array[Double], x: Double, y: Double): Int = {
    var best = sqDist(cs, 0, x, y)
    var bestC = 0
    var c = 1
    while (2 * c < cs.length) {
      val d = sqDist(cs, c, x, y)
      if (d < best || (best.isNaN && !d.isNaN)) { best = d; bestC = c }
      c += 1
    }
    bestC
  }

  /** (x−cx)·(x−cx) + (y−cy)·(y−cy) to centroid `c` of `cs`. */
  def sqDist(cs: Array[Double], c: Int, x: Double, y: Double): Double = {
    val dx = x - cs(2 * c)
    val dy = y - cs(2 * c + 1)
    dx * dx + dy * dy
  }
}

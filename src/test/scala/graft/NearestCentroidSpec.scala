package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.debug._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.KMeans

/** The NearestCentroid kernel behind `KMeans.assignExpr` and
  * `KMeans.minDistExpr`: value-locked against the literal spelling it
  * replaced, under whole-stage codegen and interpreted, and guarded so
  * a Lloyd iteration's generated code never carries the centroids.
  */
class NearestCentroidSpec extends AnyFunSuite {
  import TestSpark._

  // ---- the literal spelling the kernel replaced (reference) ----------

  private def literalDist(cx: Double, cy: Double, x: Column, y: Column): Column =
    (x - lit(cx)) * (x - lit(cx)) + (y - lit(cy)) * (y - lit(cy))

  private def literalAssign(cs: Array[(Double, Double)], x: Column, y: Column): Column = {
    val candidates = cs.zipWithIndex.map { case ((cx, cy), i) =>
      struct(literalDist(cx, cy, x, y).as("dist"), lit(i).as("cid"))
    }
    array_min(array(candidates: _*)).getField("cid")
  }

  private def literalMinDist(cs: Array[(Double, Double)], x: Column, y: Column): Column = {
    val dists = cs.map { case (cx, cy) => literalDist(cx, cy, x, y) }
    if (dists.length == 1) dists.head else least(dists.toIndexedSeq: _*)
  }

  /** A DataFrame Lloyd step over the kernel: assignment + k-group mean. */
  private def step(pts: DataFrame, cs: Array[(Double, Double)]): DataFrame =
    pts.withColumn("cid", KMeans.assignExpr(cs, col("x"), col("y")))
      .groupBy(col("cid"))
      .agg(avg(col("x")).as("x"), avg(col("y")).as("y"), count(lit(1)).as("n"))

  // ---- inputs ---------------------------------------------------------

  private val Inf = Double.PositiveInfinity
  private val NaN = Double.NaN

  private val rnd = new scala.util.Random(7L)
  private def randomPairs(n: Int): Seq[(Double, Double)] =
    Seq.fill(n)((rnd.nextGaussian() * 50, rnd.nextGaussian() * 50))

  private val randomCs = randomPairs(8).toArray
  // duplicated centroids and a grid between them: many exact ties
  private val tieCs = Array((1.0, 1.0), (3.0, 1.0), (1.0, 1.0), (3.0, 1.0), (2.0, 3.0))
  private val nanFirstCs = Array((NaN, 0.0), (1.0, 1.0), (4.0, 2.0))
  private val nanMidCs = Array((1.0, 1.0), (0.0, NaN), (4.0, 2.0), (1.0, 1.0))
  private val infCs = Array((Inf, 0.0), (-2.0, -Inf), (0.5, 0.5))
  private val oneCs = Array((2.5, -1.5))

  private val points: Seq[(Option[Double], Option[Double])] =
    randomPairs(300).map { case (x, y) => (Some(x), Some(y)) } ++
      (for (x <- -1 to 5; y <- -1 to 4) yield (Some(x.toDouble), Some(y.toDouble))) ++
      Seq((None, Some(1.0)), (Some(1.0), None), (None, None)) ++
      Seq(NaN -> 0.0, 0.0 -> NaN, NaN -> NaN, Inf -> 0.0, -Inf -> 5.0,
        Inf -> Inf, Inf -> -Inf, 0.0 -> -Inf, 1e308 -> 1e308)
        .map { case (x, y) => (Some(x), Some(y)) }

  // an RDD-backed frame, not a LocalRelation: the optimizer would
  // otherwise evaluate the projection itself, bypassing codegen
  private def frame: DataFrame = {
    val rows = points.zipWithIndex.map { case ((x, y), i) =>
      Row(i, x.map(Double.box).orNull, y.map(Double.box).orNull)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("x", DoubleType), StructField("y", DoubleType))))
  }

  private def interpreted[T](body: => T): T = {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  private def assertSameAsLiteral(label: String, cs: Array[(Double, Double)]): Unit = {
    val (x, y) = (col("x"), col("y"))
    val df = frame.select(col("id"),
      KMeans.assignExpr(cs, x, y), literalAssign(cs, x, y),
      KMeans.minDistExpr(cs, x, y), literalMinDist(cs, x, y))
    val rows = df.collect()
    assert(rows.length == points.length)
    rows.foreach { r =>
      val at = s"$label, point ${points(r.getInt(0))}"
      assert(!r.isNullAt(1) && r.get(1) == r.get(2), at)
      if (r.isNullAt(4)) assert(r.isNullAt(3), at)
      else assert(!r.isNullAt(3) && java.lang.Double.doubleToRawLongBits(r.getDouble(3)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(4)), at)
    }
    val nullRow = rows.find(r => points(r.getInt(0))._1.isEmpty).get
    assert(nullRow.getInt(1) == 0 && nullRow.isNullAt(3), s"$label: null point")
  }

  private val centroidSets = Seq("random" -> randomCs, "ties" -> tieCs,
    "NaN centroid first" -> nanFirstCs, "NaN centroid inside" -> nanMidCs,
    "infinite centroids" -> infCs, "k = 1" -> oneCs)

  test("kernel equals the literal struct-min and least spelling under whole-stage codegen") {
    centroidSets.foreach { case (label, cs) => assertSameAsLiteral(label, cs) }
    val plan = frame.select(KMeans.assignExpr(randomCs, col("x"), col("y")))
      .queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("graft_nearest_centroid")).get
    assert(line.replaceFirst("^[\\s:+-]*", "").startsWith("*"), s"not codegen'd:\n$plan")
  }

  test("kernel equals the literal struct-min and least spelling interpreted") {
    interpreted {
      centroidSets.foreach { case (label, cs) => assertSameAsLiteral(label, cs) }
      val plan = frame.select(KMeans.assignExpr(randomCs, col("x"), col("y")))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("*("), s"still codegen'd:\n$plan")
    }
  }

  test("a Lloyd step's assignment stays inside a whole-stage codegen stage") {
    val pts = KMeans.points(graft.sources.Tables.lineitem(spark, sf))
    val df = step(pts, KMeans.initCentroids(pts))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("graft_nearest_centroid")).get
    assert(line.replaceFirst("^[\\s:+-]*", "").startsWith("*"), s"not codegen'd:\n$plan")
  }

  test("Lloyd steps with new centroids and a new k compile nothing new") {
    val pts = spark.range(0, 20000, 1, 4).select(
      (col("id") % 97).cast("double").as("x"), (col("id") % 89 * 1.5).as("y"))
    val a = Array((10.125, 20.375), (60.0625, 80.4375), (30.5, 5.25))
    val b = Array((11.0078125, 21.6171875), (61.8046875, 79.1328125), (29.2265625, 6.3359375))
    val c = Array((12.4609375, 3.5390625), (45.9921875, 100.8515625), (70.3046875, 40.6953125),
      (1.1484375, 120.2578125), (90.6640625, 7.0859375))
    step(pts, a).collect() // the first step may compile
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    step(pts, b).collect()
    val last = step(pts, c)
    last.collect()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before,
      "a Lloyd step with new centroids compiled new code")
    // no centroid value reaches the generated source; the literal
    // spelling writes every one of them into it
    def code(df: DataFrame): String = df.queryExecution.debug.codegenToSeq().map(_._2).mkString
    val stepCode = code(last)
    val literalCode = code(pts.select(literalAssign(c, col("x"), col("y"))))
    c.flatMap { case (cx, cy) => Seq(cx, cy) }.foreach { v =>
      assert(literalCode.contains(v.toString), s"$v not found in the literal spelling's code")
      assert(!stepCode.contains(v.toString), s"centroid value $v in generated code")
    }
  }
}

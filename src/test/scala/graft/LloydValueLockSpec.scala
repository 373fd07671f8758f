package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.KMeans

/** The one Lloyd loop (`KMeans.lloydSets` over `KMeans.sweep`) value-
  * locked against the DataFrame loops it replaced — a per-iteration
  * assignment + groupBy mean, copied here as the reference. Unrounded
  * centroids agree to 1e-9 relative; iteration counts and convergence
  * flags agree exactly. Inputs plant exact ties, a duplicated centroid
  * (an empty cluster) and a NaN coordinate.
  */
class LloydValueLockSpec extends AnyFunSuite {
  import TestSpark._

  // ---- the DataFrame loops the sweep replaced (reference) -------------

  private def step(pts: DataFrame, cs: Array[(Double, Double)]): DataFrame =
    pts.withColumn("cid", KMeans.assignExpr(cs, col("x"), col("y")))
      .groupBy(col("cid"))
      .agg(avg(col("x")).as("x"), avg(col("y")).as("y"), count(lit(1)).as("n"))

  private def weightedStep(pts: DataFrame, cs: Array[(Double, Double)]): DataFrame =
    pts.withColumn("cid", KMeans.assignExpr(cs, col("x"), col("y")))
      .groupBy(col("cid"))
      .agg((sum(col("w") * col("x")) / sum(col("w"))).as("x"),
        (sum(col("w") * col("y")) / sum(col("w"))).as("y"),
        count(lit(1)).as("n"))

  private def refIterate(pts: DataFrame, init: Array[(Double, Double)], iters: Int,
      stepFn: (DataFrame, Array[(Double, Double)]) => DataFrame = step): Map[Int, (Double, Double)] = {
    var centroids = init.zipWithIndex.map { case (c, i) => i -> c }.toMap
    (0 until iters).foreach { _ =>
      val ordered = centroids.toSeq.sortBy(_._1)
      val ids = ordered.map(_._1).toArray
      centroids = stepFn(pts, ordered.map(_._2).toArray).select("cid", "x", "y").collect()
        .map(r => ids(r.getInt(0)) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    }
    centroids
  }

  private def refLloyd(batch: Int => DataFrame, init: Array[(Double, Double)],
      tol: Double, maxIter: Int): (Array[(Double, Double)], Int, Boolean) = {
    var centroids = init.clone()
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val updated = step(batch(iter), centroids).select("cid", "x", "y").collect()
        .map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      val next = centroids.zipWithIndex.map { case (old, i) => updated.getOrElse(i, old) }
      converged = centroids.zip(next).forall { case ((ox, oy), (nx, ny)) =>
        math.abs(ox - nx) < tol && math.abs(oy - ny) < tol
      }
      centroids = next
      iter += 1
    }
    (centroids, iter, converged)
  }

  /** The mini-batch membership mask, as minibatchLloyd builds it. */
  private def minibatchMask(pts: DataFrame, maxIter: Int, frac: Int): DataFrame = {
    val xi = round(col("x") * 100).cast("long")
    val yi = round(col("y") * 100).cast("long")
    def h(m: Int) = md5(concat_ws(",", xi, yi, lit(m)))
    val halves = pts.select(col("x"), col("y"),
      conv(substring(h(0), 1, 15), 16, 10).cast("long").as("h0"),
      conv(substring(h(0), 16, 15), 16, 10).cast("long").as("h1"),
      conv(substring(h(1), 1, 15), 16, 10).cast("long").as("h2"),
      conv(substring(h(1), 16, 15), 16, 10).cast("long").as("h3"))
    val mask = (0 until maxIter).map { i =>
      val half = col(s"h${2 * (i / 10) + (i % 10) / 5}")
      val sh = 48 - 12 * ((i % 10) % 5)
      when(pmod(shiftright(half, sh).bitwiseAND(lit(4095L)), lit(frac)) === 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    halves.select(col("x"), col("y"), mask.as("bmask"))
  }

  private def refStream(pts: DataFrame, init: Array[(Double, Double)],
      batches: Int): (Array[(Double, Double)], Array[Long]) = {
    val cs = init.clone()
    val counts = Array.fill(cs.length)(0L)
    (0 until batches).foreach { b =>
      step(pts.filter(col("b") === b).select("x", "y"), cs)
        .select("cid", "x", "y", "n").collect().foreach { r =>
          val (cid, bx, by, bn) = (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3))
          val tot = counts(cid) + bn
          cs(cid) = ((cs(cid)._1 * counts(cid) + bx * bn) / tot,
            (cs(cid)._2 * counts(cid) + by * bn) / tot)
          counts(cid) = tot
        }
    }
    (cs, counts)
  }

  // ---- inputs ---------------------------------------------------------

  private val rnd = new scala.util.Random(11L)
  private val centers = Seq((0.0, 0.0), (10.0, 10.0), (20.0, 0.0), (5.0, 15.0))

  /** Four blobs on a half-unit grid (many equidistant points), plus
    * points planted exactly between initial centroids: (5, 5) is as
    * near (0, 0) as (10, 10), and (±0.5, 0) as near (0, 0) as (±1, 0).
    */
  private val blobs: Seq[(Double, Double)] =
    Seq.tabulate(1600) { i =>
      val (cx, cy) = centers(i % 4)
      (math.round((cx + rnd.nextGaussian() * 3) * 2) / 2.0,
        math.round((cy + rnd.nextGaussian() * 3) * 2) / 2.0)
    } ++ Seq.fill(20)((5.0, 5.0)) ++ Seq.tabulate(40)(i => (if (i % 2 == 0) 0.5 else -0.5, 0.0))

  private def frame(ps: Seq[(Double, Double)]): DataFrame = {
    val rows = ps.zipWithIndex.map { case ((x, y), i) => Row(i, x, y, 1.0 + i % 3, i % 3) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("x", DoubleType), StructField("y", DoubleType),
      StructField("w", DoubleType), StructField("b", IntegerType))))
  }

  // the init repeats (0, 0): that cluster loses every tie to cid 0 and
  // starts empty; (±0.5, 0) ties (0, 0) with (±1, 0)
  private val init = Array((0.0, 0.0), (10.0, 10.0), (0.0, 0.0), (20.0, 0.0),
    (-1.0, 0.0), (1.0, 0.0), (5.0, 15.0))

  private lazy val cases: Seq[(String, DataFrame, Array[(Double, Double)])] = Seq(
    ("ties and a duplicated centroid", frame(blobs), init),
    ("a NaN coordinate", frame(blobs :+ ((Double.NaN, 3.0))), init),
    ("lineitem", {
      val li = KMeans.points(sources.Tables.lineitem(spark, sf))
      li.select(col("x"), col("y"), (col("x") / 10).as("w"),
        (abs(col("l_linenumber")) % 3).cast("int").as("b"))
    }, KMeans.initCentroids(KMeans.points(sources.Tables.lineitem(spark, sf)))))

  private def same(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  private def assertSame(at: String, ref: Seq[(Double, Double)], got: Seq[(Double, Double)]): Unit = {
    assert(ref.length == got.length, s"$at: ${ref.length} vs ${got.length} centroids")
    ref.zip(got).zipWithIndex.foreach { case (((rx, ry), (gx, gy)), c) =>
      assert(same(rx, gx) && same(ry, gy), s"$at, centroid $c: ($rx, $ry) vs ($gx, $gy)")
    }
  }

  private def assertSameMap(at: String, ref: Map[Int, (Double, Double)],
      got: Map[Int, (Double, Double)]): Unit = {
    assert(ref.keySet == got.keySet, s"$at: cids ${ref.keySet} vs ${got.keySet}")
    assertSame(at, ref.toSeq.sortBy(_._1).map(_._2), got.toSeq.sortBy(_._1).map(_._2))
  }

  private def eachCase(body: (String, DataFrame, Array[(Double, Double)]) => Unit): Unit =
    Ckpt.scoped { sc =>
      cases.foreach { case (label, df, cs) => body(label, sc.persist(df), cs) }
    }

  // ---- locks ----------------------------------------------------------

  test("lloyd equals the DataFrame step loop: centroids, iterations, convergence") {
    eachCase { (label, pts, cs) =>
      Seq((1e-3, 20), (0.0, 4)).foreach { case (tol, maxIter) =>
        val at = s"$label, tol $tol"
        val (rc, ri, rconv) = refLloyd(_ => pts, cs, tol, maxIter)
        val (gc, gi, gconv) = KMeans.lloyd(pts, cs, tol, maxIter)
        assert(gi == ri && gconv == rconv, s"$at: ($gi, $gconv) vs ($ri, $rconv)")
        assertSame(at, rc.toSeq, gc.toSeq)
      }
    }
  }

  test("iterate equals the DataFrame step loop and drops the planted empty cluster") {
    eachCase { (label, pts, cs) =>
      val ref = refIterate(pts, cs, 3)
      val got = KMeans.iterate(pts, cs, 3)
      assertSameMap(label, ref, got)
      if (label != "lineitem") assert(!got.contains(2), s"$label: empty cid 2 kept")
    }
  }

  test("weighted iterate equals the DataFrame weighted step loop") {
    eachCase { (label, pts, cs) =>
      assertSameMap(label, refIterate(pts, cs, 3, weightedStep),
        KMeans.iterate(pts, cs, 3, weight = col("w")))
    }
  }

  test("minibatchLloyd equals the DataFrame loop over filtered batches") {
    // the md5 batch keys cast centi-unit coordinates to long, which a
    // NaN coordinate cannot be
    eachCase { (label, pts, cs) => if (label != "a NaN coordinate") {
      val masked = minibatchMask(pts, 20, 5).persist()
      try {
        val (rc, ri, rconv) = refLloyd(
          i => masked.filter(col("bmask").bitwiseAND(lit(1L << i)) =!= 0L), cs, 1e-3, 20)
        val (gc, gi, gconv) = KMeans.minibatchLloyd(pts, cs)
        assert(gi == ri && gconv == rconv, s"$label: ($gi, $gconv) vs ($ri, $rconv)")
        assertSame(label, rc.toSeq, gc.toSeq)
      } finally masked.unpersist(true)
    } }
  }

  test("the stream blend equals the DataFrame per-batch blend") {
    eachCase { (label, pts, cs) =>
      val (rc, rn) = refStream(pts, cs, 3)
      val (gc, gn) = KMeans.streamBlend(
        KMeans.sweepRows(pts, m = pow(lit(2), col("b")).cast("long")),
        cs, batches = 3)
      assert(gn.toSeq == rn.toSeq, s"$label: counts")
      assertSame(label, rc.toSeq, gc.toSeq)
    }
  }

  test("the four-k elbow loop equals four independent DataFrame loops") {
    eachCase { (label, pts, cs) =>
      val first = pts.select("x", "y").head(16).map(r => (r.getDouble(0), r.getDouble(1)))
      val inits = Seq(2, 4, 8, 16).map(k => (cs ++ first).take(k))
      val fits = KMeans.lloydSets(KMeans.sweepRows(pts), inits, tol = 1e-3, maxIter = 8)
      inits.zip(fits).foreach { case (i0, f) =>
        val at = s"$label, k=${i0.length}"
        val (rc, ri, rconv) = refLloyd(_ => pts, i0, 1e-3, 8)
        assert(f.iters == ri && f.converged == rconv, s"$at: (${f.iters}, ${f.converged}) vs ($ri, $rconv)")
        assertSame(at, rc.toSeq, f.cs.toSeq)
      }
    }
  }
}

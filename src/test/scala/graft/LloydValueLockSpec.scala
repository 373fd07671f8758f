package graft

import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.stat.Summarizer
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{KMeans, Similarity}

/** The one Lloyd loop (`KMeans.lloydSets` over `KMeans.sweep`) value-
  * locked against the DataFrame loops it replaced — a per-iteration
  * assignment + groupBy mean (2-D) or Summarizer mean (n-D, spherical,
  * PQ), copied here as the reference. Unrounded centroids agree to
  * 1e-9 relative; iteration counts, convergence flags and cluster sizes
  * agree exactly. Inputs plant exact ties, a duplicated centroid (an
  * empty cluster) and a NaN coordinate.
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
      val fits = KMeans.lloydSets(KMeans.sweepRows(pts), inits.map(KMeans.Centroids.planar),
        tol = 1e-3, maxIter = 8)
      inits.zip(fits).foreach { case (i0, f) =>
        val at = s"$label, k=${i0.length}"
        val (rc, ri, rconv) = refLloyd(_ => pts, i0, 1e-3, 8)
        assert(f.iters == ri && f.converged == rconv, s"$at: (${f.iters}, ${f.converged}) vs ($ri, $rconv)")
        assertSame(at, rc.toSeq, f.set.pairs.toSeq)
      }
    }
  }

  // ---- the Summarizer loops the n-D sweep replaced (reference) --------

  /** ‖v‖² − 2·v·c + ‖c‖² per centroid, struct min for the lowest cid. */
  private def ndAssignExpr(cs: Array[Array[Double]], v: Column): Column = {
    val vv = Similarity.dot(v, v)
    val candidates = cs.zipWithIndex.map { case (c, i) =>
      val cl = array(c.map(lit): _*)
      val dist = vv - lit(2.0) * Similarity.dot(v, cl) + lit(c.map(x => x * x).sum)
      struct(dist.as("dist"), lit(i).as("cid"))
    }
    array_min(array(candidates: _*)).getField("cid")
  }

  private def refNdLloyd(pts: DataFrame, init: Array[Array[Double]],
      iters: Int): (Array[Array[Double]], Array[Long]) = {
    val cs = init.map(_.clone())
    val sizes = Array.fill(init.length)(0L)
    (0 until iters).foreach { _ =>
      java.util.Arrays.fill(sizes, 0L)
      pts.withColumn("cid", ndAssignExpr(cs, col("v")))
        .groupBy(col("cid"))
        .agg(Summarizer.mean(array_to_vector(col("v"))).as("c"), count(lit(1)).as("n"))
        .select(col("cid"), vector_to_array(col("c")).as("c"), col("n"))
        .collect()
        .foreach { r => cs(r.getInt(0)) = r.getSeq[Double](1).toArray; sizes(r.getInt(0)) = r.getLong(2) }
    }
    (cs, sizes)
  }

  private def l2norm(a: Array[Double]): Array[Double] = {
    val n = math.sqrt(a.map(x => x * x).sum)
    if (n == 0) a else a.map(_ / n)
  }

  private def refSpherical(pts: DataFrame, init: Array[Array[Double]], iters: Int)
      : (Array[Array[Double]], Array[Long], Array[Double], Seq[Double]) = {
    val cs = init.clone()
    val sizes = Array.fill(cs.length)(0L)
    val cos = Array.fill(cs.length)(0.0)
    val traj = (1 to iters).map { _ =>
      java.util.Arrays.fill(sizes, 0L)
      val candidates = cs.zipWithIndex.map { case (c, i) =>
        struct((lit(0.0) - Similarity.dot(col("v"), array(c.map(lit): _*))).as("negdot"),
          lit(i).as("cid"))
      }
      val rows = pts
        .withColumn("a", array_min(array(candidates: _*)))
        .select(col("v"), col("a.cid").as("cid"), (lit(0.0) - col("a.negdot")).as("dotc"))
        .groupBy(col("cid"))
        .agg(Summarizer.mean(array_to_vector(col("v"))).as("c"),
          count(lit(1)).as("n"), avg(col("dotc")).as("mc"))
        .select(col("cid"), vector_to_array(col("c")).as("c"), col("n"), col("mc"))
        .collect()
      rows.foreach { r =>
        cs(r.getInt(0)) = l2norm(r.getSeq[Double](1).toArray)
        sizes(r.getInt(0)) = r.getLong(2)
        cos(r.getInt(0)) = r.getDouble(3)
      }
      rows.map(r => r.getDouble(3) * r.getLong(2)).sum / rows.map(_.getLong(2)).sum
    }
    (cs, sizes, cos, traj)
  }

  /** The per-subspace fit: each subspace sliced out and fitted alone. */
  private def refCodebooks(sample: DataFrame): Array[Array[Array[Double]]] =
    (0 until Similarity.PqM).map { m =>
      val sub = sample.select(slice(col("u"), m * Similarity.SubDim + 1, Similarity.SubDim).as("v"))
      refNdLloyd(sub, sub.limit(Similarity.PqK).collect().map(_.getSeq[Double](0).toArray), 3)._1
    }.toArray

  // ---- n-D inputs -----------------------------------------------------

  /** 4-D vectors in four blobs on a half-unit grid, plus points planted
    * exactly between initial centroids: (0, 1, 0, 0) is as near (and
    * as similar to) (1, 0, 0, 0) as (−1, 0, 0, 0) … (0.5, 0.5, 0, 0)
    * as (1, 0, 0, 0) and (0, 1, 0, 0).
    */
  private val ndBlobs: Seq[Array[Double]] = {
    val r = new scala.util.Random(17L)
    val axes = Seq(Array(1.0, 0, 0, 0), Array(0.0, 1, 0, 0), Array(-1.0, 0, 0, 0), Array(0.0, 0, 1, 1))
    Seq.tabulate(600) { i =>
      axes(i % 4).map(a => math.round((4 * a + r.nextGaussian()) * 2) / 2.0)
    } ++ Seq.fill(10)(Array(0.0, 1, 0, 0)) ++ Seq.fill(10)(Array(0.5, 0.5, 0, 0))
  }

  // (1, 0, 0, 0) twice: the second copy loses every tie and starts empty
  private val ndInit = Array(Array(1.0, 0, 0, 0), Array(-1.0, 0, 0, 0), Array(1.0, 0, 0, 0),
    Array(0.0, 1, 0, 0), Array(0.0, 0, 1, 1))

  private def vecFrame(vs: Seq[Array[Double]]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      vs.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq) }, 4),
      StructType(Seq(StructField("vec_id", org.apache.spark.sql.types.LongType),
        StructField("v", ArrayType(DoubleType)))))

  private lazy val ndCases: Seq[(String, Seq[Array[Double]])] = Seq(
    ("ties and a duplicated centroid", ndBlobs),
    ("a NaN coordinate", ndBlobs :+ Array(0.5, Double.NaN, 0, 0)))

  private def assertSameVecs(at: String, ref: Seq[Array[Double]], got: Seq[Array[Double]]): Unit = {
    assert(ref.length == got.length, s"$at: ${ref.length} vs ${got.length} centroids")
    ref.zip(got).zipWithIndex.foreach { case ((r, g), c) =>
      // relative to the centroid's largest coordinate: a mean axis near
      // 0 carries the summation order's absolute error
      val scale = (r ++ g).filterNot(_.isNaN).map(math.abs).foldLeft(0.0)(math.max)
      assert(r.length == g.length && r.zip(g).forall { case (a, b) =>
        (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-9 * scale
      }, s"$at, centroid $c: ${r.mkString(",")} vs ${g.mkString(",")}")
    }
  }

  test("ndLloyd equals the Summarizer loop: centroids and sizes") {
    val corpus = sources.Tables.embeddings(spark, sf)
      .select(col("embedding").cast("array<double>").as("v"))
    val all = ndCases.map { case (l, vs) => (l, vecFrame(vs), ndInit) } :+
      (("embeddings", corpus, corpus.limit(KMeans.K).collect().map(_.getSeq[Double](0).toArray)))
    Ckpt.scoped { sc =>
      all.foreach { case (label, df, init) =>
        val pts = sc.persist(df)
        val (rc, rn) = refNdLloyd(pts, init, 3)
        val (gc, gn) = KMeans.ndLloyd(pts, init, 3)
        assert(gn.toSeq == rn.toSeq, s"$label: sizes")
        assertSameVecs(label, rc.toSeq, gc.toSeq)
      }
    }
  }

  test("the spherical loop equals the Summarizer loop: centroids, sizes, cosines, objective") {
    val corpus = sources.Tables.embeddings(spark, sf)
      .select(Similarity.unit(col("embedding").cast("array<double>")).as("v"))
    val all = ndCases.map { case (l, vs) => (l, vecFrame(vs.map(l2norm)), ndInit.map(l2norm)) } :+
      (("embeddings", corpus, corpus.limit(KMeans.K).collect().map(r => l2norm(r.getSeq[Double](0).toArray))))
    Ckpt.scoped { sc =>
      all.foreach { case (label, df, init) =>
        val pts = sc.persist(df)
        val (rc, rn, rcos, rtraj) = refSpherical(pts, init, 3)
        val (gc, gn, gcos, gtraj) = KMeans.spherical(pts, init, 3)
        assert(gn.toSeq == rn.toSeq, s"$label: sizes")
        assertSameVecs(label, rc.toSeq, gc.toSeq)
        assertSameVecs(s"$label, mean cosines", Seq(rcos), Seq(gcos))
        assertSameVecs(s"$label, objective", Seq(rtraj.toArray), Seq(gtraj.toArray))
      }
    }
  }

  test("the one-sweep PQ codebook fit equals sixteen per-subspace fits") {
    val u = Similarity.vectors(spark, sf).limit(4096)
      .select(Similarity.unit(col("v")).as("u")).collect().map(_.getSeq[Double](0))
    val sample = spark.createDataFrame(spark.sparkContext.parallelize(u.map(Row(_)), 4),
      StructType(Seq(StructField("u", ArrayType(DoubleType)))))
    val ref = Ckpt.scoped(sc => refCodebooks(sc.persist(sample)))
    val got = Similarity.fitSubspaceCodebooks(sample)
    assert(got.length == Similarity.PqM)
    ref.zip(got).zipWithIndex.foreach { case ((r, g), m) => assertSameVecs(s"subspace $m", r.toSeq, g.toSeq) }
  }
}

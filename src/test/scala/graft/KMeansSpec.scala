package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.KMeans

class KMeansSpec extends AnyFunSuite {
  import TestSpark._

  lazy val pts = KMeans.points(sources.Tables.lineitem(spark, sf))
  lazy val init = KMeans.initCentroids(pts)

  test("deterministic init picks k distinct first points") {
    assert(init.length == KMeans.K)
    val first = pts.orderBy(col("l_orderkey"), col("l_linenumber"))
      .limit(1).select("x", "y").collect()(0)
    assert(init(0) == ((first.getDouble(0), first.getDouble(1))))
  }

  test("assignment sends every point to its nearest centroid (lowest-id ties)") {
    val sample = pts.limit(200)
      .withColumn("cid", KMeans.assignExpr(init, col("x"), col("y")))
      .select("x", "y", "cid").collect()
    sample.foreach { r =>
      val (x, y, cid) = (r.getDouble(0), r.getDouble(1), r.getInt(2))
      val dists = init.map { case (cx, cy) => (x - cx) * (x - cx) + (y - cy) * (y - cy) }
      val best = dists.zipWithIndex.min._2  // min on (dist, idx) = lowest-id tie-break
      assert(cid == best, s"point ($x,$y)")
    }
  }

  test("one step strictly reduces (or keeps) WSSSE") {
    def cost(cs: Array[(Double, Double)]): Double =
      pts.select(KMeans.minDistExpr(cs, col("x"), col("y")).as("d"))
        .agg(sum(col("d"))).collect()(0).getDouble(0)
    val c0 = cost(init)
    val stepped = KMeans.iterate(pts, init, 1).toSeq.sortBy(_._1).map(_._2).toArray
    val c1 = cost(stepped)
    assert(c1 <= c0)
  }

  test("lloyd converges within reference bounds (tol 1e-3, maxIter 20)") {
    val (cs, iters, _) = KMeans.lloyd(pts, init)
    assert(cs.length == KMeans.K)
    assert(iters >= 1 && iters <= 20)
  }

  test("mllib kmeans produces k clusters covering all points") {
    val out = KMeans.kmeansMllib.fn(spark, sf)
    val rows = out.collect()
    assert(rows.length <= KMeans.K && rows.length > 0)
    assert(rows.map(_.getLong(1)).sum == pts.count())
  }

  test("n-D lloyd: sizes cover the corpus and iterating reduces cost") {
    val e = sources.Tables.embeddings(spark, sf)
      .select(col("embedding").cast("array<double>").as("v")).persist()
    try {
      val init = e.limit(KMeans.K).collect().map(_.getSeq[Double](0).toArray)
      val vs = e.collect().map(_.getSeq[Double](0).toArray)
      // squared distance of every vector to its nearest centroid
      def cost(cs: Array[Array[Double]]): Double =
        vs.map(v => cs.map(c => v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum).min).sum
      val (c3, sizes) = KMeans.ndLloyd(e, init, 3)
      assert(sizes.sum == e.count())
      assert(cost(c3) <= cost(init))
    } finally e.unpersist(false)
  }

  test("mini-batch k-means lands within 10% of full Lloyd's WSSSE, deterministically") {
    val cached = pts.select("x", "y").persist()
    try {
      val pts = cached
      def cost(cs: Array[(Double, Double)]): Double =
        pts.select(KMeans.minDistExpr(cs, col("x"), col("y")).as("d"))
          .agg(sum(col("d"))).head().getDouble(0)
      val (full, _, _) = KMeans.lloyd(pts, init)
      val (mb, _, _) = KMeans.minibatchLloyd(pts, init)
      assert(cost(mb) <= cost(full) * 1.10,
        s"minibatch WSSSE ${cost(mb)} vs full ${cost(full)}")
      val (mb2, _, _) = KMeans.minibatchLloyd(pts, init)
      assert(mb.toSeq == mb2.toSeq, "hash-sampled batches must be reproducible")
    } finally cached.unpersist(false)
  }

  test("mini-batch k-means rejects more than the 20 iterations its masks carry") {
    val e = intercept[IllegalArgumentException](KMeans.minibatchLloyd(pts.select("x", "y"), init, maxIter = 21))
    assert(e.getMessage.contains("maxIter=21"), e.getMessage)
    intercept[IllegalArgumentException](KMeans.minibatchLloyd(pts.select("x", "y"), init, frac = 0))
  }

  test("k-means++ init on fewer distinct points than k names k and the count found") {
    import spark.implicits._
    val three = Seq((1.0, 1.0), (2.0, 2.0), (3.0, 3.0), (2.0, 2.0)).toDF("x", "y")
    val e = intercept[IllegalArgumentException](KMeans.ppInit(three, 4))
    assert(e.getMessage.contains("k=4") && e.getMessage.contains("found 3"), e.getMessage)
  }
}

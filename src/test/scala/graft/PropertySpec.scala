package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.KMeans

/** Property-based checks of the expression-level primitives against
  * plain-Scala reference implementations: deterministic random
  * inputs go through the real Spark plans (codegen included) and
  * must agree exactly. Each property evaluates its whole sample set
  * in one Spark job.
  */
class PropertySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int, seed: Long): List[A] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(seed))

  private val finiteD: Gen[Double] =
    Gen.chooseNum(-1e6, 1e6).map(x => math.rint(x * 100) / 100)

  test("native graft_dot equals a sequential fold on 100 random vector pairs") {
    val pairs = sample(Gen.zip(Gen.listOfN(16, finiteD), Gen.listOfN(16, finiteD)), 100, 1L)
    val got = pairs.toDF("a", "b")
      .select(graft.functions.VectorFunctions.dot_product(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    pairs.zip(got).foreach { case ((a, b), g) =>
      val expected = a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
      assert(g == expected, s"a=$a b=$b")
    }
  }

  test("assignExpr picks the argmin centroid (lowest-id ties) on 200 random points") {
    val cs = sample(Gen.zip(finiteD, finiteD), 5, 2L).toArray
    val pts = sample(Gen.zip(finiteD, finiteD), 200, 3L)
    val got = pts.toDF("x", "y")
      .select(KMeans.assignExpr(cs, col("x"), col("y")))
      .collect().map(_.getInt(0))
    pts.zip(got).foreach { case ((x, y), cid) =>
      val dists = cs.map { case (cx, cy) => (x - cx) * (x - cx) + (y - cy) * (y - cy) }
      assert(cid == dists.zipWithIndex.min._2, s"point ($x,$y)")
    }
  }

  test("points text roundtrip preserves 100 random doubles exactly") {
    val pts = sample(Gen.zip(
      Gen.chooseNum(-1e12, 1e12), Gen.chooseNum(-1e12, 1e12)), 100, 4L)
    val dir = java.nio.file.Files.createTempDirectory("prop_pts")
    try {
      val path = s"$dir/pts"
      graft.sources.PointsText.writePoints(pts.toDF("x", "y"), path)
      val back = graft.sources.PointsText.read(spark, path)
        .collect().map(r => (r.getDouble(0), r.getDouble(1)))
        .toList.sortBy(p => (p._1, p._2))
      assert(back == pts.sortBy(p => (p._1, p._2)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("connectedComponents equals union-find on 20 random graphs") {
    for (seed <- 1 to 20) {
      val edges = sample(Gen.zip(Gen.chooseNum(0L, 39L), Gen.chooseNum(0L, 39L)),
        25, seed.toLong)
      // driver-side union-find reference
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(n => n -> find(n)).toMap
      // force the DISTRIBUTED pointer-jumping path (the default would
      // take the small-graph driver fallback and leave it untested)
      val got = withBudget(0)(graft.operators.Dedup.connectedComponents(
          edges.toDF("id1", "id2")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // union-find roots are component minima too (we always keep min)
      assert(got == expected, s"seed=$seed")
      // and the driver fallback gives the identical labels
      val local = graft.operators.Dedup.connectedComponents(
          edges.toDF("id1", "id2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == expected, s"local path, seed=$seed")
    }
  }

  test("redaction scrubs every generated email/phone regardless of context") {
    val word: Gen[String] = Gen.listOfN(5, Gen.alphaLowerChar).map(_.mkString)
    val email: Gen[String] =
      Gen.zip(word, word, Gen.oneOf("com", "org", "io"))
        .map { case (u, d, tld) => s"$u@$d.$tld" }
    val phone: Gen[String] = Gen.zip(
      Gen.chooseNum(100, 999), Gen.chooseNum(100, 999), Gen.chooseNum(1000, 9999))
      .map { case (a, b, c) => s"$a-$b-$c" }
    val doc: Gen[String] = Gen.zip(word, email, word, phone, word)
      .map { case (a, e, b, p, c) => s"$a $e $b $p $c" }
    val docs = sample(doc, 50, 11L).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val out = docs.toDF("doc_id", "text")
      .select(graft.operators.TextAnalysis.redact(col("text")).as("r"),
        graft.operators.TextAnalysis.piiCount(col("text")).as("n"))
      .collect()
    out.foreach { r =>
      assert(r.getLong(1) == 2L, s"expected 2 PII hits in '${r.getString(0)}'")
      assert(!r.getString(0).contains("@"))
      assert(r.getString(0).contains("<EMAIL>") && r.getString(0).contains("<PHONE>"))
    }
  }

  test("z-value interleave is invertible on 200 random 16-bit pairs") {
    val pts = sample(Gen.zip(Gen.chooseNum(0L, 65535L), Gen.chooseNum(0L, 65535L)),
      200, 7L)
    val got = pts.toDF("x", "y")
      .select(graft.sources.SourceOps.zValue(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0))
    pts.zip(got).foreach { case ((x, y), z) =>
      // de-interleave driver-side: even bits → x, odd bits → y
      var (dx, dy) = (0L, 0L)
      (0 until 16).foreach { i =>
        dx |= ((z >> (2 * i)) & 1L) << i
        dy |= ((z >> (2 * i + 1)) & 1L) << i
      }
      assert((dx, dy) == ((x, y)), s"z=$z of ($x,$y) decoded to ($dx,$dy)")
    }
  }

  test("BPE encode count is bounded and deterministic on random strings") {
    import graft.functions.Bpe
    val words = sample(Gen.chooseNum(1, 12)
      .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString)), 100, 8L)
    val merges = Bpe.trainMerges(
      words.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }.toSeq
        .sortBy(_._1), 64)
    val ranks = Bpe.ranks(merges)
    words.foreach { w =>
      val n = Bpe.encodePieceCount(w, ranks)
      assert(n >= 1 && n <= w.length, s"'$w' -> $n tokens")
      assert(n == Bpe.encodePieceCount(w, ranks))
    }
  }

  test("simhash hamming distance is symmetric and zero on self on random docs") {
    val docs = sample(Gen.listOfN(30,
      Gen.oneOf("alpha", "beta", "gamma", "delta")).map(_.mkString(" ")), 40, 5L)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val sig = graft.operators.Dedup.simhash(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical text → identical signature (hamming 0)
    val byText = docs.groupBy(_._2).values.filter(_.size > 1)
    byText.foreach { group =>
      val sigs = group.map { case (id, _) => sig(id) }.distinct
      assert(sigs.size == 1, s"same text, different simhash: $group")
    }
  }
}

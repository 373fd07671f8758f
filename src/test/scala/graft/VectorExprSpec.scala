package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions
import graft.operators.Similarity

class VectorExprSpec extends AnyFunSuite {
  import TestSpark._

  test("native dot equals higher-order-function dot on real embeddings") {
    val e = Similarity.vectors(spark, sf).limit(50)
    val both = e.select(
      VectorFunctions.dot_product(col("v"), col("v")).as("native"),
      Similarity.dotHof(col("v"), col("v")).as("hof")).collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("sql registration: graft_dot and graft_cosine") {
    val r = spark.sql(
      "SELECT graft_dot(array(1D,2D), array(3D,4D)) AS d, " +
        "graft_cosine(array(1D,0D), array(1D,0D)) AS c").collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("native dot is codegen'd (no higher-order lambda in plan)") {
    val e = Similarity.vectors(spark, sf)
    val plan = e.select(VectorFunctions.dot_product(col("v"), col("v")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("zip_with"))
    assert(!plan.contains("aggregate("))
  }

  test("native minhash aggregate equals the 64 composed min(xxhash64) columns") {
    val sh = graft.operators.Dedup.shinglesHashed(
      graft.sources.Tables.documents(spark, sf).limit(100))
    val native = graft.operators.Dedup.minhashSignatures(sh)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val composed = graft.operators.Dedup.minhashSignatureCols(sh)
      .collect().map(r => r.getLong(0) ->
        (1 to graft.operators.Dedup.NumPerm).map(r.getLong).toVector).toMap
    assert(native.nonEmpty)
    assert(native == composed)
  }

  test("native minhash merges across partitions (repartition-invariant)") {
    import spark.implicits._
    val sh = Seq.tabulate(500)(i => (i % 7L, i * 2654435761L))
      .toDF("doc_id", "sh")
    def sigs(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.minhashSignatures(df)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    assert(sigs(sh.repartition(1)) == sigs(sh.repartition(13)))
  }

  test("sql registration: graft_minhash") {
    val r = spark.sql(
      "SELECT graft_minhash(sh, 4) AS sig FROM VALUES (1L), (2L), (99L) AS t(sh)")
      .collect()(0).getSeq[Long](0)
    assert(r.length == 4)
    // element j must be min over rows of xxhash64(sh, j)
    val expected = (0 until 4).map { j =>
      Seq(1L, 2L, 99L).map(v =>
        spark.sql(s"SELECT xxhash64(${v}L, $j)").collect()(0).getLong(0)).min
    }
    assert(r == expected)
  }

  test("null and length-mismatch behavior") {
    val rows = spark.sql(
      "SELECT graft_dot(NULL, array(1D)) AS a, graft_dot(array(1D,2D), array(3D)) AS b")
      .collect()(0)
    assert(rows.isNullAt(0))
    assert(rows.getDouble(1) == 3.0)
  }

  test("native pq encode equals the composed struct-min argmin, and stays codegen'd") {
    val e = Similarity.vectors(spark, sf).limit(200)
      .select(col("vec_id"), Similarity.unit(col("v")).as("u"))
    val cb = Similarity.pqCodebooks(Similarity.vectors(spark, sf))
    val native = e.select(col("vec_id"),
      VectorFunctions.pq_encode(col("u"), cb).as("pqc"))
    // composed reference formulation (the one PqEncode replaced)
    val m = 3 // spot-check one subspace against the struct-min argmin
    val sub = slice(col("u"), m * Similarity.SubDim + 1, Similarity.SubDim)
    val candidates = cb(m).zipWithIndex.map { case (c, j) =>
      val cl = array(c.map(lit): _*)
      val cc = c.map(x => x * x).sum
      struct((lit(cc) - lit(2.0) * VectorFunctions.dot_product(sub, cl)).as("dist"),
        lit(j).as("cid"))
    }
    val composed = e.select(col("vec_id"),
      array_min(array(candidates: _*)).getField("cid").as("cid"))
    val joined = native.join(composed, "vec_id").collect()
    assert(joined.length == 200)
    joined.foreach { r =>
      assert(r.getSeq[Int](1)(m) == r.getInt(2), s"vec ${r.getLong(0)}")
    }
    // and the encode projection must survive janino (the whole point);
    // assert on an un-limited projection — CollectLimit would otherwise
    // host the project outside any WholeStageCodegen span
    val plan = Similarity.vectors(spark, sf)
      .select(VectorFunctions.pq_encode(Similarity.unit(col("v")), cb))
      .queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("graft_pq_encode")).get
    assert(line.replaceFirst("^[\\s:+-]*", "").startsWith("*"),
      s"pq_encode not codegen'd:\n$plan")
  }
}

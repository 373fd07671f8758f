package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  import TestSpark._

  test("shared session carries GraftExtensions and UTC") {
    assert(spark.conf.get("spark.sql.extensions") ==
      classOf[graft.functions.GraftExtensions].getName)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("every graft_* SQL function resolves in the factory session") {
    val names = graft.functions.GraftExtensions.functions.map(_._1)
    assert(names.sorted == Seq("graft_cosine", "graft_dot", "graft_gramian",
      "graft_kmv", "graft_kmv_merge", "graft_minhash", "graft_normalize",
      "graft_simhash", "graft_vec_div", "graft_vec_sub"))
    val r = spark.sql(
      """SELECT graft_dot(array(1D,2D), array(3D,4D)) AS dot,
        |  graft_cosine(array(3D,4D), array(3D,4D)) AS cos,
        |  graft_vec_div(array(2D,4D), 2D) AS div,
        |  graft_vec_sub(array(3D,4D), array(1D,1D)) AS sub,
        |  graft_normalize('café') AS nfc""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(r.getSeq[Double](2) == Seq(1.0, 2.0))
    assert(r.getSeq[Double](3) == Seq(2.0, 3.0))
    assert(r.getString(4) == "café")
    val a = spark.sql(
      """SELECT graft_minhash(h, 4) AS mh, graft_simhash(h) AS sim,
        |  graft_gramian(array(CAST(h AS DOUBLE), 1D), 2) AS gram,
        |  graft_kmv(h, 8) AS kmv
        |FROM VALUES (1L), (2L), (99L) AS t(h)""".stripMargin).collect()(0)
    assert(a.getSeq[Long](0).length == 4)
    assert(!a.isNullAt(1))
    // [n, Σv (2), upper-tri Σvvᵀ (3)]
    assert(a.getSeq[Double](2) == Seq(3.0, 102.0, 3.0, 9806.0, 102.0, 3.0))
    assert(a.getSeq[Long](3).length == 3)
    val merged = spark.sql(
      """SELECT graft_kmv_merge(sk, 8) FROM (
        |  SELECT graft_kmv(h, 8) AS sk FROM VALUES (1L), (2L), (99L) AS t(h)
        |  GROUP BY h % 2)""".stripMargin).collect()(0).getSeq[Long](0)
    assert(merged == a.getSeq[Long](3))
  }

  test("the codegen cache keeps more generated classes than Spark's default 100") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    val base = spark.range(0, 8, 1, 1).toDF("x")
    def project(i: Int): Unit = base.select(col("x") + lit(i)).collect()
    (0 until 150).foreach(project) // 150 distinct classes, and more
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    project(0)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before,
      "the first projection's class was evicted and compiled again")
  }

  test("only GraftSession builds a SparkSession") {
    val needle = Seq("SparkSession", "builder()").mkString(".")
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found"))
    val hits = roots.flatMap { r =>
      val files = Files.walk(r)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter(p => Files.readString(p).contains(needle))
      .map(_.getFileName.toString)
    assert(hits == Seq("GraftSession.scala"))
  }
}

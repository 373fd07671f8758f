package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.graft.RegimePick
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.sources.Tables

/** The parquet source resolver (`Tables.parquet`): a source's schema
  * is inferred once per content and type-mapping confs, and every
  * read still sees the same schema and rows as a plain
  * `spark.read.parquet`.
  */
class TablesResolverSpec extends AnyFunSuite {
  import TestSpark._

  private final class JobCounter extends SparkListener {
    val jobs = new AtomicLong
    val barriers = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerEvent]
    override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onOtherEvent(e: SparkListenerEvent): Unit = barriers.add(e)
  }

  /** Spark jobs started while `body` builds its value. */
  private def jobsOf(body: => Any): Long = {
    val c = new JobCounter
    spark.sparkContext.addSparkListener(c)
    try {
      body
      // the bus delivers in order: once this arrives, every job start
      // `body` posted has been counted
      val barrier = RegimePick("barrier", "", 0L, 0L)
      barrier.post(spark)
      eventually(timeout(60.seconds)) { assert(c.barriers.contains(barrier)) }
      c.jobs.get
    } finally spark.sparkContext.removeSparkListener(c)
  }

  private def tempDir(): String = {
    val d = Files.createTempDirectory("graft-tables-")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("a second load of an unchanged table starts no Spark job") {
    val d = tempDir()
    spark.range(0, 50, 1, 2).selectExpr("id", "id * 2 AS v")
      .write.parquet(s"$d/t.parquet")
    assert(jobsOf(Tables.load(spark, d, "t")) == 1) // the footer read
    assert(jobsOf(Tables.load(spark, d, "t")) == 0)
    assert(Tables.load(spark, d, "t").selectExpr("sum(v)").head().getLong(0) == 2450L)
  }

  test("a table rewritten with other columns is re-inferred") {
    val d = tempDir()
    spark.range(0, 10).selectExpr("id AS a", "CAST(id AS STRING) AS b")
      .write.parquet(s"$d/t.parquet")
    assert(Tables.load(spark, d, "t").columns.toSeq == Seq("a", "b"))
    spark.range(0, 7).selectExpr("id AS c", "id * 1.5 AS d", "id % 2 = 0 AS e")
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    val again = Tables.load(spark, d, "t")
    assert(again.columns.toSeq == Seq("c", "d", "e"))
    assert(again.count() == 7)
  }

  test("events reads as a direct spark.read.parquet under nanosAsLong") {
    val events = Tables.events(spark, sf) // sets nanosAsLong
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val direct = spark.read.parquet(s"$sf/events.parquet")
    assert(Tables.load(spark, sf, "events").schema == direct.schema)
    val normalized = Tables.normalizeEventTs(direct)
    assert(events.schema == normalized.schema)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(events) == rows(normalized))
  }

  test("Tables, Warehouse and CurateApp read parquet only through the resolver") {
    val needle = Seq("read", "parquet(").mkString(".")
    def src(p: String): String = {
      val f = Paths.get(p)
      assert(Files.isRegularFile(f), s"$f not found")
      Files.readString(f)
    }
    val tables = src("src/main/scala/graft/sources/Tables.scala")
    val start = tables.indexOf("  def parquet(")
    val end = tables.indexOf("\n  }\n", start)
    assert(start >= 0 && end > start, "Tables.parquet not found")
    val outside = Map(
      "Tables.scala" -> (tables.substring(0, start) + tables.substring(end)),
      "Warehouse.scala" -> src("src/main/scala/graft/sources/Warehouse.scala"),
      "CurateApp.scala" -> src("src/main/scala/graft/CurateApp.scala"))
    outside.foreach { case (f, text) =>
      withClue(s"$f reads parquet directly:")(assert(text.indexOf(needle) == -1))
    }
  }
}

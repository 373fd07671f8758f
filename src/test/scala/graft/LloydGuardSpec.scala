package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RegimePick
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.operators.{KMeans, Similarity}

/** The Lloyd loop's cost shape: one Spark job per iteration, no
  * shuffle, and no codegen once the first run has compiled its plan —
  * in 2-D, n-D and for all PQ subspaces at once.
  */
class LloydGuardSpec extends AnyFunSuite {
  import TestSpark._

  private final class Counter extends SparkListener {
    val jobs = new AtomicLong
    val shuffleStages = new AtomicLong
    val barriers = new ConcurrentLinkedQueue[SparkListenerEvent]
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      // every stage but the job's result stage is a shuffle map stage
      shuffleStages.addAndGet(js.stageInfos.length - 1L)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = barriers.add(e)
  }

  /** (jobs, shuffle stages) that `body` started. */
  private def counted(body: => Any): (Long, Long) = {
    val c = new Counter
    spark.sparkContext.addSparkListener(c)
    try {
      body
      // the bus delivers in order: once this arrives, every job start
      // `body` posted has been counted
      val barrier = RegimePick("barrier", "", 0L, 0L)
      barrier.post(spark)
      eventually(timeout(60.seconds)) { assert(c.barriers.contains(barrier)) }
      (c.jobs.get, c.shuffleStages.get)
    } finally spark.sparkContext.removeSparkListener(c)
  }

  test("a 5-iteration lloyd is 5 jobs with no shuffle, and a new k compiles nothing") {
    Ckpt.scoped { sc =>
      val pts = sc.persist(spark.range(0, 20000, 1, 4).select(
        (col("id") % 97).cast("double").as("x"), (col("id") % 89 * 1.5).as("y")))
      pts.count()
      val a = Array((10.125, 20.375), (60.0625, 80.4375), (30.5, 5.25))
      // tol 0 never converges, so each run is exactly maxIter iterations
      val (jobs, shuffles) = counted {
        assert(KMeans.lloyd(pts, a, tol = 0, maxIter = 5)._2 == 5)
      }
      assert(jobs == 5, "one job per Lloyd iteration")
      assert(shuffles == 0, "a Lloyd iteration shuffled")
      val c = Array((12.4609375, 3.5390625), (45.9921875, 100.8515625), (70.3046875, 40.6953125),
        (1.1484375, 120.2578125), (90.6640625, 7.0859375))
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      KMeans.lloyd(pts, c, tol = 0, maxIter = 5)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before,
        "a Lloyd run with new centroids and a new k compiled new code")
    }
  }

  test("an n-D lloyd is one job per iteration with no shuffle, and new centroids compile nothing") {
    Ckpt.scoped { sc =>
      val pts = sc.persist(spark.range(0, 4000, 1, 4).select(
        array((0 until 8).map(j => (col("id") * (j + 3) % 101).cast("double")): _*).as("v")))
      pts.count()
      val a = Array.tabulate(3, 8)((c, j) => c * 10.0 + j)
      val (jobs, shuffles) = counted { KMeans.ndLloyd(pts, a, iters = 4) }
      assert(jobs == 4, "one job per n-D Lloyd iteration")
      assert(shuffles == 0, "an n-D Lloyd iteration shuffled")
      val b = Array.tabulate(5, 8)((c, j) => c * 17.5 + j * 0.25)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      KMeans.ndLloyd(pts, b, iters = 4)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before,
        "an n-D Lloyd run with new centroids and a new k compiled new code")
    }
  }

  test("the PQ codebook fit is 1 + 3 jobs for all 16 subspaces") {
    val sample = spark.range(0, 2000, 1, 4).select(
      array((0 until Similarity.Dim).map(j => sin(col("id") * (j + 1))): _*).as("u"))
    val (jobs, shuffles) = counted {
      assert(Similarity.fitSubspaceCodebooks(sample).length == Similarity.PqM)
    }
    assert(jobs == 1 + 3, "one init collect, then one sweep per iteration for every subspace")
    assert(shuffles == 0)
  }

  test("KMeans and Similarity fit with neither Summarizer nor scala.concurrent") {
    val hits = Seq("KMeans.scala", "Similarity.scala").flatMap { f =>
      val p = Paths.get("src/main/scala/graft/operators", f)
      assert(Files.isRegularFile(p), s"$p not found")
      val code = Files.readString(p)
      Seq("ml.stat.Summarizer", "scala.concurrent").filter(code.contains).map(n => s"$f: $n")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

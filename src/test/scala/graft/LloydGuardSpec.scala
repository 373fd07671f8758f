package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RegimePick
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.operators.KMeans

/** The Lloyd loop's cost shape: one Spark job per iteration, no
  * shuffle, and no codegen once the first run has compiled its plan.
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
}

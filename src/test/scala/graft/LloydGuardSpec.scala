package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.operators.{KMeans, Similarity}
import graft.sources.PointsText

/** The Lloyd loop's cost shape: one Spark job per iteration, no
  * shuffle, and no codegen once the first run has compiled its plan —
  * in 2-D, n-D and for all PQ subspaces at once; and KMeansApp reads
  * its text once, into as many partitions as there are cores.
  */
class LloydGuardSpec extends AnyFunSuite {
  import TestSpark._

  private final class Counter extends SparkListener {
    val jobs = new AtomicLong
    val shuffleStages = new AtomicLong
    /** (stage ids, tasks) of every job, in start order. */
    val jobTasks = new ConcurrentLinkedQueue[(Set[Int], Int)]
    /** (stage id, input bytes, input records) of every finished task. */
    val inputs = new ConcurrentLinkedQueue[(Int, Long, Long)]
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      // every stage but the job's result stage is a shuffle map stage
      shuffleStages.addAndGet(js.stageInfos.length - 1L)
      jobTasks.add((js.stageIds.toSet, js.stageInfos.map(_.numTasks).sum))
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = if (te.taskMetrics != null) {
      val in = te.taskMetrics.inputMetrics
      inputs.add((te.stageId, in.bytesRead, in.recordsRead))
    }

    /** (bytes, records) the tasks of one job read. */
    def input(job: (Set[Int], Int)): (Long, Long) = {
      val mine = inputs.asScala.filter(t => job._1(t._1))
      (mine.map(_._2).sum, mine.map(_._3).sum)
    }
  }

  /** What `body` started, once the bus has delivered all of it. */
  private def watched(body: => Any): Counter = {
    val c = new Counter
    // jobs that finished before `body` may still be on the bus
    drainBus()
    spark.sparkContext.addSparkListener(c)
    try {
      body
      drainBus()
      c
    } finally spark.sparkContext.removeSparkListener(c)
  }

  /** (jobs, shuffle stages) that `body` started. */
  private def counted(body: => Any): (Long, Long) = {
    val c = watched(body)
    (c.jobs.get, c.shuffleStages.get)
  }

  /** A KMeansApp run with its printout discarded: what it started, and its iterations. */
  private def appRun(in: String, k: Int): (Counter, Int) = {
    val out = Files.createTempDirectory("lloyd_guard_out").resolve("centroids").toString
    var iters = 0
    val c = watched {
      iters = Console.withOut(new java.io.ByteArrayOutputStream)(
        KMeansApp.run(spark, k, in, out, Some(9L)))._2
    }
    (c, iters)
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

  test("KMeansApp reads its one input file once, sweeps on every core, in iterations + 3 jobs") {
    val lines = 60000
    val in = Files.createTempDirectory("lloyd_guard_in").resolve("points.txt")
    // written directly: one file, no Hadoop checksum file beside it
    Files.write(in, (0 until lines).map(i => s"${i % 97 * 1.25},${i % 89 * 0.5 + i * 1e-4}")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    val (c, iters) = appRun(in.toString, k = 5)
    val jobs = c.jobTasks.asScala.toSeq
    assert(iters >= 2 && jobs.length == iters + 3,
      s"$iters iterations in ${jobs.length} jobs: fill, init pick, one sweep each, write")
    val cores = spark.sparkContext.defaultParallelism
    val sweeps = jobs.slice(2, 2 + iters)
    assert((jobs.head +: sweeps).forall(_._2 == cores), s"tasks per job: ${jobs.map(_._2)}")
    // the first job reads the text (one record per line); every later
    // job reads cached blocks (one record per block)
    val (bytes, records) = c.input(jobs.head)
    assert(records == lines && bytes >= Files.size(in) && bytes < 2 * Files.size(in),
      s"the first job read $records records, $bytes bytes of a ${Files.size(in)}-byte file")
    val later = jobs.tail.map(c.input(_)._2).sum
    assert(later < lines, s"later jobs read $later records: the text was read again")
  }

  test("KMeansApp over 200 part files runs no more tasks than cores or the text's own splits") {
    val dir = Files.createTempDirectory("lloyd_guard_parts").resolve("points").toString
    PointsText.writePoints(spark.range(0, 20000, 1, 200).select(
      (col("id") % 97).cast("double").as("x"), (col("id") % 89 * 1.5).as("y")), dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("part-")) == 200)
    val bound = math.max(spark.sparkContext.defaultParallelism,
      spark.read.text(dir).rdd.getNumPartitions)
    val (c, _) = appRun(dir, k = 5)
    val tasks = c.jobTasks.asScala.map(_._2)
    assert(tasks.max <= bound, s"tasks per job: $tasks, bound $bound")
  }
}

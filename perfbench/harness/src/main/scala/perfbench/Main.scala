package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, length, sum}
import org.apache.spark.sql.graft.SessionHygiene

import graft.{CurateApp, GraftSession, KMeansApp, SparkEntry}
import graft.operators.{Dedup, KMeans, Tpch}
import graft.sources.PointsText

/** One benchmark run in one JVM: set up (several times, for setup_s),
  * check, then a closed loop of sequential operations for the given
  * number of seconds. Raw per-operation records go to
  * `<work>/result.json` (and spans to `<work>/spans.jsonl` when
  * traced); `run.py` turns them into metrics and checks the outputs.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <input> <work> <cpus>
  */
object Main {
  val SetupRounds = 3

  final case class Ctx(seed: Long, input: String, work: String, spans: Spans) {
    def path(name: String): String = new File(work, name).getPath
  }

  /** A workload: what one set-up round stages or loads after the
    * session starts, the once-per-run untimed warm-up on the same
    * input, the operation names of each round of the loop, and one
    * operation. */
  trait Workload {
    def stage(s: SparkSession, c: Ctx): Unit
    def warmUp(s: SparkSession, c: Ctx): Unit
    def round(r: Int, c: Ctx): Seq[String]
    /** Runs one operation; returns what the checker and the per-layer
      * metrics need to know about it. */
    def run(s: SparkSession, c: Ctx, name: String, op: Int, traced: Boolean): Map[String, Any]
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, input, work, cpusS) = args
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cpus = cpusS.toInt
    val c = Ctx(seedS.toLong, input, work, new Spans)
    val wl: Workload = workload match {
      case "analytics_tpch" => Analytics
      case "kmeans_lloyd" => Lloyd
      case "curate_dedup" => Curate
    }
    def session(): SparkSession = {
      val s = GraftSession.builder("graft-perfbench", shufflePartitions = cpus)
        .master(s"local[$cpus]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", c.path("warehouse"))
        .config("spark.local.dir", c.path("spark-local"))
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    // Set-up rounds: each starts a fresh session on an empty warehouse
    // and stages or loads the workload's input; setup_s is the median
    // round (the first also pays class loading). The warm-up then runs
    // in the last round's session, the one the loop uses, and moves JIT
    // and first-compile costs out of the timed loop.
    var spark: SparkSession = null
    val setupS = (0 until SetupRounds).map { _ =>
      if (spark != null) spark.stop()
      deleteTree(new File(c.path("warehouse")))
      val t0 = System.nanoTime()
      spark = session()
      wl.stage(spark, c)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    wl.warmUp(spark, c)
    val warmUpS = (System.nanoTime() - w0) / 1e9
    SessionHygiene.deepClear(spark)

    val layers = new Layers
    val ops = ArrayBuffer.empty[String]
    var attached = false
    var opId = 0
    var round = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // Whole rounds only (a pass over all 22 analytics entries, one
    // kmeans job, two curate jobs), so every run measures the same
    // operations: with rounds longer than the window, exactly one. A
    // traced run alternates traced and untraced rounds, so the tracing
    // overhead is measured inside the run; it does at least one of each.
    while (elapsed < seconds || (traced && round < 2)) {
      val tracedRound = traced && round % 2 == 0
      if (tracedRound != attached) {
        if (tracedRound) layers.attach(spark) else layers.detach(spark)
        attached = tracedRound
      }
      wl.round(round, c).foreach { name =>
        val before = layers.snapshot()
        val at = System.currentTimeMillis()
        val load1 = Host.load1()
        val steal0 = Host.stealJiffies()
        val opCpu0 = Host.processCpuNs()
        val o0 = System.nanoTime()
        val (ok, info) =
          try (true, wl.run(spark, c, name, opId, tracedRound))
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] op $opId $name failed: $e")
            e.printStackTrace()
            (false, Map.empty[String, Any])
          }
        val sec = (System.nanoTime() - o0) / 1e9
        val cpuS = (Host.processCpuNs() - opCpu0) / 1e9
        val stealS = (Host.stealJiffies() - steal0) / 100.0
        // what the operation left cached, counted before the
        // out-of-loop cleanup (which also drains the listener bus)
        val residue = spark.sparkContext.getPersistentRDDs.size
        SessionHygiene.deepClear(spark)
        val layer =
          if (!tracedRound) Map.empty[String, Long]
          else {
            val after = layers.snapshot()
            after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) } +
              ("driver_only_ms" -> layers.driverOnlyMs(at, at + (sec * 1000).toLong))
          }
        ops += Json.obj("id" -> opId, "round" -> round, "name" -> name,
          "traced" -> tracedRound, "ok" -> ok, "s" -> sec, "cpu_s" -> cpuS,
          "at_ms" -> at, "load1" -> load1, "steal_s" -> stealS,
          "residue_rdds" -> residue, "layers" -> layer, "info" -> info)
        opId += 1
      }
      round += 1
    }
    val window = elapsed
    if (attached) layers.detach(spark)
    // what the session still holds after the loop: live heap after a
    // full collection
    System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1e6
    spark.stop()
    if (traced) c.spans.write(c.path("spans.jsonl"))
    Files.writeString(Paths.get(c.path("result.json")),
      "{" + Seq(
        "\"workload\":" + Json.str(workload),
        "\"cpus\":" + cpus,
        "\"setup_s\":" + Json.value(setupS),
        "\"warmup_s\":" + warmUpS,
        "\"window_s\":" + window,
        "\"peak_rss_mb\":" + Host.peakRssMb(),
        "\"heap_after_gc_mb\":" + heapMb,
        "\"ops\":" + ops.mkString("[", ",\n", "]")).mkString(",\n") + "}\n")
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Runs `body` with everything it prints on stdout captured. */
  def captured[T](body: => T): (T, String) = {
    val buf = new ByteArrayOutputStream
    val out = new PrintStream(buf, true, "UTF-8")
    val r = Console.withOut(out)(body)
    out.flush()
    (r, buf.toString("UTF-8"))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The 22 TPC-H-shaped registry entries, each through the noop sink,
    * in a seed-shuffled order per pass. */
  object Analytics extends Workload {
    lazy val names: Seq[String] = {
      val qs = SparkEntry.queries.keys.filter(_.matches("q[0-9]+_.*")).toSeq
        .sortBy(_.takeWhile(_ != '_').drop(1).toInt)
      require(qs.size == 22, s"expected the 22 TPC-H entries, found ${qs.size}")
      qs
    }

    def stage(s: SparkSession, c: Ctx): Unit =
      Tpch.stageSupplyArtifact(s, c.input).count()

    /** Every entry once, results to parquet for the oracle check. The
      * entries run on `cpus` threads: this pass is untimed, and their
      * cold planning and compiling overlap. */
    def warmUp(s: SparkSession, c: Ctx): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        s.sparkContext.defaultParallelism)
      try names.map { n =>
        pool.submit((() => SparkEntry.queries(n)(s, c.input).coalesce(1)
          .write.mode("overwrite").parquet(c.path(s"check/$n"))): Runnable)
      }.foreach(_.get())
      finally pool.shutdown()
      val oracle = SparkEntry.oracleSql
      Files.writeString(Paths.get(c.path("check/oracle_sql.json")),
        Json.value(names.map(n => n -> oracle(n)).toMap))
    }

    def round(r: Int, c: Ctx): Seq[String] =
      new scala.util.Random(c.seed * 1000003L + r).shuffle(names)

    def run(s: SparkSession, c: Ctx, name: String, op: Int, traced: Boolean): Map[String, Any] = {
      c.spans(s"analytics.q.$name", op) {
        // building the DataFrame runs its analysis eagerly; the noop
        // write's own planning phases reach the listener
        val df = c.spans("plan.build", op)(SparkEntry.queries(name)(s, c.input))
        noop(df)
      }
      Map.empty
    }
  }

  /** KMeansApp.run end to end: text in, seeded init, Lloyd, centroid
    * text out. Every job draws its own init seed from the run seed. */
  object Lloyd extends Workload {
    val K = 8
    private def points(dir: String) = new File(dir, "points.txt").getPath

    def stage(s: SparkSession, c: Ctx): Unit = {
      val p = PointsText.read(s, points(c.input)).persist()
      p.count()
      p.unpersist(true)
    }

    private def jobSeed(c: Ctx, op: Int) = c.seed * 1000003L + op

    def warmUp(s: SparkSession, c: Ctx): Unit =
      captured(KMeansApp.run(s, K, points(c.input), c.path("kmeans-out"), Some(jobSeed(c, -1))))

    def round(r: Int, c: Ctx): Seq[String] = Seq("job")

    def run(s: SparkSession, c: Ctx, name: String, op: Int, traced: Boolean): Map[String, Any] = {
      val seed = jobSeed(c, op)
      val input = points(c.input)
      val out = c.path("kmeans-out")
      val (init, (cs, iters, converged)) =
        if (!traced) {
          val (res, printed) = captured(KMeansApp.run(s, K, input, out, Some(seed)))
          val init = printed.linesIterator.collect {
            case l if l.startsWith("init centroid ") =>
              val Array(x, y) = l.substring(l.indexOf(':') + 1).split(",").map(_.trim.toDouble)
              (x, y)
          }.toArray
          (init, res)
        } else c.spans("kmeans.job", op) {
          // the same calls KMeansApp.run makes, each materialised and
          // timed in turn
          val init = c.spans("sources.init_sample", op)(
            PointsText.sampleCentroids(s, input, K, Some(seed)))
          val pts = c.spans("sources.points_read", op) {
            val p = PointsText.read(s, input).persist()
            p.count()
            p
          }
          try {
            val res = c.spans("kmeans.lloyd", op)(KMeans.lloyd(pts, init))
            c.spans("sources.write", op)(PointsText.writeCentroids(s, res._1, out))
            (init, res)
          } finally pts.unpersist(false)
        }
      Map("job_seed" -> seed, "init" -> init.toSeq, "centroids" -> cs.toSeq,
        "iters" -> iters, "converged" -> converged)
    }
  }

  /** CurateApp.run end to end: quality and language filter, exact
    * dedup, MinHash/LSH near-dedup, parquet out. */
  object Curate extends Workload {
    private def docs(dir: String) = new File(dir, "docs").getPath

    def stage(s: SparkSession, c: Ctx): Unit =
      s.read.parquet(docs(c.input)).agg(sum(length(col("text")))).collect()

    def warmUp(s: SparkSession, c: Ctx): Unit =
      CurateApp.run(s, docs(c.input), c.path("curate-out"))

    /** Two jobs, so a round outlasts the window as the other
      * workloads' rounds do. */
    def round(r: Int, c: Ctx): Seq[String] = Seq("job", "job")

    def run(s: SparkSession, c: Ctx, name: String, op: Int, traced: Boolean): Map[String, Any] = {
      val out = c.path("curate-out")
      if (!traced) Map("curated" -> CurateApp.run(s, docs(c.input), out))
      else c.spans("curate.job", op) {
        // CurateApp.run and nearDedup, one stage materialised at a time
        val held = ArrayBuffer.empty[DataFrame]
        def stage(span: String)(df: => DataFrame): (DataFrame, Long) =
          c.spans(span, op) {
            val d = df.persist()
            held += d
            (d, d.count())
          }
        try {
          val input = s.read.parquet(docs(c.input))
          val (kept, nKept) = stage("curate.filter")(CurateApp.curate(input, 0.75, "en"))
          val (exact, _) = stage("dedup.exact")(Dedup.dedupedCorpus(kept))
          val (sh, _) = stage("dedup.shingle")(Dedup.shinglesHashed(exact))
          val (sigs, _) = stage("dedup.minhash")(Dedup.minhashSignatures(sh))
          val (cand, nCand) = stage("dedup.lsh")(Dedup.lshCandidates(sigs))
          val (pairs, nPairs) = stage("dedup.verify")(
            Dedup.jaccardVerify(sh, cand, 0.8).select("id1", "id2"))
          val (survivors, nSurv) = stage("dedup.components")(
            Dedup.nearDedupedCorpus(exact, pairs))
          c.spans("sources.write", op)(survivors.write.mode("overwrite").parquet(out))
          Map("curated" -> s.read.parquet(out).count(), "input_docs" -> input.count(),
            "kept" -> nKept, "candidate_pairs" -> nCand, "verified_pairs" -> nPairs,
            "survivors" -> nSurv)
        } finally held.foreach(_.unpersist(false))
      }
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Connector-surface pins for the DataSource V2 points source
  * (sources/v2/PointsSourceV2.scala): pushdown reaches the parser,
  * projection prunes before row construction, partition planning is
  * per-file, and statistics flow into Catalyst.
  */
class SourceV2Spec extends AnyFunSuite {
  import TestSpark._

  private lazy val dir: String = {
    val path = java.nio.file.Files.createTempDirectory("v2points").toString
    val pts = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    graft.sources.PointsText.writePoints(pts, path)
    path
  }

  private def v2 = spark.read
    .format(graft.sources.v2.PointsSourceV2.format)
    .option("path", dir).load()

  test("v2 read matches the v1 text parser exactly") {
    // every parsed row, not an order-dependent float sum: the two
    // readers split the files differently
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("x", "y").collect().map(r => (r.getDouble(0), r.getDouble(1)))
        .sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Double.TotalOrdering)).toSeq
    val a = rows(v2)
    val b = rows(graft.sources.PointsText.read(spark, dir))
    assert(a.nonEmpty && a == b)
  }

  test("comparison filter is pushed into the scan with no residual; pruning drops y") {
    val df = v2.filter(col("x") > 25).select(col("x"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(x,25"),
      s"filter must appear as pushed in the scan description:\n$plan")
    assert(!plan.contains("y:double") && plan.contains("struct<x:double>"),
      s"pruned read schema must drop y:\n$plan")
    // the only residual Spark may keep is the null guard — the
    // comparison itself must not be re-evaluated post-scan
    val filterLines = plan.linesIterator.filter(_.trim.startsWith("+- Filter")).toSeq
    assert(filterLines.forall(l => !l.contains("> 25.0") || l.contains("isnotnull")),
      s"pushed comparison must not survive as a standalone post-scan filter:\n$plan")
  }

  test("at least one input partition per data file; stats report total byte size") {
    val parts = v2.rdd.getNumPartitions
    val files = new java.io.File(dir).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(parts >= files, s"expected >= $files file partitions, got $parts")
    val stats = v2.queryExecution.optimizedPlan.stats
    val total = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.length()).sum
    assert(stats.sizeInBytes == BigInt(total),
      s"reported ${stats.sizeInBytes}, files total $total")
  }

  test("a single large file splits into byte-range partitions with exact line ownership") {
    val big = java.nio.file.Files.createTempDirectory("v2bigfile").toString
    val pts = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      .coalesce(1) // exactly one fat text file
    graft.sources.PointsText.writePoints(pts, big)
    val dataFiles = new java.io.File(big).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(dataFiles.length == 1, s"fixture must be one file, got ${dataFiles.length}")
    // ~64 KB ranges over a multi-MB file: nearly every boundary lands
    // mid-line, exercising the realignment rule on both sides
    spark.conf.set("spark.graft.points.splitBytes", "65536")
    try {
      val df = spark.read.format(graft.sources.v2.PointsSourceV2.format)
        .option("path", big).load()
      val parts = df.rdd.getNumPartitions
      val expected = math.ceil(dataFiles(0).length / 65536.0).toLong
      assert(parts > 1, s"one big file must split, got $parts partition(s)")
      assert(parts == expected, s"expected $expected byte-range splits, got $parts")
      val a = df.agg(count(lit(1)), sum("x"), sum("y")).collect()(0)
      val b = graft.sources.PointsText.read(spark, big)
        .agg(count(lit(1)), sum("x"), sum("y")).collect()(0)
      assert(a.getLong(0) == b.getLong(0),
        s"split read must see every line exactly once: ${a.getLong(0)} vs ${b.getLong(0)}")
      assert(math.abs(a.getDouble(1) - b.getDouble(1)) < 1e-6 &&
        math.abs(a.getDouble(2) - b.getDouble(2)) < 1e-6, s"$a vs $b")
      // pushed filter + projection still work across ranges
      val n1 = df.filter(col("x") > 25).select("x").count()
      val n2 = graft.sources.PointsText.read(spark, big).filter(col("x") > 25).count()
      assert(n1 == n2)
    } finally spark.conf.unset("spark.graft.points.splitBytes")
  }

  test("a single 4-8 MB file reads as defaultParallelism near-equal ranges, the same rows") {
    val one = java.nio.file.Files.createTempDirectory("v2onefile")
    try {
      val file = one.resolve("points.txt")
      val w = java.nio.file.Files.newBufferedWriter(file)
      val rnd = new scala.util.Random(7)
      try (0 until 250000).foreach { _ =>
        w.write("%.6f,%.6f\n".formatLocal(java.util.Locale.ROOT,
          rnd.nextGaussian() * 10, rnd.nextGaussian() * 10))
      } finally w.close()
      val len = java.nio.file.Files.size(file)
      // above Spark's 4 MB open cost, below two of it: the size its
      // own split rule reads as 4 MB plus the remainder
      assert(len > (4L << 20) && len < (8L << 20), s"$len bytes")
      val ranges = graft.sources.v2.PointsSourceV2.splitRanges(Seq((file.toString, len)))
        .map(_.asInstanceOf[graft.sources.v2.PointsFilePartition])
      val cores = spark.sparkContext.defaultParallelism
      assert(ranges.length >= cores, s"${ranges.length} ranges on $cores cores")
      assert(ranges.map(_.length).max - ranges.map(_.length).min <= 1, ranges.toSeq)
      assert(ranges.head.start == 0 && ranges.map(_.length).sum == len &&
        ranges.sliding(2).forall { case Array(a, b) => a.start + a.length == b.start })
      // a file no longer than the open cost keeps Spark's rule: one
      // range, however many cores there are
      assert(graft.sources.v2.PointsSourceV2.splitRanges(
        Seq(("a.txt", 1L << 20), ("b.txt", 4L << 20))).length == 2)
      def rows(splitBytes: Option[String]) = {
        splitBytes.foreach(spark.conf.set("spark.graft.points.splitBytes", _))
        try spark.read.format(graft.sources.v2.PointsSourceV2.format)
          .option("path", one.toString).load()
          .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
          .sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Double.TotalOrdering))
        finally spark.conf.unset("spark.graft.points.splitBytes")
      }
      val now = rows(None)
      // the 4 MB + remainder cut of the old rule reads the same rows
      assert(now.length == 250000 && now == rows(Some((4L << 20).toString)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(one.toFile)
  }

  test("pushed filter drops rows before Spark sees them (count under filter-only scan)") {
    val direct = graft.sources.PointsText.read(spark, dir)
      .filter(col("x") > 25).count()
    assert(v2.filter(col("x") > 25).count() == direct)
  }

  test("v2 sink: two-phase commit leaves part-files + _SUCCESS manifest; overwrite truncates") {
    val out = java.nio.file.Files.createTempDirectory("v2sink").toString
    val src = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      .limit(1000).repartition(4)
    def writeOnce(): Unit = src.write
      .format(graft.sources.v2.PointsSourceV2.format)
      .option("path", out).mode("overwrite").save()
    writeOnce()
    val firstParts = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSet
    writeOnce() // overwrite must replace, not accumulate
    val files = new java.io.File(out).listFiles().map(_.getName).toSet
    val parts = files.filter(_.startsWith("part-"))
    assert(parts.intersect(firstParts).isEmpty,
      "truncate must clear the previous write's part files")
    assert(parts.size == 4, s"one part file per partition, got $parts")
    val manifest = scala.io.Source.fromFile(new java.io.File(out, "_SUCCESS"))
    val committed = try manifest.getLines().toVector finally manifest.close()
    assert(committed.size == 4 &&
      committed.map(p => new java.io.File(p).getName).toSet == parts,
      "_SUCCESS must list exactly the committed part files")
    // the same connector reads its own output back, exactly
    val back = spark.read.format(graft.sources.v2.PointsSourceV2.format)
      .option("path", out).load()
    assert(back.count() == 1000)
  }

  test("aggregate pushdown: grouped COUNT/MIN/MAX/SUM folds inside the scan") {
    val df = v2.filter(col("x") > 25).groupBy(col("x"))
      .agg(count(lit(1)).as("n"), min(col("y")).as("min_y"),
        max(col("y")).as("max_y"), sum(col("y")).as("sum_y"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"),
      s"scan description must record the pushed aggregation:\n$plan")
    assert(plan.contains("PushedGroupBy: [x]"),
      s"group-by column must be pushed:\n$plan")
    // values must equal the unpushed aggregate over the v1 text parser
    val got = df.collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).sortBy(_._1)
    val want = graft.sources.PointsText.read(spark, dir)
      .filter(col("x") > 25).groupBy(col("x"))
      .agg(count(lit(1)).as("n"), min(col("y")).as("min_y"),
        max(col("y")).as("max_y"), sum(col("y")).as("sum_y"))
      .collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).sortBy(_._1)
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 == w._1 && g._2 == w._2 && g._3 == w._3 && g._4 == w._4,
        s"exact fields differ: $g vs $w")
      assert(math.abs(g._5 - w._5) <= math.ulp(w._5) * 64,
        s"sum differs beyond merge-order noise: $g vs $w")
    }
  }

  test("aggregate pushdown: global aggregate over an empty-result filter is exact") {
    // a predicate matching nothing: every partition emits a null-min
    // partial row; the final merge must produce (0, null)
    val df = v2.filter(col("x") > 1e18)
      .agg(count(lit(1)).as("n"), min(col("y")).as("min_y"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"),
      s"global aggregate must push too:\n$plan")
    val r = df.collect()(0)
    assert(r.getLong(0) == 0L && r.isNullAt(1),
      s"empty aggregate must be (0, null), got $r")
  }

  test("micro-batch stream: discovery log, multi-trigger ingest, late file admitted") {
    val root = java.nio.file.Files.createTempDirectory("v2stream").toString
    val srcDir = s"$root/src"; val sinkDir = s"$root/sink"; val chk = s"$root/chk"
    val pts = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    import org.apache.spark.sql.functions.concat_ws
    pts.limit(2000).select(concat_ws(",", col("x"), col("y")).as("value"))
      .repartition(2).write.mode("overwrite").text(srcDir)
    val stream = spark.readStream
      .format(graft.sources.v2.PointsSourceV2.format)
      .option("path", srcDir).option("maxFilesPerTrigger", "1").load()
      .filter(col("x") > 25).select(col("x"))
    val q = stream.writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", chk).option("path", sinkDir).start()
    try {
      q.processAllAvailable()
      val firstBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(firstBatches >= 2,
        s"maxFilesPerTrigger=1 over 2 files must take >= 2 non-empty triggers, got $firstBatches")
      val expected1 = graft.sources.PointsText.read(spark, srcDir)
        .filter(col("x") > 25).count()
      assert(spark.read.parquet(sinkDir).count() == expected1)
      // a LATE file lands after the stream started: the discovery log
      // must admit it incrementally (never re-reading consumed files)
      val late = new java.io.File(srcDir, "zzz_late.txt")
      val w = new java.io.PrintWriter(late)
      try { w.println("26,1.5"); w.println("30,2.5"); w.println("10,9.0") }
      finally w.close()
      q.processAllAvailable()
      val total = spark.read.parquet(sinkDir).count()
      assert(total == expected1 + 2, // 26 and 30 pass the pushed x>25; 10 doesn't
        s"late file must add exactly its 2 passing rows: $total vs ${expected1 + 2}")
    } finally q.stop()
  }

  test("aggregate pushdown declines distinct and falls back to a plain scan") {
    val df = v2.agg(countDistinct(col("x")).as("nd"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedAggregation"),
      s"COUNT(DISTINCT) must not be claimed by the source:\n$plan")
    val direct = graft.sources.PointsText.read(spark, dir)
      .agg(countDistinct(col("x"))).collect()(0).getLong(0)
    assert(df.collect()(0).getLong(0) == direct)
  }
}

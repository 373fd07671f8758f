package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import graft.sources.Tables

class DedupSpec extends AnyFunSuite {
  import TestSpark._

  test("exact dedup groups cover all documents") {
    val out = Dedup.dedupExact.fn(spark, sf)
    val total = out.agg(sum(col("n_copies"))).collect()(0).getLong(0)
    assert(total == Tables.documents(spark, sf).count())
  }

  test("dedupedCorpus keeps exactly the min doc_id per duplicate group") {
    val docs = Tables.documents(spark, sf)
    val kept = Dedup.dedupedCorpus(docs)
    assert(kept.columns.toSeq == docs.columns.toSeq)
    val expected = Dedup.dedupExact.fn(spark, sf)
      .select("keep_id").collect().map(_.getLong(0)).toSet
    val got = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
  }

  test("minhash LSH recalls every exact near-dup pair (bounded range)") {
    val exact = Dedup.dedupNgram.fn(spark, sf)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.dedupMinhash.fn(spark, sf)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // verified-LSH output must contain every exact pair in its range
    assert(exact.subsetOf(lsh), s"missed: ${exact.diff(lsh)}")
  }

  test("connected components give the component-min label on a known graph") {
    import spark.implicits._
    // components {1,2,3,4} (path), {10,11}, singleton via self-pair {20}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L))
      .toDF("id1", "id2")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
    // distributed pointer jumping agrees with the driver fallback
    val dist = withBudget(0)(Dedup.connectedComponents(pairs)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == got)
    // regression: a live graph whose ids sum to zero (negative ids)
    // must still propagate — emptiness is not a zero label sum
    val neg = Dedup.connectedComponents(
        Seq((-1L, 1L)).toDF("id1", "id2")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(neg == Map(-1L -> -1L, 1L -> -1L))
  }

  test("every ngram near-dup pair lands in one dedup group") {
    val pairs = Dedup.ngramPairs(
      graft.sources.Tables.documents(spark, sf), 300L, 0.8)
    val labels = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edgeRows = pairs.select("id1", "id2").collect()
    assert(edgeRows.nonEmpty)
    edgeRows.foreach { r =>
      assert(labels(r.getLong(0)) == labels(r.getLong(1)))
    }
    // group sizes in dedup_groups account for every labeled node
    val sizes = Dedup.dedupGroups.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.values.sum == labels.size)
    assert(sizes.keySet == labels.values.toSet)
  }

  test("nearDedupedCorpus keeps exactly one representative per component") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") < 300)
    val pairs = Dedup.ngramPairs(docs, 300L, 0.8)
    val labels = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kept = Dedup.nearDedupedCorpus(docs, pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // every component's min survives, every other member is dropped
    labels.foreach { case (id, label) =>
      assert(kept.contains(id) == (id == label))
    }
    // documents outside the pair graph are untouched
    val total = docs.count()
    assert(kept.size == total - labels.count { case (id, l) => id != l })
  }

  test("incremental dedup equals the full pair set restricted to the increment") {
    val split = Dedup.incrementSplit(graft.sources.Tables.documents(spark, sf))
    val full = Dedup.dedupMinhash.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a >= split || b >= split }.toSet
    val inc = Dedup.dedupIncremental.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc == full, s"split=$split diff=${inc.diff(full) ++ full.diff(inc)}")
  }

  test("indexed incremental dedup equals the recomputed path on the same split") {
    val inc = Dedup.dedupIncremental.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val idx = Dedup.dedupIncrementalIndexed.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(idx == inc, s"diff=${idx.diff(inc) ++ inc.diff(idx)}")
  }

  test("streaming indexed dedup equals the batch cross-only path") {
    val docs = Tables.documents(spark, sf)
    val split = Dedup.incrementSplit(docs)
    val corpus = docs.filter(col("doc_id") < split)
    val idx = Dedup.dedupIndexDir(spark, sf, split)
    // the batch side plants the SAME cross-batch near-dup the stream
    // ingests, so parity also covers the planted pair
    val incSh = Dedup.shinglesHashed(Dedup.plantedIncrement(docs, split))
    val expected = Dedup.jaccardVerify(
      Dedup.shinglesHashed(corpus).union(incSh),
      Dedup.incrementCrossCandidates(spark.read.parquet(idx),
        Dedup.lshBuckets(Dedup.minhashSignatures(incSh))).distinct(), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = Dedup.streamDedupIndexed.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == expected,
      s"diff=${streamed.diff(expected) ++ expected.diff(streamed)}")
    // the planted near-dup is recovered: the gate is never vacuous
    assert(streamed.exists(_._2 == Dedup.PlantedStreamDocId),
      s"planted cross-batch duplicate not found in $streamed")
  }

  test("ivf-bucketed embedding near-dup finds every planted duplicate") {
    import spark.implicits._
    val e = Similarity.vectors(spark, sf)
    // plant 20 true near-duplicates: tiny deterministic perturbation
    // of existing vectors (cos ~ 0.9999)
    val planted = e.orderBy("vec_id").limit(20).collect().map { r =>
      val v = r.getSeq[Double](1).toArray
      v(0) += 0.01 * math.signum(v(0) + 1e-9)
      (100000L + r.getLong(0), v.toSeq)
    }.toSeq.toDF("vec_id", "v")
    val aug = e.union(planted)
    val cs = Similarity.coarseCentroids(aug)
    val pairs = Similarity.embeddingIvfPairs(aug, cs, 0.99, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 20).foreach { i =>
      assert(pairs.contains((i.toLong, 100000L + i)),
        s"planted duplicate of vec $i not found")
    }
    // precision on the corpus entry: every emitted pair in the exact
    // operator's bounded range must also pass the exact operator
    val exact = Dedup.dedupEmbedding.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.dedupEmbeddingIvf.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty)
    assert(ivf.filter { case (a, b) => a < 300 && b < 300 }.subsetOf(exact))
  }

  test("incremental dedup handles a re-ingested document (overlap on both sides)") {
    import spark.implicits._
    val mk = (id: Long, text: String) => (id, text)
    val docs = Seq(
      mk(1L, "alpha beta gamma delta epsilon zeta eta theta"),
      mk(2L, "alpha beta gamma delta epsilon zeta eta iota"),   // near-dup of 1
      mk(3L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val sh = Dedup.shinglesHashed(docs)
    // doc 2 lives in the corpus AND is re-ingested in the increment
    val corpus = sh.filter(col("doc_id") <= 2)
    val inc = sh.filter(col("doc_id") >= 2)
    val pairs = Dedup.minhashIncrementPairs(corpus, inc, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // no degenerate self-pair for the overlapping doc
    assert(pairs.forall { case (a, b, _) => a != b })
    // the true near-dup pair survives with its correct (undoubled) jaccard
    val full = Dedup.jaccardVerify(sh,
      Dedup.lshCandidates(Dedup.minhashSignatures(sh)), 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs.toSet == full.filter { case (a, b, _) => a >= 2 || b >= 2 })
  }

  test("text chunks cover every token with the configured overlap") {
    val rows = TextAnalysis.textChunks.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val nTokens = graft.sources.Tables.documents(spark, sf)
      .select(sum(TextAnalysis.tokenCount(col("text")))).collect()(0).getLong(0)
    // stride 40 of size-50 windows: every token appears once or twice
    val chunkTokens = rows.map(_.getLong(2)).sum
    assert(chunkTokens >= nTokens)
    rows.foreach(r => assert(r.getLong(2) <= TextAnalysis.ChunkSize))
    // consecutive chunk_nos per doc
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val nos = rs.map(_.getLong(1)).sorted
      assert(nos.sameElements(nos.indices.map(_.toLong)))
    }
  }

  test("CurateApp end-to-end: curated corpus is filtered, deduped, schema-stable") {
    val dir = java.nio.file.Files.createTempDirectory("graft_curate")
    try {
      val out = s"$dir/curated"
      val n = CurateApp.run(spark, s"$sf/documents.parquet", out,
        qualityMin = 0.5, lang = "en")
      val curated = spark.read.parquet(out)
      assert(n > 0 && curated.count() == n)
      assert(curated.columns.contains("quality"))
      assert(curated.select("doc_id").distinct().count() == curated.count())
      // everything kept passes the filters
      val bad = curated.filter(col("quality") < 0.5).count()
      assert(bad == 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("CurateApp.run leaves no persistent RDDs behind") {
    val dir = java.nio.file.Files.createTempDirectory("graft_curate_clean")
    val ctx = spark.sparkContext
    // pin every RDD the run persists: the driver GC must not get to
    // reap a leaked one (ContextCleaner) before the check sees it
    val pinned = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    val running = new java.util.concurrent.atomic.AtomicBoolean(true)
    val pin = new Thread(() =>
      while (running.get) { ctx.getPersistentRDDs.values.foreach(pinned.add); Thread.sleep(2) })
    try {
      org.apache.spark.sql.graft.SessionHygiene.deepClear(spark)
      val before = ctx.getPersistentRDDs.keySet.toSet
      pin.start()
      try assert(CurateApp.run(spark, s"$sf/documents.parquet", s"$dir/curated") > 0)
      finally { running.set(false); pin.join() }
      val left = ctx.getPersistentRDDs.keySet.toSet -- before
      assert(pinned.size > 0, "the run persisted nothing: the check is vacuous")
      assert(left.isEmpty, s"CurateApp.run left RDDs ${left.toSeq.sorted}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  // CurateApp's quality/language filter and near-dedup as they were
  // before the TextStats kernel: the regex spellings of the four
  // quality inputs and the four marker counts, and a near-dedup that
  // reads an unpersisted exact-dedup plan (reference)
  private def regexCurate(docs: org.apache.spark.sql.DataFrame, qualityMin: Double,
      lang: String): org.apache.spark.sql.DataFrame = {
    val stops = "\\b(the|a|an|of|to|in|and|is|it|for)\\b"
    val markers = Seq("en" -> "\\b(the|and|of|to|is)\\b", "es" -> "\\b(el|la|de|que|y)\\b",
      "de" -> "\\b(der|die|das|und|ist)\\b", "fr" -> "\\b(le|les|et|des|est)\\b")
    val derived = Set("n_chars", "n_tokens", "alpha_chars", "n_stops", "quality",
      "pred_lang") ++ markers.map { case (l, _) => s"c_$l" }
    val extra = docs.columns.filterNot(c => Seq("doc_id", "text").contains(c) || derived(c)).toSeq
    docs.select(Seq(col("doc_id"), col("text")) ++ extra.map(col) ++ Seq(
        length(col("text")).cast("long").as("n_chars"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("n_tokens"),
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long").as("alpha_chars"),
        regexp_count(lower(col("text")), lit(stops)).cast("long").as("n_stops")): _*)
      .filter(col("n_chars") > 0 && col("n_tokens") > 0)
      .select(Seq(col("doc_id"), col("text")) ++ extra.map(col) ++
        Seq(TextAnalysis.qualityCol.as("quality")) ++ markers.map { case (l, p) =>
          regexp_count(lower(col("text")), lit(p)).cast("long").as(s"c_$l")
        }: _*)
      .withColumn("pred_lang", TextAnalysis.predLangCol)
      .filter(col("quality") >= qualityMin && col("pred_lang") === lang)
      .select(Seq(col("doc_id"), col("text")) ++ extra.map(col) :+ col("quality"): _*)
  }

  private def regexCurateRows(input: String): Set[(Long, Double)] = Ckpt.scoped { sc =>
    val exact = Dedup.dedupedCorpus(regexCurate(spark.read.parquet(input), 0.75, "en"))
    val sh = sc.persist(Dedup.shinglesHashed(exact))
    val pairs = sc.checkpoint(sc.adopt(Dedup.jaccardVerify(sh,
      Dedup.lshCandidates(Dedup.minhashSignatures(sh)), 0.8)).select("id1", "id2"))
    sc.adopt(Dedup.nearDedupedCorpus(exact, pairs)).select("doc_id", "quality")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
  }

  private val sf01Docs = s"${new java.io.File(sf).getParent}/sf0.01/documents.parquet"

  test("CurateApp.run writes exactly the rows of the regex-scored pipeline at sf0.01") {
    val dir = java.nio.file.Files.createTempDirectory("graft_curate_lock")
    try {
      val want = regexCurateRows(sf01Docs)
      val n = CurateApp.run(spark, sf01Docs, s"$dir/curated")
      val got = spark.read.parquet(s"$dir/curated").select("doc_id", "quality")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      val input = spark.read.parquet(sf01Docs).count()
      assert(want.nonEmpty && want.size < input, s"${want.size} of $input kept: no filtering")
      assert(n == want.size && got == want,
        s"missing ${want.diff(got).take(5)}, extra ${got.diff(want).take(5)}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("CurateApp.run scans its input parquet once") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = java.nio.file.Files.createTempDirectory("graft_curate_scan")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // every scan node of the input, also those inside a cached plan;
    // a cached plan shows up in each query that reads it, so the nodes
    // are collected by identity
    val helper = new AdaptiveSparkPlanHelper {}
    def inputScans(p: SparkPlan): Seq[SparkPlan] = helper.flatMap(p) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.endsWith("documents.parquet")) => Seq(s)
      case m: InMemoryTableScanExec => inputScans(m.relation.cachedPlan)
      case _ => Nil
    }
    try {
      val rows = spark.read.parquet(sf01Docs).count()
      // the count's own scan must not reach the listener
      drainBus()
      spark.listenerManager.register(listener)
      try {
        assert(CurateApp.run(spark, sf01Docs, s"$dir/curated") > 0)
        drainBus()
      } finally spark.listenerManager.unregister(listener)
      val scans = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
      plans.forEach(qe => inputScans(qe.executedPlan).foreach(scans.add))
      var read = 0L
      scans.forEach(s => read += s.metrics("numOutputRows").value)
      assert(!scans.isEmpty, "no scan of the input was seen")
      assert(read == rows, s"the run read $read input rows; the input has $rows")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("CurateApp.run starts 15 Spark jobs at sf0.01") {
    // the pair pipeline 7 (its stages, two cache fills, the pair
    // checkpoint), the verify 5 (candidate ids, their broadcast, one
    // shingle-array aggregate, its checkpoint, one array broadcast),
    // the components 1 (the bounded read), the write 2 (the losers'
    // broadcast and the write); no read-back of the output
    val dir = java.nio.file.Files.createTempDirectory("graft_curate_jobs")
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    try {
      // warm: a first run also infers the input schema
      CurateApp.run(spark, sf01Docs, s"$dir/warm")
      drainBus()
      spark.sparkContext.addSparkListener(counter)
      try {
        assert(CurateApp.run(spark, sf01Docs, s"$dir/curated") > 0)
        drainBus()
      } finally spark.sparkContext.removeSparkListener(counter)
      assert(jobs.get == 15, s"CurateApp.run started ${jobs.get} jobs")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("CurateApp.run leaves the session serializable") {
    // a task closure that captures the session (an MLlib model's
    // training summary does) must still serialize after a run
    val dir = java.nio.file.Files.createTempDirectory("graft_curate_ser")
    try {
      assert(CurateApp.run(spark, s"$sf/documents.parquet", s"$dir/curated") > 0)
      new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream).writeObject(spark)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("CurateApp.run that keeps no document returns 0, the rows it wrote") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val dir = java.nio.file.Files.createTempDirectory("graft_curate_empty")
    try {
      val out = s"$dir/curated"
      // quality is at most 1: every document fails the filter, and the
      // count observed on the write must still arrive
      val n = Await.result(Future(CurateApp.run(spark, s"$sf/documents.parquet", out,
        qualityMin = 2.0)), 120.seconds)
      assert(n == 0 && spark.read.parquet(out).count() == 0, s"returned $n")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("NFC-normalized dedup collapses composed and decomposed encodings") {
    import spark.implicits._
    val composed = "café résumé"          // U+00E9
    val decomposed = "café résumé"     // e + U+0301
    assert(composed != decomposed, "literals must be distinct encodings")
    val docs = Seq((1L, composed), (2L, decomposed), (3L, "unrelated text"))
      .toDF("doc_id", "text")
    val fp = md5(trim(regexp_replace(lower(
      graft.functions.TextFunctions.unicode_normalize(col("text"), "NFC")),
      "\\s+", " ")))
    val groups = docs.groupBy(fp.as("k")).count().collect().map(_.getLong(1)).sorted
    assert(groups.toSeq == Seq(1L, 2L), "NFC must merge the two encodings")
    // NFKC additionally collapses compatibility forms (ligature fi)
    val nfkc = Seq((1L, "ﬁle"), (2L, "file")).toDF("doc_id", "text")
      .select(graft.functions.TextFunctions.unicode_normalize(col("text"), "NFKC").as("t"))
      .collect().map(_.getString(0)).distinct
    assert(nfkc.length == 1)
    // SQL (GraftExtensions)
    val viaSql = spark.sql(
      s"SELECT graft_normalize('café', 'NFC') = 'café'")
      .collect()(0).getBoolean(0)
    assert(viaSql)
  }

  test("simhash near-dup pairs have hamming <= 3") {
    val rows = Dedup.dedupSimhash.fn(spark, sf).collect()
    assert(rows.forall(_.getLong(2) <= 3))
  }

  test("banded simhash LSH returns exactly the quadratic operator's pairs") {
    val bounded = Dedup.dedupSimhash.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the banded path runs unbounded; restrict to the bounded id range
    val banded = Dedup.dedupSimhashLsh.fn(spark, sf)
      .filter(col("id2") < 300).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == bounded)
  }

  test("embedding near-dup cosines are within [-1, 1]") {
    val rows = Dedup.dedupEmbedding.fn(spark, sf).collect()
    assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.0))
  }
}

class SimilaritySpec extends AnyFunSuite {
  import TestSpark._

  test("brute-force top-10 is sorted descending") {
    val sims = Similarity.annBruteforce.fn(spark, sf)
      .select("cos_sim").collect().map(_.getDouble(0))
    assert(sims.length == 10)
    assert(sims.sameElements(sims.sorted.reverse))
  }

  test("lsh ANN prunes: candidate buckets smaller than corpus") {
    val e = Similarity.vectors(spark, sf)
      .withColumn("bucket", Similarity.lshSignature(col("v")))
    val maxBucket = e.groupBy("bucket").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxBucket < e.count(), "LSH failed to split the space")
  }

  test("lsh ANN returns one neighbor per query with valid cosine") {
    val rows = Similarity.annLsh.fn(spark, sf).collect()
    val ids = rows.map(_.getLong(0))
    assert(ids.distinct.length == ids.length)
    assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.0))
  }

  test("pq ANN overlaps the exact top-10 and is deterministic") {
    // sf0.01: 500 vectors, so the 100-candidate shortlist genuinely
    // prunes (at sf0.001 it would cover the whole corpus)
    val dir = "/root/testdata/sf0.01"
    val exact = Similarity.annBruteforce.fn(spark, dir).collect()
      .map(_.getLong(0)).toSet
    val a = Similarity.annPq.fn(spark, dir).collect()
    val b = Similarity.annPq.fn(spark, dir).collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
    assert(a.length == 10)
    val overlap = a.map(_.getLong(0)).toSet.intersect(exact).size
    assert(overlap >= 5, s"PQ top-10 overlaps exact top-10 on only $overlap")
  }

  test("ivfpq ANN overlaps the exact top-10 within its probed lists") {
    val dir = "/root/testdata/sf0.01"
    val exact = Similarity.annBruteforce.fn(spark, dir).collect()
      .map(_.getLong(0)).toSet
    val a = Similarity.annIvfPq.fn(spark, dir).collect()
    val b = Similarity.annIvfPq.fn(spark, dir).collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
    assert(a.length == 10)
    // IVF probing bounds recall (neighbors in unprobed lists are
    // unreachable by design); still expect solid overlap
    val overlap = a.map(_.getLong(0)).toSet.intersect(exact).size
    assert(overlap >= 3, s"IVF-PQ top-10 overlaps exact top-10 on only $overlap")
  }

  test("persisted ivfpq index returns exactly the in-memory ivfpq top-10") {
    val dir = "/root/testdata/sf0.01"
    val mem = Similarity.annIvfPq.fn(spark, dir).collect().map(_.toString)
    val disk = Similarity.annIvfPqPersisted.fn(spark, dir).collect().map(_.toString)
    assert(disk.sameElements(mem),
      s"mem=${mem.mkString(",")} disk=${disk.mkString(",")}")
    // the persisted code scan prunes to the probed list partitions
    // (the shortlist plan — the re-rank executes it eagerly, so the
    // final returned plan no longer contains the codes scan)
    val p = Similarity.ivfPqPersistedShortlist(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PartitionFilters") && p.contains("list"),
      s"no partition pruning on the codes scan:\n$p")
    // and the re-rank reads O(k) row groups via a pushed IN filter
    val r = Similarity.annIvfPqPersisted.fn(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(r.contains("In(vec_id"), s"re-rank id set not pushed:\n$r")
  }

  test("ivf ANN recalls most exact top-1 neighbors (full corpus, every SF)") {
    import org.apache.spark.sql.expressions.Window
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1") if new java.io.File(dir).isDirectory) {
      val e = Similarity.vectors(spark, dir)
      val q = e.filter(col("vec_id") < 20).toDF("id1", "qv")
      val w = Window.partitionBy(col("id1")).orderBy(col("cos_sim").desc, col("id2"))
      val exact = q.crossJoin(e.toDF("id2", "v2")).filter(col("id1") =!= col("id2"))
        .select(col("id1"), col("id2"),
          round(Similarity.cosine(col("qv"), col("v2")), 4).as("cos_sim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ivf = Similarity.annIvf.fn(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ivf.nonEmpty)
      val hits = exact.keys.count(k => ivf.get(k).contains(exact(k)))
      val recall = hits.toDouble / exact.size
      assert(recall >= 0.8, s"recall@1 = $recall at $dir")
    }
  }

  test("pca: orthonormal components, descending variance, projection variance = eigenvalue") {
    val vecs = Similarity.vectors(spark, sf)
    val m = Embeddings.fitPca(vecs)
    // eigenvalues descending, non-negative (covariance is PSD)
    m.eigenvalues.sliding(2).foreach { case Array(a, b) => assert(a >= b - 1e-9) }
    assert(m.eigenvalues.forall(_ >= -1e-9))
    // retained components are orthonormal
    for (i <- m.components.indices; j <- i until m.components.length) {
      val dot = m.components(i).zip(m.components(j)).map { case (a, b) => a * b }.sum
      val expected = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - expected) < 1e-9, s"comp ${i}x$j = $dot")
    }
    // the projected corpus shows exactly the eigenvalue variance along
    // each component — ties the distributed aggregate + codegen'd
    // projection back to the driver-side decomposition
    val projected = Embeddings.project(vecs, m)
    val varCols = m.components.indices.map(j => var_pop(col(s"pc$j")))
    val vars = projected.agg(varCols.head, varCols.tail: _*).collect()(0)
    m.components.indices.foreach { j =>
      val rel = math.abs(vars.getDouble(j) - m.eigenvalues(j)) /
        math.max(m.eigenvalues(j), 1e-12)
      assert(rel < 1e-6, s"pc$j var=${vars.getDouble(j)} vs λ=${m.eigenvalues(j)}")
    }
    // scree query: cumulative ratio ends below 1 and is monotone
    val scree = Embeddings.embPca.fn(spark, sf).collect()
    assert(scree.length == Embeddings.NComponents)
    scree.sliding(2).foreach { case Array(a, b) =>
      assert(b.getDouble(2) >= a.getDouble(2)) }
    assert(scree.last.getDouble(2) <= 1.0)
  }
}

class MultimodalSpec extends AnyFunSuite {
  import TestSpark._

  test("feature extraction covers every payload deterministically") {
    val a = Multimodal.mmFeatures.fn(spark, sf).collect()
    val b = Multimodal.mmFeatures.fn(spark, sf).collect()
    assert(a.length == Tables.documents(spark, sf).count())
    assert(a.sameElements(b))
  }

  test("mm_resize really resamples a planted PNG: exact raster CRC pinned") {
    import spark.implicits._
    // 96x64 gradient, written through the JDK encoder so the payload
    // is a REAL compressed PNG (IDAT inflate + unfilter exercised)
    val (w, h) = (96, 64)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 255 / (w - 1)) << 16) |
        ((y * 255 / (h - 1)) << 8) | ((x + y) % 256))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val pngBytes = bos.toByteArray
    val ds = Seq((1L, pngBytes), (2L, "plain text payload".getBytes("UTF-8")))
      .toDS()
    val rows = Multimodal.resizeAll(ds).orderBy("doc_id").collect()
    val r1 = rows(0)
    assert(r1.getString(1) == "png")
    assert((r1.getInt(2), r1.getInt(3)) == ((w, h)))
    val (nw, nh) = (r1.getInt(4), r1.getInt(5))
    assert((nw, nh) == ((48, 32)))
    assert(r1.getBoolean(8), "PNG payload must take the real resample path")
    // independent replay of the integer-exact nearest-neighbor grid
    // against the ORIGINAL image: same bytes, same CRC
    val expect = new Array[Byte](nw * nh * 3)
    for (y <- 0 until nh; x <- 0 until nw) {
      val sy = math.min(h - 1, ((2 * y + 1) * h) / (2 * nh))
      val sx = math.min(w - 1, ((2 * x + 1) * w) / (2 * nw))
      val rgb = img.getRGB(sx, sy)
      val o = (y * nw + x) * 3
      expect(o) = ((rgb >> 16) & 0xff).toByte
      expect(o + 1) = ((rgb >> 8) & 0xff).toByte
      expect(o + 2) = (rgb & 0xff).toByte
    }
    val c = new java.util.zip.CRC32; c.update(expect)
    assert(r1.getLong(9) == c.getValue,
      "resampled raster bytes must match the independent replay")
    // undecodable payload keeps the planning-only stub path
    val r2 = rows(1)
    assert(!r2.getBoolean(8) && r2.getLong(9) == 0L)
  }

  test("decode stub is pure") {
    val f1 = Multimodal.decodeStub(1L, "hello".getBytes("UTF-8"))
    val f2 = Multimodal.decodeStub(1L, "hello".getBytes("UTF-8"))
    assert(f1 == f2)
    assert(f1.width >= 64 && f1.width < 128)
  }

  test("real PNG/JPEG headers decode to true dimensions through mapPartitions") {
    import spark.implicits._
    def png(w: Int, h: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(33)
      bb.put(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      bb.putInt(13).put("IHDR".getBytes("US-ASCII"))
      bb.putInt(w).putInt(h)
      bb.put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      bb.array()
    }
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(64)
      bb.put(0xff.toByte).put(0xd8.toByte)                 // SOI
      bb.put(0xff.toByte).put(0xe0.toByte).putShort(16)    // APP0, len 16
      bb.put(new Array[Byte](14))
      bb.put(0xff.toByte).put(0xc0.toByte).putShort(11)    // SOF0, len 11
      bb.put(8.toByte).putShort(h.toShort).putShort(w.toShort)
      bb.array()
    }
    val data = Seq(
      (1L, png(640, 480)), (2L, jpeg(320, 200)),
      (3L, "not an image at all".getBytes("UTF-8")))
    val out = Multimodal.features(spark, data.toDF("doc_id", "payload"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(out(1L) == ((640, 480)))
    assert(out(2L) == ((320, 200)))
    // non-image payloads fall back to the deterministic stub range
    assert(out(3L)._1 >= 64 && out(3L)._1 < 128)
  }

  test("real WAV headers decode to true sample rate and duration") {
    import spark.implicits._
    // 44.1 kHz stereo 16-bit: byte rate 176400; 1 s of audio
    def wav(rate: Int, channels: Int, dataLen: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val byteRate = rate * channels * 2
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      bb.putShort(1).putShort(channels.toShort).putInt(rate).putInt(byteRate)
      bb.putShort((channels * 2).toShort).putShort(16)
      bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
      bb.array()
    }
    assert(Multimodal.decodeWav(wav(44100, 2, 176400)) ===
      Some((44100, 2, 1000.0)))
    assert(Multimodal.decodeWav(wav(16000, 1, 8000)) ===
      Some((16000, 1, 250.0)))
    assert(Multimodal.decodeWav("RIFFnope".getBytes("US-ASCII")).isEmpty)
    // and through the batched mapPartitions path, with typed columns
    val out = Multimodal.features(spark,
      Seq((7L, wav(44100, 2, 176400)),
          (8L, "plain text".getBytes("UTF-8"))).toDF("doc_id", "payload"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(7L).getAs[String]("kind") == "wav")
    assert(out(7L).getAs[Int]("sample_rate") == 44100)
    assert(out(7L).getAs[Double]("duration_ms") == 1000.0)
    assert(out(8L).getAs[String]("kind") == "stub")
  }

  test("frame sampling keeps every 4th frame with correct lengths") {
    val rows = Multimodal.mmFrames.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(1) % 4 == 0)
      assert(r.getInt(2) > 0 && r.getInt(2) <= Multimodal.FrameBytes)
    }
    // spot-check one document's frame count against its byte length —
    // a TEXT payload doc (doc_id % 100 < 5 carries planted genuine
    // media since r10, whose byte length is not the text length)
    val doc = graft.sources.Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(100)) >= 5)
      .orderBy(col("doc_id")).limit(1).collect()(0)
    val nBytes = doc.getString(1).getBytes("UTF-8").length
    val expected = (0 until (nBytes + Multimodal.FrameBytes - 1) / Multimodal.FrameBytes)
      .count(_ % 4 == 0)
    assert(rows.count(_.getLong(0) == doc.getLong(0)) == expected)
  }
}

class MediaIndexClusterSpec extends AnyFunSuite {
  import TestSpark._

  test("real MP4 headers decode to true dims, timescale, and duration") {
    import spark.implicits._
    // minimal ISO-BMFF: ftyp + moov{mvhd(v0), trak{tkhd(v0)}}
    def mp4(w: Int, h: Int, timescale: Int, duration: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(16 + 8 + 28 + 8 + 92)
      bb.putInt(16).put("ftyp".getBytes("US-ASCII"))
        .put("isom".getBytes("US-ASCII")).putInt(0)
      bb.putInt(8 + 28 + 8 + 92).put("moov".getBytes("US-ASCII"))
      bb.putInt(28).put("mvhd".getBytes("US-ASCII"))
        .putInt(0)                       // version 0 + flags
        .putInt(0).putInt(0)             // creation/modification
        .putInt(timescale).putInt(duration)
      bb.putInt(8 + 92).put("trak".getBytes("US-ASCII"))
      bb.putInt(92).put("tkhd".getBytes("US-ASCII"))
        .putInt(0).putInt(0).putInt(0)   // vf, ctime, mtime
        .putInt(1).putInt(0).putInt(duration) // track id, rsvd, duration
        .put(new Array[Byte](8 + 2 + 2 + 2 + 2 + 36)) // rsvd..matrix
        .putInt(w << 16).putInt(h << 16) // 16.16 fixed point
      bb.array()
    }
    assert(Multimodal.decodeMp4(mp4(1920, 1080, 600, 9000)) ===
      Some((1920, 1080, 600, 15000.0)))
    assert(Multimodal.decodeMp4(mp4(640, 360, 90000, 45000)) ===
      Some((640, 360, 90000, 500.0)))
    assert(Multimodal.decodeMp4("ftypnope".getBytes("US-ASCII")).isEmpty)
    val out = Multimodal.features(spark,
      Seq((9L, mp4(1280, 720, 1000, 2500))).toDF("doc_id", "payload")).collect()(0)
    assert(out.getString(4) == "mp4")
    assert((out.getInt(1), out.getInt(2)) == ((1280, 720)))
    assert(out.getInt(5) == 1000)          // timescale in sample_rate
    assert(out.getDouble(7) == 2500.0)     // duration_ms
  }

  test("sq8 ANN overlaps the exact top-10 and is deterministic") {
    val dir = "/root/testdata/sf0.01"
    val exact = Similarity.annBruteforce.fn(spark, dir).collect()
      .map(_.getLong(0)).toSet
    val a = Similarity.annSq8.fn(spark, dir).collect()
    val b = Similarity.annSq8.fn(spark, dir).collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
    assert(a.length == 10)
    // one byte per dimension against per-dim bounds loses far less
    // than PQ's 8 B/vector: expect near-perfect agreement
    val overlap = a.map(_.getLong(0)).toSet.intersect(exact).size
    assert(overlap >= 8, s"SQ8 top-10 overlaps exact top-10 on only $overlap")
  }

  test("bisecting k-means partitions every point into K clusters") {
    val rows = KMeans.kmeansBisecting.fn(spark, sf).collect()
    assert(rows.length == KMeans.K)
    val total = KMeans.points(Tables.lineitem(spark, sf)).count()
    assert(rows.map(_.getLong(1)).sum == total)
    assert(rows.forall(_.getLong(1) > 0))
  }

  test("GIF and BMP headers decode to true dimensions") {
    def gif(w: Int, h: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(16)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("GIF89a".getBytes("US-ASCII"))
        .putShort(w.toShort).putShort(h.toShort)
      bb.array()
    }
    def bmp(w: Int, h: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(32)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("BM".getBytes("US-ASCII")).putInt(32).putInt(0).putInt(54)
      bb.putInt(40).putInt(w).putInt(h)
      bb.array()
    }
    assert(Multimodal.decodeGif(gif(320, 200)) === Some((320, 200)))
    assert(Multimodal.decodeBmp(bmp(640, 480)) === Some((640, 480)))
    assert(Multimodal.decodeBmp(bmp(640, -480)) === Some((640, 480))) // top-down
    assert(Multimodal.decodeGif("GIFnope".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.decode(5L, gif(320, 200)).kind == "gif")
    assert(Multimodal.decode(6L, bmp(640, 480)).kind == "bmp")
  }

  test("embedding clusters are consistent with the IVF pair graph") {
    val e = Similarity.vectors(spark, sf)
    val pairs = Similarity.embeddingIvfPairs(
      e, Similarity.coarseCentroids(e, Similarity.annIndex(spark, sf)), 0.35, probes = 2)
    val clusters = graft.operators.Embeddings.embCluster.fn(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.nonEmpty)
    // members account for every node in the pair graph, grouped sizes sum up
    val nodes = pairs.select("id1").union(pairs.select("id2"))
      .distinct().count()
    assert(clusters.values.sum == nodes)
    // representatives are themselves nodes (component minima)
    assert(clusters.keySet.forall(rep => clusters(rep) >= 1))
  }

  test("perplexity buckets cover the corpus with monotonic score ranges") {
    val rows = TextAnalysis.textPerplexityBucket.fn(spark, sf).collect()
    assert(rows.length == 10)
    val total = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == total)
    // bucket k's max_score never exceeds bucket k+1's min... buckets
    // ascend in score because assignment counts thresholds below
    val sorted = rows.sortBy(_.getLong(0))
    sorted.sliding(2).foreach {
      case Array(lo, hi) => assert(lo.getDouble(4) <= hi.getDouble(3) + 1e-9,
        s"bucket ${lo.getLong(0)} max ${lo.getDouble(4)} > bucket ${hi.getLong(0)} min ${hi.getDouble(3)}")
      case _ =>
    }
  }

  test("markov transitions are probabilities summing to one per source") {
    val rows = EventOps.eventsMarkov.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (src, ts) =>
      val psum = ts.map(_.getDouble(3)).sum
      assert(math.abs(psum - 1.0) < 0.01, s"$src transition mass $psum")
    }
  }
}

class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  test("streaming hourly agg equals batch hourly agg") {
    val batch = EventOps.eventsHourly.fn(spark, sf).collect()
    val stream = EventOps.streamHourly.fn(spark, sf).collect()
    assert(stream.length == batch.length)
    assert(stream.map(_.toString).sorted.sameElements(batch.map(_.toString).sorted))
  }

  test("streaming session windows equal batch session windows") {
    val batch = EventOps.eventsSessionWindow.fn(spark, sf).collect()
    val stream = EventOps.streamSessions.fn(spark, sf).collect()
    assert(stream.length == batch.length)
    assert(stream.map(_.toString).sorted.sameElements(batch.map(_.toString).sorted))
  }

  test("funnel counts follow the stage ordering rules on a handcrafted timeline") {
    import spark.implicits._
    def t(min: Int) = new java.sql.Timestamp(min * 60000L)
    // u1: view(0) click(10) purchase(20)      -> converts
    // u2: click(0) purchase(10), no view      -> no conversion
    // u3: view(0) click(45) purchase(50)      -> click not qualified (45 > 30)
    // u4: view(0) click(10) purchase(55)      -> purchase too late after click
    val ev = Seq(
      (1L, 1L, "view", t(0)), (1L, 2L, "click", t(10)), (1L, 3L, "purchase", t(20)),
      (2L, 4L, "click", t(0)), (2L, 5L, "purchase", t(10)),
      (3L, 6L, "view", t(0)), (3L, 7L, "click", t(45)), (3L, 8L, "purchase", t(50)),
      (4L, 9L, "view", t(0)), (4L, 10L, "click", t(10)), (4L, 11L, "purchase", t(55)))
      .toDF("user_id", "event_id", "event_type", "ts")
    val r = EventOps.funnelCounts(ev).collect()(0)
    assert(r.getLong(0) == 4L)
    assert(r.getLong(1) == 1L)
  }

  test("parquet sink roundtrip equals batch hourly agg") {
    val batch = EventOps.eventsHourly.fn(spark, sf).collect()
    val sunk = EventOps.streamSinkRoundtrip.fn(spark, sf).collect()
    assert(sunk.length == batch.length)
    assert(sunk.map(_.toString).sorted.sameElements(batch.map(_.toString).sorted))
  }

  test("watermark-bounded streaming dedup equals batch distinct counts") {
    val batch = graft.sources.Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("event_type").collect()
    val stream = Dedup.streamDedupWm.fn(spark, sf).collect()
    assert(stream.map(_.toString).sameElements(batch.map(_.toString)))
  }

  test("hourly agg and dedup state survive multiple micro-batches") {
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft_multibatch")
    try {
      val src = s"$tmp/events"
      graft.sources.Tables.events(spark, sf)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .repartition(3).write.parquet(src)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType)))
      // one file per trigger → three micro-batches; the watermark
      // advances between batches but its 90-day delay spans the data,
      // so no state is evicted and results must be EXACT
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val agg = stream.withWatermark("ts", "90 days")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val q = agg.writeStream.format("memory")
        .queryName("mb_hourly").outputMode("complete").start()
      val d = stream.withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark("event_type", "user_id")
        .select("event_type", "user_id")
      val q2 = d.writeStream.format("memory")
        .queryName("mb_dedup").outputMode("append").start()
      try {
        q.processAllAvailable(); q2.processAllAvailable()
        assert(q.lastProgress.batchId >= 2, "expected >= 3 micro-batches")
        val batchAgg = graft.sources.Tables.events(spark, sf)
          .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
          .agg(count(lit(1)).as("n")).collect().map(_.toString).sorted
        val streamAgg = spark.table("mb_hourly").collect().map(_.toString).sorted
        assert(streamAgg.sameElements(batchAgg))
        val batchDistinct = graft.sources.Tables.events(spark, sf)
          .select("event_type", "user_id").distinct().count()
        assert(spark.table("mb_dedup").count() == batchDistinct)
      } finally { q.stop(); q2.stop() }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("mapGroupsWithState folds state incrementally across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val q = graft.streaming.EventStreams.userStatsAgg(spark)(
        mem.toDF().toDF("user_id", "value"))
      .writeStream.format("memory").queryName("mgws_test").outputMode("update")
      .start()
    try {
      mem.addData((1L, 1.0), (1L, 2.0), (2L, 10.0))
      q.processAllAvailable()
      mem.addData((1L, 3.0), (2L, 0.5), (3L, 7.0))
      q.processAllAvailable()
      // last update per user wins = running totals over both batches
      val fin = spark.table("mgws_test")
        .groupBy("user_id")
        .agg(org.apache.spark.sql.functions.max("n_events").as("n"),
          org.apache.spark.sql.functions.max("total_value").as("tot"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(fin(1L) == ((3L, 6.0)))
      assert(fin(2L) == ((2L, 10.5)))
      assert(fin(3L) == ((1L, 7.0)))
    } finally q.stop()
  }
}

class TextSpec extends AnyFunSuite {
  import TestSpark._

  test("token counts are positive and bounded by char counts") {
    val rows = TextAnalysis.textTokens.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(1) > 0 && r.getLong(1) <= r.getLong(2)))
  }

  test("quality score is in [0, 1]") {
    val rows = TextAnalysis.textQuality.fn(spark, sf)
      .select("quality").collect().map(_.getDouble(0))
    assert(rows.forall(q => q >= 0.0 && q <= 1.0))
  }

  test("repetition ratios: degenerate text scores high, varied text zero") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam"),
      (2L, "all words here are different tokens")).toDF("doc_id", "text")
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)).as("toks"))
      .withColumn("grams", expr(
        "transform(sequence(0, size(toks) - 3), i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))"))
      .select(col("doc_id"),
        (lit(1) - size(array_distinct(col("toks"))).cast("double") / size(col("toks"))).as("dw"),
        (lit(1) - size(array_distinct(col("grams"))).cast("double") / size(col("grams"))).as("dg"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(df(1L)._1 == 0.75 && df(1L)._2 == 0.5) // 1 distinct of 4; 1 distinct 3-gram of 2
    assert(df(2L)._1 == 0.0 && df(2L)._2 == 0.0)
    val rows = TextAnalysis.textRepetition.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val (w, g) = (r.getDouble(2), r.getDouble(3))
      w >= 0 && w <= 1 && g >= 0 && g <= 1
    })
  }

  test("redaction scrubs emails and phone numbers, leaves clean text alone") {
    import spark.implicits._
    val out = Seq(
      (1L, "contact bob.smith+x@example.org or 555-123-4567 today"),
      (2L, "no pii in this one")).toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.redact(col("text")).as("r"),
        TextAnalysis.piiCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L)._1 == "contact <EMAIL> or <PHONE> today")
    assert(out(1L)._2 == 2L)
    assert(out(2L) == (("no pii in this one", 0L)))
  }

  test("hash-based mixing keeps the same rows on every run and respects rates") {
    val a = Curation.pipelineMix.fn(spark, sf).collect()
    val b = Curation.pipelineMix.fn(spark, sf).collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
    // band-3 sources (rate 1.0) keep every document
    val total = graft.sources.Tables.documents(spark, sf)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = a.map(r => r.getString(0) -> r.getLong(1)).toMap
    total.keys.filter(s => s.drop(3).toInt % 4 == 3).foreach { s =>
      assert(kept(s) == total(s), s"full-rate source $s dropped rows")
    }
    total.keys.filter(s => s.drop(3).toInt % 4 == 0).foreach { s =>
      assert(kept.getOrElse(s, 0L) < total(s), s"quarter-rate source $s kept everything")
    }
  }

  test("minhash end-to-end corpus keeps one survivor per minhash component") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val pairs = Dedup.dedupMinhash.fn(spark, sf).select("id1", "id2")
    val labels = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kept = Dedup.dedupMinhashCorpus.fn(spark, sf)
      .collect().map(_.getLong(0)).toSet
    labels.foreach { case (id, label) =>
      assert(kept.contains(id) == (id == label))
    }
    assert(kept.size == docs.count() - labels.count { case (id, l) => id != l })
  }

  test("bigram LM scores natural text above gibberish") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
    val table = TextAnalysis.bigramLogProbs(docs)
    assert(table.nonEmpty && table.values.forall(_ < 0.0))
    val probe = Seq(
      (1L, "the data table and the query plan for the join"),
      (2L, "zq xj qz jx zq xj qz jx zq xj qz jx"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.lmScoreCol(col("text"), table).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(probe(1L) > probe(2L),
      s"natural ${probe(1L)} should beat gibberish ${probe(2L)}")
    // the full entry runs and is deterministic
    val a = TextAnalysis.textLmScore.fn(spark, sf).collect()
    val b = TextAnalysis.textLmScore.fn(spark, sf).collect()
    assert(a.nonEmpty && a.map(_.toString).sameElements(b.map(_.toString)))
    // the broadcast-join formulation matches the map-literal column
    // formulation (same table, same floor) within FP-order tolerance
    val viaCol = docs.filter(length(col("text")) >= 2)
      .select(col("doc_id"), TextAnalysis.lmScoreCol(col("text"), table).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    a.foreach { r =>
      assert(math.abs(r.getDouble(2) - viaCol(r.getLong(0))) < 1e-3,
        s"doc ${r.getLong(0)}: join=${r.getDouble(2)} col=${viaCol(r.getLong(0))}")
    }
  }

  test("BPE training and encoding follow the classic algorithm") {
    import graft.functions.Bpe
    // word-freq table {low:5, lower:2, newest:6, widest:3} — the
    // Sennrich-style toy corpus. Most frequent pair first: "es" (9).
    val merges = Bpe.trainMerges(
      Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L), 4)
    assert(merges.head == ("e", "s"))
    assert(merges(1) == ("es", "t"), s"got $merges") // est: 9 beats lo: 7
    assert(merges(2) == ("l", "o"))
    val r = Bpe.ranks(merges)
    // "newest" -> n e w est -> after (l,o): unchanged = 4 tokens
    assert(Bpe.encodePieceCount("newest", r) == 4)
    // unseen text: no applicable merges, one token per char
    assert(Bpe.encodePieceCount("zq", r) == 2)
    assert(Bpe.encodePieceCount("", r) == 0)
    // determinism: training twice gives identical merges
    assert(Bpe.trainMerges(
      Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L), 4) == merges)
  }

  test("merged BPE counts sit between piece counts and char counts") {
    val rows = TextAnalysis.textBpeMerged.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val chars = Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var merged = 0L; var pieces = 0L
    rows.foreach { r =>
      val (id, nBpe, nPieces) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(nBpe >= nPieces, s"doc $id: fewer tokens than pieces")
      assert(nBpe <= chars(id), s"doc $id: more tokens than characters")
      merged += nBpe; pieces += nPieces
    }
    // corpus-trained merges must actually compress: far fewer tokens
    // than characters (at tiny SFs the vocabulary is small enough
    // that every piece may fully merge, so merged == pieces is legal)
    assert(merged < chars.values.sum / 2)
    assert(pieces > 0 && merged >= pieces)
  }

  test("tfidf keywords: at most 3 per doc, positive scores, rare beats common") {
    val rows = TextAnalysis.textTfidf.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length <= 3)
    }
    assert(rows.forall(_.getDouble(2) > 0.0))
    // a word in every document scores minimal idf: it should not be
    // anyone's top keyword unless wildly frequent in-doc
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    assert(rows.length >= n / 2 * 3 / 2) // most docs produce keywords
  }

  test("stratified sample draws exactly min(50, source size) per source, deterministically") {
    val a = Curation.pipelineSampleN.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val b = Curation.pipelineSampleN.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(a.sameElements(b))
    val sizes = Tables.documents(spark, sf).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    a.groupBy(_._2).foreach { case (src, rs) =>
      assert(rs.length == math.min(50L, sizes(src)),
        s"$src drew ${rs.length} of ${sizes(src)}")
    }
  }

  test("count-min estimates bound the exact counts within eps·N") {
    val rows = TextAnalysis.textCmsFreq.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 20)
    val totalWords = graft.sources.Tables.documents(spark, sf)
      .select(sum(TextAnalysis.tokenCount(lower(col("text")))))
      .collect()(0).getLong(0)
    rows.foreach { case (w, exact, est) =>
      assert(est >= exact, s"CMS underestimated '$w'")
      assert(est <= exact + math.ceil(0.001 * totalWords).toLong * 10,
        s"CMS estimate for '$w' beyond 10x the eps*N bound: $est vs $exact")
    }
  }

  test("fingerprint is stable under whitespace noise") {
    import spark.implicits._
    val df = Seq((1L, "a  b\tc"), (2L, "a b c")).toDF("doc_id", "text")
    val fps = df.select(
      md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))).collect()
    assert(fps(0) == fps(1))
  }

  test("winnowing guarantees a shared fingerprint for substrings of length k+w-1") {
    import spark.implicits._
    val guarantee = TextAnalysis.WinnowK + TextAnalysis.WinnowW - 1
    // two otherwise-different docs sharing exactly one long passage
    val shared = "the quick brown fox jumps over the lazy dog tonight"
    assert(shared.length >= guarantee)
    val a = s"completely unrelated preamble text here. $shared and then some more."
    val b = s"different opening words entirely!! $shared trailing content differs too."
    val c = "no overlap with anything else at all; this document stands alone fully."
    val fps = TextAnalysis.winnowFingerprints(
      Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text"))
      .collect().groupBy(_.getLong(0)).map { case (k, v) =>
        k -> v.map(_.getString(1)).toSet }
    assert((fps(1L) & fps(2L)).nonEmpty, "shared passage produced no shared fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty, "unrelated docs share a fingerprint")
    assert((fps(2L) & fps(3L)).isEmpty)
  }

}

package graft

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{KMeans, Relational}
import graft.sources.SourceOps

/** Plan-regression tests: lock in the physical-plan properties the
  * 100 TB posture depends on (pushdown, pruning, broadcast, top-k,
  * single-shuffle aggregation) so a refactor can't silently lose
  * them. See PLANS.md.
  */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  /** Every expression node of `df`'s executed plan (run first, so AQE's
    * final plan).
    */
  private def executedExprs(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    df.collect()
    new AdaptiveSparkPlanHelper {}.flatMap(df.queryExecution.executedPlan)(
      _.expressions.flatMap(_.collect { case e => e }))
  }

  test("curate and text_quality run TextStats once per row and no regex") {
    def audit(label: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val exprs = executedExprs(df)
      val kernels = exprs.count(_.isInstanceOf[org.apache.spark.sql.graft.TextStats])
      val regex = exprs.map(_.prettyName).filter(_.startsWith("regexp")).distinct
      val plan = df.queryExecution.executedPlan.toString
      assert(kernels == 1, s"$label: TextStats appears $kernels times in\n$plan")
      assert(regex.isEmpty, s"$label: ${regex.mkString(", ")} in\n$plan")
    }
    val docs = graft.sources.Tables.documents(spark, sf)
    audit("CurateApp.curate", CurateApp.curate(docs, 0.75, "en"))
    audit("text_quality", SparkEntry.queries("text_quality")(spark, sf))
  }

  test("text_ttr tokenizes each document once") {
    val df = SparkEntry.queries("text_ttr")(spark, sf)
    val exprs = executedExprs(df)
    val toks = exprs.count(_.prettyName == "regexp_extract_all")
    val plan = df.queryExecution.executedPlan.toString
    assert(toks == 1, s"regexp_extract_all appears $toks times in\n$plan")
    assert(!exprs.exists(_.isInstanceOf[org.apache.spark.sql.graft.TextStats]), plan)
  }

  test("the spherical fit's unit projection has no higher-order function") {
    val df = KMeans.unitEmbeddings(spark, sf)
    val hofs = executedExprs(df)
      .collect { case h: org.apache.spark.sql.catalyst.expressions.HigherOrderFunction => h }
    assert(hofs.isEmpty, s"${hofs.mkString(", ")} in\n${df.queryExecution.executedPlan}")
  }

  test("q1_pricing pushes the date filter and prunes columns") {
    val p = formatted("q1_pricing")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    // untouched columns must not be read
    assert(!p.contains("l_partkey") && !p.contains("l_orderkey"))
  }

  test("q3_revenue broadcasts the dimension side") {
    val p = plan("q3_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_topk plans as TakeOrderedAndProject (no global sort)") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
  }

  test("kmeans assignment is map-side: no shuffle") {
    // a Lloyd iteration is one sweep job over this plan: the assignment
    // and the per-cluster sums run in its tasks, the merge on the driver
    val rows = KMeans.sweepRows(KMeans.points(graft.sources.Tables.lineitem(spark, sf)))
    val p = rows.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"expected no shuffle, plan:\n$p")
    assert(!p.toLowerCase.contains("udf"))
    def shuffles(r: org.apache.spark.rdd.RDD[_]): Int = r.dependencies.map {
      case d: org.apache.spark.ShuffleDependency[_, _, _] => 1 + shuffles(d.rdd)
      case d => shuffles(d.rdd)
    }.sum
    assert(shuffles(rows.queryExecution.toRdd) == 0)
  }

  test("partitioned scan prunes partitions at file listing") {
    val p = formatted("src_partitioned_scan")
    assert(p.contains("PartitionFilters"))
    assert(p.contains("o_orderstatus"))
  }

  test("banded simhash LSH pairs within grouped buckets, never cartesian") {
    // bucketPairs: one group-by on (band, bv), a member-list expansion,
    // and no join at all (the signatures ride along as payload)
    val p = plan("dedup_simhash_lsh")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Join"), s"a join in:\n$p")
    assert(p.contains("collect_list") && p.contains("Generate"), s"no bucket expansion in:\n$p")
  }

  /** The executed plans of every query `name` runs: its driver
    * collects and checkpoints, then its result.
    */
  private def executedPlans(name: String): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    drainBus()
    spark.listenerManager.register(listener)
    try {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      drainBus()
      seen.toArray(Array.empty[SparkPlan]).toSeq :+
        df.queryExecution.executedPlan
    } finally spark.listenerManager.unregister(listener)
  }

  test("every ANN top-k cut runs TopKPerKey; a rank window sees only its survivors") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.graft.TopKPerKeyExec
    val helper = new AdaptiveSparkPlanHelper {}
    def finals(p: SparkPlan) = helper.collect(p) { case t: TopKPerKeyExec if !t.partial => t }
    // entry -> whether it numbers its survivors (rank) or keeps the best one
    val cuts = Seq(
      "ann_topk_join" -> false, "ann_lsh" -> false, "ann_ivf" -> false,
      "ann_recall_eval" -> false, "emb_knn_graph" -> true,
      "emb_knn_graph_ivf" -> true, "ann_nsw" -> true, "ann_hamming" -> true)
    for ((name, ranked) <- cuts) {
      val plans = executedPlans(name)
      val shown = plans.mkString("\n---\n").take(6000)
      assert(plans.exists(finals(_).nonEmpty), s"$name plans no TopKPerKeyFinal:\n$shown")
      val windows = plans.flatMap(helper.collect(_) { case w if w.nodeName.startsWith("Window") => w })
      if (ranked) for (w <- windows)
        assert(finals(w).nonEmpty, s"$name ranks candidates no TopKPerKey cut:\n$w")
      else assert(windows.isEmpty, s"$name plans a Window:\n$shown")
    }
  }

  test("dedupedCorpus keeps the lowest doc_id in an aggregate, never TopKPerKey") {
    // nearly every document is its own fingerprint group, so an
    // in-memory per-key map (TopKPerKey's) would hold the whole corpus
    val p = graft.operators.Dedup.dedupedCorpus(graft.sources.Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!p.contains("TopKPerKey") && !p.contains("Window"), p)
    assert(p.contains("min_by"), s"no min_by aggregate in:\n$p")
  }

  test("minhash LSH candidate generation is an equality join, never cartesian") {
    val sh = graft.operators.Dedup.shinglesHashed(
      graft.sources.Tables.documents(spark, sf))
    val p = graft.operators.Dedup.lshCandidates(
      graft.operators.Dedup.minhashSignatures(sh))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("connected-components rounds are equality joins on node id") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    // force the distributed path — the default takes the driver
    // fallback on a graph this small
    val p = withBudget(0)(graft.operators.Dedup.connectedComponents(pairs))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("pq ANN prunes via TakeOrdered shortlist and pushes the id set into the re-rank scan") {
    val p = plan("ann_pq")
    assert(p.contains("TakeOrderedAndProject"))
    // re-rank must be a pushed IN filter on the corpus scan (reads
    // O(k) row groups), not a join that scans every vector's bytes
    assert(p.contains("In(vec_id"), s"no pushed IN(vec_id) filter:\n$p")
    assert(!p.contains("Join"), s"re-rank must not join the corpus:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("ivfpq ANN keeps the same shortlist/re-rank shape") {
    val p = plan("ann_ivfpq")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("In(vec_id"), s"no pushed IN(vec_id) filter:\n$p")
    assert(!p.contains("Join"), s"re-rank must not join the corpus:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    import org.apache.spark.sql.functions._
    val keep = Seq(
      "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // 95% of the left rows share key 0 → one shuffle partition dwarfs
      // the rest; AQE must split it instead of leaving one straggler
      val left = spark.range(300000)
        .select(when(col("id") % 20 =!= 0, lit(0L)).otherwise(col("id") % 64).as("k"),
          col("id").as("a"))
      val right = spark.range(64).select(col("id").as("k"), col("id").as("b"))
      val joined = left.join(right, "k")
      // materialize THIS QueryExecution (count() would plan its own)
      assert(joined.collect().length == 300000)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("AQEShuffleRead") && p.toLowerCase.contains("skewed"),
        s"no skew split in adaptive plan:\n$p")
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketized interval join is an equality join, never nested-loop") {
    val p = plan("q_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("minhash verify path never broadcasts a corpus-sized subtree") {
    // The per-document shingle-count table has one row per document —
    // broadcasting it unrestricted OOMs at corpus scale. The contract:
    // any BroadcastExchange whose subtree scans the corpus must also
    // contain the LeftSemi candidate-id restriction (candidates are
    // small by LSH construction).
    val sh = graft.operators.Dedup.shinglesHashed(
      graft.sources.Tables.documents(spark, sf))
    val cand = graft.operators.Dedup.lshCandidates(
      graft.operators.Dedup.minhashSignatures(sh))
    val verified = graft.operators.Dedup.jaccardVerify(sh, cand, 0.8)
    val p = verified.queryExecution.executedPlan.toString
    val lines = p.linesIterator.toVector
    def depth(l: String): Int = l.indexWhere(c => !" :+-".contains(c))
    val bIdx = lines.indices.filter(i => lines(i).contains("BroadcastExchange"))
    assert(bIdx.nonEmpty, s"expected broadcasts in verify plan:\n$p")
    bIdx.foreach { i =>
      val d = depth(lines(i))
      val subtree = lines.drop(i + 1).takeWhile(l => depth(l) > d)
      val scansCorpus = subtree.exists(l =>
        l.contains("Scan") && l.contains("documents"))
      if (scansCorpus)
        assert(subtree.exists(_.contains("LeftSemi")),
          s"corpus-sized subtree under BroadcastExchange at line $i:\n$p")
    }
    // a broadcast that reads a checkpoint does not show the scan it
    // was built from: no broadcast may hold more rows than there are
    // candidate ids
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.functions.col
    val ids = cand.select(col("id1").as("id")).union(cand.select(col("id2"))).distinct().count()
    assert(ids < graft.sources.Tables.documents(spark, sf).count(), "every document is a candidate")
    verified.collect()
    val built = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(verified.queryExecution.executedPlan) { case b: BroadcastExchangeExec =>
        b.metrics("numOutputRows").value }
    assert(built.nonEmpty && built.forall(_ <= ids), s"broadcast rows $built, $ids candidate ids")
  }

  /** The executed plans (AQE's final plans) of every query `body` runs. */
  private def queriesOf(body: => Any): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.QueryExecution
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // queries that finished before `body` may still be on the bus
    drainBus()
    spark.listenerManager.register(listener)
    try {
      body
      drainBus()
    } finally spark.listenerManager.unregister(listener)
    seen.toArray(Array.empty[QueryExecution]).toSeq.map(_.executedPlan)
  }

  test("jaccardVerify aggregates the shingle arrays once and never sorts globally") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectSet, Final}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import graft.operators.Dedup
    // cached, as every pipeline caches the shingles it signs and verifies
    val sh = Dedup.shinglesHashed(graft.sources.Tables.documents(spark, sf)).persist()
    try {
      val cand = Dedup.lshCandidates(Dedup.minhashSignatures(sh))
      val plans = queriesOf(Dedup.jaccardVerify(sh, cand, 0.8).collect())
      val helper = new AdaptiveSparkPlanHelper {}
      val sets = plans.flatMap(p => helper.flatMap(p)(_.expressions.flatMap(_.collect {
        case a: AggregateExpression if a.mode == Final && a.aggregateFunction.isInstanceOf[CollectSet] => a
      })))
      val text = plans.mkString("\n")
      assert(sets.size == 1, s"${sets.size} collect_set aggregates in\n$text")
      // the arrays are built from candidate ids only
      assert(plans.exists(p => p.toString.contains("collect_set") && p.toString.contains("LeftSemi")),
        text)
      assert(!text.contains("rangepartitioning"), text)
    } finally sh.unpersist(blocking = true)
  }

  test("shinglesHashed and shingles tokenize each document once") {
    val docs = graft.sources.Tables.documents(spark, sf)
    for ((label, df) <- Seq("shinglesHashed" -> graft.operators.Dedup.shinglesHashed(docs),
        "shingles" -> graft.operators.Dedup.shingles(docs, Some(300L)))) {
      val toks = executedExprs(df).count(_.prettyName == "regexp_extract_all")
      assert(toks == 1, s"$label: regexp_extract_all appears $toks times in\n" +
        df.queryExecution.executedPlan)
    }
  }

  test("z-ordered layout confines each file to a narrow key rectangle") {
    import org.apache.spark.sql.functions._
    val dir = graft.sources.SourceOps.zorderedLineitem(spark, sf)
    val df = spark.read.parquet(dir)
    val spans = df.groupBy(input_file_name().as("f"))
      .agg((max("l_partkey") - min("l_partkey")).as("span_p"),
        (max("l_suppkey") - min("l_suppkey")).as("span_s"))
      .collect()
    val g = df.agg((max("l_partkey") - min("l_partkey")).as("gp"),
      (max("l_suppkey") - min("l_suppkey")).as("gs")).collect()(0)
    assert(spans.length > 1)
    val avgP = spans.map(_.getLong(1)).sum.toDouble / spans.length
    val avgS = spans.map(_.getLong(2)).sum.toDouble / spans.length
    // 16 z-range files ≈ a 4×4 grid of rectangles: each file should
    // cover a small fraction of BOTH key ranges (an unsorted or
    // single-key-sorted layout leaves one dimension spanning ~all)
    assert(avgP < g.getLong(0) * 0.6 && avgS < g.getLong(1) * 0.6,
      s"avg spans $avgP/$avgS vs global ${g.getLong(0)}/${g.getLong(1)}")
  }

  test("dpp join prunes fact partitions from the joined dim at runtime") {
    val p = formatted("q_dpp_join")
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning in:\n$p")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("bloom join prunes the fact scan before the join exchange") {
    val p = plan("q_bloom_join")
    // the codegen'd might-contain predicate must sit in the fact
    // branch (below the join), so non-matching rows never reach the
    // join: in the top-down plan print, the join node appears BEFORE
    // the might_contain filter line.
    val joinAt = p.indexOf("HashJoin")
    val bloomAt = p.indexOf("might_contain")
    assert(bloomAt >= 0, s"no bloom probe in plan:\n$p")
    assert(joinAt >= 0 && joinAt < bloomAt,
      s"might_contain not under the join:\n$p")
  }

  test("compaction collapses the small-file count to the target") {
    val dir = graft.sources.SourceOps.compactedOrders(spark, sf)
    def parquetFiles(p: String): Int =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(dir) == graft.sources.SourceOps.CompactTargetFiles)
    assert(parquetFiles(dir.replace("compacted", "small_files")) == 64)
  }

  test("shuffle_hash hint actually plans a ShuffledHashJoin (no sorts)") {
    val p = plan("q_shuffle_hash_join")
    assert(p.contains("ShuffledHashJoin"), s"hint not honored:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("events_paths shares one user_id shuffle across session numbering and sequence windows") {
    val p = graft.operators.EventOps.eventsPaths.fn(spark, sf)
      .queryExecution.executedPlan.toString
    val userExchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(p).length
    assert(userExchanges == 1,
      s"expected exactly 1 user_id exchange, got $userExchanges:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must not global-sort:\n$p")
  }

  test("malformed CSV rows are quarantined, never dropped or fatal") {
    import org.apache.spark.sql.functions.col
    val r = SourceOps.srcCsvMalformed.fn(spark, sf).collect()(0)
    val customers = graft.sources.Tables.customer(spark, sf)
    val nBad = customers.filter(col("c_custkey") % 50 === 0).count()
    assert(r.getLong(1) == nBad, s"quarantined ${r.getLong(1)} != planted $nBad")
    assert(r.getLong(0) == customers.count() - nBad)
  }

  test("q_histogram_equiwidth broadcasts the bounds, one agg shuffle total") {
    val p = plan("q_histogram_equiwidth")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"bounds not broadcast:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"expected 1 hash exchange, got $shuffles:\n$p")
  }

  test("text_collocations joins are equality joins, never cartesian") {
    val p = plan("text_collocations")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must not global-sort:\n$p")
  }

  test("pipeline_decontaminate broadcasts the bench gram set") {
    val p = plan("pipeline_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"bench grams not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_temporal_join: equality-keyed hash join, interval only residual") {
    val p = plan("q_temporal_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"temporal join degenerated to a non-equality join:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no keyed join in:\n$p")
  }

  test("graph_bipartite: customer-key self-join, never cartesian") {
    val p = plan("graph_bipartite")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must not global-sort:\n$p")
  }

  test("graph_walks: every step is an equality join") {
    val p = plan("graph_walks")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("src_manifest_scan reads only the manifest-selected files") {
    val df = SparkEntry.queries("src_manifest_scan")(spark, sf)
    val dataFiles = df.queryExecution.executedPlan.toString
    // the pruned scan lists fewer than the full layout's file count
    val files = df.inputFiles.count(_.contains("graft_li_mfdata"))
    assert(files > 0 && files < graft.sources.SourceOps.ManifestFiles,
      s"scan reads $files of ${graft.sources.SourceOps.ManifestFiles} files")
  }

  test("kmeans_silhouette: map-side scoring, one hash exchange") {
    val p = plan("kmeans_silhouette")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"expected 1 hash exchange, got $shuffles:\n$p")
    assert(!p.toLowerCase.contains("udf"))
  }

  test("pipeline_oversample: factor relation broadcasts, no sort-merge") {
    val p = plan("pipeline_oversample")
    assert(p.contains("BroadcastHashJoin"), s"factor join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("Generate explode"), s"no explode fan-out in:\n$p")
  }

  test("q_global_rank: corpus window partitioned by band; only the O(bands) offsets pass single-partition") {
    val p = formatted("q_global_rank")
    // the corpus-side rank window must carry the band partition key
    assert(p.contains("windowspecdefinition(band#"),
      s"corpus window lost its band partitioning:\n$p")
    // exactly one SinglePartition exchange is allowed: the O(bands)
    // offsets relation (plus the final ORDER BY of the probe rows)
    val singles = "Exchange SinglePartition".r.findAllIn(p).length
    assert(singles <= 1, s"unexpected single-partition exchanges ($singles):\n$p")
    assert(p.contains("BroadcastExchange"), "offsets must broadcast")
  }

  test("ann_hamming: 5-row query side broadcasts; sign packing is codegen'd (no UDF)") {
    val p = plan("ann_hamming")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), "corpus² cartesian is forbidden")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"))
  }

  test("events_survival: corpus-sized stage is one user aggregate; KM windows run post-aggregate") {
    val p = plan("events_survival")
    // both window passes must sit above the duration aggregate (tiny),
    // and the horizon/total joins must broadcast
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("SortMergeJoin"), s"KM arithmetic must not shuffle-join:\n$p")
  }

  test("src_nested_parquet prunes the item struct to the selected field") {
    val p = formatted("src_nested_parquet")
    // the 3-field struct must shrink to the one field the query reads
    assert(p.contains("items:array<struct<l_extendedprice:double>>"),
      s"nested schema pruning missing:\n$p")
    assert(!p.contains("l_partkey"), "unselected nested field still read")
  }

  test("profile_lof joins on grid-cell equality, never cartesian") {
    val p = plan("profile_lof")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.toLowerCase.contains("udf"))
  }

  test("graph_butterflies joins on the customer key, never cartesian") {
    val p = plan("graph_butterflies")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("graph_landmark_dist queries join on node ids, never a traversal") {
    val p = plan("graph_landmark_dist")
    assert(!p.contains("CartesianProduct"))
    // the only nested-loop is the deliberate 5×4 panel cross join
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl <= 1, s"unexpected nested-loop joins:\n$p")
  }

  test("ts_croston is one group aggregate after the bounded window") {
    val p = plan("ts_croston")
    // no corpus-sized unpartitioned window anywhere
    assert(!p.contains("Window [") ||
      !p.contains("SinglePartition"), s"global window crept in:\n$p")
    assert(!p.toLowerCase.contains("udf"))
  }

  test("mining_hmm and ts_burst fold DPs stay UDF-free") {
    Seq("mining_hmm", "ts_burst").foreach { q =>
      val p = plan(q)
      assert(!p.toLowerCase.contains("batchevalpython") &&
        !p.contains("ScalaUDF"), s"$q uses a UDF:\n$p")
    }
  }

  test("native dot product stays inside whole-stage codegen") {
    val e = graft.operators.Similarity.vectors(spark, sf)
    val p = e.select(graft.functions.VectorFunctions
        .dot_product(org.apache.spark.sql.functions.col("v"),
          org.apache.spark.sql.functions.col("v")))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen span
    val line = p.linesIterator.find(_.contains("graft_dot")).get
    assert(line.replaceFirst("^[\\s:+-]*", "").startsWith("*"),
      s"graft_dot not codegen'd:\n$p")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 optimization locks: the size-adaptive broadcasts added
  * this round must have BOTH regimes value-identical (broadcast and
  * its shuffled/cartesian fallback), and the n-gram expressions'
  * doGenCode must keep their host pipelines inside whole-stage
  * codegen (no CodegenFallback eviction).
  */
class Round11Spec extends AnyFunSuite {
  import TestSpark._

  test("exact-kNN trio: broadcast and cartesian regimes are value-identical") {
    // the Regime budget conf exists for cluster tuning; here it forces
    // the above-budget fallback so both plan shapes are exercised on the
    // same corpus. Survivors must be identical — a cross join's
    // output cannot depend on the join strategy, and the TopKPerKey
    // cut under a total order is deterministic.
    for (name <- Seq("emb_hubness", "emb_knn_graph", "emb_knn_classify")) {
      val dfBc = SparkEntry.queries(name)(spark, sf)
      val bc = dfBc.collect().map(_.toString).toSeq
      assert(dfBc.queryExecution.executedPlan.toString
          .contains("BroadcastNestedLoopJoin"),
        s"$name under-bound should broadcast")
      // over the bound the HINT disappears; the planner/AQE may still
      // pick a broadcast on runtime sizes (that's the graceful part),
      // so disable auto-broadcast too to pin the true cartesian floor
      spark.conf.set(graft.operators.Regime.BudgetConf, "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val dfCart = SparkEntry.queries(name)(spark, sf)
        val cart = dfCart.collect().map(_.toString).toSeq
        val plan = dfCart.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name over-bound must not broadcast:\n${plan.take(2000)}")
        assert(plan.contains("CartesianProduct"), plan.take(2000))
        assert(bc == cart,
          s"$name regimes diverge:\n${bc.take(5)}\nvs\n${cart.take(5)}")
      } finally {
        spark.conf.unset(graft.operators.Regime.BudgetConf)
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("n-gram generators run INSIDE whole-stage codegen (no fallback eviction)") {
    // r10 left CharNgrams/WordGrams/WordGramXxhash as CodegenFallback:
    // correct values, but the Generate hosting them (and its fused
    // scan→filter→project pipeline) was evicted from its
    // WholeStageCodegen span. With doGenCode the executed plan must
    // show the Generate with a codegen id (the `*` prefix in plan
    // text). Execute first — AQE's pre-execution plan carries no
    // codegen annotations.
    val d = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(
        graft.functions.TextFunctions.word_gram_xxhash(col("toks"), 3)).as("sh"))
    d.write.format("noop").mode("overwrite").save()
    val shPlan = graft.operators.Dedup.shinglesHashed(
      graft.sources.Tables.documents(spark, sf))
    shPlan.queryExecution.toRdd.count()
    val plan = shPlan.queryExecution.executedPlan.toString
    assert(plan.contains("graft_word_gram_xxhash"), plan.take(2000))
    assert(plan.linesIterator.exists(l =>
        l.contains("Generate") && l.trim.startsWith("*")),
      s"Generate not codegen'd:\n${plan.take(2000)}")
  }

  test("jaccardVerify: intersect and join-expansion shapes are value-identical") {
    // the size-adaptive pick must never change survivors: drive the
    // SAME candidate set through both shapes — the default budget
    // takes the intersect path on this tiny relation, budget 0 the
    // real join-expansion branch — and against the legacy algebra
    // re-spelled inline from its r10 form as an independent reference.
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf).limit(120)
    val sh = graft.operators.Dedup.shinglesHashed(docs)
    val cand = graft.operators.Dedup.lshCandidates(
      graft.operators.Dedup.minhashSignatures(sh))
    // jaccardVerify returns its pairs unordered: both shapes are
    // sorted here so that the comparison stays row for row
    val fastDf = graft.operators.Dedup.jaccardVerify(sh, cand, 0.8)
    val fast = fastDf.orderBy(col("id1"), col("id2")).collect().map(_.toString).toSeq
    // legacy r10 join-expansion algebra, spelled out
    val p = cand.select(col("id1"), col("id2")).distinct()
    val candIds = p.select(col("id1").as("doc_id"))
      .union(p.select(col("id2").as("doc_id"))).distinct()
    val shCand = sh.join(broadcast(candIds), Seq("doc_id"), "left_semi").distinct()
    val counts = shCand.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = p
      .join(shCand.toDF("id1", "sh"), "id1")
      .join(shCand.toDF("id2b", "sh2"),
        col("id2") === col("id2b") && col("sh") === col("sh2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
    val legacy = inter
      .join(broadcast(counts.toDF("id1", "n1")), "id1")
      .join(broadcast(counts.toDF("id2", "n2")), "id2")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("id1"), col("id2"))
      .collect().map(_.toString).toSeq
    assert(fast == legacy,
      s"shapes diverge:\n${fast.take(10)}\nvs\n${legacy.take(10)}")
    assert(fast.nonEmpty, "vacuous parity: no verified pairs at this SF")
    val fastPlan = fastDf.queryExecution.executedPlan.toString
    assert(fastPlan.contains("array_intersect"), fastPlan.take(2000))
    val expand = withBudget(0)(graft.operators.Dedup.jaccardVerify(sh, cand, 0.8))
    val expandPlan = expand.queryExecution.executedPlan.toString
    assert(!expandPlan.contains("array_intersect"),
      s"budget 0 must take the join-expansion branch:\n${expandPlan.take(2000)}")
    val expanded = expand.orderBy(col("id1"), col("id2")).collect().map(_.toString).toSeq
    assert(fast == expanded,
      s"branches diverge:\n${fast.take(10)}\nvs\n${expanded.take(10)}")
  }

  test("lshCandidates group-then-expand equals the self-join pair set") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf).limit(200)
    val sigs = graft.operators.Dedup.minhashSignatures(
      graft.operators.Dedup.shinglesHashed(docs))
    val now = graft.operators.Dedup.lshCandidates(sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // r10 self-join spelling
    val buckets = graft.operators.Dedup.lshBuckets(sigs)
    val ref = buckets.toDF("id1", "band", "sig")
      .join(buckets.toDF("id2", "band2", "sig2"),
        col("band") === col("band2") && col("sig") === col("sig2")
          && col("id1") < col("id2"))
      .select("id1", "id2").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(now == ref, s"missing=${(ref -- now).take(5)} extra=${(now -- ref).take(5)}")
    assert(now.nonEmpty, "vacuous parity: no candidates at this SF")
  }
}

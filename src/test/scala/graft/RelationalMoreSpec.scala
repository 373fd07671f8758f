package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{EventOps, RelationalMore}
import graft.sources.Tables

class RelationalMoreSpec extends AnyFunSuite {
  import TestSpark._

  test("lateral topk returns the true top-2 orders per nation-1 customer") {
    val rows = RelationalMore.qLateralTopk.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val perCust = rows.groupBy(_.getLong(0))
    assert(perCust.values.forall(_.length <= 2))
    // recompute the expected top-2 independently
    val orders = Tables.orders(spark, sf)
      .select("o_custkey", "o_orderkey", "o_totalprice").collect()
      .groupBy(_.getLong(0))
    perCust.foreach { case (cust, got) =>
      val expect = orders(cust)
        .sortBy(r => (-r.getDouble(2), r.getLong(1)))
        .take(2).map(_.getLong(1)).toSet
      assert(got.map(_.getLong(1)).toSet == expect, s"customer $cust")
    }
    // customers outside nation 1 must not appear
    val nat1 = Tables.customer(spark, sf).filter(col("c_nationkey") === 1)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(perCust.keySet.subsetOf(nat1))
  }

  test("lateral topk decorrelates: no cartesian or nested-loop join") {
    val plan = RelationalMore.qLateralTopk.fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("string_agg lists every nation of each region in sorted order") {
    val rows = RelationalMore.qStringAgg.fn(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val nations = r.getString(1).split(",").toSeq
      assert(nations == nations.sorted)
      assert(nations.length == 5) // 25 nations over 5 regions
    }
  }

  test("mode per group is the true argmax with smallest-value tie-break") {
    val rows = RelationalMore.qMode.fn(spark, sf).collect()
    val counts = Tables.orders(spark, sf)
      .groupBy("o_orderstatus", "o_orderpriority").count().collect()
      .groupBy(_.getString(0))
    rows.foreach { r =>
      val byPrio = counts(r.getString(0)).map(x => x.getString(1) -> x.getLong(2))
      val best = byPrio.sortBy { case (p, n) => (-n, p) }.head
      assert((r.getString(1), r.getLong(2)) == best)
    }
  }

  test("hll sketch table answers per-quarter distinct within 5% of exact") {
    val est = RelationalMore.qHllPartitioned.fn(spark, sf).collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val exact = Tables.orders(spark, sf)
      .groupBy(date_trunc("quarter", col("o_orderdate")).as("q"))
      .agg(countDistinct(col("o_custkey")).as("n")).collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (q, n) =>
      val rel = math.abs(est(q).toDouble - n) / n.toDouble
      assert(rel < 0.05, s"$q: est=${est(q)} exact=$n")
    }
  }

  test("hll sketch merge is re-aggregable: quarters roll up to the global count") {
    val global = RelationalMore.hllSketchTable(spark, sf)
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect()(0).getLong(0)
    val exact = Tables.orders(spark, sf)
      .select(countDistinct(col("o_custkey"))).collect()(0).getLong(0)
    val rel = math.abs(global.toDouble - exact) / exact.toDouble
    assert(rel < 0.05, s"est=$global exact=$exact")
  }

  test("hll sketch table is built once and reused") {
    val dfA = RelationalMore.hllSketchTable(spark, sf)
    val n1 = dfA.count()
    // second call must read the stored table, not rebuild
    val dfB = RelationalMore.hllSketchTable(spark, sf)
    assert(dfB.count() == n1)
    assert(dfB.queryExecution.analyzed.toString.contains("Relation"))
  }

  test("containment flags the planted doc-in-doc pair Jaccard misses") {
    val rows = graft.operators.Dedup.dedupContainment.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(2) >= 0.9 && r.getDouble(2) <= 1.0))
    // independently verify one full-containment pair: A's shingles ⊆ B's
    val full = rows.find(_.getDouble(2) == 1.0)
    assert(full.isDefined, "no containment-1.0 pair in the planted corpus")
    val (a, b) = (full.get.getLong(0), full.get.getLong(1))
    val sh = graft.operators.Dedup.shingles(
        Tables.documents(spark, sf), Some(150L))
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getString(1)).toSet }
    assert(sh(a).subsetOf(sh(b)), s"$a's shingles not all inside $b's")
  }

  test("binaryFile source roundtrips id, length, and checksum") {
    val rows = graft.sources.SourceOps.srcBinaryFiles.fn(spark, sf).collect()
    assert(rows.length == 100)
    val expect = Tables.documents(spark, sf).filter(col("doc_id") < 100)
      .select(col("doc_id"), length(col("text").cast("binary")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(1) == expect(r.getLong(0))))
    // checksums are content-derived, not path-derived: distinct per distinct text
    assert(rows.map(_.getString(2)).distinct.length > 90)
  }

  test("native top-k equals the window formulation on a high-cardinality key") {
    import org.apache.spark.sql.graft.TopKOps
    import org.apache.spark.sql.expressions.Window
    val df = Tables.orders(spark, sf)
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val native = TopKOps.topKPerKey(df,
        keys = Seq(col("o_custkey")),
        order = Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 2)
      .collect().map(_.toString).sorted
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val window = df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2).drop("rk")
      .collect().map(_.toString).sorted
    assert(native.nonEmpty)
    assert(native.toSeq == window.toSeq)
  }

  test("native top-k plan: partial+final execs, one exchange, zero sorts") {
    import org.apache.spark.sql.graft.TopKOps
    val df = Tables.orders(spark, sf)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
    val out = TopKOps.topKPerKey(df,
      keys = Seq(col("o_orderpriority")),
      order = Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)
    out.collect() // materialize so AQE finalizes the physical plan
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKeyPartial"), plan)
    assert(plan.contains("TopKPerKeyFinal"), plan)
    assert(!plan.contains("Sort"), s"native top-k must not sort:\n$plan")
    assert(!plan.contains("Window"), plan)
  }

  test("streaming incremental top-k equals the batch top-k") {
    val streamed = graft.operators.EventOps.streamTopk.fn(spark, sf).collect()
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    val batch = Tables.events(spark, sf)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("event_type"), col("event_id"), round(col("value"), 2).as("value"))
      .orderBy(col("event_type"), col("event_id")).collect()
    assert(streamed.map(_.toString).toSeq == batch.map(_.toString).toSeq)
    assert(streamed.groupBy(_.getString(0)).values.forall(_.length == 5))
  }

  test("corrupt parquet file is skipped, every good row survives") {
    val rows = graft.sources.SourceOps.srcIgnoreCorrupt.fn(spark, sf).collect()
    val expect = Tables.nation(spark, sf).count()
    assert(rows.length == expect)
  }

  test("optimizer rule substitutes the native operator for the window spelling") {
    import org.apache.spark.sql.graft.InferTopKFromWindow
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    def build() = Tables.orders(spark, sf)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2).drop("rk")
    spark.conf.set(InferTopKFromWindow.Flag, "true")
    val (rewritten, plan) =
      try {
        val df = build()
        (df.collect(), df.queryExecution.executedPlan.toString)
      } finally spark.conf.set(InferTopKFromWindow.Flag, "false")
    assert(plan.contains("TopKPerKeyFinal"), plan)
    assert(!plan.contains("Window"), s"window survived the rewrite:\n$plan")
    // flag off: same rows through the untouched window plan
    val baselineDf = build()
    val baseline = baselineDf.collect()
    assert(baselineDf.queryExecution.executedPlan.toString.contains("Window"))
    assert(rewritten.map(_.toString).sorted.toSeq ==
      baseline.map(_.toString).sorted.toSeq)
  }

  test("stream-stream left outer join equals the batch left join and null-extends") {
    val streamed = graft.operators.EventOps.streamJoinOuter.fn(spark, sf).collect()
    assert(streamed.nonEmpty)
    // unmatched purchases must actually appear with a null click_id
    assert(streamed.exists(_.isNullAt(1)), "no null-extended rows emitted")
    val ev = Tables.events(spark, sf)
    val cutoff = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0).toInstant
      .minusSeconds(3 * 3600)
    val p = ev.filter(col("event_type") === "purchase")
      .filter(col("ts") <= lit(java.sql.Timestamp.from(cutoff)))
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val batch = p.join(c,
        col("user_id") === col("c_user") && col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"), "left")
      .select(col("purchase_id"), col("click_id"), col("user_id"))
      .collect()
    assert(streamed.map(_.toString).sorted.toSeq ==
      batch.map(_.toString).sorted.toSeq)
  }

  test("dau/wau: wau bounds dau and the first day's window is just that day") {
    val rows = EventOps.eventsDau.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) <= r.getLong(2))) // dau <= wau
    val first = rows.minBy(_.getTimestamp(0).getTime)
    assert(first.getLong(1) == first.getLong(2)) // nothing precedes day 1
    // wau never exceeds total distinct users
    val users = Tables.events(spark, sf).select(countDistinct(col("user_id")))
      .collect()(0).getLong(0)
    rows.foreach(r => assert(r.getLong(2) <= users))
  }

  test("timeout-state sessionization equals the native session windows") {
    val custom = graft.operators.EventOps.streamSessionsState.fn(spark, sf)
      .collect().map(_.toString).sorted
    val native = graft.operators.EventOps.eventsSessionWindow.fn(spark, sf)
      .collect().map(_.toString).sorted
    assert(custom.nonEmpty)
    assert(custom.toSeq == native.toSeq)
  }

  test("minhash jaccard estimate tracks the exact value within estimator bounds") {
    val rows = graft.operators.Dedup.dedupMinhashEst.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // 64 indicator components: sd ≤ 1/16; mean |err| well under it,
    // worst case a few sd
    val errs = rows.map(_.getDouble(4))
    assert(errs.sum / errs.length <= 0.1,
      s"mean |est-exact| = ${errs.sum / errs.length}")
    assert(errs.max <= 0.35, s"max |est-exact| = ${errs.max}")
  }

  test("events histogram partitions all events exactly once") {
    val rows = EventOps.eventsHistogram.fn(spark, sf).collect()
    val total = Tables.events(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == total)
    rows.foreach { r =>
      val (bucket, avg) = (r.getLong(1), r.getDouble(3))
      assert(avg >= bucket * 25.0 - 1e-9 && avg < (bucket + 1) * 25.0 + 1e-9)
    }
  }

  test("events_attribution conserves purchases and revenue across channels") {
    val rows = EventOps.eventsAttribution.fn(spark, sf).collect()
    val purchases = Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
    assert(rows.map(_.getLong(1)).sum == purchases.count(),
      "every purchase must be attributed exactly once")
    assert(rows.map(_.getString(0)).forall(c =>
      c == "direct" || c != "purchase"), "purchase can never be its own channel")
  }

  test("q_percent_rank: pct_rank spans [0,1] per segment, cume_dist is positive") {
    val rows = graft.operators.RelationalMore.qPercentRank.fn(spark, sf).collect()
    val bySeg = rows.groupBy(_.getString(0))
    bySeg.foreach { case (seg, rs) =>
      val prs = rs.map(_.getDouble(2))
      assert(prs.min == 0.0, s"$seg: lowest balance must have pct_rank 0")
      assert(prs.max == 1.0, s"$seg: highest balance must have pct_rank 1")
      assert(rs.map(_.getDouble(3)).forall(c => c > 0 && c <= 1.0))
    }
  }

  test("src_date_dim generates a dense 731-day calendar with consistent fields") {
    val rows = graft.sources.SourceOps.srcDateDim.fn(spark, sf).collect()
    assert(rows.length == 731)
    assert(rows.map(_.getInt(1)).toSet == Set(1995, 1996))
    assert(rows.map(_.getInt(3)).toSet == (0 to 6).toSet, "all weekdays present")
    rows.foreach(r => assert(r.getBoolean(5) == (r.getInt(3) == 0 || r.getInt(3) == 6)))
  }

  test("q_unpivot emits measures × groups rows through the native melt") {
    val rows = graft.operators.RelationalMore.qUnpivot.fn(spark, sf).collect()
    val flags = rows.map(_.getString(0)).distinct
    assert(rows.length == flags.length * 3, "3 measures per group")
    assert(rows.map(_.getString(1)).distinct.sorted.toSeq ==
      Seq("sum_disc", "sum_price", "sum_qty"))
  }

  test("q_winsorized: clipped mean stays inside the [p05,p95] band") {
    val rows = graft.operators.RelationalMore.qWinsorized.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (wins, p05, p95) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(p05 <= wins && wins <= p95,
        s"${r.getString(0)}: winsorized mean $wins escapes [$p05,$p95]")
    }
  }

  test("q_twophase_distinct avoids Expand and matches the single-pass distinct") {
    val df = graft.operators.RelationalMore.qTwophaseDistinct.fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"two-phase rewrite must not pay the Expand pass:\n$plan")
    val twoPhase = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = Tables.events(spark, sf)
      .groupBy(org.apache.spark.sql.functions.col("event_type"))
      .agg(org.apache.spark.sql.functions.countDistinct(
        org.apache.spark.sql.functions.col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(twoPhase == direct)
  }

  test("q_grouping_id levels partition correctly: 0=data, 1=flag subtotal, 3=grand") {
    val rows = graft.operators.RelationalMore.qGroupingId.fn(spark, sf).collect()
    val byLevel = rows.groupBy(_.getAs[Number](2).intValue)
    assert(byLevel.keySet == Set(0, 1, 3))
    val grand = byLevel(3)
    assert(grand.length == 1 && grand(0).isNullAt(0) && grand(0).isNullAt(1))
    val total = grand(0).getLong(3)
    assert(byLevel(0).map(_.getLong(3)).sum == total,
      "data rows must sum to the grand total")
    assert(byLevel(1).map(_.getLong(3)).sum == total,
      "flag subtotals must sum to the grand total")
  }

  test("events_concurrency: two-phase sweep has no global single-partition window") {
    val df = graft.operators.EventOps.eventsConcurrency.fn(spark, sf)
    val r = df.collect()(0)
    assert(r.getLong(0) > 0 && r.getLong(1) >= 1)
    assert(r.getLong(1) <= r.getLong(0), "peak bounded by session count")
    // the session-sized within-day window must be partitioned by day;
    // the only unpartitioned window runs over the O(days) offsets
    // (logical plan — AQE wrappers hide physical Window nodes)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.nonEmpty
    }
    assert(windows.contains(true),
      "the big within-day sweep window must carry a partition spec")
  }

  test("q_recursive_chain plans through UnionLoop and every path ends at root 0") {
    val df = graft.operators.RelationalMore.qRecursiveChain.fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("UnionLoop"),
      s"recursion must use Spark's native UnionLoopExec:\n$plan")
    val rows = df.collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      val path = r.getString(1)
      assert(path.endsWith(">0") || path == "0", s"path $path must reach root")
      assert(path.split(">").length == r.getInt(2) + 1,
        "depth must equal path length - 1")
    }
  }
}

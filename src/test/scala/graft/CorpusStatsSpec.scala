package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Graph, Profile, RelationalMore, TextAnalysis}
import graft.sources.Tables

/** Invariant pins for the round-5 corpus-statistics operators (their
  * exact values are covered by the DuckDB oracle gate; these pin the
  * structural properties that must hold at ANY scale factor).
  */
class CorpusStatsSpec extends AnyFunSuite {
  import TestSpark._

  test("graph_cc components partition the thresholded co-purchase node set") {
    val comps = Graph.graphCc.fn(spark, sf).collect()
    assert(comps.nonEmpty)
    // a component exists only because of at least one edge, so every
    // component has >= 2 nodes and its label is a real part key
    assert(comps.forall(_.getLong(1) >= 2))
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val nNodes = items.select(col("l_orderkey").as("ok"), col("l_partkey").as("p1"))
      .join(items.select(col("l_orderkey").as("ok2"), col("l_partkey").as("p2")),
        col("ok") === col("ok2") && col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 3)
      .select(explode(array(col("p1"), col("p2"))).as("p"))
      .distinct().count()
    assert(comps.map(_.getLong(1)).sum === nNodes)
  }

  test("profile_drift TVD is a bounded distance and halves cover each type") {
    val rows = Profile.profileDrift.fn(spark, sf).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val tvd = r.getDouble(3)
      assert(tvd >= 0.0 && tvd <= 1.0, s"tvd out of range: $r")
      assert(r.getLong(1) > 0 && r.getLong(2) > 0, s"empty half: $r")
    }
    val perType = Tables.events(spark, sf).groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) === perType(r.getString(0)))
    }
  }

  test("q_histogram_equiwidth bins cover every row exactly once") {
    val rows = RelationalMore.qHistogramEquiwidth.fn(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq === rows.map(_.getInt(0)).toSeq.sorted)
    assert(rows.forall(r => r.getInt(0) >= 0 && r.getInt(0) <= 7))
    assert(rows.map(_.getLong(1)).sum === Tables.lineitem(spark, sf).count())
  }

  test("graph_hits hub and authority scores are L1-normalized") {
    val rows = Graph.graphHits.fn(spark, sf).collect()
    assert(rows.length === 25)
    val hubSum = rows.map(_.getDouble(1)).sum
    val authSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(hubSum - 1.0) < 1e-6, s"hub mass $hubSum")
    assert(math.abs(authSum - 1.0) < 1e-6, s"auth mass $authSum")
    assert(rows.forall(r => r.getDouble(1) >= 0 && r.getDouble(2) >= 0))
  }

  test("events_streaks are maximal runs within the observed day span") {
    val rows = operators.EventOps.eventsStreaks.fn(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val span = graft.sources.Tables.events(spark, sf)
      .select(datediff(max(col("ts").cast("date")), min(col("ts").cast("date"))))
      .head().getInt(0) + 1
    rows.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(1) <= span, s"impossible streak: $r")
    }
    // globally ordered by streak length desc
    val lens = rows.map(_.getLong(1)).toSeq
    assert(lens === lens.sorted.reverse)
  }

  test("events_hour_profile shares sum to 1 per type") {
    val rows = operators.EventOps.eventsHourProfile.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (t, rs) =>
      val total = rs.map(_.getDouble(4)).sum
      assert(math.abs(total - 1.0) < 1e-3, s"shares for $t sum to $total")
      assert(rs.forall(r => r.getInt(1) >= 0 && r.getInt(1) <= 23))
    }
  }

  test("stream_anomaly equals the batch events_anomaly on the same dir") {
    val batch = operators.EventOps.eventsAnomaly.fn(spark, sf).collect().toSet
    val streamed = operators.EventOps.streamAnomaly.fn(spark, sf).collect().toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("events_anomaly_mad flags only |modified z| >= 3.5 at sf0.01") {
    val rows = operators.EventOps.eventsAnomalyMad.fn(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.nonEmpty, "sf0.01 should surface MAD anomalies")
    rows.foreach(r => assert(math.abs(r.getDouble(3)) >= 3.5, s"below threshold: $r"))
  }

  test("pipeline_decontaminate accounts for every non-bench doc") {
    val rows = operators.Curation.pipelineDecontaminate.fn(spark, sf).collect()
    val total = rows.map(r => r.getLong(1) + r.getLong(2)).sum
    val corpus = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") % 37 =!= 0).count()
    assert(total === corpus)
    assert(rows.map(_.getLong(2)).sum > 0, "bench overlap should drop some docs")
  }

  test("graph_assortativity is a bounded correlation over every trade edge") {
    val r = Graph.graphAssortativity.fn(spark, sf).head()
    val a = r.getDouble(0)
    assert(a >= -1.0 && a <= 1.0, s"assortativity out of range: $a")
    assert(r.getLong(1) === Graph.tradeEdges(spark, sf).count())
  }

  test("ts_rolling_stats flags only full-window |z| >= 3 hours") {
    val rows = operators.TimeSeries.tsRollingStats.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(4)) >= 3.0, s"below threshold: $r")
      assert(r.getDouble(3) > 0, s"non-positive rolling mean: $r")
    }
  }

  test("events_user_entropy is bounded by log2(types) and ranked desc") {
    val rows = operators.EventOps.eventsUserEntropy.fn(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val nTypes = graft.sources.Tables.events(spark, sf)
      .select(col("event_type")).distinct().count()
    val bound = math.log(nTypes.toDouble) / math.log(2.0) + 1e-6
    rows.foreach(r => assert(r.getDouble(1) >= 0 && r.getDouble(1) <= bound, s"$r"))
    val es = rows.map(_.getDouble(1)).toSeq
    assert(es === es.sorted.reverse)
  }

  test("q_pit_snapshot: the final as-of equals the current dim state") {
    val rows = operators.RelationalExt.qPitSnapshot.fn(spark, sf).collect()
    assert(rows.length === 3)
    // monotone membership: later snapshots contain at least as many rows
    val ns = rows.map(_.getLong(1)).toSeq
    assert(ns === ns.sorted, s"snapshot row counts must grow: $ns")
    val currentN = operators.RelationalExt.scd2Dim(spark, sf)
      .filter(col("is_current")).count()
    assert(ns.last === currentN,
      "the post-update snapshot must equal the current dim")
  }

  test("mining_prefixspan single-item supports equal independent session counts") {
    val patterns = operators.Linkage.miningPrefixspan.fn(spark, sf).collect()
      .filter(_.getInt(1) === 1)
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(patterns.nonEmpty)
    val seqs = operators.Linkage.sessionSequences(spark, sf)
      .select(flatten(col("sequence")).as("types"))
    patterns.foreach { case (t, freq) =>
      val expected = seqs.filter(array_contains(col("types"), t)).count()
      assert(freq === expected, s"pattern [$t]: prefixspan=$freq independent=$expected")
    }
  }

  test("emb_dim_stats covers all 64 dims with min <= mean <= max") {
    val rows = operators.Embeddings.embDimStats.fn(spark, sf).collect()
    assert(rows.length === 64)
    rows.foreach { r =>
      assert(r.getDouble(2) <= r.getDouble(1) && r.getDouble(1) <= r.getDouble(3),
        s"ordering violated: $r")
    }
  }

  test("q_growth_accounting classes partition each month's actives") {
    val rows = operators.RelationalMore.qGrowthAccounting.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) + r.getLong(3) === r.getLong(4),
        s"classes must partition actives: $r")
    }
    // the first month is all-new
    assert(rows.head.getLong(1) === rows.head.getLong(4))
  }

  test("ts_repair replaces every flagged hour with a neighbor-bounded value") {
    val rows = operators.TimeSeries.tsRepair.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    // repaired values are midpoints/copies of REAL hourly counts, so
    // they live inside the observed count range
    val counts = graft.sources.Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")))
      .count().agg(min("count"), max("count")).head()
    val (lo, hi) = (counts.getLong(0).toDouble, counts.getLong(1).toDouble)
    rows.foreach { r =>
      val repaired = r.getDouble(3)
      assert(repaired >= lo && repaired <= hi, s"repair out of range: $r")
    }
  }

  test("graph_modularity contributions sum to a valid partition score") {
    val rows = operators.Graph.graphModularity.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val q = rows.map(_.getDouble(4)).sum
    assert(q >= -0.5 && q <= 1.0, s"Q out of range: $q")
    // component partition: every edge is intra-community
    val mTotal = rows.map(_.getLong(2)).sum
    rows.foreach(r => assert(r.getLong(1) >= 2 && r.getLong(3) >= 2, s"$r"))
    assert(mTotal > 0)
  }

  test("mm_resize preserves aspect ratio within the target bound") {
    val rows = operators.Multimodal.mmResize.fn(spark, sf).collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val (w, h, nw, nh) = (r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))
      assert(nw <= operators.Multimodal.ResizeTarget &&
        nh <= operators.Multimodal.ResizeTarget, s"target exceeded: $r")
      assert(nw <= w && nh <= h, s"upscaled: $r")
      // aspect preserved to rounding
      val ar = w.toDouble / h
      val nar = nw.toDouble / nh
      assert(math.abs(ar - nar) / ar < 0.1, s"aspect drifted: $r")
      assert(r.getLong(7) === nw.toLong * nh * 3, s"raster size wrong: $r")
    }
  }

  test("kmeans++ init is deterministic, distinct, and data-resident") {
    val pts = operators.KMeans.points(
      graft.sources.Tables.lineitem(spark, sf)).select("x", "y").persist()
    try {
      val a = operators.KMeans.ppInit(pts, 8)
      val b = operators.KMeans.ppInit(pts, 8)
      assert(a.toSeq === b.toSeq, "pp init must be run-deterministic")
      assert(a.distinct.length === 8, "centroids must be distinct")
      val ptSet = pts.collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
      a.foreach(c => assert(ptSet.contains(c), s"centroid $c is not a data point"))
    } finally pts.unpersist(false)
  }

  test("kmeans_elbow cost decreases with k") {
    val rows = operators.KMeans.kmeansElbow.fn(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq === Seq(2L, 4L, 8L, 16L))
    val costs = rows.map(_.getDouble(3)).toSeq
    assert(costs === costs.sorted.reverse, s"cost must fall with k: $costs")
    assert(costs.last > 0)
  }

  test("fused Lloyd sweep matches independent per-k lloyd runs exactly") {
    val allPts = operators.KMeans.points(Tables.lineitem(spark, sf))
    val pts = allPts.select("x", "y").persist()
    try {
      val ks = Seq(2, 4, 8)
      val inits = ks.map(k => k -> operators.KMeans.initCentroids(allPts, k)).toMap
      val fused = operators.KMeans.lloydSets(operators.KMeans.sweepRows(pts),
        ks.map(k => operators.KMeans.Centroids.planar(inits(k))), tol = 1e-3, maxIter = 8)
      ks.zip(fused).foreach { case (k, f) =>
        val (ics, iiters, iconv) = operators.KMeans.lloyd(pts, inits(k), maxIter = 8)
        val (fcs, fiters, fconv) = (f.set.pairs, f.iters, f.converged)
        assert(fiters === iiters, s"k=$k iteration count diverged")
        assert(fconv === iconv, s"k=$k convergence flag diverged")
        ics.zip(fcs).zipWithIndex.foreach { case (((ix, iy), (fx, fy)), c) =>
          assert(math.abs(ix - fx) < 1e-9 && math.abs(iy - fy) < 1e-9,
            s"k=$k centroid $c diverged: ($ix,$iy) vs ($fx,$fy)")
        }
      }
    } finally pts.unpersist(false)
  }

  test("text_collocations lift scores are supported and positive") {
    val rows = TextAnalysis.textCollocations.fn(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      assert(r.getLong(2) >= 5, s"support floor violated: $r")
      assert(r.getDouble(3) > 0.0, s"non-positive lift: $r")
    }
    // descending by lift with (w1, w2) tiebreak
    val lifts = rows.map(_.getDouble(3)).toSeq
    assert(lifts === lifts.sorted.reverse)
  }
}

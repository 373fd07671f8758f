package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, EventOps, Graph, KMeans, Multimodal, Profile, RelationalExt, RelationalMore, TimeSeries}
import graft.sources.{SourceOps, Tables}

/** Invariant pins for the round-5 session-3 operators (exact values
  * are covered by the DuckDB oracle gate; these pin structural
  * properties that must hold at ANY scale factor).
  */
class Round5cOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("q_temporal_join: validity intervals partition the timeline per key") {
    val rows = RelationalExt.qTemporalJoin.fn(spark, sf).collect()
    val matched = rows.map(_.getAs[Long]("n_rows")).sum
    // a fact row is in some version's validity iff its shipdate is on
    // or after the key's EARLIEST valid_from (the synthetic shipdates
    // are random, so some precede it; and for keys whose update
    // effective date precedes the original valid_from, the earliest
    // version is the opened one); within that population every row
    // matches EXACTLY one version — matched == eligible proves both
    // no-loss and no-double-count.
    val firstFrom = RelationalExt.scd2Dim(spark, sf)
      .groupBy(col("o_orderkey").as("k"))
      .agg(min(col("valid_from")).as("first_from"))
    val eligible = Tables.lineitem(spark, sf)
      .join(firstFrom, col("l_orderkey") === col("k"))
      .filter(date_format(col("l_shipdate"), "yyyy-MM-dd") >= col("first_from"))
      .count()
    assert(matched == eligible, s"$matched matched vs $eligible eligible")
    // both the closed and the open version populations are exercised
    assert(rows.map(_.getAs[Boolean]("is_current")).toSet == Set(true, false))
  }

  test("q_incremental_agg: MV + delta merge equals the full recompute") {
    val merged = RelationalMore.qIncrementalAgg.fn(spark, sf)
    val full = Tables.orders(spark, sf)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mo"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("mo"))
    assert(merged.collect().toSeq == full.collect().toSeq)
  }

  test("kmeans_silhouette: scores bounded, population conserved") {
    val rows = KMeans.kmeansSilhouette.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getAs[Double]("mean_sil")
      // a = min distance by construction, so s is in [0, 1]
      assert(s >= 0.0 && s <= 1.0, s"silhouette out of range: $r")
    }
    assert(rows.map(_.getAs[Long]("n")).sum == Tables.lineitem(spark, sf).count())
  }

  test("graph_bipartite: oriented pairs, deterministic descending cut") {
    val rows = Graph.graphBipartite.fn(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach(r =>
      assert(r.getAs[Long]("s1") < r.getAs[Long]("s2"), s"unoriented pair: $r"))
    val w = rows.map(_.getAs[Long]("shared"))
    assert(w.zip(w.tail).forall { case (a, b) => a >= b }, "weights not descending")
  }

  test("graph_walks: one walk per node, every hop is a real edge") {
    val walks = Graph.graphWalks.fn(spark, sf).collect()
    val edges = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(spark, sf), col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").cast("long").as("a"),
        col("s_nationkey").cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct().collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .toSet
    val nodes = edges.map(_._1)
    assert(walks.length == nodes.size)
    walks.foreach { r =>
      val path = (0 to 3).map(i => r.get(i).asInstanceOf[Number].longValue)
      path.zip(path.tail).foreach { hop =>
        assert(edges.contains(hop), s"walk used a non-edge $hop: $r")
      }
    }
  }

  test("graph_walks is deterministic across runs") {
    val a = Graph.graphWalks.fn(spark, sf).collect().toSeq
    val b = Graph.graphWalks.fn(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("pipeline_kfold: folds partition the corpus, train = rest") {
    val rows = Curation.pipelineKfold.fn(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("fold")).toSeq == Seq(0, 1, 2, 3, 4))
    val total = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    rows.foreach { r =>
      assert(r.getAs[Long]("train_docs") == total - r.getAs[Long]("n_docs"))
      // hash-banded folds are balanced within a loose band
      assert(r.getAs[Long]("n_docs") > total / 10, s"fold badly unbalanced: $r")
    }
  }

  test("stream_late_data: late rows behind the watermark are dropped") {
    val counted = EventOps.streamLateData.fn(spark, sf).collect()
      .map(_.getAs[Long]("n")).sum
    val total = Tables.events(spark, sf).count()
    // batch replay of the acceptance rule the stream must enforce
    val ev = Tables.events(spark, sf)
    val wm = ev.filter(col("event_id") % 3 =!= 0)
      .agg(max(col("ts"))).collect()(0).getTimestamp(0).toInstant
      .minusSeconds(3600)
    val accepted = ev.filter(col("event_id") % 3 =!= 0).count() +
      ev.filter(col("event_id") % 3 === 0 &&
        date_trunc("hour", col("ts")) + expr("INTERVAL 1 HOUR") >
          lit(java.sql.Timestamp.from(wm))).count()
    assert(counted == accepted, s"stream counted $counted vs batch $accepted")
    assert(counted < total, "no late row was dropped - watermark inert")
  }

  test("graph_betweenness: sum identity against independent BFS distances") {
    val bc = Graph.graphBetweenness.fn(spark, sf).collect()
      .map(r => r.get(0).asInstanceOf[Number].longValue ->
        r.getAs[Double]("bc")).toMap
    // independent driver-side BFS over the collected 25-node graph
    val edges = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(spark, sf), col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").cast("long").as("a"),
        col("s_nationkey").cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct().collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keySet.toSeq.sorted
    def bfsDist(s: Long): Map[Long, Int] = {
      var dist = Map(s -> 0); var frontier = Set(s); var d = 0
      while (frontier.nonEmpty) {
        d += 1
        frontier = frontier.flatMap(adj(_)).diff(dist.keySet)
        dist ++= frontier.map(_ -> d)
      }
      dist
    }
    // Σ_v bc(v) = Σ_{s<t} (d(s,t) − 1): interior nodes of each
    // shortest path, summed over unordered reachable pairs
    val expected = (for {
      s <- nodes; t <- nodes if s < t
      dd <- bfsDist(s).get(t)
    } yield (dd - 1).toLong).sum.toDouble
    val got = bc.values.sum
    assert(math.abs(got - expected) < 0.01,
      s"sum(bc) = $got but pairwise-distance identity gives $expected")
    assert(bc.values.forall(_ >= 0.0))
  }

  test("profile_benford: all digits, shares sum to ~1, population conserved") {
    val rows = Profile.profileBenford.fn(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("digit")).toSeq == (1 to 9))
    assert(rows.map(_.getAs[Long]("n")).sum == Tables.lineitem(spark, sf).count())
    val shareSum = rows.map(_.getAs[Double]("obs_share")).sum
    assert(math.abs(shareSum - 1.0) < 0.001, s"shares sum to $shareSum")
    val benfordSum = rows.map(_.getAs[Double]("benford_share")).sum
    assert(math.abs(benfordSum - 1.0) < 0.001)
  }

  test("ts_theilsen: pair counts are exactly days-choose-2 per type") {
    val pairs = TimeSeries.tsTheilsen.fn(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_pairs")).toMap
    val days = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(countDistinct(date_trunc("day", col("ts"))).as("nd")).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("nd")).toMap
    assert(pairs.keySet == days.keySet)
    pairs.foreach { case (t, np) =>
      val nd = days(t)
      assert(np == nd * (nd - 1) / 2, s"$t: $np pairs for $nd days")
    }
  }

  test("pipeline_oversample: replication exact, capped, majority untouched") {
    val rows = Curation.pipelineOversample.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val f = r.getAs[Long]("factor")
      assert(f >= 1 && f <= 4, s"factor out of band: $r")
      assert(r.getAs[Long]("n_total") == r.getAs[Long]("n_orig") * f,
        s"materialized count != n x factor: $r")
    }
    val majority = rows.maxBy(_.getAs[Long]("n_orig"))
    assert(majority.getAs[Long]("factor") == 1, s"majority lang was oversampled")
  }

  test("graph_ppr: probability-like mass, source-localized") {
    val ppr = Graph.graphPpr.fn(spark, sf).collect()
      .map(r => r.get(0).asInstanceOf[Number].longValue ->
        r.getAs[Double]("rank")).toMap
    assert(ppr.values.forall(_ >= 0.0))
    // mass ≤ 1 (dangling nodes leak, never create, mass)
    assert(ppr.values.sum <= 1.0 + 1e-6, s"mass ${ppr.values.sum} > 1")
    assert(ppr(0L) > 0.15 - 1e-9, "source lost its own teleport mass")
    // personalization: differs from the global pagerank ordering
    val global = Graph.graphPagerank.fn(spark, sf).collect()
      .map(r => r.get(0).asInstanceOf[Number].longValue ->
        r.getAs[Double]("rank")).toMap
    assert(ppr.maxBy(_._2)._1 == 0L || global.maxBy(_._2)._1 != ppr.maxBy(_._2)._1 ||
      math.abs(ppr.values.sum - global.values.sum) > 1e-9,
      "ppr is indistinguishable from global pagerank")
  }

  test("events_features: one row per user, internally consistent") {
    val rows = EventOps.eventsFeatures.fn(spark, sf).collect()
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.length == nUsers)
    rows.foreach { r =>
      val typed = r.getAs[Long]("n_click") + r.getAs[Long]("n_view") +
        r.getAs[Long]("n_purchase")
      assert(typed <= r.getAs[Long]("n_events"), s"typed counts exceed total: $r")
      assert(r.getAs[Long]("recency_days") >= 0)
      assert(r.getAs[Long]("days_active") >= 1)
    }
  }

  test("q_movers: descending |delta|, delta consistent with revenues") {
    val rows = EventOps.qMovers.fn(spark, sf).collect()
    assert(rows.length == 10)
    val deltas = rows.map(r => math.abs(r.getAs[Double]("delta")))
    assert(deltas.zip(deltas.tail).forall { case (a, b) => a >= b - 0.011 },
      s"movers not |delta|-descending: ${deltas.toSeq}")
    rows.foreach { r =>
      val d = BigDecimal(r.getAs[Double]("rev")) - BigDecimal(r.getAs[Double]("prev_rev"))
      assert((BigDecimal(r.getAs[Double]("delta")) - d).abs < 0.011, s"delta mismatch: $r")
    }
  }

  test("profile_kanon: coarsening the QI can only grow classes") {
    val rows = Profile.profileKanon.fn(spark, sf).collect()
      .map(r => r.getAs[String]("qi") -> r).toMap
    val fine = rows("nation+segment"); val coarse = rows("nation")
    assert(coarse.getAs[Long]("k_min") >= fine.getAs[Long]("k_min"))
    assert(coarse.getAs[Long]("n_classes") <= fine.getAs[Long]("n_classes"))
    assert(coarse.getAs[Long]("rows_at_risk") <= fine.getAs[Long]("rows_at_risk"))
  }

  test("mm_shards: shards contiguous, partition the corpus, budget-bounded") {
    val rows = Multimodal.mmShards.fn(spark, sf).collect()
    val shardIds = rows.map(_.getAs[Long]("shard")).toSeq
    assert(shardIds == (0L until shardIds.length).toSeq, s"gaps in shards: $shardIds")
    val stats = Tables.documents(spark, sf)
      .select(length(col("text").cast("binary")).cast("long").as("len"))
      .agg(count(lit(1)), sum(col("len")), max(col("len"))).collect()(0)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == stats.getLong(0))
    assert(rows.map(_.getAs[Long]("bytes")).sum == stats.getLong(1))
    // a doc straddling the boundary is the only way past the budget
    rows.foreach(r => assert(r.getAs[Long]("bytes") <
      Multimodal.ShardBytes + stats.getLong(2), s"shard overflows: $r"))
  }

  test("stream_incremental: run 2 consumes only the delta") {
    val (out, counts) = graft.streaming.EventStreams.incrementalRuns(spark, sf)
    val total = Tables.orders(spark, sf).count()
    assert(counts.length == 2)
    assert(counts.sum == total, s"runs consumed ${counts.sum} of $total rows")
    assert(counts(1) > 0 && counts(1) < total,
      s"run 2 was not incremental: $counts")
    assert(out.agg(sum(col("n"))).collect()(0).getLong(0) == total)
  }

  test("events_attribution_linear: credit is conserved") {
    val rows = EventOps.eventsAttributionLinear.fn(spark, sf).collect()
    val credited = rows.map(r => BigDecimal(r.getAs[Double]("credited_revenue"))).sum
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .agg(sum(col("value"))).collect()(0).getDouble(0)
    assert((credited - purchases).abs < 0.05,
      s"credited $credited vs purchase revenue $purchases")
    assert(rows.map(_.getAs[String]("channel")).contains("direct") ||
      rows.nonEmpty)
  }

  test("src_gdpr_delete: requester rows gone, untouched buckets not rewritten") {
    val root = java.nio.file.Files.createTempDirectory("gdpr_test").toString
    SourceOps.gdprBuild(spark, sf, root)
    // recursive listing of parquet files -> mtime
    def list(): Map[String, Long] = {
      def rec(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(rec) else Seq(f)
      rec(new java.io.File(root)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.lastModified).toMap
    }
    val before = list()
    val rowsBefore = spark.read.parquet(root).count()
    val affected = spark.read.parquet(root)
      .filter(col("user_id") % 97 === 0)
      .select(col("ub")).distinct().collect()
      .map(_.getAs[Number](0).longValue).toSet
    SourceOps.gdprApply(spark, root)
    val after = list()
    val layout = spark.read.parquet(root)
    assert(layout.filter(col("user_id") % 97 === 0).count() == 0,
      "requester rows survived the delete")
    val deleted = rowsBefore - layout.count()
    assert(deleted > 0, "nothing was deleted")
    // untouched buckets: identical files, identical mtimes
    val untouchedBefore = before.filter { case (p, _) =>
      !affected.exists(b => p.contains(s"ub=$b/")) }
    untouchedBefore.foreach { case (p, m) =>
      assert(after.get(p).contains(m), s"untouched partition rewritten: $p")
    }
    // affected buckets: files actually replaced
    val touchedBefore = before.keySet.filter(p =>
      affected.exists(b => p.contains(s"ub=$b/")))
    assert(touchedBefore.exists(p => !after.contains(p)),
      "no affected-bucket file was replaced")
  }

  test("events_bot_detect: verdicts partition users, threshold respected") {
    val rows = EventOps.eventsBotDetect.fn(spark, sf).collect()
      .map(r => r.getAs[String]("verdict") -> r).toMap
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.values.map(_.getAs[Long]("n_users")).sum == nUsers)
    rows.get("human").foreach(r => assert(r.getAs[Long]("max_rate") < 3))
    rows.get("bot").foreach(r => assert(r.getAs[Long]("max_rate") >= 3))
  }

  test("graph_scc: rounds reach closure, scc is an equivalence partition") {
    val e = Graph.nationEdges(spark, sf)
    val c6 = Graph.reachClosure(e, 6).collect()
      .map(r => (r.get(0).asInstanceOf[Number].longValue,
        r.get(1).asInstanceOf[Number].longValue)).toSet
    val c7 = Graph.reachClosure(e, 7).collect()
      .map(r => (r.get(0).asInstanceOf[Number].longValue,
        r.get(1).asInstanceOf[Number].longValue)).toSet
    assert(c6 == c7, "one more round changed the closure - rounds too few")
    val scc = Graph.graphScc.fn(spark, sf).collect()
      .map(r => r.get(0).asInstanceOf[Number].longValue ->
        r.get(1).asInstanceOf[Number].longValue).toMap
    // equivalence: every member of a component reports the same id,
    // and the id is a member that reaches back (mutual by def)
    scc.groupBy(_._2).foreach { case (id, members) =>
      assert(scc(id) == id, s"scc id $id does not name itself")
      members.keys.foreach { v =>
        assert(c6.contains((v, id)) && c6.contains((id, v)),
          s"$v and its scc id $id are not mutually reachable")
      }
    }
  }

  test("q_decimal_agg: totals are exact to the cent") {
    val rows = RelationalMore.qDecimalAgg.fn(spark, sf).collect()
    val expected = Tables.orders(spark, sf)
      .select(col("o_orderpriority"), col("o_totalprice")).collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(r => BigDecimal(r.getDouble(1))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum).toMap
    rows.foreach { r =>
      val got = BigDecimal(r.getAs[String]("total_exact"))
      val exp = expected(r.getAs[String]("o_orderpriority"))
      assert(got == exp, s"decimal total drifted: $got vs $exp")
    }
  }

  test("text_seq_len_profile: ordered percentiles, bounded over-context") {
    val rows = graft.operators.TextAnalysis.textSeqLenProfile.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p50, p90) = (r.getAs[Double]("p50_tokens"), r.getAs[Double]("p90_tokens"))
      assert(p50 <= p90 && p90 <= r.getAs[Long]("max_tokens").toDouble,
        s"percentiles out of order: $r")
      assert(r.getAs[Long]("n_over_ctx") <= r.getAs[Long]("n_docs"))
    }
  }

  test("q_cdc_compact: tombstones and live keys partition the changelog") {
    val r = RelationalExt.qCdcCompact.fn(spark, sf).collect()(0)
    val keys = Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 10 === 0)
      .select("o_orderkey").distinct().collect().map(_.getLong(0))
    assert(r.getAs[Long]("n_live") + r.getAs[Long]("n_deleted") == keys.length)
    assert(r.getAs[Long]("n_deleted") == keys.count(_ % 50 == 0))
  }

  test("mining_assoc: rules exist, confidence recounts from the baskets") {
    val rules = graft.operators.Linkage.miningAssoc.fn(spark, sf).collect()
    assert(rules.nonEmpty, "no association rules at min confidence")
    rules.foreach { r =>
      val c = r.getAs[Double]("confidence")
      assert(c > 0.0 && c <= 1.0, s"confidence out of range: $r")
      assert(r.getAs[Double]("lift") > 0.0)
    }
    // spot-check the top rule's confidence against a direct recount
    val top = rules.head
    val ante = top.getAs[String]("antecedent").split(",").map(_.toLong).toSet
    val cons = top.getAs[String]("consequent").split(",").map(_.toLong).toSet
    val baskets = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("items"))
      .collect().map(_.getSeq[Long](1).toSet)
    val nAnte = baskets.count(b => ante.subsetOf(b))
    val nBoth = baskets.count(b => (ante ++ cons).subsetOf(b))
    assert(nAnte > 0)
    assert(math.abs(top.getAs[Double]("confidence") - nBoth.toDouble / nAnte) < 1e-4,
      s"confidence ${top.getAs[Double]("confidence")} != $nBoth/$nAnte")
  }

  test("emb_matryoshka: full dim overlaps itself, all overlaps bounded") {
    val rows = graft.operators.Embeddings.embMatryoshka.fn(spark, sf).collect()
      .map(r => r.getAs[Long]("dim") -> r.getAs[Long]("overlap_full")).toMap
    assert(rows.keySet == Set(8L, 16L, 32L, 64L))
    assert(rows(64L) == 10L, "full-dim top-10 must overlap itself completely")
    rows.values.foreach(o => assert(o >= 0 && o <= 10))
  }

  test("q_nested_hof: nested HOF computation equals the flat recompute") {
    val nested = RelationalMore.qNestedHof.fn(spark, sf).collect().toSeq
    val flat = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("ni"),
        sum(col("l_quantity") * col("l_extendedprice")).as("tot"))
      .join(Tables.orders(spark, sf).select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(avg(col("ni")), 2).as("avg_items"),
        round(sum(col("tot")), 2).as("total_item_rev"))
      .orderBy(col("o_orderpriority")).collect().toSeq
    assert(nested == flat)
  }

  test("kmeans_weighted: k=1 centroid is the global weighted mean") {
    val pts = KMeans.points(Tables.lineitem(spark, sf))
      .select(col("x"), col("y"), col("x").as("w"))
    val one = KMeans.iterate(pts,
      Array((0.0, 0.0)), iters = 1, weight = col("w"))(0)
    val g = pts.agg(
      (sum(col("w") * col("x")) / sum(col("w"))).as("mx"),
      (sum(col("w") * col("y")) / sum(col("w"))).as("my")).collect()(0)
    assert(math.abs(one._1 - g.getDouble(0)) < 1e-9)
    assert(math.abs(one._2 - g.getDouble(1)) < 1e-9)
  }

  test("kmeans_stream: deterministic, sees every point, improves cost") {
    val a = KMeans.kmeansStream.fn(spark, sf).collect().toSeq
    val b = KMeans.kmeansStream.fn(spark, sf).collect().toSeq
    assert(a == b, "streaming k-means is not deterministic")
    val total = Tables.lineitem(spark, sf).count()
    assert(a.map(_.getAs[Long]("n_seen")).sum == total)
    val pts = KMeans.points(Tables.lineitem(spark, sf)).select("x", "y")
    val init = KMeans.initCentroids(KMeans.points(Tables.lineitem(spark, sf)))
    val fin = a.map(r => (r.getAs[Double]("cx"), r.getAs[Double]("cy"))).toArray
    def cost(cs: Array[(Double, Double)]): Double =
      pts.agg(sum(KMeans.minDistExpr(cs, col("x"), col("y"))))
        .collect()(0).getDouble(0)
    assert(cost(fin) <= cost(init), "streaming updates made the fit worse")
  }

  test("q_asof_nearest: chosen click is genuinely the nearest") {
    val rows = RelationalExt.qAsofNearest.fn(spark, sf).collect()
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
    val clicksByUser = ev.filter(_.getString(2) == "click")
      .groupBy(_.getLong(1)).view
      .mapValues(_.map(r => (r.getLong(0), r.getLong(3)))).toMap
    val purchases = ev.filter(_.getString(2) == "purchase")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    rows.foreach { r =>
      val pid = r.getAs[Long]("purchase_id")
      val (uid, pus) = purchases(pid)
      val clicks = clicksByUser.getOrElse(uid, Array.empty[(Long, Long)])
      val chosen = Option(r.get(2)).map(_.asInstanceOf[Long])
      if (clicks.isEmpty) assert(chosen.isEmpty, s"click invented: $r")
      else {
        val best = clicks.map { case (_, cus) => math.abs(cus - pus) }.min
        val got = clicks.find(_._1 == chosen.get).get
        assert(math.abs(got._2 - pus) == best,
          s"purchase $pid picked a non-nearest click (|d|=${math.abs(got._2 - pus)} best=$best)")
      }
    }
  }

  test("dedup_best_survivor: planted duplicates keep the richest copy") {
    import spark.implicits._
    val planted = Seq(
      (1L, 10L, "fpA"), (2L, 50L, "fpA"), (3L, 50L, "fpA"), // tie → lowest id wins among longest
      (4L, 7L, "fpB"),
      (5L, 3L, "fpC"), (6L, 9L, "fpC"))
      .toDF("doc_id", "n_chars", "fp")
    val out = graft.operators.Dedup.bestSurvivors(planted)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((2L, 3L, 50L), (4L, 1L, 7L), (6L, 2L, 9L)), s"got $out")
    // corpus: one survivor per group, Σ members == corpus size
    val rows = graft.operators.Dedup.dedupBestSurvivor.fn(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_members")).sum ==
      Tables.documents(spark, sf).count())
  }

  test("graph_reciprocity: ratio consistent with its own counts") {
    val r = Graph.graphReciprocity.fn(spark, sf).collect()(0)
    val (n, rec) = (r.getAs[Long]("n_edges"), r.getAs[Long]("n_reciprocal"))
    assert(n > 0 && rec >= 0 && rec <= n)
    assert(math.abs(r.getAs[Double]("reciprocity") - rec.toDouble / n) < 1e-6)
  }

  test("src_manifest_scan: the manifest actually prunes the file list") {
    val (_, manDir) = SourceOps.manifestLineitem(spark, sf)
    val man = spark.read.parquet(manDir)
      .select(col("min_ship").cast("date").cast("string").as("lo"),
        col("max_ship").cast("date").cast("string").as("hi"))
      .collect()
    assert(man.length == SourceOps.ManifestFiles)
    val pruned = man.count { r =>
      r.getAs[String]("lo") <= "1995-03-31" && r.getAs[String]("hi") >= "1995-01-01"
    }
    assert(pruned < man.length,
      s"range probe selected all $pruned files - no pruning")
    // range layout: file intervals are non-overlapping up to boundaries
    val iv = man.map(r => (r.getAs[String]("lo"), r.getAs[String]("hi"))).sortBy(_._1)
    iv.zip(iv.tail).foreach { case ((_, hi), (lo2, _)) =>
      assert(hi <= lo2, s"file intervals overlap: $hi > $lo2")
    }
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame}
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

  test("bucketPairs equals the self-join pair set on every key shape") {
    import graft.operators.{Dedup, Similarity}
    val docs = graft.sources.Tables.documents(spark, sf).limit(200)
    val hashed = Dedup.shinglesHashed(docs)
    val toks = docs.select(col("doc_id"),
      explode(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))).as("tok"))
    val sims = Dedup.simhash(docs)
    val vecs = Similarity.vectors(spark, sf).filter(col("vec_id") < 200)
    val idPair = Seq(col("id1"), col("id2"))
    val simBands = sims.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(j => struct(lit(j).as("band"),
          shiftright(col("simhash"), j * 16).bitwiseAND(0xFFFF).as("bv"))): _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.band").as("band"), col("b.bv").as("bv"))
    val hamming = bit_count(col("simhash1").bitwiseXOR(col("simhash2"))).cast("long").as("hamming")
    // the pair's lowest shared band, told by the two signatures
    val lowestBand = (0 until 3).map(j => col("band") <= j ||
      shiftright(col("simhash1").bitwiseXOR(col("simhash2")), j * 16).bitwiseAND(0xFFFF) =!= 0)
      .reduce(_ && _)
    // (shape, rows, id, keys, payload, out, first): every key shape the
    // pair families feed bucketPairs, with the payload the site carries
    val shapes = Seq[(String, DataFrame, String, Seq[String], Seq[String], Seq[Column], Option[Column])](
      ("MinHash bands", Dedup.lshBuckets(Dedup.minhashSignatures(hashed)),
        "doc_id", Seq("band", "sig"), Nil, idPair, None),
      ("SimHash 16-bit bands", simBands, "doc_id", Seq("band", "bv"), Seq("simhash"),
        idPair :+ hamming, None),
      ("SimHash bands, lowest shared band", simBands, "doc_id", Seq("band", "bv"), Seq("simhash"),
        idPair :+ hamming, Some(lowestBand)),
      // ICWS-shaped (j, tok, t): per (doc, j) the token of least hash
      ("ICWS (j, tok, t)", toks.withColumn("j", explode(array((0 until 4).map(lit): _*)))
          .groupBy(col("doc_id"), col("j"))
          .agg(min(struct(xxhash64(col("tok"), col("j")).as("h"), col("tok").as("tok"))).as("p"))
          .select(col("doc_id"), col("j"), col("p.tok").as("btok"),
            (length(col("p.tok")) % 3).cast("long").as("bt")),
        "doc_id", Seq("j", "btok", "bt"), Nil, idPair, None),
      // a rarest-first prefix stand-in: each doc's 3 least-hashed shingles
      ("set-sim prefix shingles", Dedup.shingles(docs)
          .withColumn("r", row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(xxhash64(col("sh")), col("sh"))))
          .filter(col("r") <= 3).select(col("doc_id"), col("sh")),
        "doc_id", Seq("sh"), Nil, idPair, None),
      ("IVF probe lists", vecs.select(col("vec_id"), col("v").as("u"),
          explode(array((col("vec_id") % 7).cast("int"), ((col("vec_id") * 3 + 1) % 7).cast("int")))
            .as("list")).dropDuplicates("vec_id", "list"),
        "vec_id", Seq("list"), Seq("u"),
        idPair :+ (floor(Similarity.dot(col("u1"), col("u2")) * 10000 + 0.5) / 10000.0).as("cos_sim"),
        None),
      // one hot key shared by 60 ids, beside a cold key per id
      ("hot bucket", spark.range(0, 60).select(col("id").as("doc_id"),
          explode(array(lit(-1L), col("id"))).as("k")),
        "doc_id", Seq("k"), Nil, idPair, None))
    for ((shape, rows, id, keys, payload, out, first) <- shapes) {
      val got = Dedup.bucketPairs(rows, id, keys, payload, out, first)
      // the self-join + distinct spelling the pair families used
      def side(n: String) = rows.select(col(id).as(s"id$n") +:
        (keys.map(k => col(k).as(s"$k$n")) ++ payload.map(p => col(p).as(s"$p$n"))): _*)
      val ref = side("1").join(side("2"),
          keys.map(k => col(s"${k}1") === col(s"${k}2")).reduce(_ && _) && col("id1") < col("id2"))
        .select(out: _*).distinct()
      val (g, r) = (got.collect().map(_.toString).toSeq, ref.collect().map(_.toString).toSeq)
      assert(g.size == g.distinct.size, s"$shape: a pair came out twice")
      assert(g.toSet == r.toSet,
        s"$shape: missing=${(r.toSet -- g).take(5)} extra=${(g.toSet -- r).take(5)}")
      assert(g.nonEmpty, s"vacuous parity: no $shape pairs at this SF")
      if (shape == "hot bucket") assert(g.size == 60 * 59 / 2, s"hot bucket: ${g.size} pairs")
    }
  }

  test("bucket pairs, top-k rank cuts and exact kNN are each spelled in one place") {
    // a bucket self-join on id1 < id2 is the spelling bucketPairs
    // replaced, a row_number window followed by a rank filter (top-1 or
    // <= k) the one top1/rankedTopK replaced, and a second cartesian-
    // fallback broadcast a copy of exactKnn; only the exact overlap
    // counts (ngramPairs, dedup_weighted_exact) join on id1 < id2
    import java.nio.file.{Files, Paths}
    val defn = """(?m)^  (?:private(?:\[\w+\])? )?(?:lazy )?(?:def|val) (\w+)""".r
    val idLess = """col\("id1"\)\s*<\s*col\("id2"\)""".r
    val rankCut = ("""row_number\(\)\.over\([^)]*\)(?:\.cast\([^)]*\))?\)""" +
      """\s*\.filter\(col\("[^"]+"\)\s*(?:===\s*1\)|<=)""").r
    val cartesian = """Regime\.broadcastIfFits\((?:[^()]|\([^()]*\))*"cartesian"\)""".r
    val exact = Set("ngramPairs", "dedupWeightedExact")
    val sources = Seq("Dedup.scala", "Similarity.scala", "Embeddings.scala").map { f =>
      val p = Paths.get("src/main/scala/graft/operators", f)
      assert(Files.isRegularFile(p), s"$p not found")
      f -> Files.readString(p)
    }
    val hits = sources.flatMap { case (f, code) =>
      val starts = defn.findAllMatchIn(code).map(m => (m.start, m.group(1))).toSeq
      def owner(at: Int) = starts.takeWhile(_._1 <= at).lastOption.fold("?")(_._2)
      // a key self-join: id1 < id2 inside a join condition that also equates keys
      val selfJoins = idLess.findAllMatchIn(code).filter { m =>
        val j = code.lastIndexOf(".join(", m.start)
        j >= 0 && m.start - j < 300 && code.substring(j, m.start).contains("===")
      }
      selfJoins.map(m => owner(m.start)).filterNot(exact)
        .map(d => s"$f: bucket self-join in $d").toSeq ++
        rankCut.findAllMatchIn(code).map(m => s"$f: row_number rank filter in ${owner(m.start)}")
    }
    val knn = sources.flatMap { case (f, code) =>
      cartesian.findAllMatchIn(code).map(_ => f)
    }
    assert(hits.isEmpty, hits.mkString("\n"))
    assert(knn.size == 1, s"cartesian-fallback broadcasts outside exactKnn: ${knn.mkString(", ")}")
  }
}

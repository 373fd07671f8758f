package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables

/** Relationship mining: market-basket co-occurrence and fuzzy
  * record linkage — the two classic "find related rows" operators a
  * warehouse layers over fact/dimension tables.
  *
  * Scale posture: co-purchase self-joins on the ORDER key, so pair
  * blow-up is bounded by per-order basket size (≤ ~7 lines), never
  * corpus²; linkage compares names only WITHIN a blocking key
  * (first token × size), the standard entity-resolution trick that
  * turns an O(n²) all-pairs compare into Σ|block|² — the blocks,
  * not the corpus, bound the work.
  */
object Linkage {

  /** Frequent co-purchased part pairs: distinct (order, part) pairs
    * self-joined on the order key with p1 < p2 (each pair once),
    * count ≥ 2, deterministic top-20. One orderkey shuffle; the
    * join fan-out is per-basket, so the candidate set is
    * O(orders · basket²) — linear in the corpus.
    */
  val qCopurchase: QueryDef = QueryDef.sql(
    "q_copurchase",
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |SELECT i1.l_partkey AS p1, i2.l_partkey AS p2, count(*) AS n_orders
      |FROM items i1 JOIN items i2
      |  ON i1.l_orderkey = i2.l_orderkey AND i1.l_partkey < i2.l_partkey
      |GROUP BY 1, 2 HAVING count(*) >= 2
      |ORDER BY n_orders DESC, p1, p2 LIMIT 20""".stripMargin) { (s, d) =>
    val items = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val i1 = items.select(col("l_orderkey").as("ok"), col("l_partkey").as("p1"))
    val i2 = items.select(col("l_orderkey").as("ok2"), col("l_partkey").as("p2"))
    i1.join(i2, col("ok") === col("ok2") && col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 2)
      .orderBy(col("n_orders").desc, col("p1"), col("p2"))
      .limit(20)
  }

  /** Blocked fuzzy record linkage over distinct part names:
    * block = (first name token, p_size), candidates = name pairs
    * within a block, matches = Levenshtein distance ≤ 3. Reports
    * per-block candidate vs match counts — the blocking-efficiency
    * profile an ER pipeline tunes. All-pairs work is Σ|block|²,
    * bounded by the block key's selectivity, not corpus².
    */
  val qFuzzyJoin: QueryDef = QueryDef.sql(
    "q_fuzzy_join",
    """WITH names AS (
      |  SELECT DISTINCT split_part(p_name, ' ', 1) AS blk, p_size, p_name
      |  FROM part),
      |pairs AS (
      |  SELECT a.blk, a.p_name AS n1, b.p_name AS n2,
      |         levenshtein(a.p_name, b.p_name) AS dist
      |  FROM names a JOIN names b
      |    ON a.blk = b.blk AND a.p_size = b.p_size AND a.p_name < b.p_name)
      |SELECT blk, count(*) AS n_candidates,
      |       count(CASE WHEN dist <= 3 THEN 1 END) AS n_matches
      |FROM pairs GROUP BY blk ORDER BY blk""".stripMargin) { (s, d) =>
    val names = Tables.part(s, d)
      .select(split(col("p_name"), " ").getItem(0).as("blk"),
        col("p_size"), col("p_name"))
      .distinct()
    val a = names.select(col("blk"), col("p_size"), col("p_name").as("n1"))
    val b = names.select(col("blk").as("blk2"), col("p_size").as("sz2"),
      col("p_name").as("n2"))
    a.join(b, col("blk") === col("blk2") && col("p_size") === col("sz2") &&
        col("n1") < col("n2"))
      .select(col("blk"), levenshtein(col("n1"), col("n2")).as("dist"))
      .groupBy(col("blk"))
      .agg(count(lit(1)).as("n_candidates"),
        count(when(col("dist") <= 3, 1)).as("n_matches"))
      .orderBy(col("blk"))
  }

  /** Reciprocal best match — the entity-resolution acceptance rule
    * that turns a candidate similarity relation into LINKS: within
    * each block, every name's single best match (min edit distance,
    * deterministic tie-break), kept only when the choice is MUTUAL
    * (best(x) = y ∧ best(y) = x). One-sided best match links every
    * record to something and chains A→B→C merges; mutual-best is
    * the standard high-precision filter (the same reciprocity idea
    * as graph_reciprocity, applied to record linkage). Candidate
    * work stays Σ|block|² under the same (first-token, size)
    * blocking as q_fuzzy_join — never corpus²; the best-match
    * window partitions by (block, record), bounded by block size.
    */
  val qReciprocalMatch: QueryDef = QueryDef.sql(
    "q_reciprocal_match",
    """WITH names AS (
      |  SELECT DISTINCT split_part(p_name, ' ', 1) AS blk, p_size, p_name
      |  FROM part),
      |cand AS (
      |  SELECT a.blk, a.p_size, a.p_name AS n1, b.p_name AS n2,
      |         levenshtein(a.p_name, b.p_name) AS dist
      |  FROM names a JOIN names b
      |    ON a.blk = b.blk AND a.p_size = b.p_size AND a.p_name <> b.p_name),
      |best AS (
      |  SELECT blk, p_size, n1, n2, dist,
      |    row_number() OVER (PARTITION BY blk, p_size, n1
      |      ORDER BY dist, n2) AS rn
      |  FROM cand)
      |SELECT x.blk, x.p_size, x.n1 AS name_a, x.n2 AS name_b,
      |  CAST(x.dist AS BIGINT) AS dist
      |FROM best x JOIN best y
      |  ON x.blk = y.blk AND x.p_size = y.p_size
      |  AND x.n1 = y.n2 AND x.n2 = y.n1
      |WHERE x.rn = 1 AND y.rn = 1 AND x.n1 < x.n2
      |ORDER BY 1, 2, 3, 4""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val names = Tables.part(s, d)
      .select(split(col("p_name"), " ").getItem(0).as("blk"),
        col("p_size"), col("p_name"))
      .distinct()
    val b = names.select(col("blk").as("blk2"), col("p_size").as("sz2"),
      col("p_name").as("n2"))
    val cand = names.select(col("blk"), col("p_size"), col("p_name").as("n1"))
      .join(b, col("blk") === col("blk2") && col("p_size") === col("sz2") &&
        col("n1") =!= col("n2"))
      .select(col("blk"), col("p_size"), col("n1"), col("n2"),
        levenshtein(col("n1"), col("n2")).as("dist"))
    val w = Window.partitionBy(col("blk"), col("p_size"), col("n1"))
      .orderBy(col("dist"), col("n2"))
    val best = cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("blk"), col("p_size"), col("n1"), col("n2"), col("dist"))
    val rev = best.select(col("blk").as("rblk"), col("p_size").as("rsz"),
      col("n1").as("rn1"), col("n2").as("rn2"))
    best.join(rev,
        col("blk") === col("rblk") && col("p_size") === col("rsz") &&
          col("n1") === col("rn2") && col("n2") === col("rn1"))
      .filter(col("n1") < col("n2"))
      .select(col("blk"), col("p_size"), col("n1").as("name_a"),
        col("n2").as("name_b"), col("dist").cast("long").as("dist"))
      .orderBy(col("blk"), col("p_size"), col("name_a"), col("name_b"))
  }

  /** Frequent itemsets of EVERY size via distributed FP-growth
    * (MLlib `ml.fpm.FPGrowth` — the parallel PFP formulation, Li et
    * al. 2008): baskets are the distinct part sets per order, min
    * support 0.1% of baskets. Generalizes q_copurchase beyond pairs
    * without the exponential candidate joins Apriori would need —
    * PFP shuffles each transaction's conditional prefixes once per
    * group, state bounded by the FP-tree of each group, never
    * corpus². Support is an ABSOLUTE count (≥3 baskets) expressed as
    * a fraction — per-part basket frequency is SF-invariant in this
    * schema, so a relative threshold would silently empty the result
    * as the corpus grows. Output canonicalized (items sorted within
    * set, total deterministic row order, declared top-500);
    * exactness is pinned in ScalaTest against a driver-side
    * enumerate-all-subsets count on the small SF.
    */
  val miningFpgrowth: QueryDef = QueryDef.rowsOnly("mining_fpgrowth") { (s, d) =>
    import org.apache.spark.ml.fpm.FPGrowth
    // persist: the basket build is a corpus collect_set shuffle read
    // by the support count AND the fit's item-conversion pass (ml's
    // internal persistence only covers its own RDD, not this frame)
    graft.Ckpt.scoped { sc =>
      val baskets = sc.persist(Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_partkey")).as("items")))
      val nBaskets = baskets.count()
      val model = new FPGrowth()
        .setItemsCol("items").setMinSupport((3.0 - 0.5) / nBaskets)
        .fit(baskets)
      // freqItemsets is a LAZY RDD view over the fit's lineage — kept
      // while the basket cache is live (kmeans_mllib pattern), or the
      // post-scope evaluation recomputes the collect_set shuffle and
      // the FP-tree generation
      sc.keep(model.freqItemsets
        .select(
          concat_ws(",", array_sort(col("items"))).as("itemset"),
          size(col("items")).as("n_items"),
          col("freq"))
        .orderBy(col("freq").desc, col("n_items"), col("itemset"))
        .limit(500))
    }
  }

  /** Association rules from the frequent itemsets — the actionable
    * half of basket mining ("customers who bought X also buy Y"):
    * FP-Growth's rule generation, confidence = freq(A∪B)/freq(A),
    * lift = confidence/support(B). Top-100 by (confidence, lift,
    * antecedent, consequent) — a total order, so the cut is
    * deterministic even where confidences tie. The confidence floor
    * is 0.01: baskets here are wide (an order spans many parts), so
    * antecedent frequencies dwarf pair frequencies and rule
    * confidences sit in the few-percent range at EVERY SF — a 0.3
    * floor returns zero rules at verify scale, making the gate
    * vacuous; the top-100 cut, not the floor, bounds the output.
    * Rows-only (the rule scores are ratios of exact counts, but the
    * itemset model is MLlib-internal); bounds + a directly recounted
    * confidence-spot-check pinned in ScalaTest.
    */
  /** mining_assoc's oracle: the MLlib FPGrowth rule set replayed as
    * Apriori in SQL — frequent itemsets up to the max basket size via
    * chained co-occurrence self-joins, one single-consequent rule arm
    * per member, confidence = freq∪/freq(antecedent) and lift =
    * conf/(freq(consequent)/n) in the engine's float order. Rounding
    * is the floor(x·10^d + 0.5) spelling on BOTH sides: Spark's
    * round() works on the exact BigDecimal while DuckDB's rounds a
    * double product that can land ON .5 half an ulp away — floor of
    * the same product is engine-identical.
    */
  private def assocOracle: String = {
    def levelCte(k: Int): String = {
      val joins = (2 to k)
        .map(i => s"JOIN b t$i ON t$i.o = t1.o AND t$i.p > t${i - 1}.p")
        .mkString(" ")
      val cols = (1 to k).map(i => s"t$i.p AS p$i").mkString(", ")
      val grp = (1 to k).map(i => s"p$i").mkString(", ")
      s"""l$k AS MATERIALIZED (
         |  SELECT $cols, count(*) AS f FROM b t1 $joins
         |  GROUP BY $grp HAVING count(*) >= 3)""".stripMargin
    }
    val arms = for {
      k <- 2 to 7
      j <- 1 to k
    } yield {
      val ante = (1 to k).filter(_ != j).map(i => s"p$i")
      val sup =
        if (k == 2) s"JOIN l1 x ON x.p1 = z.${ante.head}"
        else {
          val conds = ante.zipWithIndex
            .map { case (a, i) => s"x.p${i + 1} = z.$a" }.mkString(" AND ")
          s"JOIN l${k - 1} x ON $conds"
        }
      s"""SELECT concat_ws(',', ${ante.map("z." + _).mkString(", ")}) AS antecedent,
         |  CAST(z.p$j AS VARCHAR) AS consequent,
         |  CAST(z.f AS DOUBLE) / CAST(x.f AS DOUBLE) AS conf,
         |  (CAST(z.f AS DOUBLE) / CAST(x.f AS DOUBLE))
         |    / (CAST(y.f AS DOUBLE) / (SELECT nb FROM n)) AS lift
         |FROM l$k z $sup JOIN l1 y ON y.p1 = z.p$j""".stripMargin
    }
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |n AS (SELECT CAST(count(DISTINCT o) AS DOUBLE) AS nb FROM b),
       |l1 AS MATERIALIZED (
       |  SELECT p AS p1, count(*) AS f FROM b GROUP BY p HAVING count(*) >= 3),
       |${(2 to 7).map(levelCte).mkString(",\n")},
       |rules AS (${arms.mkString("\nUNION ALL\n")})
       |SELECT antecedent, consequent,
       |  floor(conf * 1000000.0 + 0.5) / 1000000.0 AS confidence,
       |  floor(lift * 10000.0 + 0.5) / 10000.0 AS lift
       |FROM rules WHERE conf >= 0.01
       |ORDER BY confidence DESC, lift DESC, antecedent, consequent
       |LIMIT 100""".stripMargin
  }

  val miningAssoc: QueryDef = QueryDef.sql("mining_assoc", assocOracle) { (s, d) =>
    import org.apache.spark.ml.fpm.FPGrowth
    // persist: same rationale as mining_fpgrowth (support count + fit
    // conversion share one materialization of the collect_set shuffle)
    graft.Ckpt.scoped { sc =>
      val baskets = sc.persist(Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_partkey")).as("items")))
      val nBaskets = baskets.count()
      val model = new FPGrowth()
        .setItemsCol("items").setMinSupport((3.0 - 0.5) / nBaskets)
        .setMinConfidence(0.01)
        .fit(baskets)
      // freqItemsets is a LAZY view over the whole mining lineage and
      // has TWO consumers here (the size guard below and the rule
      // generation) — without this persist the FP-tree mining runs
      // twice end-to-end
      sc.persist(model.freqItemsets)
      // The oracle enumerates itemset levels only up to size 7; if the
      // data ever produced a FREQUENT itemset bigger than that (≥3
      // baskets sharing 8+ items), FPGrowth would emit rules the
      // oracle silently omits — fail loudly instead of a mystery hash
      // mismatch. (Raw basket size may exceed 7; only frequent-set
      // size matters for rule parity.)
      // coalesce(…, 0): max over ZERO frequent itemsets is null, and a
      // bare getInt would turn that corpus shape into an opaque NPE
      // instead of this require's message
      val maxSet = model.freqItemsets
        .agg(coalesce(max(size(col("items"))), lit(0))).head.getInt(0)
      require(maxSet <= 7,
        s"mining_assoc's oracle caps itemsets at size 7; " +
          s"corpus has a frequent itemset of size $maxSet")
      // associationRules is lazy over the fit lineage — kept while the
      // basket/itemset caches are live (see mining_fpgrowth)
      sc.keep(model.associationRules
        .select(
          concat_ws(",", array_sort(col("antecedent"))).as("antecedent"),
          concat_ws(",", array_sort(col("consequent"))).as("consequent"),
          (floor(col("confidence") * lit(1000000.0) + 0.5) / lit(1000000.0))
            .as("confidence"),
          (floor(col("lift") * lit(10000.0) + 0.5) / lit(10000.0)).as("lift"))
        .orderBy(col("confidence").desc, col("lift").desc,
          col("antecedent"), col("consequent"))
        .limit(100))
    }
  }

  /** Collaborative-filtering recommendations by implicit-feedback
    * ALS (Hu/Koren/Volinsky 2008; MLlib's block-partitioned
    * implementation — users and items are hash-blocked and each
    * alternating least-squares sweep routes only the factor blocks
    * a block's normal equations need, never an n×m matrix): ratings
    * are per-(customer, part) purchase counts, rank-8 factors, fixed
    * seed. Output = top-5 parts per customer from the blocked
    * cross-product top-k (`recommendForAllUsers`). Rows-only (factor
    * values are float-path dependent); ScalaTest pins shape,
    * score ordering, and the core fit property — bought pairs score
    * above unbought pairs on average.
    */
  val miningAls: QueryDef = QueryDef.rowsOnly("mining_als") { (s, d) =>
    graft.Ckpt.scoped { sc =>
      val model = sc.fit(alsModel(s, d))
      sc.keep(model.recommendForAllUsers(5)
        .select(col("user"), posexplode(col("recommendations")))
        .select(col("user"), (col("pos") + 1).as("rank"),
          col("col.item").as("item"),
          round(col("col.rating").cast("double"), 4).as("score"))
        .orderBy(col("user"), col("rank")))
    }
  }

  /** Purchase-count ratings and the fitted ALS model (shared with
    * the spec so quality pins run on the exact production fit).
    */
  def alsRatings(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").cast("int").as("user"),
        col("l_partkey").cast("int").as("item"))
      .agg(count(lit(1)).cast("float").as("rating"))

  def alsModel(s: SparkSession, d: String): org.apache.spark.ml.recommendation.ALSModel = {
    import org.apache.spark.ml.recommendation.ALS
    new ALS()
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .setRank(8).setMaxIter(10).setRegParam(0.1)
      .setImplicitPrefs(true).setAlpha(1.0).setSeed(42L)
      .fit(alsRatings(s, d))
  }

  /** Per-user event-type sequences under the 30-minute session gap
    * (each session one ordered sequence of single-item itemsets —
    * the PrefixSpan input shape), shared with the spec's
    * independent-count pin.
    */
  def sessionSequences(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser)))
      .withColumn("new_s",
        when(col("gap_us").isNull || col("gap_us") > 30L * 60 * 1000000, 1).otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(running))
      .groupBy(col("user_id"), col("sid"))
      .agg(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
        x => array(x.getField("event_type"))).as("sequence"))
  }

  /** Sequential pattern mining over session event-type sequences by
    * MLlib PrefixSpan (Pei et al. 2004, the distributed
    * prefix-projection formulation: the sequence database shuffles
    * once per prefix-growth round, projected databases shrink
    * monotonically, candidate work is bounded by the frequent-prefix
    * tree — never |sessions|²). "What do users do, in order" — the
    * sequence-aware complement of mining_fpgrowth's unordered
    * baskets. Support is an absolute session count expressed as a
    * fraction (SF-invariant basket frequencies, same rationale as
    * fpgrowth). Counts are EXACT (the algorithm is exhaustive), so
    * the spec pins single-item pattern frequencies against an
    * independent relational count; rows-only because no SQL engine
    * mines sequences.
    */
  val miningPrefixspan: QueryDef = QueryDef.rowsOnly("mining_prefixspan") { (s, d) =>
    import org.apache.spark.ml.fpm.PrefixSpan
    // persist: the two-window sessionization feeds the support count
    // AND PrefixSpan's internal passes (MLlib warns "Input data is
    // not cached" — it re-derives the sequence frame per prefix-growth
    // round otherwise); count() materializes the cache
    graft.Ckpt.scoped { sc =>
      val seqs = sc.persist(sessionSequences(s, d))
      val n = seqs.count()
      // kept while the cache is live; the plan re-reads seqs
      sc.keep(new PrefixSpan()
        .setSequenceCol("sequence")
        .setMinSupport((10.0 - 0.5) / n)
        .setMaxPatternLength(3)
        .findFrequentSequentialPatterns(seqs))
        .select(
          concat_ws(">", transform(col("sequence"), x => concat_ws(",", x)))
            .as("pattern"),
          size(col("sequence")).as("n_steps"),
          col("freq"))
        .orderBy(col("freq").desc, col("n_steps"), col("pattern"))
        .limit(200)
    }
  }

  /** Topic modeling via MLlib's distributed LDA (EM optimizer —
    * Griffiths & Steyvers collapsed-Gibbs-style expectation steps on
    * the GraphX doc-term graph): k=4 topics over the CountVectorizer
    * term space, top-5 terms per topic. The distributed shape is the
    * point at scale — the corpus shuffles as (doc, term, count)
    * edges, topic-term sufficient statistics aggregate per term, no
    * corpus-sized state ever reaches the driver. Rows-only by
    * necessity (topic-term weights are FP-path dependent); the
    * ScalaTest pins shape, weight ordering, bounds, and term-vocab
    * membership.
    */
  val miningLda: QueryDef = QueryDef.rowsOnly("mining_lda") { (s, d) =>
    import org.apache.spark.ml.feature.CountVectorizer
    import org.apache.spark.ml.clustering.LDA
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)).as("toks"))
    graft.Ckpt.scoped { sc =>
      val cv = new CountVectorizer()
        .setInputCol("toks").setOutputCol("features")
        .setVocabSize(256).setMinDF(2.0)
        .fit(docs)
      val vecs = cv.transform(docs).select(col("doc_id"), col("features"))
      val lda = sc.fit(new LDA().setK(4).setMaxIter(10).setSeed(7)
        .setOptimizer("em").fit(vecs))
      val vocab = cv.vocabulary.zipWithIndex
        .map { case (w, i) => (i, w) }.toSeq.toDF("term_idx", "term")
      lda.describeTopics(5)
        .select(col("topic"),
          posexplode(arrays_zip(col("termIndices"), col("termWeights")))
            .as(Seq("rank", "tw")))
        .select(col("topic"), (col("rank") + 1).as("term_rank"),
          col("tw.termIndices").as("term_idx"),
          round(col("tw.termWeights"), 4).as("weight"))
        .join(broadcast(vocab), "term_idx")
        .select(col("topic"), col("term_rank"), col("term"), col("weight"))
        .orderBy(col("topic"), col("term_rank"))
    }
  }

  /** Distributed multiple linear regression by normal equations:
    * β = (XᵀX)⁻¹ Xᵀy for extendedprice ~ quantity + discount. The
    * 100 TB shape is the same as emb_pca's — ONE aggregate pass
    * reduces the corpus to the O(p²) sufficient statistics (10 sums
    * for p = 2 features + intercept), the p×p solve happens on the
    * driver, and SSE/R² fall out of the same statistics with no
    * second scan (SSE = yᵀy − 2βᵀXᵀy + βᵀXᵀXβ). Rows-only (float
    * summation order); residual orthogonality — the defining normal-
    * equation property — is pinned in ScalaTest.
    */
  /** Sufficient statistics for y ~ x1 + x2 as EXACT decimals: the
    * inputs are centi-unit integers (quantity, discount, price all
    * carry ≤2 decimals), so every moment is an exact DECIMAL(38,0)
    * sum — partition- and engine-identical by construction, unlike a
    * raw float sum whose order noise would leak through the 3×3
    * solve. Unscaling to doubles happens once, identically, in both
    * engines.
    */
  def olsSufficientStats(s: SparkSession, d: String): org.apache.spark.sql.Row =
    Tables.lineitem(s, d)
      .select(
        round(col("l_quantity") * 100).cast("decimal(18,0)").as("x1"),
        round(col("l_discount") * 100).cast("decimal(18,0)").as("x2"),
        round(col("l_extendedprice") * 100).cast("decimal(18,0)").as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"), sum(col("y")).as("sy"),
        sum(col("x1") * col("x1")).as("s11"), sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"), sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"), sum(col("y") * col("y")).as("syy"))
      .head

  /** Cramer's-rule 3×3 solve of the symmetric normal equations —
    * explicit determinant expressions (not an LU factorization) so a
    * SQL oracle can evaluate the identical operation sequence and
    * land on the identical doubles. Shared with ts_harmonic.
    */
  private[graft] def cramer3(n: Double, s1: Double, s2: Double,
      s11: Double, s12: Double, s22: Double,
      sy: Double, s1y: Double, s2y: Double): (Double, Double, Double) = {
    val det = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val d0 = sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) +
      s2 * (s1y * s12 - s11 * s2y)
    val d1 = n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)
    val d2 = n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
      sy * (s1 * s12 - s11 * s2)
    (d0 / det, d1 / det, d2 / det)
  }

  /** The SQL text of cramer3 over columns named like the Scala
    * parameters — term order matches character-for-character.
    */
  private[graft] def cramer3Sql: String =
    """det AS (SELECT n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      |  s2 * (s1 * s12 - s11 * s2) AS det,
      |  sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) +
      |  s2 * (s1y * s12 - s11 * s2y) AS d0,
      |  n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
      |  s2 * (s1 * s2y - s1y * s2) AS d1,
      |  n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
      |  sy * (s1 * s12 - s11 * s2) AS d2,
      |  n, s1, s2, s11, s12, s22, sy, s1y, s2y, syy
      |  FROM m)""".stripMargin

  def olsFit(s: SparkSession, d: String): (Array[Double], Double) = {
    val r = olsSufficientStats(s, d)
    val n = r.getLong(0).toDouble
    def dec(i: Int, scale: Double): Double =
      r.getDecimal(i).doubleValue() / scale
    val (s1, s2, sy) = (dec(1, 100), dec(2, 100), dec(3, 100))
    val (s11, s12, s22) = (dec(4, 10000), dec(5, 10000), dec(6, 10000))
    val (s1y, s2y, syy) = (dec(7, 10000), dec(8, 10000), dec(9, 10000))
    val (b0, b1, b2) = cramer3(n, s1, s2, s11, s12, s22, sy, s1y, s2y)
    val sse = syy - 2.0 * (b0 * sy + b1 * s1y + b2 * s2y) +
      (b0 * (n * b0 + s1 * b1 + s2 * b2) +
        b1 * (s1 * b0 + s11 * b1 + s12 * b2) +
        b2 * (s2 * b0 + s12 * b1 + s22 * b2))
    val sst = syy - sy * sy / n
    (Array(b0, b1, b2), 1.0 - sse / sst)
  }

  private val olsOracle: String =
    s"""WITH m AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(x1) AS DOUBLE) / 100 AS s1,
       |    CAST(sum(x2) AS DOUBLE) / 100 AS s2,
       |    CAST(sum(y) AS DOUBLE) / 100 AS sy,
       |    CAST(sum(x1 * x1) AS DOUBLE) / 10000 AS s11,
       |    CAST(sum(x1 * x2) AS DOUBLE) / 10000 AS s12,
       |    CAST(sum(x2 * x2) AS DOUBLE) / 10000 AS s22,
       |    CAST(sum(x1 * y) AS DOUBLE) / 10000 AS s1y,
       |    CAST(sum(x2 * y) AS DOUBLE) / 10000 AS s2y,
       |    CAST(sum(y * y) AS DOUBLE) / 10000 AS syy
       |  FROM (SELECT
       |    CAST(round(l_quantity * 100) AS DECIMAL(18,0)) AS x1,
       |    CAST(round(l_discount * 100) AS DECIMAL(18,0)) AS x2,
       |    CAST(round(l_extendedprice * 100) AS DECIMAL(18,0)) AS y
       |   FROM lineitem)),
       |$cramer3Sql,
       |beta AS (
       |  SELECT d0 / det AS b0, d1 / det AS b1, d2 / det AS b2, * FROM det),
       |fit AS (
       |  SELECT b0, b1, b2,
       |    1.0 - (syy - 2.0 * (b0 * sy + b1 * s1y + b2 * s2y) +
       |      (b0 * (n * b0 + s1 * b1 + s2 * b2) +
       |       b1 * (s1 * b0 + s11 * b1 + s12 * b2) +
       |       b2 * (s2 * b0 + s12 * b1 + s22 * b2)))
       |      / (syy - sy * sy / n) AS r2
       |  FROM beta)
       |SELECT term, round(value, 4) AS value FROM (
       |  SELECT 'intercept' AS term, b0 AS value FROM fit
       |  UNION ALL SELECT 'l_quantity', b1 FROM fit
       |  UNION ALL SELECT 'l_discount', b2 FROM fit
       |  UNION ALL SELECT 'r2', r2 FROM fit)
       |ORDER BY term""".stripMargin

  val miningOls: QueryDef = QueryDef.sql("mining_ols", olsOracle) { (s, d) =>
    val (beta, r2) = olsFit(s, d)
    import s.implicits._
    Seq(("intercept", beta(0)), ("l_quantity", beta(1)),
      ("l_discount", beta(2)), ("r2", r2))
      .map { case (t, v) =>
        (t, BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .toDF("term", "value")
  }

  /** Gaussian mixture model (MLlib EM) over the reference's 2-D
    * point cloud — SOFT clustering with anisotropic components, the
    * probabilistic complement to the hard Lloyd assignments every
    * kmeans_* entry produces: each component carries a weight, a
    * mean, and a full covariance, so elongated price clusters that
    * force k-means into slicing are modeled as single Gaussians.
    * Same production path as kmeans_mllib (distributed EM: one
    * responsibility+moment aggregation pass per iteration, O(k·d²)
    * driver state), seeded for replay. Output: per-component weight,
    * mean, covariance diagonal, and hard-assigned population.
    * Rows-only (EM fixpoint); weight-simplex, population
    * conservation, and mean-inside-data-hull pinned in ScalaTest.
    */
  val miningGmm: QueryDef = QueryDef.rowsOnly("mining_gmm") { (s, d) =>
    import org.apache.spark.ml.clustering.GaussianMixture
    import org.apache.spark.ml.feature.VectorAssembler
    val pts = graft.operators.KMeans.points(Tables.lineitem(s, d))
    val feats = new VectorAssembler()
      .setInputCols(Array("x", "y")).setOutputCol("features")
      .transform(pts)
    val gmm = new GaussianMixture()
      .setK(4).setSeed(7L).setMaxIter(20).setTol(1e-4)
      .fit(feats)
    val assigned = gmm.transform(feats)
      .groupBy(col("prediction")).agg(count(lit(1)).as("n_assigned"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    def r4(v: Double): Double =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    import s.implicits._
    gmm.gaussians.zipWithIndex.map { case (g, i) =>
      (i, r4(gmm.weights(i)), r4(g.mean(0)), r4(g.mean(1)),
        r4(g.cov(0, 0)), r4(g.cov(1, 1)), assigned.getOrElse(i, 0L))
    }.toSeq.toDF("component", "weight", "mu_x", "mu_y",
      "var_x", "var_y", "n_assigned")
      .orderBy(col("component"))
  }

  // ---- Isolation forest ----------------------------------------------

  /** One isolation tree: axis-parallel random splits over a sample,
    * stored as parallel arrays (feature, threshold, left, right,
    * size-at-node for the external-node path correction).
    */
  final case class ITree(feat: Array[Int], thr: Array[Double],
      left: Array[Int], right: Array[Int], size: Array[Int])

  /** Average unsuccessful-search path length in a BST of n nodes —
    * the normalizer c(n) from Liu et al. 2008.
    */
  def iforestC(n: Int): Double =
    if (n <= 1) 0.0
    else 2.0 * (math.log(n - 1.0) + 0.5772156649) - 2.0 * (n - 1.0) / n

  /** Build one iTree over `pts` (rows × 2 features) with a seeded
    * RNG; depth-limited at ⌈log₂ sample⌉ as in the paper.
    */
  def buildITree(pts: Array[Array[Double]], rnd: scala.util.Random,
      maxDepth: Int): ITree = {
    val feat = scala.collection.mutable.ArrayBuffer.empty[Int]
    val thr = scala.collection.mutable.ArrayBuffer.empty[Double]
    val left = scala.collection.mutable.ArrayBuffer.empty[Int]
    val right = scala.collection.mutable.ArrayBuffer.empty[Int]
    val size = scala.collection.mutable.ArrayBuffer.empty[Int]
    def grow(idx: Array[Int], depth: Int): Int = {
      val node = feat.length
      feat += -1; thr += 0.0; left += -1; right += -1; size += idx.length
      if (idx.length <= 1 || depth >= maxDepth) return node
      val f = rnd.nextInt(2)
      val vals = idx.map(i => pts(i)(f))
      val (lo, hi) = (vals.min, vals.max)
      if (lo == hi) return node
      val t = lo + rnd.nextDouble() * (hi - lo)
      feat(node) = f; thr(node) = t
      val (li, ri) = idx.partition(i => pts(i)(f) < t)
      left(node) = grow(li, depth + 1)
      right(node) = grow(ri, depth + 1)
      node
    }
    grow(pts.indices.toArray, 0)
    ITree(feat.toArray, thr.toArray, left.toArray, right.toArray, size.toArray)
  }

  /** Path length of a point through one tree (external-node size
    * correction applied).
    */
  def iforestPath(t: ITree, x: Array[Double]): Double = {
    var node = 0; var depth = 0.0
    while (t.feat(node) >= 0) {
      node = if (x(t.feat(node)) < t.thr(node)) t.left(node) else t.right(node)
      depth += 1.0
    }
    depth + iforestC(t.size(node))
  }

  /** Isolation-forest anomaly scores (Liu, Ting & Zhou 2008) over
    * the reference's 2-D point cloud — MODEL-BASED outlier detection
    * where events_anomaly/events_anomaly_mad are distributional
    * rules: anomalies are points random axis-parallel splits isolate
    * QUICKLY, so they catch short-path joint-feature outliers a
    * per-column z-score can't (e.g. high quantity × low price).
    * Train: 25 trees × 256-point samples — the samples are
    * deterministic xxhash64-ordered draws (reproducible on any
    * partitioning), the O(trees·sample) build is driver-side (6400
    * points — the paper's point is that tiny samples suffice).
    * Score: the forest BROADCASTS and ONE map-side corpus pass
    * computes s = 2^(−E[path]/c(256)) per row — embarrassingly
    * parallel, no shuffle except the top-20 TakeOrdered. The
    * justified-imperative case (tree pointer-chasing; no Expression
    * composes 25 trees). Planted-outlier top rank, score range, and
    * determinism pinned in ScalaTest.
    */
  val miningIforest: QueryDef = QueryDef.rowsOnly("mining_iforest") { (s, d) =>
    val pts = graft.operators.KMeans.points(Tables.lineitem(s, d))
      .select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"))
    iforestScores(s, pts).limit(20)
  }

  /** Forest fit + scoring core over (l_orderkey, l_linenumber, x, y)
    * — returns rows scored DESC. Factored for the planted-outlier
    * ScalaTest.
    */
  def iforestScores(s: SparkSession, pts: DataFrame): DataFrame = {
    val nTrees = 25
    val sampleN = 256
    // deterministic samples: per tree, the sampleN smallest
    // xxhash64(key, tree) rows — ALL trees drawn in ONE corpus pass
    // through the native TopKPerKey operator (map-side ×trees
    // explode, bounded per-partition buffers: the shuffle carries
    // ≤ trees·sampleN rows per partition, never the corpus, and the
    // scan runs once instead of once per tree)
    val hashed = pts
      .select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"),
        explode(lit((0 until nTrees).toArray)).as("ti"))
      .withColumn("h", xxhash64(col("l_orderkey"), col("l_linenumber"), col("ti")))
    val sampled = org.apache.spark.sql.graft.TopKOps.topKPerKey(hashed,
        keys = Seq(col("ti")),
        order = Seq(col("h").asc, col("l_orderkey").asc, col("l_linenumber").asc),
        k = sampleN)
      .select(col("ti"), col("x"), col("y")).collect()
      .groupBy(_.getInt(0))
    val trees = (0 until nTrees).map { ti =>
      val sample = sampled(ti).map(r => Array(r.getDouble(1), r.getDouble(2)))
      buildITree(sample, new scala.util.Random(1000 + ti),
        math.ceil(math.log(sampleN.toDouble) / math.log(2.0)).toInt)
    }.toArray
    val cNorm = iforestC(sampleN)
    val bTrees = s.sparkContext.broadcast(trees)
    import s.implicits._
    val scored = pts.select(col("l_orderkey"), col("l_linenumber"),
        col("x"), col("y"))
      .as[(Long, Int, Double, Double)]
      .mapPartitions { it =>
        val forest = bTrees.value
        it.map { case (ok, ln, x, y) =>
          val p = Array(x, y)
          val mean = forest.map(iforestPath(_, p)).sum / forest.length
          val score = math.pow(2.0, -mean / cNorm)
          (ok, ln, x, y, math.floor(score * 10000 + 0.5) / 10000)
        }
      }
      .toDF("l_orderkey", "l_linenumber", "x", "y", "score")
    scored.orderBy(col("score").desc, col("l_orderkey"), col("l_linenumber"))
  }

  /** Exact distributed decision-stump induction (one-level CART) —
    * the split-search primitive every tree ensemble is built from,
    * and the interpretable baseline a data pipeline reaches for
    * before the LR quality model (pipeline_quality_model): find the
    * (feature, threshold) whose binary split best purifies the
    * lang=='en' label by Gini gain. The classic MapReduce-era
    * formulation (PLANET, Panda et al. 2009): candidate thresholds
    * are the feature's exact deciles (ONE percentile aggregate per
    * feature — the q_median cross-engine machinery), and every
    * candidate's left/right class counts come from ONE conditional
    * aggregate over the ×9-threshold broadcast probe — O(9n) map
    * work, shuffle carries 27 partial-agg groups, never a sort or
    * per-candidate pass. Output = the full scored candidate grid
    * (gain from exact integer counts, one shared float expression);
    * the argmax row is the stump. Scales to deep trees by repeating
    * per node on the node's partition filter.
    */
  val miningDtree: QueryDef = QueryDef.sql(
    "mining_dtree",
    """WITH feats AS (
      |  SELECT 'c_en' AS feature,
      |    CAST(length(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS DOUBLE) AS value,
      |    CAST(lang = 'en' AS INT) AS y FROM documents
      |  UNION ALL
      |  SELECT 'n_chars', CAST(n_chars AS DOUBLE), CAST(lang = 'en' AS INT)
      |  FROM documents
      |  UNION ALL
      |  SELECT 'n_tokens', CAST(length(regexp_extract_all(text, '\S+')) AS DOUBLE),
      |    CAST(lang = 'en' AS INT) FROM documents),
      |qs AS (
      |  SELECT feature,
      |    quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q
      |  FROM feats GROUP BY 1),
      |thr AS (
      |  SELECT feature, i AS dec, q[i] AS thr
      |  FROM qs, UNNEST(generate_series(1, 9)) AS t(i)),
      |cand AS (
      |  SELECT f.feature, dec, thr,
      |    count(*) AS n, sum(y) AS pos,
      |    sum(CASE WHEN value <= thr THEN 1 ELSE 0 END) AS nl,
      |    sum(CASE WHEN value <= thr THEN y ELSE 0 END) AS pl
      |  FROM feats f JOIN thr ON f.feature = thr.feature
      |  GROUP BY 1, 2, 3)
      |SELECT feature, CAST(dec AS BIGINT) AS dec, round(thr, 4) AS thr,
      |  CAST(nl AS BIGINT) AS n_left, CAST(pl AS BIGINT) AS pos_left,
      |  round(
      |    2.0 * pos / n * (1 - 1.0 * pos / n)
      |    - CASE WHEN nl = 0 THEN 0
      |        ELSE (1.0 * nl / n) * (2.0 * pl / nl * (1 - 1.0 * pl / nl)) END
      |    - CASE WHEN n - nl = 0 THEN 0
      |        ELSE (1.0 * (n - nl) / n)
      |          * (2.0 * (pos - pl) / (n - nl) * (1 - 1.0 * (pos - pl) / (n - nl))) END,
      |    6) AS gain
      |FROM cand ORDER BY feature, dec""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val stacked = docs.select(
        explode(array(
          struct(lit("c_en").as("feature"),
            regexp_count(lower(col("text")), lit("\\b(the|and|of|to|is)\\b"))
              .cast("double").as("value")),
          struct(lit("n_chars").as("feature"), col("n_chars").cast("double").as("value")),
          struct(lit("n_tokens").as("feature"),
            regexp_count(col("text"), lit("\\S+")).cast("double").as("value"))))
          .as("f"),
        when(col("lang") === "en", 1).otherwise(0).as("y"))
      .select(col("f.feature").as("feature"), col("f.value").as("value"), col("y"))
    val thr = stacked.groupBy(col("feature"))
      .agg(expr("percentile(value, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))").as("q"))
      .select(col("feature"), posexplode(col("q")).as(Seq("pos0", "thr")))
      .select(col("feature"), (col("pos0") + 1).cast("long").as("dec"), col("thr"))
    val cand = stacked.join(broadcast(thr), "feature")
      .groupBy(col("feature"), col("dec"), col("thr"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"),
        sum(when(col("value") <= col("thr"), 1).otherwise(0)).as("nl"),
        sum(when(col("value") <= col("thr"), col("y")).otherwise(0)).as("pl"))
    def dbl(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      c.cast("double")
    def gini(p: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      lit(2.0) * p * (lit(1) - p)
    val parent = gini(dbl(col("pos")) / dbl(col("n")))
    val left = when(col("nl") === 0, 0.0).otherwise(
      (dbl(col("nl")) / dbl(col("n"))) * gini(dbl(col("pl")) / dbl(col("nl"))))
    val right = when(col("n") - col("nl") === 0, 0.0).otherwise(
      (dbl(col("n") - col("nl")) / dbl(col("n")))
        * gini(dbl(col("pos") - col("pl")) / dbl(col("n") - col("nl"))))
    val gain = parent - left - right
    cand.select(col("feature"), col("dec"), round(col("thr"), 4).as("thr"),
        col("nl").cast("long").as("n_left"), col("pl").cast("long").as("pos_left"),
        round(gain, 6).as("gain"))
      .orderBy(col("feature"), col("dec"))
  }

  /** Multinomial Naive Bayes language classifier trained ON the
    * corpus — the generative counterpart to text_langid's fixed
    * heuristic profiles and mining_dtree's single split: the MODEL
    * IS A RELATION. Train (4/5 of docs by md5 split):
    * P(tri|lang) from one (lang, char-trigram) count aggregate —
    * O(chars) exploded rows reduce map-side to the |langs|·|vocab|
    * model, never corpus-sized on the wire; priors from one O(docs)
    * aggregate. Score (held-out 1/5): per-doc trigram counts join
    * the model ON THE TRIGRAM KEY (hash join — no broadcast ceiling,
    * a 10⁹-row model would scale the same way), unseen trigrams get
    * the Laplace floor 1/(tot+V) via the per-lang broadcast totals,
    * argmax by struct max. Output: test-set confusion matrix.
    * (The synthetic corpus draws text i.i.d. regardless of label, so
    * accuracy sits at the prior BY CONSTRUCTION — the correctness
    * claim is the classifier math, not the corpus.) Rows-only
    * (log-float scores); ScalaTest pins smoothed normalization
    * Σ_tri P(tri|lang) = 1 exactly, population conservation, an
    * EXACT driver replay of the full train+score pipeline (same
    * confusion matrix), and determinism.
    */
  val NbSeed = 42
  val NbTestFold = 5

  /** (doc_id, lang, tri, m): per-document character-trigram counts
    * over lowercased text, whitespace collapsed.
    */
  def nbTrigrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
        regexp_replace(lower(col("text")), "\\s+", " ").as("txt"))
      .select(col("doc_id"), col("lang"),
        // native codepoint-exact n-gram loop (one eval per doc) in
        // place of the interpreted transform(sequence(…), substr)
        // lambda (one dispatch + head-to-i codepoint walk PER
        // POSITION) — value-identical on every ≥3-codepoint doc, and
        // the <3 edge matches the oracle's empty generate_series
        explode(graft.functions.TextFunctions.char_ngrams(col("txt"), 3))
          .as("tri"))
      .groupBy(col("doc_id"), col("lang"), col("tri"))
      .agg(count(lit(1)).as("m"))

  // md5-derived fold (not xxhash64) so the DuckDB oracle replays the
  // identical train/test split — both engines emit the same hex
  def nbIsTest = pmod(
    conv(substring(md5(concat_ws(",", col("doc_id"), lit(NbSeed))), 1, 13), 16, 10)
      .cast("long"), lit(NbTestFold)) === 0

  /** Model relations: (lang, tri, cnt) token counts and
    * (lang, tot, log_prior, n_docs) class stats; vocab size V.
    */
  def nbModel(s: SparkSession, d: String): (DataFrame, DataFrame, Long) = {
    val train = Tables.documents(s, d).filter(!nbIsTest)
    val tri = nbTrigrams(train)
    // the result's own checkpoint: every caller's plan reads it
    val counts = graft.Ckpt.keep(tri.groupBy(col("lang"), col("tri"))
      .agg(sum(col("m")).as("cnt")))
    val vocab = counts.select(col("tri")).distinct().count()
    val nTrain = train.count()
    val classes = counts.groupBy(col("lang")).agg(sum(col("cnt")).as("tot"))
      .join(train.groupBy(col("lang")).agg(count(lit(1)).as("n_docs")), "lang")
      .withColumn("log_prior", log(col("n_docs").cast("double") / lit(nTrain.toDouble)))
    (counts, classes, vocab)
  }

  private val naiveBayesOracle: String =
    s"""WITH docs AS (
       |  SELECT doc_id, lang,
       |    regexp_replace(lower(text), '\\s+', ' ', 'g') AS txt,
       |    (CAST(concat('0x', substring(md5(concat_ws(',', doc_id, '$NbSeed')), 1, 13)) AS BIGINT)
       |       % $NbTestFold = 0) AS is_test
       |  FROM documents),
       |tri0 AS (
       |  SELECT doc_id, lang, is_test,
       |    unnest(list_transform(
       |      generate_series(1, greatest(length(txt) - 2, 0)),
       |      i -> substring(txt, i, 3))) AS tri
       |  FROM docs),
       |tc AS (SELECT doc_id, lang, is_test, tri, count(*) AS m
       |       FROM tri0 GROUP BY 1, 2, 3, 4),
       |counts AS (SELECT lang, tri, sum(m) AS cnt
       |           FROM tc WHERE NOT is_test GROUP BY 1, 2),
       |vocab AS (SELECT CAST(count(DISTINCT tri) AS DOUBLE) AS v FROM counts),
       |ntrain AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM docs WHERE NOT is_test),
       |nd AS (SELECT lang, count(*) AS n_docs
       |       FROM docs WHERE NOT is_test GROUP BY 1),
       |classes AS (
       |  SELECT c.lang, sum(cnt) AS tot, any_value(nd.n_docs) AS n_docs,
       |    ln(CAST(any_value(nd.n_docs) AS DOUBLE) / (SELECT n FROM ntrain)) AS log_prior
       |  FROM counts c JOIN nd ON nd.lang = c.lang GROUP BY c.lang),
       |test AS (SELECT doc_id, lang AS true_lang, tri, m FROM tc WHERE is_test),
       |cand AS (
       |  SELECT t.doc_id, t.true_lang, cl.lang, cl.log_prior, t.m,
       |    ln((CAST(coalesce(c.cnt, 0) AS DOUBLE) + 1.0)
       |       / (CAST(cl.tot AS DOUBLE) + (SELECT v FROM vocab))) AS logp
       |  FROM test t CROSS JOIN classes cl
       |  LEFT JOIN counts c ON c.lang = cl.lang AND c.tri = t.tri),
       |scored AS (
       |  SELECT doc_id, true_lang, lang,
       |    any_value(log_prior) + sum(m * logp) AS score
       |  FROM cand GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT doc_id, true_lang, lang AS pred_lang FROM (
       |    SELECT doc_id, true_lang, lang,
       |      row_number() OVER (PARTITION BY doc_id, true_lang
       |        ORDER BY score DESC, lang DESC) AS rn
       |    FROM scored) WHERE rn = 1)
       |SELECT true_lang, pred_lang, count(*) AS n
       |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val miningNaiveBayes: QueryDef = QueryDef.sql(
    "mining_naive_bayes", naiveBayesOracle) { (s, d) =>
    val (counts, classes, vocab) = nbModel(s, d)
    val test = nbTrigrams(Tables.documents(s, d).filter(nbIsTest))
      .withColumnRenamed("lang", "true_lang")
    // every (test trigram, class) candidate: explode by the ≤|langs|
    // class list (broadcast), then hash-join the model on (lang, tri)
    val cand = test.crossJoin(broadcast(classes))
      .join(counts, Seq("lang", "tri"), "left_outer")
      .withColumn("logp",
        log((coalesce(col("cnt"), lit(0L)).cast("double") + 1.0)
          / (col("tot").cast("double") + lit(vocab.toDouble))))
    val scored = cand
      .groupBy(col("doc_id"), col("true_lang"), col("lang"))
      .agg((first(col("log_prior")) + sum(col("m") * col("logp"))).as("score"))
      .groupBy(col("doc_id"), col("true_lang"))
      .agg(max(struct(col("score"), col("lang"))).getField("lang").as("pred_lang"))
    scored.groupBy(col("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("true_lang"), col("pred_lang"))
  }

  private val GbtRounds = 5
  private val GbtLr = 0.5

  /** Gradient-boosted regression stumps (Friedman 2001, squared
    * loss) — the ensemble built FROM mining_dtree's split-search
    * primitive, and the distributed shape every production GBDT
    * (XGBoost/LightGBM on Spark) uses: per boosting round ONE
    * corpus aggregate computes, for every (feature, decile
    * threshold) candidate, the residual count/sum left of the
    * threshold plus the global residual moments — 57 partial-agg
    * columns, shuffle carries ONE row, never a sort or
    * per-candidate pass (PLANET, Panda et al. 2009). The model
    * (≤T stumps) is applied map-side as a chained-when codegen'd
    * projection — no per-row UDF, no broadcast ceiling concern at
    * O(T) size. Predicts line revenue extprice·(1−discount) — a
    * MULTIPLICATIVE interaction additive stumps must approximate —
    * from (extprice, discount, quantity), where quantity is
    * independent of the target by construction: a noise feature the
    * split search must never choose (pinned). Learning rate 0.5,
    * T=5 rounds, leaf values = γ·mean residual. Output: per round
    * the chosen split, its variance-reduction gain, and train RMSE
    * entering the round. Rows-only (float model path); ScalaTest
    * pins the EXACT squared-loss recurrence SSE_{t+1} = SSE_t −
    * (2γ−γ²)·gain_t (valid because residuals stay centered: F0 = ȳ
    * and constant-leaf updates preserve Σr), monotone RMSE, the
    * noise-feature exclusion, and determinism.
    */
  /** mining_gbt's oracle: five boosting rounds replayed as chained
    * CTEs — base score and residual sums on exact quantized longs
    * (HUGEINT squares for the SSE), the candidate grid as exact
    * deciles of a bounded md5 sample (quantile_cont parity), the
    * per-round argmax with the engine's (gain, feature, −decile)
    * tie order, and a cascading live flag so an early stop replays
    * as filtered no-op rounds.
    */
  private def gbtOracle: String = {
    val decsSql = (1 to 9).map(i => (i / 10.0).toString).mkString(", ")
    def featOf(p: String) =
      s"(CASE $p.f WHEN 'ep' THEN r.ep WHEN 'disc' THEN r.disc ELSE r.qty END)"
    def stumpTerm(k: Int): String =
      s"(CASE WHEN (CASE r$k.f WHEN 'ep' THEN p.ep WHEN 'disc' THEN p.disc " +
        s"ELSE p.qty END) <= r$k.th THEN r$k.al ELSE r$k.ar END)"
    val rounds = (1 to GbtRounds).map { k =>
      val predTerms = (1 until k).map(i => s" + ${stumpTerm(i)}").mkString
      val crossPrev = (1 until k).map(i => s" CROSS JOIN r$i").mkString
      val liveExpr =
        if (k == 1) "p.gain > 0"
        else s"(SELECT live FROM r${k - 1}) AND p.gain > 0"
      s"""rr$k AS (
         |  SELECT p.ep, p.disc, p.qty,
         |    CAST(floor((p.y - (b.base$predTerms)) * 1000000.0 + 0.5) AS BIGINT)
         |      AS rq
         |  FROM pts p CROSS JOIN bs b$crossPrev),
         |agg$k AS (SELECT CAST(sum(CAST(rq AS HUGEINT) * rq) AS DOUBLE)
         |  / 1000000000000.0 AS sse FROM rr$k),
         |ca$k AS (
         |  SELECT c.f, c.dec, c.th,
         |    CAST(sum(CASE WHEN ${featOf("c")} <= c.th THEN 1 ELSE 0 END)
         |      AS DOUBLE) AS nl,
         |    CAST(sum(CASE WHEN ${featOf("c")} <= c.th THEN r.rq ELSE 0 END)
         |      AS DOUBLE) / 1000000.0 AS sl
         |  FROM rr$k r CROSS JOIN cand c GROUP BY c.f, c.dec, c.th),
         |pk$k AS (
         |  SELECT f, dec, th, nl, sl, n, gain FROM (
         |    SELECT ca$k.*, b.n,
         |      CASE WHEN nl = 0 OR (b.n - nl) = 0 THEN 0.0
         |        ELSE sl * sl / nl + (0.0 - sl) * (0.0 - sl) / (b.n - nl)
         |      END AS gain
         |    FROM ca$k CROSS JOIN bs b)
         |  ORDER BY gain DESC, f DESC, dec ASC LIMIT 1),
         |r$k AS MATERIALIZED (
         |  SELECT p.f, p.th, p.dec, p.gain, $liveExpr AS live,
         |    CASE WHEN $liveExpr THEN $GbtLr * p.sl / p.nl ELSE 0.0 END AS al,
         |    CASE WHEN $liveExpr THEN $GbtLr * (-p.sl) / (p.n - p.nl)
         |      ELSE 0.0 END AS ar,
         |    (SELECT sse FROM agg$k) AS sse
         |  FROM pk$k p)""".stripMargin
    }.mkString(",\n")
    val outs = (1 to GbtRounds).map { k =>
      s"""SELECT CAST($k AS INT) AS round, f AS feature,
         |  floor(th * 10000 + 0.5) / 10000 AS thr,
         |  floor(gain * 100 + 0.5) / 100 AS gain,
         |  floor(sqrt(sse / (SELECT n FROM bs)) * 10000 + 0.5) / 10000
         |    AS rmse_in
         |FROM r$k WHERE live""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH pts AS MATERIALIZED (
       |  SELECT l_extendedprice AS ep, l_discount AS disc, l_quantity AS qty,
       |    l_extendedprice * (1.0 - l_discount) AS y,
       |    CAST(concat('0x', substring(
       |      md5(concat_ws(',', l_orderkey, l_linenumber)), 1, 13)) AS BIGINT)
       |      % 10 AS smp
       |  FROM lineitem),
       |bs AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(CAST(floor(y * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / 100.0 / CAST(count(*) AS DOUBLE) AS base
       |  FROM pts),
       |grid AS (
       |  SELECT quantile_cont(ep, [$decsSql]) AS qep,
       |    quantile_cont(disc, [$decsSql]) AS qdisc,
       |    quantile_cont(qty, [$decsSql]) AS qqty
       |  FROM pts WHERE smp = 0),
       |cand AS MATERIALIZED (
       |  SELECT 'ep' AS f, i AS dec, g.qep[i] AS th
       |  FROM grid g, UNNEST(generate_series(1, 9)) AS t(i)
       |  UNION ALL SELECT 'disc' AS f, i AS dec, g.qdisc[i] AS th
       |  FROM grid g, UNNEST(generate_series(1, 9)) AS t(i)
       |  UNION ALL SELECT 'qty' AS f, i AS dec, g.qqty[i] AS th
       |  FROM grid g, UNNEST(generate_series(1, 9)) AS t(i)),
       |$rounds
       |$outs
       |ORDER BY round""".stripMargin
  }

  val miningGbt: QueryDef = QueryDef.sql("mining_gbt", gbtOracle) { (s, d) =>
    import s.implicits._
    val feats = Seq("ep", "disc", "qty")
    val hk = conv(substring(md5(concat_ws(",",
      col("l_orderkey"), col("l_linenumber"))), 1, 13), 16, 10).cast("long")
    graft.Ckpt.scoped { sc =>
      val li = sc.persist(Tables.lineitem(s, d).select(
          col("l_extendedprice").cast("double").as("ep"),
          col("l_discount").cast("double").as("disc"),
          col("l_quantity").cast("double").as("qty"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("y"),
          pmod(hk, lit(10L)).as("smp")))
      // base score from exact cent sums (a float avg would be
      // partition-order noise the oracle can't replay)
      val bRow = li.agg(count(lit(1)).cast("double").as("n"),
        sum(floor(col("y") * 100.0 + lit(0.5)).cast("long")).as("yc")).collect()(0)
      val nAll = bRow.getDouble(0)
      val base = bRow.getLong(1).toDouble / 100.0 / nAll
      // candidate grid: EXACT per-feature deciles of a bounded md5
      // 10% sample — candidates need range coverage, not corpus
      // exactness; the sample caps the exact percentile's buffer at
      // any SF (the sketch alternative is approx_percentile, which
      // no cross-engine oracle can replay), and quantile_cont
      // replays the interpolated values bit-for-bit.
      val decs = (1 to 9).map(_ / 10.0)
      val qRow = li.filter(col("smp") === 0)
        .agg(expr(s"percentile(ep, array(${decs.mkString(",")}))").as("ep"),
          expr(s"percentile(disc, array(${decs.mkString(",")}))").as("disc"),
          expr(s"percentile(qty, array(${decs.mkString(",")}))").as("qty"))
        .collect()(0)
      val thr: Map[String, Seq[Double]] =
        feats.map(f => f -> qRow.getSeq[Double](qRow.fieldIndex(f))).toMap
      val cand = for { f <- feats; (th, i) <- thr(f).zipWithIndex }
        yield (f, i + 1, th)

      var stumps = List.empty[(String, Double, Double, Double)]
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, Double, Double, Double)]
      var t = 1
      var done = false
      while (t <= GbtRounds && !done) {
        val pred = stumps.foldLeft(lit(base): org.apache.spark.sql.Column) {
          case (acc, (f, th, al, ar)) =>
            acc + when(col(f) <= th, al).otherwise(ar)
        }
        val r = col("y") - pred
        // residuals quantize to exact micro longs BEFORE any sum
        // (Round-7 rule); squares ride decimal(38,0) so the SSE stays
        // exact at any SF. rq is floor(x + 0.5) (cheap Math.floor —
        // round(x, 0) is a per-row BigDecimal) and is bound ONCE as a
        // projected column: as an inline expression the 27 candidate
        // branches each re-evaluated it (measured 4 → 25 s isolated).
        val rq = floor(r * lit(1000000.0) + lit(0.5)).cast("long")
        val withRq = li.withColumn("rq", rq)
        val aggs =
          Seq(sum(col("rq").cast("decimal(19,0)")
            * col("rq").cast("decimal(19,0)")).as("sseq")) ++
          cand.flatMap { case (f, dec, th) => Seq(
            sum(when(col(f) <= th, 1.0).otherwise(0.0)).as(s"n_${f}_$dec"),
            sum(when(col(f) <= th, col("rq")).otherwise(0L)).as(s"s_${f}_$dec")) }
        val row = withRq.agg(aggs.head, aggs.tail: _*).collect()(0)
        val n = nAll
        val sse = row.getDecimal(0).doubleValue() / 1.0e12
        // best candidate by variance-reduction gain; deterministic
        // tie-break on (feature, decile)
        val scored = cand.map { case (f, dec, th) =>
          val nl = row.getDouble(row.fieldIndex(s"n_${f}_$dec"))
          val sl = row.getLong(row.fieldIndex(s"s_${f}_$dec"))
            .toDouble / 1000000.0
          val nr = n - nl
          val gain =
            if (nl == 0 || nr == 0) 0.0
            else sl * sl / nl + (0.0 - sl) * (0.0 - sl) / nr // Σr = 0
          (f, dec, th, nl, sl, gain)
        }
        val (bf, bdec, bth, nl, sl, gain) =
          scored.maxBy { case (f, dec, _, _, _, g) => (g, f, -dec) }
        if (gain <= 0) done = true
        else {
          val nr = n - nl
          stumps = stumps :+ ((bf, bth, GbtLr * sl / nl, GbtLr * (-sl) / nr))
          rows += ((t, bf, math.floor(bth * 10000 + 0.5) / 10000,
            math.floor(gain * 100 + 0.5) / 100,
            math.floor(math.sqrt(sse / n) * 10000 + 0.5) / 10000))
          t += 1
        }
      }
      rows.toSeq.toDF("round", "feature", "thr", "gain", "rmse_in")
        .orderBy(col("round"))
    }
  }

  private val IsoBuckets = 200

  /** Isotonic (monotone) regression via weighted PAVA (Barlow et al.
    * 1972; Best & Chakravarti 1990) — THE calibration tool a data
    * pipeline reaches for when a learned score must become a
    * probability/level (calibrating pipeline_quality_model scores,
    * demand curves, dose-response): the least-squares monotone fit.
    * Calibrated here: a deterministically hash-NOISED price score
    * (score = extprice + U[-20k, 20k] from xxhash64) against
    * realized revenue - a noisy learned score whose bucket means DO
    * violate monotonicity, so the pooling step genuinely runs.
    * Distributed shape = the sufficient-statistics pattern
    * (events_shapley, events_absorbing): ONE corpus pass collapses
    * (extendedprice → revenue) into ≤200 equi-width weighted buckets
    * (x̄, ȳ, n) — calibration's standard binning — and the O(buckets)
    * pool-adjacent-violators stack runs driver-side (each merge is
    * a weighted-mean pool; the stack pass is exactly linear).
    * Output: per bucket its mean, weight, raw ȳ and the fitted
    * monotone level. Rows-only (float fit); ScalaTest pins
    * monotonicity, weighted-mean conservation (pooling preserves
    * Σ n·fit), block constancy + means (each fitted level is the
    * weighted mean of its pooled block), the EXACT minimax identity
    * fit_i = max_{j≤i} min_{k≥i} weightedAvg(ȳ_j..ȳ_k) (an
    * independent O(B²) derivation of the same projection), and
    * determinism.
    */
  /** mining_isotonic's oracle: md5-jittered x, exact-cent bucket
    * means, and the weighted PAVA stack replayed as a fold — the
    * accumulator is the flattened [sum, w, span]* stack (LIST — the
    * Round-7 struct-corruption workaround) with a bounded inner
    * merge fold ("pop while the previous block's mean ≥ the new
    * block's"), then blocks expand back to buckets by cumulative
    * span.
    */
  private def isotonicOracle: String = {
    val merged = "list_concat(b[1:len(b)-6], " +
      "[b[len(b)-5] + b[len(b)-2], b[len(b)-4] + b[len(b)-1], " +
      "b[len(b)-3] + b[len(b)]])"
    s"""WITH li AS (
       |  SELECT l_extendedprice + CAST(
       |      CAST(concat('0x', substring(
       |        md5(concat_ws(',', l_orderkey, l_linenumber)), 1, 13)) AS BIGINT)
       |      % 40001 - 20000 AS DOUBLE) AS x,
       |    l_extendedprice * (1.0 - l_discount) AS y
       |  FROM lineitem),
       |wb AS (SELECT lo, (hi - lo) / $IsoBuckets AS width FROM
       |  (SELECT min(x) AS lo, max(x) AS hi FROM li)),
       |stats AS MATERIALIZED (
       |  SELECT b, CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(CAST(round(x * 100.0, 0) AS BIGINT)) AS DOUBLE)
       |      / 100.0 / count(*) AS xm,
       |    CAST(sum(CAST(round(y * 100.0, 0) AS BIGINT)) AS DOUBLE)
       |      / 100.0 / count(*) AS ym
       |  FROM (SELECT CAST(least(floor((li.x - w.lo) / w.width),
       |          ${IsoBuckets - 1}.0) AS INT) AS b, li.x, li.y
       |        FROM li CROSS JOIN wb w)
       |  GROUP BY b),
       |pava AS (
       |  SELECT list_reduce(
       |    list_prepend([0.0::DOUBLE],
       |      list([ym * n, n, 1.0::DOUBLE] ORDER BY b)),
       |    (a, x) -> list_reduce(
       |      list_prepend(list_concat(a, x),
       |        list_transform(generate_series(1, $IsoBuckets),
       |          z -> [0.0::DOUBLE])),
       |      (b, zz) -> CASE WHEN len(b) >= 7
       |          AND b[len(b)-5] / b[len(b)-4] >= b[len(b)-2] / b[len(b)-1]
       |        THEN $merged ELSE b END)) AS st
       |  FROM stats),
       |blocks AS (
       |  SELECT k, st[3*k - 1] / st[3*k] AS fit, st[3*k + 1] AS span
       |  FROM pava, UNNEST(generate_series(1, (len(st) - 1) // 3)) AS t(k)),
       |offs AS (
       |  SELECT fit,
       |    coalesce(sum(span) OVER (ORDER BY k
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS start0,
       |    span
       |  FROM blocks),
       |srt AS (SELECT b, n, xm, ym,
       |          CAST(row_number() OVER (ORDER BY b) - 1 AS DOUBLE) AS ord
       |        FROM stats)
       |SELECT s.b AS bucket, CAST(s.n AS BIGINT) AS n,
       |  floor(s.xm * 100 + 0.5) / 100 AS x_mean,
       |  floor(s.ym * 100 + 0.5) / 100 AS y_mean,
       |  floor(o.fit * 100 + 0.5) / 100 AS y_fit
       |FROM srt s JOIN offs o
       |  ON s.ord >= o.start0 AND s.ord < o.start0 + o.span
       |ORDER BY bucket""".stripMargin
  }

  val miningIsotonic: QueryDef = QueryDef.sql(
    "mining_isotonic", isotonicOracle) { (s, d) =>
    import s.implicits._
    // md5-derived jitter (not xxhash64) + exact-cent bucket moments:
    // the Round-7 conversion recipe — the oracle replays the jitter,
    // the bucket means, and the PAVA stack bit-for-bit
    val h = conv(substring(md5(concat_ws(",",
      col("l_orderkey"), col("l_linenumber"))), 1, 13), 16, 10).cast("long")
    val li = Tables.lineitem(s, d).select(
      (col("l_extendedprice")
        + (pmod(h, lit(40001L)) - lit(20000L)).cast("double")).as("x"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("y"))
    val bounds = li.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .collect()(0)
    val (lo, hi) = (bounds.getDouble(0), bounds.getDouble(1))
    val width = (hi - lo) / IsoBuckets
    // bounded by construction: <= IsoBuckets weighted points
    val stats = li
      .withColumn("b", least(floor((col("x") - lo) / width),
        lit(IsoBuckets - 1)).cast("int"))
      .groupBy(col("b"))
      .agg(count(lit(1)).cast("double").as("n"),
        (sum(round(col("x") * 100.0, 0).cast("long")).cast("double")
          / lit(100.0) / count(lit(1))).as("xm"),
        (sum(round(col("y") * 100.0, 0).cast("long")).cast("double")
          / lit(100.0) / count(lit(1))).as("ym"))
      .orderBy(col("b"))
      .as[(Int, Double, Double, Double)].collect()
    // weighted PAVA: stack of (level, weight, span) blocks
    case class Block(sum: Double, w: Double, span: Int) {
      def mean: Double = sum / w
    }
    val stack = scala.collection.mutable.ArrayBuffer.empty[Block]
    stats.foreach { case (_, n, _, ym) =>
      var blk = Block(ym * n, n, 1)
      while (stack.nonEmpty && stack.last.mean >= blk.mean) {
        val prev = stack.remove(stack.length - 1)
        blk = Block(prev.sum + blk.sum, prev.w + blk.w, prev.span + blk.span)
      }
      stack += blk
    }
    val fit = stack.flatMap(b => Seq.fill(b.span)(b.mean)).toArray
    stats.zip(fit).map { case ((b, n, xm, ym), f) =>
      (b, n.toLong,
        math.floor(xm * 100 + 0.5) / 100,
        math.floor(ym * 100 + 0.5) / 100,
        math.floor(f * 100 + 0.5) / 100)
    }.toSeq.toDF("bucket", "n", "x_mean", "y_mean", "y_fit")
      .orderBy(col("bucket"))
  }

  // ---- mining_hmm -----------------------------------------------------

  /** 2-state HMM parameters for Viterbi decoding of user event
    * streams (browse vs engage): literal log-probabilities inlined
    * into the plan so the whole DP is one codegen'd expression.
    * Event codes: view 0, click 1, error 2, signup 3, purchase 4.
    */
  private val HmmPi = Array(0.8, 0.2)
  private val HmmT = Array(Array(0.85, 0.15), Array(0.30, 0.70))
  private val HmmE = Array(
    Array(0.45, 0.40, 0.05, 0.05, 0.05), // browse
    Array(0.15, 0.30, 0.05, 0.20, 0.30)) // engage

  /** Viterbi decoding of each user's event sequence under a fixed
    * 2-state behavioural HMM — the max-likelihood browse/engage
    * segmentation (events_markov gives the observable-chain view;
    * this is the LATENT-state view). The classic formulation needs a
    * backpointer table; carrying the engaged-step COUNT of each of
    * the two frontier paths through the recursion makes the output
    * statistics available with O(1) state per step, so the whole DP
    * is ONE `aggregate` lambda over the per-user ordered code array
    * (codegen'd, no UDF). One groupBy shuffle total; per-user arrays
    * are bounded by user history length. Ties prefer the lower
    * state id — deterministic at any partitioning. Rows-only;
    * ScalaTest replays exact Viterbi with backtracking at sf0.001.
    */
  /** mining_hmm's oracle: the per-user Viterbi fold replays as a
    * DuckDB list_reduce with a LIST accumulator ([lp0, lp1, c0, c1,
    * i] — the Round-7 struct-accumulator corruption workaround); the
    * log-prob constants are the SAME driver-printed decimal literals
    * the engine embeds, so every float op runs on identical doubles
    * in identical order.
    */
  private def hmmOracle: String = {
    def l(p: Double): String = math.log(p).toString
    def arr(xs: Array[Double]): String =
      xs.map(l).mkString("[", ", ", "]")
    val (e0, e1) = (arr(HmmE(0)), arr(HmmE(1)))
    val (t00, t01) = (l(HmmT(0)(0)), l(HmmT(0)(1)))
    val (t10, t11) = (l(HmmT(1)(0)), l(HmmT(1)(1)))
    val init = "[0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE]"
    s"""WITH coded AS (
       |  SELECT user_id, ts, event_id,
       |    CASE WHEN event_type = 'view' THEN 0
       |         WHEN event_type = 'click' THEN 1
       |         WHEN event_type = 'error' THEN 2
       |         WHEN event_type = 'signup' THEN 3
       |         ELSE 4 END AS code
       |  FROM events),
       |seqs AS (
       |  SELECT user_id,
       |    list(CAST(code AS DOUBLE) ORDER BY ts, event_id, code) AS cs
       |  FROM coded GROUP BY user_id),
       |dp AS (
       |  SELECT user_id, len(cs) AS seq_len,
       |    list_reduce(
       |      list_prepend($init,
       |        list_transform(cs, v -> [v, 0.0::DOUBLE, 0.0::DOUBLE,
       |          0.0::DOUBLE, 0.0::DOUBLE])),
       |      (a, x) -> CASE WHEN a[5] = 0 THEN [
       |        ${l(HmmPi(0))} + $e0[CAST(x[1] AS INT) + 1],
       |        ${l(HmmPi(1))} + $e1[CAST(x[1] AS INT) + 1],
       |        0.0, 1.0, 1.0]
       |      ELSE [
       |        greatest(a[1] + $t00, a[2] + $t10) + $e0[CAST(x[1] AS INT) + 1],
       |        greatest(a[1] + $t01, a[2] + $t11) + $e1[CAST(x[1] AS INT) + 1],
       |        CASE WHEN a[1] + $t00 >= a[2] + $t10 THEN a[3] ELSE a[4] END,
       |        CASE WHEN a[1] + $t01 >= a[2] + $t11 THEN a[3] ELSE a[4] END + 1,
       |        a[5] + 1] END) AS f
       |  FROM seqs)
       |SELECT user_id, CAST(seq_len AS INTEGER) AS seq_len,
       |  CAST(CASE WHEN f[1] >= f[2] THEN f[3] ELSE f[4] END AS INTEGER)
       |    AS n_engaged,
       |  floor(greatest(f[1], f[2]) * 10000 + 0.5) / 10000.0 AS viterbi_loglik
       |FROM dp ORDER BY user_id""".stripMargin
  }

  val miningHmm: QueryDef = QueryDef.sql("mining_hmm", hmmOracle) { (s, d) =>
    def l(p: Double): String = math.log(p).toString
    val e0 = HmmE(0).map(l).mkString("array(", "D, ", "D)")
    val e1 = HmmE(1).map(l).mkString("array(", "D, ", "D)")
    val seqs = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "view", 0)
          .when(col("event_type") === "click", 1)
          .when(col("event_type") === "error", 2)
          .when(col("event_type") === "signup", 3)
          .otherwise(4).as("code"))
      .groupBy(col("user_id"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(ts, event_id, code))), x -> x.code)")
        .as("codes"))
    val dp =
      s"""aggregate(
         |  codes,
         |  named_struct('lp0', 0D, 'lp1', 0D, 'c0', 0, 'c1', 0, 'i', 0),
         |  (a, t) -> IF(a.i = 0,
         |    named_struct(
         |      'lp0', ${l(HmmPi(0))}D + element_at($e0, t + 1),
         |      'lp1', ${l(HmmPi(1))}D + element_at($e1, t + 1),
         |      'c0', 0, 'c1', 1, 'i', 1),
         |    named_struct(
         |      'lp0', greatest(a.lp0 + ${l(HmmT(0)(0))}D, a.lp1 + ${l(HmmT(1)(0))}D)
         |              + element_at($e0, t + 1),
         |      'lp1', greatest(a.lp0 + ${l(HmmT(0)(1))}D, a.lp1 + ${l(HmmT(1)(1))}D)
         |              + element_at($e1, t + 1),
         |      'c0', IF(a.lp0 + ${l(HmmT(0)(0))}D >= a.lp1 + ${l(HmmT(1)(0))}D, a.c0, a.c1),
         |      'c1', IF(a.lp0 + ${l(HmmT(0)(1))}D >= a.lp1 + ${l(HmmT(1)(1))}D, a.c0, a.c1) + 1,
         |      'i', a.i + 1)),
         |  a -> named_struct(
         |    'loglik', greatest(a.lp0, a.lp1),
         |    'n_engaged', IF(a.lp0 >= a.lp1, a.c0, a.c1)))""".stripMargin
    seqs.select(col("user_id"), size(col("codes")).as("seq_len"),
        expr(dp).as("v"))
      .select(col("user_id"), col("seq_len"),
        col("v.n_engaged").as("n_engaged"),
        // floor spelling, not round(x,4) — see the mining_assoc note
        (floor(col("v.loglik") * 10000 + 0.5) / 10000.0).as("viterbi_loglik"))
      .orderBy(col("user_id"))
  }

  // ---- mining_quantile_reg ---------------------------------------------

  private val QrTaus = Seq(0.5, 0.9)
  private val QrSteps = 30
  private val QrLr = 0.5

  /** Shared with the spec: subgradient trajectory for y' = a + b·x'
    * on the STANDARDIZED (quantity, extendedprice) relation. Each
    * step is ONE aggregate with 2 sums per τ (pinball subgradients
    * are bounded by construction, so the fixed step size is stable at
    * any data scale); μ/σ come from one prior aggregate. Returns
    * (τ → (a, b)) in standardized space plus the standardization.
    */
  private[graft] def quantileRegFit(s: SparkSession, d: String)
      : (Map[Double, (Double, Double)], (Double, Double, Double, Double)) = {
    val raw = Tables.lineitem(s, d)
      .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    // exact moments (x is integral, y exact cents) — standardization,
    // and therefore every standardized row, replays engine-identically
    // in the DuckDB oracle (Round-7 quantize-before-sums rule)
    val yc = round(col("y") * 100.0, 0).cast("long")
    val m = raw.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("long")).as("sxs"),
      sum((col("x") * col("x")).cast("long")).as("sx2"),
      sum(yc).as("sycs"),
      sum((yc * yc).cast("decimal(38,0)")).as("syc2")).collect()(0)
    val nD = m.getLong(0).toDouble
    val sxs = m.getLong(1).toDouble
    val sx2 = m.getLong(2).toDouble
    val sys = m.getLong(3).toDouble / 100.0
    val sys2 = m.getDecimal(4).doubleValue() / 10000.0
    val mx = sxs / nD
    val sx = math.sqrt((sx2 - sxs * sxs / nD) / (nD - 1))
    val my = sys / nD
    val sy = math.sqrt((sys2 - sys * sys / nD) / (nD - 1))
    // standardized rows quantize to exact nano longs; x/y dequantize
    // per row so both engines run the SAME doubles, and the
    // subgradient sums reduce to exact counts + exact Σxm
    graft.Ckpt.scoped { sc =>
      val pts = sc.persist(raw.select(
          round((col("x") - mx) / sx * lit(1000000000.0), 0).cast("long").as("xm"),
          round((col("y") - my) / sy * lit(1000000000.0), 0).cast("long").as("ym"))
        .select((col("xm").cast("double") / lit(1000000000.0)).as("x"),
          (col("ym").cast("double") / lit(1000000000.0)).as("y"), col("xm")))
      import s.implicits._
      val tot = pts.agg(sum(col("xm"))).collect()(0)
      val sAll = tot.getLong(0).toDouble
      val ab = scala.collection.mutable.Map(QrTaus.map(t => t -> (0.0, 0.0)): _*)
      // the step's (a, b) enter as DATA (a broadcast one-row frame),
      // not literals: every step's plan generates byte-identical code,
      // so janino compiles the subgradient aggregate ONCE and the 29
      // remaining steps hit the codegen cache instead of paying a
      // fresh compile per step
      for (_ <- 1 to QrSteps) {
        val coefs = broadcast(Seq(QrTaus.map(ab).flatMap(p => Seq(p._1, p._2)))
          .toDF("c"))
        val gcols = QrTaus.zipWithIndex.flatMap { case (t, i) =>
          val below =
            col("y") < element_at(col("c"), 2 * i + 1) +
              element_at(col("c"), 2 * i + 2) * col("x")
          Seq(sum(when(below, 1L).otherwise(0L)).as(s"cb_$i"),
            sum(when(below, col("xm")).otherwise(0L)).as(s"sb_$i"))
        }
        val r = pts.crossJoin(coefs).agg(gcols.head, gcols.tail: _*).collect()(0)
        QrTaus.zipWithIndex.foreach { case (t, i) =>
          val (a, b) = ab(t)
          val cb = r.getLong(2 * i).toDouble
          val sb = r.getLong(2 * i + 1).toDouble
          val ga = (cb * (1.0 - t) - (nD - cb) * t) / nD
          val gb = ((1.0 - t) * (sb / 1000000000.0)
            - t * ((sAll - sb) / 1000000000.0)) / nD
          ab(t) = (a - QrLr * ga, b - QrLr * gb)
        }
      }
      (ab.toMap, (mx, sx, my, sy))
    }
  }

  /** mining_quantile_reg's oracle: exact standardization moments,
    * nano-quantized standardized rows, and the 30 subgradient steps
    * replayed as chained CTEs — each step's gradients reduce to an
    * exact below-count and an exact Σxm, so every (a, b) trajectory
    * is bit-identical.
    */
  private def quantileRegOracle: String = {
    val steps = (1 to QrSteps).map { k =>
      val grads = QrTaus.zipWithIndex.flatMap { case (t, i) =>
        Seq(
          s"CAST(sum(CASE WHEN p.y < s.a$i + s.b$i * p.x THEN 1 ELSE 0 END) AS DOUBLE) AS cb$i",
          s"CAST(sum(CASE WHEN p.y < s.a$i + s.b$i * p.x THEN p.xm ELSE 0 END) AS DOUBLE) AS sb$i")
      }.mkString(",\n    ")
      val upd = QrTaus.zipWithIndex.flatMap { case (t, i) =>
        val ga = s"(g.cb$i * (1.0 - $t) - (m.nD - g.cb$i) * $t) / m.nD"
        val gb = s"((1.0 - $t) * (g.sb$i / 1000000000.0) - " +
          s"$t * ((tt.sAll - g.sb$i) / 1000000000.0)) / m.nD"
        Seq(s"s.a$i - $QrLr * ($ga) AS a$i", s"s.b$i - $QrLr * ($gb) AS b$i")
      }.mkString(",\n    ")
      s"""gr$k AS (
         |  SELECT
         |    $grads
         |  FROM pts p CROSS JOIN st${k - 1} s),
         |st$k AS MATERIALIZED (
         |  SELECT
         |    $upd
         |  FROM st${k - 1} s CROSS JOIN gr$k g CROSS JOIN der m CROSS JOIN tots tt)""".stripMargin
    }.mkString(",\n")
    val init = QrTaus.indices
      .map(i => s"0.0 AS a$i, 0.0 AS b$i").mkString(", ")
    val out = QrTaus.zipWithIndex.map { case (t, i) =>
      s"""SELECT $t AS tau,
         |  floor((m.my + m.sy * s.a$i - (s.b$i * m.sy / m.sx) * m.mx)
         |    * 10000.0 + 0.5) / 10000.0 AS intercept,
         |  floor((s.b$i * m.sy / m.sx) * 10000.0 + 0.5) / 10000.0 AS slope
         |FROM st$QrSteps s CROSS JOIN der m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH raw AS (
       |  SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem),
       |mom AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS nD,
       |    CAST(sum(CAST(x AS BIGINT)) AS DOUBLE) AS sxs,
       |    CAST(sum(CAST(x * x AS BIGINT)) AS DOUBLE) AS sx2,
       |    CAST(sum(CAST(round(y * 100.0, 0) AS BIGINT)) AS DOUBLE)
       |      / 100.0 AS sys,
       |    CAST(sum(CAST(round(y * 100.0, 0) AS BIGINT)
       |      * CAST(round(y * 100.0, 0) AS BIGINT)) AS DOUBLE)
       |      / 10000.0 AS sys2
       |  FROM raw),
       |der AS (
       |  SELECT nD, sxs / nD AS mx,
       |    sqrt((sx2 - sxs * sxs / nD) / (nD - 1)) AS sx,
       |    sys / nD AS my,
       |    sqrt((sys2 - sys * sys / nD) / (nD - 1)) AS sy
       |  FROM mom),
       |pts AS MATERIALIZED (
       |  SELECT CAST(xm AS DOUBLE) / 1000000000.0 AS x,
       |         CAST(ym AS DOUBLE) / 1000000000.0 AS y, xm
       |  FROM (SELECT
       |      CAST(round((r.x - d.mx) / d.sx * 1000000000.0, 0) AS BIGINT) AS xm,
       |      CAST(round((r.y - d.my) / d.sy * 1000000000.0, 0) AS BIGINT) AS ym
       |    FROM raw r CROSS JOIN der d)),
       |tots AS (SELECT CAST(sum(xm) AS DOUBLE) AS sAll FROM pts),
       |st0 AS (SELECT $init),
       |$steps
       |$out
       |ORDER BY tau""".stripMargin
  }

  /** Linear QUANTILE regression (Koenker & Bassett 1978) of extended
    * price on quantity at τ = 0.5 and 0.9 — conditional-quantile
    * modeling for tail/SLA questions OLS cannot answer (mining_ols
    * gives the conditional MEAN; the p90 price line is what quote
    * validation needs). Pinball-loss subgradient descent on the
    * standardized relation: 30 steps × ONE tiny aggregate each
    * (2 bounded-subgradient means per τ, partial-agg); coefficients
    * back-transformed to data units. Rows-only; ScalaTest pins the
    * quantile COVERAGE property (≈τ of points below each line), the
    * p90-above-median ordering on the data range, decreasing pinball
    * loss, and a sequential driver replay.
    */
  val miningQuantileReg: QueryDef = QueryDef.sql(
    "mining_quantile_reg", quantileRegOracle) { (s, d) =>
    val (ab, (mx, sx, my, sy)) = quantileRegFit(s, d)
    import s.implicits._
    QrTaus.map { t =>
      val (a, b) = ab(t)
      // y = my + sy·(a + b·(x−mx)/sx)  →  data-unit intercept/slope
      val slope = b * sy / sx
      val icept = my + sy * a - slope * mx
      (t, math.round(icept * 1e4) / 1e4, math.round(slope * 1e4) / 1e4)
    }.toDF("tau", "intercept", "slope").orderBy(col("tau"))
  }


  /** Split-conformal prediction intervals (Vovk; Lei et al. 2018) —
    * DISTRIBUTION-FREE coverage for any point model, the modern
    * answer to "how wide should the error bars be" that needs no
    * residual-normality assumption (mining_ols's classical intervals
    * do): a 3-way deterministic hash split fits OLS on TRAIN, takes
    * the (1−α) quantile of absolute residuals on CALIBRATION, and
    * the guarantee — P(|y−ŷ| ≤ q) ≥ 1−α on exchangeable new points —
    * is verified empirically on the held-out TEST split. Three
    * aggregates total (moments, residual quantile, coverage count);
    * every pass is partial-agg map-side. Rows-only; ScalaTest pins
    * test coverage within binomial noise of 1−α and the split
    * disjointness.
    */
  /** DuckDB replay of split conformal prediction: the fold is
    * md5-derived, the train fit uses EXACT centi-unit integer
    * moments (slope/intercept from the closed-form ratio — both
    * engines see identical doubles), the calibration quantile is
    * percentile ↔ quantile_cont parity over identical residuals, and
    * the coverage indicator compares identically-computed floats.
    */
  private val conformalOracle: String =
    """WITH rows0 AS (
      |  SELECT l_quantity AS x, l_extendedprice AS y,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS xi,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS yi,
      |    CAST(concat('0x', substring(md5(concat_ws(',', l_orderkey, l_linenumber)), 1, 13)) AS BIGINT)
      |      % 3 AS split
      |  FROM lineitem),
      |m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |    CAST(sum(xi) AS DOUBLE) / 100 AS sx,
      |    CAST(sum(yi) AS DOUBLE) / 100 AS sy,
      |    CAST(sum(xi * xi) AS DOUBLE) / 10000 AS sxx,
      |    CAST(sum(xi * yi) AS DOUBLE) / 10000 AS sxy,
      |    count(*) AS n_train
      |  FROM rows0 WHERE split = 0),
      |fit AS (
      |  SELECT n_train,
      |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
      |    sy / n - (n * sxy - sx * sy) / (n * sxx - sx * sx) * (sx / n) AS a
      |  FROM m),
      |cal AS (
      |  SELECT count(*) AS n_cal,
      |    quantile_cont(abs(y - (a + b * x)), 0.9) AS q
      |  FROM rows0, fit WHERE split = 1),
      |tst AS (
      |  SELECT count(*) AS n_test,
      |    avg(CASE WHEN abs(y - (a + b * x)) <= q THEN 1.0 ELSE 0.0 END) AS cov
      |  FROM rows0, fit, cal WHERE split = 2)
      |SELECT fit.n_train, cal.n_cal, tst.n_test,
      |  floor(fit.b * 1e4 + 0.5) / 1e4 AS beta,
      |  floor(cal.q * 100 + 0.5) / 100 AS q_width,
      |  floor(tst.cov * 1e4 + 0.5) / 1e4 AS test_coverage
      |FROM fit, cal, tst""".stripMargin

  val miningConformal: QueryDef = QueryDef.sql(
    "mining_conformal", conformalOracle) { (s, d) =>
    val rows = Tables.lineitem(s, d)
      .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"),
        round(col("l_quantity") * 100).cast("long").as("xi"),
        round(col("l_extendedprice") * 100).cast("long").as("yi"),
        pmod(conv(substring(
            md5(concat_ws(",", col("l_orderkey"), col("l_linenumber"))), 1, 13),
          16, 10).cast("long"), lit(3)).as("split"))
    // exact centi-unit moments → engine-identical closed-form fit
    val m = rows.filter(col("split") === 0).agg(
      count(lit(1)).as("n_train"),
      sum(col("xi")).as("sxi"), sum(col("yi")).as("syi"),
      sum(col("xi") * col("xi")).as("sxxi"),
      sum(col("xi") * col("yi")).as("sxyi"))
      .collect()(0)
    val nTrain = m.getLong(0)
    val n = nTrain.toDouble
    val sx = m.getLong(1).toDouble / 100
    val sy = m.getLong(2).toDouble / 100
    val sxx = m.getLong(3).toDouble / 10000
    val sxy = m.getLong(4).toDouble / 10000
    val b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val a = sy / n - (n * sxy - sx * sy) / (n * sxx - sx * sx) * (sx / n)
    val resid = abs(col("y") - (lit(a) + lit(b) * col("x")))
    val cal = rows.filter(col("split") === 1)
      .agg(count(lit(1)).as("n"),
        expr(s"percentile(abs(y - ($a + $b * x)), 0.9)").as("q"))
      .collect()(0)
    val (nCal, q) = (cal.getLong(0), cal.getDouble(1))
    val test = rows.filter(col("split") === 2)
      .agg(count(lit(1)).as("n"),
        avg(when(resid <= q, 1.0).otherwise(0.0)).as("cov"))
      .collect()(0)
    import s.implicits._
    Seq((nTrain, nCal, test.getLong(0),
      math.floor(b * 1e4 + 0.5) / 1e4, math.floor(q * 100 + 0.5) / 100,
      math.floor(test.getDouble(1) * 1e4 + 0.5) / 1e4))
      .toDF("n_train", "n_cal", "n_test", "beta", "q_width", "test_coverage")
  }

  val all: Seq[QueryDef] = Seq(qCopurchase, qFuzzyJoin, miningFpgrowth, miningAls,
    miningPrefixspan, miningAssoc, miningLda, miningOls, miningGmm,
    miningIforest, miningDtree, qReciprocalMatch, miningNaiveBayes, miningGbt,
    miningIsotonic, miningHmm, miningQuantileReg, miningConformal)
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables

/** End-to-end training-data curation: quality scoring → language
  * filter → exact dedup → token accounting, as ONE declarative plan.
  *
  * All scoring formulas come from TextAnalysis (single source for
  * the markers, pred_lang argmax, and quality weights — in both
  * Column and SQL form), so this composition can't drift from the
  * per-operator suite it fuses.
  *
  * At 100 TB the whole thing is a single scan with map-side scoring,
  * a fingerprint-keyed shuffle for dedup, and a final write — no
  * intermediate materialization. Catalyst fuses every scalar stage
  * into one codegen'd pass over the corpus.
  */
object Curation {

  val QualityMin = 0.75

  import TextAnalysis._

  val pipelineCurate: QueryDef = QueryDef.sql(
    "pipeline_curate",
    s"""WITH m AS (
       |  SELECT doc_id,
       |    ${qualityInputsSql("    ")},
       |    ${markerCountsSql("    ")},
       |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, n_tokens, fp,
       |    $qualitySql AS quality,
       |    $predLangSql AS pred_lang
       |  FROM m WHERE n_chars > 0 AND n_tokens > 0),
       |f AS (SELECT * FROM q WHERE quality >= $QualityMin AND pred_lang = 'en'),
       |d AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM f)
       |SELECT doc_id, n_tokens, quality FROM d WHERE rn = 1
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val q = qualityInputs(Tables.documents(s, d))
      .filter(col("n_chars") > 0 && col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"),
        qualityCol.as("quality"), predLangCol.as("pred_lang"))
    val f = q.filter(col("quality") >= QualityMin && col("pred_lang") === "en")
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    f.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("doc_id", "n_tokens", "quality")
      .orderBy(col("doc_id"))
  }

  /** Deterministic corpus mixing: every source gets a sampling rate
    * (25/50/75/100% by source number mod 4 — stand-ins for the
    * per-source weights of a real data recipe) and rows are kept by
    * comparing a fixed-width hex prefix of md5(doc_id) against the
    * rate threshold. Hash-based sampling (rather than rand()) is the
    * production technique: the SAME rows are selected on every run,
    * any engine, any partitioning — which is also what makes it
    * oracle-checkable. Map-side filter; one tiny per-source agg.
    */
  val pipelineMix: QueryDef = QueryDef.sql(
    "pipeline_mix",
    """WITH h AS (
      |  SELECT source, n_chars,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hx,
      |    CAST(substr(source, 4) AS INT) % 4 AS band
      |  FROM documents),
      |k AS (SELECT * FROM h
      |      WHERE CASE band WHEN 0 THEN hx < '4000' WHEN 1 THEN hx < '8000'
      |            WHEN 2 THEN hx < 'c000' ELSE TRUE END)
      |SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM k GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val h = Tables.documents(s, d).select(
      col("source"), col("n_chars"),
      substring(md5(col("doc_id").cast("string")), 1, 4).as("hx"),
      expr("CAST(substr(source, 4) AS INT) % 4").as("band"))
    h.filter(
        when(col("band") === 0, col("hx") < "4000")
          .when(col("band") === 1, col("hx") < "8000")
          .when(col("band") === 2, col("hx") < "c000")
          .otherwise(lit(true)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"))
  }

  /** Per-source quality-percentile cut: keep each source's top half
    * by quality score (percent_rank over a TOTAL ordering — doc_id
    * tie-break — so both engines cut identically). The relative-cut
    * alternative to pipeline_curate's absolute threshold: sources
    * with different quality distributions each contribute.
    */
  val pipelineQualityFilter: QueryDef = QueryDef.sql(
    "pipeline_quality_filter",
    s"""WITH m AS (
       |  SELECT doc_id, source,
       |    ${qualityInputsSql("    ")}
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, source, $qualitySql AS quality
       |  FROM m WHERE n_chars > 0 AND n_tokens > 0),
       |r AS (
       |  SELECT *, percent_rank() OVER (PARTITION BY source
       |              ORDER BY quality DESC, doc_id) AS pr
       |  FROM q)
       |SELECT source, count(*) AS n_kept,
       |  round(avg(quality), 4) AS avg_quality
       |FROM r WHERE pr <= 0.5
       |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val q = qualityInputs(Tables.documents(s, d), keep = Seq("source"))
      .filter(col("n_chars") > 0 && col("n_tokens") > 0)
      .select(col("doc_id"), col("source"), qualityCol.as("quality"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    q.withColumn("pr", percent_rank().over(w))
      .filter(col("pr") <= 0.5)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), round(avg(col("quality")), 4).as("avg_quality"))
      .orderBy(col("source"))
  }

  /** Exact-quota stratified sampling: EXACTLY 50 documents per
    * source (or all of a smaller source), chosen by ranking on a
    * fixed-width md5 prefix with a doc_id tie-break — a total,
    * engine-independent order, so the same rows are drawn every run
    * (rate-based hashing — pipeline_mix — can't hit exact quotas;
    * rand() can't be reproduced or oracle-checked). One window pass
    * per source partition.
    */
  val pipelineSampleN: QueryDef = QueryDef.sql(
    "pipeline_sample_n",
    """WITH r AS (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rn
      |  FROM documents)
      |SELECT doc_id, source FROM r WHERE rn <= 50
      |ORDER BY source, doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(substring(md5(col("doc_id").cast("string")), 1, 8), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 50)
      .select(col("doc_id"), col("source"))
      .orderBy(col("source"), col("doc_id"))
  }

  val TokenBudget = 800L

  /** Token-budget corpus mixing: every source contributes documents —
    * in a deterministic md5-prefix order — until its TOKEN budget is
    * exhausted (running cumulative token count ≤ budget). This is how
    * real data recipes are specified ("X billion tokens of source S"),
    * vs. pipeline_mix's rate-based and pipeline_sample_n's
    * count-based draws: the unit of account is tokens, not documents.
    * One window pass per source partition; the budget cut is a
    * map-side filter over the windowed cumsum.
    */
  val pipelineTokenBudget: QueryDef = QueryDef.sql(
    "pipeline_token_budget",
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(length(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
       |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS hx
       |  FROM documents),
       |c AS (
       |  SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY hx, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM c WHERE cum <= $TokenBudget
       |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val t = Tables.documents(s, d).select(
      col("doc_id"), col("source"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
      substring(md5(col("doc_id").cast("string")), 1, 8).as("hx"))
    val w = Window.partitionBy(col("source")).orderBy(col("hx"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.withColumn("cum", sum(col("n_tokens")).over(w))
      .filter(col("cum") <= TokenBudget)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .orderBy(col("source"))
  }

  /** Deterministic train/val/test split (80/10/10): assignment by
    * md5(doc_id) 4-hex-digit prefix thresholds (0xcccd ≈ 80.0%,
    * 0xe666 ≈ 90.0%) — the same document lands in the same split on
    * every run, engine, and partitioning, and adding documents never
    * moves existing ones between splits (the property rand()-based
    * splits can't give). Pure map-side assignment + one tiny agg.
    */
  val pipelineSplit: QueryDef = QueryDef.sql(
    "pipeline_split",
    """WITH h AS (
      |  SELECT source, n_chars,
      |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd' THEN 'train'
      |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents)
      |SELECT split, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  count(DISTINCT source) AS n_sources
      |FROM h GROUP BY split ORDER BY split""".stripMargin) { (s, d) =>
    val hx = substring(md5(col("doc_id").cast("string")), 1, 4)
    Tables.documents(s, d)
      .select(col("source"), col("n_chars"),
        when(hx < "cccd", "train").when(hx < "e666", "val")
          .otherwise("test").as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("split"))
  }

  /** Minority-language oversampling — the rebalancing pass a
    * multilingual training mix runs when low-resource languages
    * would otherwise be drowned out: each language is replicated
    * ceil(max_lang_count / count) times, capped at 4× (the standard
    * guard against memorizing a tiny slice). The corpus ACTUALLY
    * materializes through explode(sequence(1, factor)) — per-row
    * fan-out, no shuffle beyond the final O(langs) aggregate; the
    * factor relation is an O(langs) broadcast. Integer-exact factor
    * arithmetic ((max + n − 1) div n) so both engines compute
    * identical replication; replicated counts = n_orig × factor is
    * pinned in ScalaTest.
    */
  val pipelineOversample: QueryDef = QueryDef.sql(
    "pipeline_oversample",
    """WITH l AS (SELECT lang, count(*) AS n_orig FROM documents GROUP BY lang),
      |m AS (SELECT max(n_orig) AS maxn FROM l),
      |f AS (SELECT lang, n_orig,
      |        least((maxn + n_orig - 1) // n_orig, 4) AS factor
      |      FROM l, m),
      |o AS (SELECT d.lang, d.n_chars, f.n_orig, f.factor
      |      FROM documents d JOIN f ON d.lang = f.lang,
      |           UNNEST(generate_series(1, CAST(f.factor AS INT))))
      |SELECT lang, any_value(n_orig) AS n_orig,
      |  CAST(any_value(factor) AS BIGINT) AS factor,
      |  count(*) AS n_total, CAST(sum(n_chars) AS BIGINT) AS chars_total
      |FROM o GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val langs = Tables.documents(s, d)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_orig"))
      .withColumn("factor",
        least(expr("(max(n_orig) OVER () + n_orig - 1) div n_orig"), lit(4L)))
    Tables.documents(s, d).select(col("lang"), col("n_chars"))
      .join(broadcast(langs), "lang")
      .withColumn("k", explode(sequence(lit(1L), col("factor"))))
      .groupBy(col("lang"))
      .agg(first(col("n_orig")).as("n_orig"), first(col("factor")).as("factor"),
        count(lit(1)).as("n_total"), sum(col("n_chars")).as("chars_total"))
      .orderBy(col("lang"))
  }

  /** Deterministic k-fold cross-validation assignment (k = 5):
    * fold = md5(doc_id) 4-hex-prefix band (0x3333/0x6666/0x9999/
    * 0xcccc cut points ≈ 20% each) — pipeline_split's machinery
    * generalized to k rotating holdouts. Every document lands in the
    * same fold on every run, engine, and partitioning, so fold-i
    * train/holdout sets are reconstructible ANYWHERE from doc_id
    * alone — no stored assignment table, nothing to ship to trainer
    * workers. Map-side assignment + one O(k) aggregate; the
    * train-size column folds from a window over the 5-row aggregate
    * (never a second corpus pass). Fold balance is pinned in
    * ScalaTest.
    */
  val pipelineKfold: QueryDef = QueryDef.sql(
    "pipeline_kfold",
    """WITH h AS (
      |  SELECT n_chars,
      |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '3333' THEN 0
      |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '6666' THEN 1
      |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '9999' THEN 2
      |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 3
      |         ELSE 4 END AS fold
      |  FROM documents),
      |f AS (SELECT fold, count(*) AS n_docs,
      |        CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |      FROM h GROUP BY fold)
      |SELECT fold, n_docs, sum_chars,
      |  CAST(sum(n_docs) OVER () - n_docs AS BIGINT) AS train_docs
      |FROM f ORDER BY fold""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val hx = substring(md5(col("doc_id").cast("string")), 1, 4)
    val folded = Tables.documents(s, d)
      .select(col("n_chars"),
        when(hx < "3333", 0).when(hx < "6666", 1).when(hx < "9999", 2)
          .when(hx < "cccc", 3).otherwise(4).as("fold"))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    folded
      .withColumn("train_docs",
        sum(col("n_docs")).over(Window.partitionBy()) - col("n_docs"))
      .orderBy(col("fold"))
  }

  /** Benchmark-contamination detection (the GPT-3 appendix-C /
    * PaLM-style decontamination primitive): an eval set (stand-in:
    * every 37th document) is checked against the training corpus by
    * exact word-5-gram overlap — any training document sharing a
    * 5-gram with any benchmark document is flagged with how many
    * distinct 5-grams leaked and how many benchmark docs are
    * implicated. The benchmark side is tiny by construction, so it
    * BROADCASTS into the corpus shingle stream: the corpus is scanned
    * once, map-side, and only matching shingles reach the one
    * aggregation — never a corpus shuffle. (At 100 TB the shingles
    * would be xxhash64'd to 8-byte keys first — same plan, narrower
    * rows; strings kept here for engine-exact oracle parity.)
    */
  val textContamination: QueryDef = QueryDef.sql(
    "text_contamination",
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT DISTINCT doc_id,
      |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |    toks[i+3] || ' ' || toks[i+4] AS sh
      |  FROM t, UNNEST(generate_series(1, len(toks) - 4)) AS u(i)
      |  WHERE len(toks) >= 5),
      |b AS (SELECT doc_id AS bench_id, sh FROM s WHERE doc_id % 37 = 0),
      |c AS (SELECT doc_id, sh FROM s WHERE doc_id % 37 <> 0)
      |SELECT c.doc_id, count(DISTINCT c.sh) AS n_shared,
      |  count(DISTINCT b.bench_id) AS n_bench_docs
      |FROM c JOIN b ON c.sh = b.sh
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin) { (s, d) =>
    def grams5(docs: org.apache.spark.sql.DataFrame) = docs
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)).as("toks"))
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), explode(
        graft.functions.TextFunctions.word_grams(col("toks"), 5)).as("sh"))
      .distinct()
    val all = grams5(Tables.documents(s, d))
    val bench = all.filter(col("doc_id") % 37 === 0)
      .select(col("doc_id").as("bench_id"), col("sh"))
    val corpus = all.filter(col("doc_id") % 37 =!= 0)
    corpus.join(broadcast(bench), "sh")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("sh")).as("n_shared"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
      .orderBy(col("doc_id"))
  }

  /** Language-rebalanced token budgets: the multilingual data-recipe
    * knob — the dominant language gets a capped budget while
    * low-resource languages keep a higher one, flattening the corpus
    * distribution (the "up-sample the tail" move every multilingual
    * recipe makes). Same deterministic md5-order cumsum machinery as
    * pipeline_token_budget, keyed by LANG with a per-lang budget
    * expression instead of a constant. One window pass per language
    * partition; map-side everything else.
    */
  val pipelineLangBudget: QueryDef = QueryDef.sql(
    "pipeline_lang_budget",
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS hx
      |  FROM documents),
      |c AS (
      |  SELECT *, sum(n_tokens) OVER (PARTITION BY lang ORDER BY hx, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
      |FROM c WHERE cum <= CASE WHEN lang = 'en' THEN 2000 ELSE 1500 END
      |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val t = Tables.documents(s, d).select(
      col("doc_id"), col("lang"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
      substring(md5(col("doc_id").cast("string")), 1, 8).as("hx"))
    val w = Window.partitionBy(col("lang")).orderBy(col("hx"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.withColumn("cum", sum(col("n_tokens")).over(w))
      .filter(col("cum") <= when(col("lang") === "en", 2000L).otherwise(1500L))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .orderBy(col("lang"))
  }

  /** Model-based quality filtering (the GPT-3-style classifier): a
    * logistic regression trained on weak labels (top-half of the
    * heuristic quality score — the stand-in for "looks like the
    * reference corpus") over three per-document features, then
    * applied corpus-wide. Training is a handful of distributed
    * gradient passes with O(d) driver traffic each (MLlib LBFGS
    * treeAggregate); scoring is map-side against broadcast
    * coefficients — at 100 TB the classifier costs one scan, like
    * every other map-side filter here. Deterministic train split by
    * md5 prefix. Rows-only (LBFGS coefficients are FP-path
    * dependent); holdout agreement with the weak labels is pinned in
    * ScalaTest.
    */
  /** Per-document classifier output: (doc_id, source, label,
    * prediction) where label is the weak top-half-quality label and
    * prediction the fitted LR's decision. Exposed so the test can pin
    * holdout agreement; the query entry aggregates it per source.
    */
  def qualityModelScores(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.ml.classification.LogisticRegression
    graft.Ckpt.scoped { sc =>
      val q = sc.persist(TextAnalysis.qualityInputs(Tables.documents(s, d), keep = Seq("source"))
        .filter(col("n_chars") > 0 && col("n_tokens") > 0)
        .select(col("doc_id"), col("source"), qualityCol.as("quality"),
          substring(md5(col("doc_id").cast("string")), 1, 1).as("hx"),
          array_to_vector(array(
            least(lit(1.0), col("n_tokens").cast("double") / 100),
            col("alpha_chars").cast("double") / col("n_chars"),
            col("n_stops").cast("double") / col("n_tokens"))).as("features")))
      q.count() // materialize once; train + score both read the cache
      // weak-label threshold: a median is a THRESHOLD here, not a
      // reported statistic — the GK sketch (bounded memory, mergeable)
      // replaces exact percentile's buffer-every-value, which is an
      // OOM hazard at 100 TB partition sizes; rank error 0.1% moves
      // the label boundary by ~0.1% of docs, noise for a weak labeler
      val med = q.agg(expr("approx_percentile(quality, 0.5, 1000)"))
        .head().getDouble(0)
      val labeled = q.withColumn("label", (col("quality") >= med).cast("double"))
      val model = new LogisticRegression().setMaxIter(50).setRegParam(0.0)
        .setFeaturesCol("features").setLabelCol("label")
        .fit(labeled.filter(col("hx") < "8"))
      sc.keep(model.transform(labeled)
        .select(col("doc_id"), col("source"), col("hx"), col("label"), col("prediction")))
    }
  }

  val pipelineQualityModel: QueryDef = QueryDef.rowsOnly("pipeline_quality_model") { (s, d) =>
    qualityModelScores(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("prediction")).cast("long").as("n_keep"))
      .orderBy(col("source"))
  }

  /** Sequence-packing accounting (the pretraining dataloader op):
    * documents concatenate in a deterministic md5 order and chunk
    * into fixed 2048-token context windows — "concat then chunk", the
    * packing GPT-style training uses. A document's window is the one
    * holding its FIRST token (floor((cum - n_tokens) / 2048)).
    * Packing runs WITHIN each source shard (a global order would
    * serialize the cumsum at 100 TB; per-shard is how real loaders
    * pack), one window pass per source partition. Output: windows,
    * docs, tokens, and the fill ratio per source.
    */
  val pipelinePack: QueryDef = QueryDef.sql(
    "pipeline_pack",
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS hx
      |  FROM documents),
      |c AS (
      |  SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY hx, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t),
      |w AS (
      |  SELECT *, CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS win
      |  FROM c)
      |SELECT source, max(win) + 1 AS n_windows, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
      |  round(sum(n_tokens) / ((max(win) + 1) * 2048.0), 4) AS fill
      |FROM w GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val t = Tables.documents(s, d).select(
      col("doc_id"), col("source"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
      substring(md5(col("doc_id").cast("string")), 1, 8).as("hx"))
    val w = Window.partitionBy(col("source")).orderBy(col("hx"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("win", floor((col("cum") - col("n_tokens")) / 2048.0).cast("long"))
      .groupBy(col("source"))
      .agg((max(col("win")) + 1).as("n_windows"), count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        round(sum(col("n_tokens")) / ((max(col("win")) + 1) * 2048.0), 4).as("fill"))
      .orderBy(col("source"))
  }

  /** Pipeline instrumentation via observed metrics: the curation
    * filter runs ONCE and `observe` accumulates its health counters
    * (rows in, rows kept, chars kept, languages seen) as a
    * side-effect of that single pass — zero extra scans, the way a
    * 100 TB job reports throughput without re-reading anything.
    * The observed values become the result row; the oracle computes
    * the same counters declaratively.
    */
  val pipelineObserved: QueryDef = QueryDef.sql(
    "pipeline_observed",
    """SELECT count(*) AS n_in,
      |  count(CASE WHEN n_chars >= 64 THEN 1 END) AS n_kept,
      |  CAST(sum(CASE WHEN n_chars >= 64 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept,
      |  count(DISTINCT CASE WHEN n_chars >= 64 THEN lang END) AS langs_kept
      |FROM documents""".stripMargin) { (s, d) =>
    // isolated session: the registered Observation lives in session
    // state, and leaving it behind would put the (non-serializable)
    // ObservationManager on later queries' closure-capture paths
    val s2 = s.newSession()
    val obs = new org.apache.spark.sql.Observation("curation_health")
    val kept = Tables.documents(s2, d)
      .observe(obs,
        count(lit(1)).as("n_in"),
        count(when(col("n_chars") >= 64, 1)).as("n_kept"),
        sum(when(col("n_chars") >= 64, col("n_chars")).otherwise(0L))
          .as("chars_kept"),
        // DISTINCT aggregates are disallowed in observe; the
        // language set is alphabet-bounded, so a collect_set is O(1)
        size(collect_set(when(col("n_chars") >= 64, col("lang"))))
          .cast("long").as("langs_kept"))
      .filter(col("n_chars") >= 64)
    kept.write.mode("overwrite").format("noop").save() // the single pass
    val m = obs.get
    import s.implicits._
    Seq((m("n_in").asInstanceOf[Long], m("n_kept").asInstanceOf[Long],
      m("chars_kept").asInstanceOf[Long], m("langs_kept").asInstanceOf[Long]))
      .toDF("n_in", "n_kept", "chars_kept", "langs_kept")
  }

  /** Dataset card: the one-row corpus summary a release ships with —
    * size, exact-dup rate (engine-normalized keys), language
    * diversity (count + Shannon entropy in bits), and length
    * distribution (mean + exact median). One corpus scan computes
    * every row-level measure; the language entropy folds the tiny
    * per-language aggregate algebraically (no totals self-join).
    */
  val pipelineDatasetCard: QueryDef = QueryDef.sql(
    "pipeline_dataset_card",
    """WITH base AS (
      |  SELECT n_chars, lang,
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      |  FROM documents),
      |row_stats AS (
      |  SELECT count(*) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |    floor(avg(n_chars) * 100 + 0.5) / 100 AS mean_chars,
      |    floor(median(n_chars) * 100 + 0.5) / 100 AS median_chars,
      |    count(DISTINCT norm) AS n_unique,
      |    count(DISTINCT lang) AS n_langs
      |  FROM base),
      |lang_entropy AS (
      |  SELECT floor((log2(sum(c)) - sum(c * log2(c)) / sum(c)) * 10000 + 0.5) / 10000
      |    AS lang_entropy_bits
      |  FROM (SELECT CAST(count(*) AS DOUBLE) AS c FROM base GROUP BY lang))
      |SELECT n_docs, total_chars, mean_chars, median_chars,
      |  floor((1.0 - CAST(n_unique AS DOUBLE) / n_docs) * 10000 + 0.5) / 10000
      |    AS dup_rate,
      |  n_langs, lang_entropy_bits
      |FROM row_stats, lang_entropy""".stripMargin) { (s, d) =>
    val base = Tables.documents(s, d).select(col("n_chars"), col("lang"),
      trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("norm"))
    val rowStats = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("total_chars"),
      (floor(avg(col("n_chars")) * 100 + 0.5) / 100).as("mean_chars"),
      (floor(expr("percentile(n_chars, 0.5D)") * 100 + 0.5) / 100)
        .as("median_chars"),
      countDistinct(col("norm")).as("n_unique"),
      countDistinct(col("lang")).as("n_langs"))
    // H = log2(N) - Σ c·log2(c) / N, folded from the per-language
    // counts without a second corpus pass
    val entropy = base.groupBy(col("lang"))
      .agg(count(lit(1)).cast("double").as("c"))
      .agg((floor((log2(sum(col("c"))) -
        sum(col("c") * log2(col("c"))) / sum(col("c"))) * 10000 + 0.5) / 10000)
        .as("lang_entropy_bits"))
    rowStats.crossJoin(entropy) // both single rows
      .select(col("n_docs"), col("total_chars"), col("mean_chars"),
        col("median_chars"),
        (floor((lit(1.0) - col("n_unique").cast("double") / col("n_docs"))
          * 10000 + 0.5) / 10000).as("dup_rate"),
        col("n_langs"), col("lang_entropy_bits"))
  }

  /** Decontamination — the FILTER counterpart to text_contamination's
    * report: drop every corpus doc sharing ≥1 distinct 5-gram with
    * the benchmark set (same doc_id%37 bench convention) and account
    * for the cut per source: docs kept/dropped and tokens surviving.
    * The join is corpus-grams ⋈ broadcast bench-grams (bench sets are
    * small by construction — eval suites, not corpora), the drop is a
    * LEFT ANTI on the contaminated-id set, both O(corpus grams)
    * shuffle-free on the corpus side beyond the gram explode.
    */
  val pipelineDecontaminate: QueryDef = QueryDef.sql(
    "pipeline_decontaminate",
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT DISTINCT doc_id,
      |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |    toks[i+3] || ' ' || toks[i+4] AS sh
      |  FROM t, UNNEST(generate_series(1, len(toks) - 4)) AS u(i)
      |  WHERE len(toks) >= 5),
      |b AS (SELECT sh FROM s WHERE doc_id % 37 = 0),
      |bad AS (SELECT DISTINCT c.doc_id FROM s c
      |        WHERE c.doc_id % 37 <> 0 AND c.sh IN (SELECT sh FROM b)),
      |corpus AS (
      |  SELECT doc_id, source,
      |    CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_toks
      |  FROM documents WHERE doc_id % 37 <> 0)
      |SELECT source,
      |  count(*) FILTER (bad.doc_id IS NULL) AS n_kept,
      |  count(*) FILTER (bad.doc_id IS NOT NULL) AS n_dropped,
      |  CAST(coalesce(sum(n_toks) FILTER (bad.doc_id IS NULL), 0) AS BIGINT)
      |    AS tokens_kept
      |FROM corpus LEFT JOIN bad ON corpus.doc_id = bad.doc_id
      |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val grams = Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)).as("toks"))
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), explode(
        graft.functions.TextFunctions.word_grams(col("toks"), 5)).as("sh"))
      .distinct()
    val benchGrams = grams.filter(col("doc_id") % 37 === 0).select(col("sh")).distinct()
    val bad = grams.filter(col("doc_id") % 37 =!= 0)
      .join(broadcast(benchGrams), "sh")
      .select(col("doc_id")).distinct()
    val corpus = Tables.documents(s, d).filter(col("doc_id") % 37 =!= 0)
      .select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
    corpus.join(bad.withColumn("is_bad", lit(1)), Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(count(when(col("is_bad").isNull, 1)).as("n_kept"),
        count(when(col("is_bad").isNotNull, 1)).as("n_dropped"),
        coalesce(sum(when(col("is_bad").isNull, col("n_toks"))), lit(0L))
          .as("tokens_kept"))
      .orderBy(col("source"))
  }

  /** Deterministic per-epoch training order: the shuffle every epoch
    * of LLM training needs, with NO rand() anywhere — the order IS
    * md5(epoch:doc_id), so any engine, any partitioning, any retry
    * materializes the identical sequence, and epoch 0 and epoch 1
    * orders are independent permutations. Emits the first 20 docs of
    * each epoch's order as (epoch, pos, doc_id).
    *
    * At 100 TB the window here is the demo-sized spelling; the
    * production write is `orderBy(shuffle_key)` — a RANGE exchange
    * that streams each output file in key order (position = file
    * order), never a single-partition window. The per-epoch prefix
    * this query emits is exactly the native TopKPerKey shape
    * (bounded buffer per epoch) if positions aren't needed.
    */
  val pipelineEpochShuffle: QueryDef = QueryDef.sql(
    "pipeline_epoch_shuffle",
    """WITH e AS (SELECT 0 AS epoch UNION ALL SELECT 1),
      |k AS (
      |  SELECT e.epoch, d.doc_id,
      |         md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS sk
      |  FROM documents d CROSS JOIN e),
      |r AS (SELECT epoch, doc_id,
      |        row_number() OVER (PARTITION BY epoch ORDER BY sk, doc_id) AS pos
      |      FROM k)
      |SELECT epoch, pos, doc_id FROM r WHERE pos <= 20
      |ORDER BY epoch, pos""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val epochs = s.range(0, 2).select(col("id").cast("int").as("epoch"))
    val k = Tables.documents(s, d).select(col("doc_id"))
      .crossJoin(broadcast(epochs))
      .withColumn("sk",
        md5(concat(col("epoch").cast("string"), lit(":"), col("doc_id").cast("string"))))
    val w = Window.partitionBy(col("epoch")).orderBy(col("sk"), col("doc_id"))
    k.withColumn("pos", row_number().over(w)).filter(col("pos") <= 20)
      .select(col("epoch"), col("pos"), col("doc_id"))
      .orderBy(col("epoch"), col("pos"))
  }

  /** Deterministic weighted interleave across sources — the "data
    * recipe" ordering that feeds a trainer domains at fixed ratios
    * (source weight w ∈ {1,2,3} by source number mod 3, stand-ins
    * for real mixture weights). Each source's r-th doc (by doc_id)
    * is released at virtual time r/w; the merged order is sorted by
    * (time, source, r), so a weight-3 source appears 3× as often as
    * a weight-1 source in any window of the output. First 30 global
    * positions emitted.
    *
    * Scale shape: the per-source rank is a window over the source
    * shuffle (each source's rows stay together — the same exchange
    * the per-source quality cut already pays); the global order is a
    * RANGE sort on (time, source) at write time. Nothing here is
    * corpus-quadratic and no driver state exists.
    */
  val pipelineInterleave: QueryDef = QueryDef.sql(
    "pipeline_interleave",
    """WITH r AS (
      |  SELECT source, doc_id,
      |    1 + CAST(substr(source, 4) AS INT) % 3 AS w,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rnk
      |  FROM documents),
      |t AS (SELECT source, doc_id,
      |        CAST(rnk AS DOUBLE) / w AS vt, rnk FROM r),
      |g AS (SELECT source, doc_id,
      |        row_number() OVER (ORDER BY vt, source, rnk) AS pos
      |      FROM t)
      |SELECT pos, source, doc_id FROM g WHERE pos <= 30
      |ORDER BY pos""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val r = Tables.documents(s, d).select(
      col("source"), col("doc_id"),
      (lit(1) + expr("CAST(substr(source, 4) AS INT)") % 3).as("w"),
      row_number().over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))).as("rnk"))
    val t = r.withColumn("vt", col("rnk").cast("double") / col("w"))
    // vt is strictly increasing in rnk within a source (w is fixed per
    // source), so the global top-30 can only contain each source's
    // first 30 docs — pre-pruning to rnk ≤ 30 bounds the unpartitioned
    // ranking window to O(30·sources) rows instead of the corpus (an
    // unpartitioned WindowExec is a single-partition sort).
    t.filter(col("rnk") <= 30)
      .withColumn("pos",
        row_number().over(Window.orderBy(col("vt"), col("source"), col("rnk"))))
      .filter(col("pos") <= 30)
      .select(col("pos"), col("source"), col("doc_id"))
      .orderBy(col("pos"))
  }

  /** Curriculum ordering: rank the corpus easy→hard by a
    * deterministic difficulty key (mean word length, then doc
    * length, then doc_id as the total-order tie-break) and cut it
    * into 4 curriculum phases. The per-doc features are map-only;
    * the phase assignment is the TWO-PHASE exact global rank
    * (q_global_rank's banded machinery — an unpartitioned ntile
    * window would single-partition the corpus), with
    * ntile(n) ≡ floor((rank−1)·n/N)+1 keeping the result identical
    * to the oracle's ntile; output is O(phases).
    */
  val pipelineCurriculum: QueryDef = QueryDef.sql(
    "pipeline_curriculum",
    """WITH f AS (
      |  SELECT doc_id, n_chars, length(text) AS text_len,
      |    greatest(length(text) - length(replace(text, ' ', '')) + 1, 1) AS n_words
      |  FROM documents),
      |ranked AS (
      |  SELECT doc_id, n_chars, text_len, n_words,
      |    ntile(4) OVER (ORDER BY text_len * 1.0 / n_words, n_chars, doc_id) AS phase
      |  FROM f)
      |SELECT phase, count(*) AS n_docs,
      |  round(sum(text_len) * 1.0 / sum(n_words), 6) AS avg_wlen,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |  round(sum(n_chars) * 1.0 / count(*), 2) AS avg_chars
      |FROM ranked GROUP BY phase ORDER BY phase""".stripMargin) { (s, d) =>
    val f = Tables.documents(s, d).select(
      col("doc_id"), col("n_chars"),
      length(col("text")).cast("long").as("text_len"),
      greatest(length(col("text")) -
          length(replace(col("text"), lit(" "), lit(""))) + lit(1), lit(1))
        .cast("long").as("n_words"))
    import org.apache.spark.sql.expressions.Window
    // ntile(4) without a partition clause is a SINGLE-PARTITION sort —
    // a scale-killer on the documents corpus. Two-phase exact global
    // rank instead (q_global_rank's machinery): band on a monotone
    // integer image of the leading sort key, per-band counts → prefix
    // offsets (O(bands) relation), per-band local row_number + offset
    // = the exact global rank, and ntile(n) ≡ floor((rank−1)·n/N)+1
    // (the SQL ntile identity, first N mod n groups one larger) — so
    // the result is bit-identical to the oracle's ntile while every
    // window is partitioned.
    // floor(4·key) with key = the double sort key below: ×4 is an
    // exact power-of-two scaling, so the band is exactly monotone in
    // the key (an integer-division band could disagree with the
    // double ordering at a rounding-collapsed boundary)
    val banded = f.withColumn("band",
      floor(col("text_len") * lit(4.0) / col("n_words")).cast("long"))
    val counts = banded.groupBy(col("band")).agg(count(lit(1)).as("bn"))
    val wBands = Window.orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("offset", coalesce(sum(col("bn")).over(wBands), lit(0L)))
      .select(col("band").as("ob"), col("offset"))
    val total = f.count()
    val wLocal = Window.partitionBy(col("band")).orderBy(
      col("text_len") * lit(1.0) / col("n_words"), col("n_chars"), col("doc_id"))
    banded.join(broadcast(offsets), col("band") === col("ob"))
      .withColumn("grank", col("offset") + row_number().over(wLocal))
      .withColumn("phase",
        expr(s"cast((grank - 1) * 4 div $total as int) + 1"))
      .groupBy(col("phase"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("text_len")) * lit(1.0) / sum(col("n_words")), 6).as("avg_wlen"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        round(sum(col("n_chars")) * lit(1.0) / count(lit(1)), 2).as("avg_chars"))
      .orderBy(col("phase"))
  }

  /** WHOLE-document sequence packing by best-fit-decreasing —
    * pipeline_pack's contiguous windows SPLIT documents across
    * window boundaries (fine for plain LM pretraining, wrong when
    * examples must stay intact: instruction pairs, contrastive
    * docs, anything with cross-token structure). True bin packing is
    * sequential, so the scalable shape shards it: documents hash
    * into fixed-population buckets per source (deterministic
    * xxhash64; bucket count scales with the source's doc count, so
    * per-bucket work is bounded at ANY corpus size), each bucket
    * runs classic BFD locally inside flatMapGroups (sort desc, place
    * each doc into the fullest bin that still fits), and per-source
    * stats aggregate the bucket results. Oversized docs (> capacity)
    * get singleton bins, flagged. BFD's 11/9·OPT+1 guarantee applies
    * per bucket; the ScalaTest pins capacity-respect, exactly-once
    * placement, the lower bound, and fill ≥ 70%.
    */
  /** pipeline_pack_bins' oracle: replay the md5-ranked bucket
    * chunking, then the per-bucket best-fit-decreasing loop as a
    * fold whose accumulator is [oversized, residual…] (LIST) — each
    * doc either increments the oversized counter, opens a bin, or
    * decrements the FIRST minimal residual that still fits (the
    * engine's strict-< scan order) — then the per-source rollup.
    */
  private def packBinsOracle(capacity: Int, docsPerBucket: Int): String = {
    val qual = s"list_filter(a[2:len(a)], r -> r >= x[1])"
    s"""WITH docs AS (
       |  SELECT doc_id, source,
       |    CAST(length(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n
       |  FROM documents),
       |ranked AS (
       |  SELECT source, doc_id, n,
       |    CAST((row_number() OVER (PARTITION BY source ORDER BY
       |      CAST(concat('0x', substring(md5(concat_ws(',', doc_id, '17')), 1, 13))
       |        AS BIGINT), doc_id) - 1) // $docsPerBucket AS INT) AS bucket
       |  FROM docs),
       |grp AS (
       |  SELECT source, bucket,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n) AS BIGINT) AS sum_tokens,
       |    list_reduce(
       |      list_prepend([0.0::DOUBLE],
       |        list([CAST(n AS DOUBLE)] ORDER BY n DESC, doc_id)),
       |      (a, x) -> CASE
       |        WHEN x[1] >= $capacity THEN
       |          list_append(list_concat([a[1] + 1], a[2:len(a)]), 0.0)
       |        WHEN len($qual) = 0 THEN
       |          list_append(a, $capacity.0 - x[1])
       |        ELSE
       |          list_transform(a, (v, i) -> CASE
       |            WHEN i = list_position(a[2:len(a)], list_min($qual)) + 1
       |            THEN v - x[1] ELSE v END)
       |        END) AS st
       |  FROM ranked GROUP BY source, bucket),
       |per AS (
       |  SELECT source, n_docs, sum_tokens,
       |    CAST(st[1] AS BIGINT) AS n_oversized,
       |    CAST(len(st) - 1 AS BIGINT) AS n_bins
       |  FROM grp)
       |SELECT source, CAST(sum(n_docs) AS BIGINT) AS n_docs,
       |  CAST(sum(sum_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(sum(n_oversized) AS BIGINT) AS n_oversized,
       |  CAST(sum(n_bins) AS BIGINT) AS n_bins,
       |  CAST(ceil(sum(sum_tokens) / $capacity.0) AS BIGINT) AS lower_bound,
       |  floor(sum(sum_tokens) * 10000.0 / (sum(n_bins) * $capacity) + 0.5)
       |    / 10000 AS fill
       |FROM per GROUP BY source ORDER BY source""".stripMargin
  }

  val pipelinePackBins: QueryDef = QueryDef.sql(
    "pipeline_pack_bins", packBinsOracle(2048, 512)) { (s, d) =>
    packBins(s, Tables.documents(s, d).select(
      col("doc_id"), col("source"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")))
  }

  /** Bucketed-BFD packing core over (doc_id, source, n_tokens) —
    * see pipeline_pack_bins. Factored for the ScalaTest's synthetic
    * packing-quality pins.
    */
  def packBins(s: org.apache.spark.sql.SparkSession,
      t: org.apache.spark.sql.DataFrame,
      capacity: Int = 2048, docsPerBucket: Int = 512): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    // deterministic fixed-population buckets: per source, docs ranked
    // by hash then chunked — bucket count grows with the source.
    // md5-derived rank (not xxhash64) so the DuckDB oracle replays
    // the bucket membership identically.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(conv(substring(md5(concat_ws(",", col("doc_id"), lit(17))),
        1, 13), 16, 10).cast("long"), col("doc_id"))
    val bucketed = t
      .withColumn("bucket", ((row_number().over(w) - 1) / docsPerBucket).cast("int"))
    // one summary row per bucket out of the packing pass
    val perBucket = bucketed
      .select(col("source"), col("bucket"), col("doc_id"), col("n_tokens"))
      .as[(String, Int, Long, Long)]
      .groupByKey { case (src, b, _, _) => (src, b) }
      .mapGroups { (key: (String, Int), it: Iterator[(String, Int, Long, Long)]) =>
        val src = key._1
        // classic BFD: sort desc (ties by doc_id for determinism),
        // place each doc into the fullest bin that still fits
        val docs = it.map { case (_, _, id, n) => (id, n) }.toArray
          .sortBy { case (id, n) => (-n, id) }
        val bins = scala.collection.mutable.ArrayBuffer.empty[Long] // residuals
        var oversized = 0L
        docs.foreach { case (_, n) =>
          if (n >= capacity) { bins += 0L; oversized += 1 }
          else {
            var best = -1; var bestRes = Long.MaxValue
            var i = 0
            while (i < bins.length) {
              val r = bins(i)
              if (r >= n && r < bestRes) { best = i; bestRes = r }
              i += 1
            }
            if (best < 0) bins += (capacity - n)
            else bins(best) = bins(best) - n
          }
        }
        (src, docs.length.toLong, docs.map(_._2).sum, oversized, bins.length.toLong)
      }
      .toDF("source", "n_docs", "sum_tokens", "n_oversized", "n_bins")
    perBucket.groupBy(col("source"))
      .agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("sum_tokens")).as("sum_tokens"),
        sum(col("n_oversized")).as("n_oversized"),
        sum(col("n_bins")).as("n_bins"))
      .withColumn("lower_bound", ceil(col("sum_tokens") / lit(capacity.toDouble)))
      .withColumn("fill",
        floor(col("sum_tokens") * 10000.0 / (col("n_bins") * capacity) + 0.5) / 10000)
      .orderBy(col("source"))
  }

  // ---- DSIR importance resampling ------------------------------------

  private[graft] val DsirBuckets = 4096
  private[graft] val DsirK = 100

  /** Hashed-unigram feature ids + counts per document: ONE token
    * explode collapsed map-side to (doc, feature) — the wire carries
    * distinct-feature rows, never raw tokens.
    */
  private[graft] def dsirDocFeatures(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("word"))
      .select(col("doc_id"),
        pmod(xxhash64(col("word"), lit(7)), lit(DsirBuckets.toLong)).as("f"))
      .groupBy(col("doc_id"), col("f")).agg(count(lit(1)).as("c"))

  /** The fitted DSIR bag-of-hashed-unigrams models: per feature the
    * target count, raw count, and the smoothed log importance ratio
    * log p̂_t(f) − log p̂_r(f). Returns (model, isTarget, T, R).
    */
  private[graft] def dsirModel(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Long, Long) = {
    val docs = Tables.documents(s, d)
    val q = qualityInputs(docs)
      .filter(col("n_chars") > 0 && col("n_tokens") > 0)
      .select(col("doc_id"), qualityCol.as("quality"))
    // approx median quality cut defines the in-domain target corpus —
    // a selection threshold, not a statistic: the GK sketch is
    // bounded-memory where exact percentile buffers the corpus
    val med = q.agg(expr("approx_percentile(quality, 0.5, 1000)"))
      .collect()(0).getDouble(0)
    val isTarget = q.select(col("doc_id"), (col("quality") >= med).as("is_t"))
    val counts = dsirDocFeatures(docs)
      .join(isTarget, "doc_id")
      .groupBy(col("f"))
      .agg(sum(when(col("is_t"), col("c")).otherwise(0L)).as("ct"),
        sum(col("c")).as("cr"))
    val tot = counts.agg(sum(col("ct")), sum(col("cr"))).collect()(0)
    val (bigT, bigR) = (tot.getLong(0), tot.getLong(1))
    val model = counts.withColumn("r",
      log((col("ct") + lit(0.5)) / lit(bigT + 0.5 * DsirBuckets))
        - log((col("cr") + lit(0.5)) / lit(bigR + 0.5 * DsirBuckets)))
    (model, isTarget, bigT, bigR)
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al.
    * 2023), the raw-pool→target-domain selection step LLM pretraining
    * pipelines run before training: fit a hashed bag-of-unigrams
    * model of the TARGET domain (here the corpus's own top-half by
    * the Gopher-style quality score — the "looks like curated data"
    * set) and of the raw pool, weight every raw document by
    * log w = Σ_f c_f · (log p̂_t(f) − log p̂_r(f)), and draw the
    * training subset by Gumbel-top-k on the log weights — the
    * without-replacement sampler whose randomness is hash-derived
    * (q_weighted_sample's machinery), so every run/partitioning
    * replays identically. Plans: one token explode collapsed
    * map-side to (doc, feature); the 4096-row model BROADCASTS back
    * (at open-vocab scale the same join runs on the feature key —
    * no ceiling); the per-doc float sum folds a SORTED per-doc
    * feature array (deterministic order — a groupBy-sum of doubles
    * is shuffle-arrival-ordered and irreproducible); selection is
    * one TakeOrdered. Rows-only: float log-ratios. ScalaTest pins
    * EXACT local replay (same sorted-fold), the Gibbs pull
    * Σ p̂_t log(p̂_t/p̂_r) ≥ 0, selection size, and rerun determinism.
    */
  val pipelineDsir: QueryDef = QueryDef.rowsOnly("pipeline_dsir") { (s, d) =>
    val docs = Tables.documents(s, d)
    val (model, isTarget, _, _) = dsirModel(s, d)
    val logw = dsirDocFeatures(docs)
      .join(broadcast(model.select(col("f"), col("r"))), "f")
      .select(col("doc_id"),
        struct(col("f"), (col("c") * col("r")).as("v")).as("fc"))
      .groupBy(col("doc_id"))
      .agg(aggregate(array_sort(collect_list(col("fc"))), lit(0.0),
        (acc, x) => acc + x.getField("v")).as("logw"))
    // Gumbel-top-k: u hash-uniform in (0,1], key = logw + Gumbel(u)
    val u = (shiftrightunsigned(xxhash64(col("doc_id"), lit(11)), 11) + 1L)
      .cast("double") / lit(9007199254740992.0)
    val keyed = logw
      .join(isTarget, "doc_id")
      .withColumn("key", col("logw") - log(-log(u)))
    keyed
      .orderBy(col("key").desc, col("doc_id"))
      .limit(DsirK)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("is_t"),
        round(col("logw"), 6).as("logw"), round(col("key"), 6).as("gumbel_key"))
      .orderBy(col("gumbel_key").desc, col("doc_id"))
  }

  /** Soft deduplication — DOWNWEIGHT duplicates instead of dropping
    * them (the SoftDeDup observation: hard dedup throws away the
    * signal that a document was independently published m times;
    * weighting each copy 1/m keeps the corpus distribution while
    * removing the gradient multiplier): copies counted on a 128-bit
    * content hash so the count shuffle carries 16-byte keys, never
    * document text; the weight joins back on the same hash. Training
    * weight = 1/m, so every duplicate GROUP contributes exactly one
    * effective document (Σ weights = distinct texts).
    */
  val pipelineSoftDedup: QueryDef = QueryDef.sql(
    "pipeline_soft_dedup",
    """WITH c AS (SELECT md5(text) AS h, count(*) AS m
      |           FROM documents GROUP BY 1)
      |SELECT d.doc_id, CAST(c.m AS INT) AS n_copies,
      |       round(1.0 / c.m, 4) AS weight
      |FROM documents d JOIN c ON md5(d.text) = c.h
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).withColumn("h", md5(col("text")))
    val counts = docs.groupBy(col("h")).agg(count(lit(1)).as("m"))
    docs.join(counts, Seq("h"))
      .select(col("doc_id"), col("m").cast("int").as("n_copies"),
        round(lit(1.0) / col("m"), 4).as("weight"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-scaled source mixing — THE multilingual/multi-source
    * sampling formula (w_s ∝ n_s^α, α = 0.3; mBERT/XLM-R/mT5 all
    * train on it): low-resource sources are upsampled, the head is
    * tamed, without the hard caps of pipeline_lang_budget. One
    * source-count aggregate; the normalizing windows run over the
    * O(|sources|) relation. Reports natural vs sampled share and the
    * per-source upsample factor.
    */
  val pipelineTemperatureMix: QueryDef = QueryDef.sql(
    "pipeline_temperature_mix",
    """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
      |t AS (SELECT source, n, pow(n, 0.3) AS w FROM c)
      |SELECT source, n,
      |  round(n * 1.0 / sum(n) OVER (), 6) AS natural_share,
      |  round(w / sum(w) OVER (), 6) AS sampled_share,
      |  round((w / sum(w) OVER ()) / (n * 1.0 / sum(n) OVER ()), 4) AS upsample
      |FROM t ORDER BY source""".stripMargin) { (s, d) =>
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    Tables.documents(s, d).groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
      .withColumn("w", pow(col("n"), 0.3))
      .select(col("source"), col("n"),
        round(col("n") * 1.0 / sum(col("n")).over(wAll), 6).as("natural_share"),
        round(col("w") / sum(col("w")).over(wAll), 6).as("sampled_share"),
        round((col("w") / sum(col("w")).over(wAll)) /
          (col("n") * 1.0 / sum(col("n")).over(wAll)), 4).as("upsample"))
      .orderBy(col("source"))
  }

  /** Bloom-filter decontamination — pipeline_decontaminate at the
    * scale where the benchmark gram set no longer broadcasts exactly
    * (real eval suites reach billions of grams): the bench grams
    * collapse to a mergeable Bloom sketch (a few MB at ANY set size),
    * a codegen'd might-contain prunes corpus grams MAP-SIDE, and the
    * exact broadcast join runs only over the surviving suspects —
    * false positives are discarded there, so the final drop set is
    * EXACT while the expensive join touches FPP·corpus instead of
    * the corpus. Reports the bloom-stage suspect count next to the
    * exact drop count per source so the pruning rate is visible.
    * Rows-only; ScalaTest pins suspects ⊇ exact drops, the FPP
    * bound, and equality of the exact counts with
    * pipeline_decontaminate's.
    */
  val pipelineDecontaminateBloom: QueryDef = QueryDef.rowsOnly("pipeline_decontaminate_bloom") { (s, d) =>
    val grams = Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)).as("toks"))
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), explode(
        graft.functions.TextFunctions.word_grams(col("toks"), 5)).as("sh"))
      .distinct()
    val benchGrams = graft.Ckpt.keep(grams.filter(col("doc_id") % 37 === 0)
      .select(col("sh")).distinct())
    val nBench = math.max(benchGrams.count(), 1L)
    // fpp must price in the ~grams-per-doc union bound: a doc is a
    // false suspect if ANY of its ~300 grams false-positives, so the
    // per-gram fpp needs to be ≪ 1/300 for the pruning to bite
    val bits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(nBench, 1e-5)
    val sketch = benchGrams.select(org.apache.spark.sql.graft.BloomBridge
        .bloomAgg(col("sh"), nBench, bits))
      .head.getAs[Array[Byte]](0)
    val corpusGrams = grams.filter(col("doc_id") % 37 =!= 0)
    val suspectGrams = corpusGrams.filter(
      org.apache.spark.sql.graft.BloomBridge.mightContain(sketch, col("sh")))
    val suspects = suspectGrams.select(col("doc_id")).distinct()
    val dropped = suspectGrams.join(broadcast(benchGrams), "sh")
      .select(col("doc_id")).distinct()
    val docs = Tables.documents(s, d).filter(col("doc_id") % 37 =!= 0)
      .select(col("doc_id"), col("source"))
    docs
      .join(suspects.withColumn("suspect", lit(1)), Seq("doc_id"), "left")
      .join(dropped.withColumn("drop", lit(1)), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("suspect"), lit(0))).as("n_suspect"),
        sum(coalesce(col("drop"), lit(0))).as("n_dropped"))
      .orderBy(col("source"))
  }

  val all: Seq[QueryDef] = Seq(pipelineSoftDedup, pipelineTemperatureMix,
    pipelineDecontaminateBloom,
    pipelineCurate, pipelineMix,
    pipelineQualityFilter, pipelineSampleN, pipelineTokenBudget,
    pipelineSplit, textContamination, pipelineLangBudget,
    pipelineQualityModel, pipelinePack, pipelineObserved,
    pipelineDatasetCard, pipelineDecontaminate,
    pipelineEpochShuffle, pipelineInterleave, pipelineCurriculum,
    pipelineKfold, pipelineOversample, pipelinePackBins, pipelineDsir)
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, TextStats}
import graft.QueryDef
import graft.sources.Tables

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, language ID, fingerprinting,
  * corpus word frequency. All pure map-side `functions._` expression
  * trees (whole-stage codegen, no UDFs) except the final aggregates —
  * the shape that scales to 100 TB: per-document work is embarrassingly
  * parallel, shuffles only carry tiny aggregate keys.
  *
  * The per-document measures (length, `\S+` tokens, ASCII letters,
  * stop words and the four language-marker counts) come from one
  * native kernel, `TextStats`, in one pass over the string: every
  * Spark-side user reads its fields through `qualityInputs`,
  * `markerCols` or `tokenCount`. The regex spellings of those
  * measures live on only in the DuckDB oracle SQL (`*Sql`), built
  * from the same word lists.
  */
object TextAnalysis {

  /** The one-pass text measures of a string column: a struct with
    * the fields `TextStats.Fields` (see
    * org.apache.spark.sql.graft.TextStats).
    */
  def textStats(text: Column): Column =
    ColumnBridge.column(TextStats(ColumnBridge.expression(text)))

  /** Non-whitespace (`\S+`) token count: TextStats' n_tokens, from a
    * kernel that skips the word-list counts.
    */
  def tokenCount(text: Column): Column =
    ColumnBridge.column(TextStats(ColumnBridge.expression(text), words = false))
      .getField("n_tokens")

  /** The oracle-side regex of a word list: `\b(w1|w2|…)\b`. */
  private def wordsPattern(ws: Seq[String]): String = ws.mkString("\\b(", "|", ")\\b")

  val stopPattern: String = wordsPattern(TextStats.StopWords)

  /** Per-language marker-word patterns (the DuckDB spelling of
    * `TextStats.Markers`), for the oracle SQL of text_langid,
    * text_langid_eval, text_code_switch and the curation pipeline.
    */
  val markers: Seq[(String, String)] =
    TextStats.Markers.map { case (l, ws) => l -> wordsPattern(ws) }

  /** Marker-hit count columns c_en..c_fr (Column and SQL forms). */
  def markerCols: Seq[Column] = {
    val st = textStats(col("text"))
    markers.map { case (l, _) => st.getField(s"c_$l").as(s"c_$l") }
  }
  def markerCountsSql(indent: String): String = markers.map { case (l, p) =>
    s"CAST(length(regexp_extract_all(lower(text), '$p')) AS BIGINT) AS c_$l"
  }.mkString(",\n" + indent)

  /** Language argmax with the fixed en→es→de→fr precedence, over the
    * c_* columns (Column and SQL forms — keep in lockstep).
    */
  def predLangCol: Column =
    when(greatest(col("c_en"), col("c_es"), col("c_de"), col("c_fr")) === 0, "und")
      .when(col("c_en") >= col("c_es") && col("c_en") >= col("c_de") && col("c_en") >= col("c_fr"), "en")
      .when(col("c_es") >= col("c_de") && col("c_es") >= col("c_fr"), "es")
      .when(col("c_de") >= col("c_fr"), "de")
      .otherwise("fr")
  val predLangSql: String =
    """CASE WHEN greatest(c_en, c_es, c_de, c_fr) = 0 THEN 'und'
      |       WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
      |       WHEN c_es >= c_de AND c_es >= c_fr THEN 'es'
      |       WHEN c_de >= c_fr THEN 'de'
      |       ELSE 'fr' END""".stripMargin

  /** Quality score (0.3 length + 0.4 alpha + 0.3 non-stopword) over
    * the n_tokens/alpha_chars/n_chars/n_stops columns (Column and
    * SQL forms — keep in lockstep).
    */
  def qualityCol: Column =
    round(lit(0.3) * least(lit(1.0), col("n_tokens").cast("double") / 100)
      + lit(0.4) * (col("alpha_chars").cast("double") / col("n_chars"))
      + lit(0.3) * (lit(1) - col("n_stops").cast("double") / col("n_tokens")), 4)
  val qualitySql: String =
    """round(0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100)
      |      + 0.4 * (CAST(alpha_chars AS DOUBLE) / n_chars)
      |      + 0.3 * (1 - CAST(n_stops AS DOUBLE) / n_tokens), 4)""".stripMargin

  /** Sequence-length planning profile — the readout a training run
    * consults before fixing context length and packing strategy: per
    * source, doc count, exact median/p90/max token counts, and how
    * many docs exceed the candidate 64-token context (those must
    * chunk — text_chunks — or truncate). One map-side token count
    * (TextStats' n_tokens) into an O(sources) aggregate; exact
    * percentile ↔ quantile_cont parity as q_median.
    */
  val textSeqLenProfile: QueryDef = QueryDef.sql(
    "text_seq_len_profile",
    """WITH t AS (
      |  SELECT source,
      |    CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS n
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  round(quantile_cont(n, 0.5), 2) AS p50_tokens,
      |  round(quantile_cont(n, 0.9), 2) AS p90_tokens,
      |  max(n) AS max_tokens,
      |  count(*) FILTER (n > 64) AS n_over_ctx
      |FROM t GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("source"), tokenCount(col("text")).cast("long").as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(expr("percentile(n, 0.5)"), 2).as("p50_tokens"),
        round(expr("percentile(n, 0.9)"), 2).as("p90_tokens"),
        max(col("n")).as("max_tokens"),
        count(when(col("n") > 64, 1)).as("n_over_ctx"))
      .orderBy(col("source"))
  }

  val textTokens: QueryDef = QueryDef.sql(
    "text_tokens",
    """SELECT doc_id,
      |  CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
      |  CAST(length(text) AS BIGINT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      tokenCount(col("text")).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** doc_id, text, the `keep` columns, then every TextStats field as
    * its own column: n_chars, n_tokens, alpha_chars, n_stops and
    * c_en..c_fr. Every ratio a caller forms over them is an exact
    * int/int double division, so the oracle reproduces it
    * bit-for-bit.
    *
    * The kernel runs once per row, in a Generate
    * (`inline(array(stats))`). A filter on these columns reads the
    * Generate's output and cannot be pushed below it. Selected as
    * struct fields from a Project instead, the optimizer's filter
    * pushdown would copy the kernel into the pushed-down Filter and
    * the Project would run it again.
    */
  def qualityInputs(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = docs.select(
    Seq(col("doc_id"), col("text")) ++ keep.map(col) :+
      inline(array(textStats(col("text")))): _*)
  def qualityInputsSql(indent: String): String = Seq(
    "CAST(length(text) AS BIGINT) AS n_chars",
    "CAST(length(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens",
    "CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS alpha_chars",
    s"CAST(length(regexp_extract_all(lower(text), '$stopPattern')) AS BIGINT) AS n_stops")
    .mkString(",\n" + indent)

  /** Quality scoring: length, alpha ratio, stopword ratio → score. */
  val textQuality: QueryDef = QueryDef.sql(
    "text_quality",
    s"""WITH m AS (
       |  SELECT doc_id,
       |    ${qualityInputsSql("    ")}
       |  FROM documents)
       |SELECT doc_id, n_chars, n_tokens,
       |  round(CAST(alpha_chars AS DOUBLE) / n_chars, 4) AS alpha_ratio,
       |  round(CAST(n_stops AS DOUBLE) / n_tokens, 4) AS stop_ratio,
       |  $qualitySql AS quality
       |FROM m WHERE n_chars > 0 AND n_tokens > 0
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    qualityInputs(Tables.documents(s, d))
      .filter(col("n_chars") > 0 && col("n_tokens") > 0)
      .select(
        col("doc_id"), col("n_chars"), col("n_tokens"),
        round(col("alpha_chars").cast("double") / col("n_chars"), 4).as("alpha_ratio"),
        round(col("n_stops").cast("double") / col("n_tokens"), 4).as("stop_ratio"),
        qualityCol.as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Marker-word language ID (n-gram heuristic): count per-language
    * marker hits, argmax with a fixed precedence order.
    */
  val textLangid: QueryDef = QueryDef.sql(
    "text_langid",
    s"""WITH m AS (
       |  SELECT doc_id,
       |    ${markerCountsSql("    ")}
       |  FROM documents)
       |SELECT doc_id,
       |  $predLangSql AS pred_lang
       |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(col("doc_id") +: markerCols: _*)
      .select(col("doc_id"), predLangCol.as("pred_lang"))
      .orderBy(col("doc_id"))
  }

  /** Whitespace-normalized md5 document fingerprint. */
  val textFingerprint: QueryDef = QueryDef.sql(
    "text_fingerprint",
    """SELECT doc_id,
      |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))
      .orderBy(col("doc_id"))
  }

  /** Corpus top-20 word frequency (explode → partial-agg count). */
  /** Once-per-corpus STAGED term-frequency relation
    * (doc_id, lang, source, word, tf) over lowercased whitespace
    * tokens — the Warehouse contract: several text entries used to
    * re-run the identical tokenize+explode+groupBy per query; one
    * ingest pass now feeds them all. Oracles still read the raw
    * documents table — the artifact only changes the physical source.
    */
  def stagedTfWs(s: SparkSession, d: String): DataFrame =
    graft.sources.Warehouse.staged(s, d, "text_tf_ws", Seq("documents.parquet")) {
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          explode(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)))
            .as("word"))
        .groupBy(col("doc_id"), col("lang"), col("source"), col("word"))
        .agg(count(lit(1)).as("tf"))
    }

  /** The [a-z]+ token variant of [[stagedTfWs]] (tfidf's alphabet). */
  def stagedTfAz(s: SparkSession, d: String): DataFrame =
    graft.sources.Warehouse.staged(s, d, "text_tf_az", Seq("documents.parquet")) {
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
            .as("word"))
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf"))
    }

  val textWordfreq: QueryDef = QueryDef.sql(
    "text_wordfreq",
    """SELECT word, count(*) AS n
      |FROM (SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS word
      |      FROM documents) t
      |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin) { (s, d) =>
    stagedTfWs(s, d)
      .groupBy(col("word")).agg(sum(col("tf")).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(20)
  }

  /** BPE-style pre-tokenization count: a GPT-2-like split pattern
    * (contraction suffixes, space-prefixed letter runs, digit runs,
    * punctuation runs) without lookaheads so RE2 (the oracle) and
    * Java regex agree. The proxy for "LLM token count" used in
    * pipeline budgeting.
    */
  val bpePattern = "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+"

  private val bpePatternSql = bpePattern.replace("'", "''")

  val textBpeTokens: QueryDef = QueryDef.sql(
    "text_bpe_tokens",
    s"""SELECT doc_id,
       |  CAST(length(regexp_extract_all(text, '$bpePatternSql')) AS BIGINT) AS n_bpe,
       |  CAST(length(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_ws
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      regexp_count(col("text"), lit(bpePattern)).cast("long").as("n_bpe"),
      tokenCount(col("text")).cast("long").as("n_ws"))
      .orderBy(col("doc_id"))
  }

  val BpeVocab = 2048
  val BpeNumMerges = 256

  /** Merges trained once per corpus (driver-side over the
    * distributed piece-frequency table — the BPE-training contract;
    * see graft.functions.Bpe), cached by the corpus's Warehouse
    * content key.
    */
  private val bpeMergesCache =
    scala.collection.concurrent.TrieMap.empty[String, Map[(String, String), Int]]

  def bpeMerges(docs: DataFrame, cacheKey: String): Map[(String, String), Int] =
    bpeMergesCache.getOrElseUpdate(cacheKey, graft.functions.Bpe.ranks(
      graft.functions.Bpe.trainFromCorpus(
        docs, "text", bpePattern, BpeVocab, BpeNumMerges)))

  /** Tokenizer-FAITHFUL token counts: a real merges table (trained
    * on this corpus's piece frequencies, 256 merges) applied to the
    * pre-tokenization pieces — what token-budget accounting at scale
    * actually uses, vs text_bpe_tokens' piece-count proxy. n_pieces
    * upper-bounds nothing; n_bpe_merged is the budget number
    * (pieces ≤ merged ≤ characters is pinned in ScalaTest).
    */
  val textBpeMerged: QueryDef = QueryDef.rowsOnly("text_bpe_merged") { (s, d) =>
    val docs = Tables.documents(s, d)
    val ranks = bpeMerges(docs, graft.sources.Warehouse.key(s, d, "bpe_merges",
      Seq("documents.parquet"), s"|vocab$BpeVocab|merges$BpeNumMerges"))
    docs.select(
      col("doc_id"),
      graft.functions.Bpe.bpe_token_count(col("text"), bpePattern, ranks)
        .as("n_bpe_merged"),
      regexp_count(col("text"), lit(bpePattern)).cast("long").as("n_pieces"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF keyword extraction: top-3 terms per document by
    * tf · (ln((1+N)/(1+df)) + 1) (smoothed idf). Corpus work is two
    * aggregations (term frequency by (doc, word); document frequency
    * derived from the ALREADY-AGGREGATED tf table, never a second
    * corpus pass) plus a word-keyed join; N is an O(1) scalar. The
    * per-doc top-3 is one window over the tf table — the keyword
    * label a curation pipeline attaches for topic mixing.
    */
  val textTfidf: QueryDef = QueryDef.sql(
    "text_tfidf",
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      |  FROM documents),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
      |sc AS (SELECT tf.doc_id, tf.word,
      |         round(tf.tf * (ln((1.0 + n.n) / (1.0 + df.df)) + 1.0), 4) AS tfidf
      |       FROM tf JOIN df USING (word) CROSS JOIN n),
      |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
      |        ORDER BY tfidf DESC, word) AS rn FROM sc)
      |SELECT doc_id, word, tfidf FROM r WHERE rn <= 3
      |ORDER BY doc_id, tfidf DESC, word""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val tf = stagedTfAz(s, d)
    val dfr = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = tf.select(countDistinct(col("doc_id"))).collect()(0).getLong(0)
    val sc = tf.join(dfr, "word")
      .select(col("doc_id"), col("word"),
        round(col("tf") * (log(lit(1.0 + n) / (col("df") + lit(1.0))) + lit(1.0)), 4)
          .as("tfidf"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("word"))
    sc.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("doc_id", "word", "tfidf")
      .orderBy(col("doc_id"), col("tfidf").desc, col("word"))
  }

  /** Language-ID confusion matrix against the corpus's ground-truth
    * lang column — the evaluation loop a real pipeline runs after
    * changing a classifier.
    */
  val textLangidEval: QueryDef = QueryDef.sql(
    "text_langid_eval",
    s"""WITH m AS (SELECT doc_id, lang,
       |    ${markerCountsSql("    ")}
       |  FROM documents)
       |SELECT lang, $predLangSql AS pred_lang, count(*) AS n
       |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id") +: col("lang") +: markerCols: _*)
      .select(col("lang"), predLangCol.as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** Gopher-style repetition scoring: within-document duplicate-word
    * and duplicate-3-gram fractions — the filter that catches boilerplate
    * and degenerate generations. Pure map-side higher-order-function
    * expressions (no explode — the token arrays never leave the row).
    */
  val textRepetition: QueryDef = QueryDef.sql(
    "text_repetition",
    """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |           FROM documents),
      |g AS (SELECT doc_id, toks,
      |        list_transform(generate_series(1, len(toks) - 2),
      |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS grams
      |      FROM t WHERE len(toks) >= 3)
      |SELECT doc_id,
      |  CAST(len(toks) AS BIGINT) AS n_tokens,
      |  round(1 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS dup_word_ratio,
      |  round(1 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 4) AS dup_3gram_ratio
      |FROM g ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)).as("toks"))
      .filter(size(col("toks")) >= 3)
      // native word-gram loop (guarded size ≥ 3 ⇒ value-identical to
      // the interpreted transform(sequence) spelling)
      .withColumn("grams", graft.functions.TextFunctions.word_grams(col("toks"), 3))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        round(lit(1) - size(array_distinct(col("toks"))).cast("double") / size(col("toks")), 4)
          .as("dup_word_ratio"),
        round(lit(1) - size(array_distinct(col("grams"))).cast("double") / size(col("grams")), 4)
          .as("dup_3gram_ratio"))
      .orderBy(col("doc_id"))
  }

  // PII patterns kept RE2-safe (no lookaround) so the DuckDB oracle
  // and Java regex agree token-for-token.
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** PII scrubbing as a Column transform (shared by the query and
    * tests): emails then phone numbers replaced by typed tags.
    */
  def redact(text: Column): Column =
    regexp_replace(regexp_replace(text, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  def piiCount(text: Column): Column =
    (regexp_count(text, lit(emailPattern)) + regexp_count(text, lit(phonePattern)))
      .cast("long")

  /** PII redaction over the corpus: per-document match count and the
    * fingerprint of the scrubbed text (hash, not the text — narrow
    * output at any scale). Map-side only.
    */
  val textRedact: QueryDef = QueryDef.sql(
    "text_redact",
    s"""SELECT doc_id,
       |  CAST(length(regexp_extract_all(text, '$emailPattern')) AS BIGINT)
       |    + CAST(length(regexp_extract_all(text, '$phonePattern')) AS BIGINT) AS n_pii,
       |  md5(regexp_replace(regexp_replace(text, '$emailPattern', '<EMAIL>', 'g'),
       |      '$phonePattern', '<PHONE>', 'g')) AS redacted_fp
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      piiCount(col("text")).as("n_pii"),
      md5(redact(col("text"))).as("redacted_fp"))
      .orderBy(col("doc_id"))
  }

  /** Heavy-hitter estimation via Spark's mergeable count-min sketch:
    * one pass builds per-partition sketches that the aggregate merges
    * (the sketch is the shuffle payload — ~100 KB regardless of corpus
    * size), then the exact top-20 words are probed against it. At
    * 100 TB this is how word statistics are collected without a
    * full-word shuffle; the exact path (text_wordfreq) is the
    * bounded-cardinality alternative. Seeded → deterministic.
    */
  val textCmsFreq: QueryDef = QueryDef.rowsOnly("text_cms_freq") { (s, d) =>
    val words = Tables.documents(s, d)
      .select(explode(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))).as("word"))
    val bytes = words
      .agg(expr("count_min_sketch(word, CAST(0.001 AS DOUBLE), CAST(0.99 AS DOUBLE), 42)").as("cms"))
      .collect()(0).getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    val top = textWordfreq.fn(s, d).collect().map(r => (r.getString(0), r.getLong(1)))
    import s.implicits._
    top.toSeq.map { case (w, exact) => (w, exact, cms.estimateCount(w)) }
      .toDF("word", "n_exact", "n_est")
      .orderBy(col("word"))
  }

  val ChunkSize = 50
  val ChunkStride = 40

  /** Context-window chunking: split each document into overlapping
    * token windows (50 tokens, stride 40 — 10-token overlap), the
    * shape a pretraining pipeline feeds a tokenizer. Map-side
    * explode of per-row slices; chunk text re-joined so downstream
    * operators (dedup, quality) can run per-chunk.
    */
  val textChunks: QueryDef = QueryDef.sql(
    "text_chunks",
    s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks
       |           FROM documents),
       |c AS (SELECT doc_id,
       |        CAST((i - 1) / $ChunkStride AS BIGINT) AS chunk_no,
       |        list_slice(toks, i, i + $ChunkSize - 1) AS ctoks
       |      FROM t, UNNEST(generate_series(1, greatest(len(toks), 1), $ChunkStride)) AS u(i))
       |SELECT doc_id, chunk_no,
       |  CAST(len(ctoks) AS BIGINT) AS n_tokens,
       |  md5(array_to_string(ctoks, ' ')) AS chunk_fp
       |FROM c WHERE len(ctoks) > 0
       |ORDER BY doc_id, chunk_no""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, greatest(size(toks) - 1, 0), $ChunkStride)," +
          s" i -> slice(toks, i + 1, $ChunkSize))")))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_no"),
        size(col("col")).cast("long").as("n_tokens"),
        md5(array_join(col("col"), " ")).as("chunk_fp"))
      .filter(col("n_tokens") > 0)
      .orderBy(col("doc_id"), col("chunk_no"))
  }

  /** Chunk-level dedup statistics: how much of the corpus is
    * cross-document boilerplate at context-window granularity —
    * finer than document dedup (two distinct docs sharing a pasted
    * header dedup here, not there). One fingerprint-keyed shuffle of
    * 16-byte keys.
    */
  val textChunkDedup: QueryDef = QueryDef.sql(
    "text_chunk_dedup",
    s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks
       |           FROM documents),
       |c AS (SELECT doc_id,
       |        md5(array_to_string(list_slice(toks, i, i + $ChunkSize - 1), ' ')) AS chunk_fp,
       |        len(list_slice(toks, i, i + $ChunkSize - 1)) AS n
       |      FROM t, UNNEST(generate_series(1, greatest(len(toks), 1), $ChunkStride)) AS u(i))
       |SELECT count(*) AS n_chunks,
       |  count(DISTINCT chunk_fp) AS n_unique,
       |  CAST(count(*) - count(DISTINCT chunk_fp) AS BIGINT) AS n_dup
       |FROM c WHERE n > 0""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("toks"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, greatest(size(toks) - 1, 0), $ChunkStride)," +
          s" i -> slice(toks, i + 1, $ChunkSize))")).as("ctoks"))
      .filter(size(col("ctoks")) > 0)
      .select(md5(array_join(col("ctoks"), " ")).as("chunk_fp"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("chunk_fp")).as("n_unique"),
        (count(lit(1)) - countDistinct(col("chunk_fp"))).as("n_dup"))
  }

  val LmTableSize = 1024
  val LmFloor = -12.0 // ln-prob floor for bigrams outside the table

  /** Corpus character-bigram log-probability table: one explode +
    * count aggregation, top LmTableSize bigrams to the driver
    * (O(table), never O(corpus)).
    */
  /** Exploded character bigrams of `text` (plus any carried columns)
    * via the native CharBigrams expression — one per-row loop. The
    * r02 hotspot was `substr(text, i, 2)` per position (O(n²) walks
    * of the variable-width UTF8 string) inside an INTERPRETED
    * higher-order lambda (one boxed call per character).
    */
  private def bigramsOf(docs: DataFrame, carry: Seq[Column] = Nil): DataFrame =
    docs.select(carry :+ explode(
      graft.functions.TextFunctions.char_bigrams(col("text"))).as("bg"): _*)

  def bigramLogProbs(docs: DataFrame): Map[String, Double] = {
    // ONE corpus pass: the bigram explode feeds a single count
    // aggregation; the corpus total is then derived from the grouped
    // result (one row per DISTINCT bigram — tiny), not from a second
    // full explode. The grouped table is persisted so the total and
    // the top-K read the same aggregation.
    graft.Ckpt.scoped { sc =>
      val grouped = sc.persist(bigramsOf(docs)
        .groupBy("bg").agg(count(lit(1)).as("n")))
      val totalRow = grouped.agg(sum(col("n"))).collect()(0)
      if (totalRow.isNullAt(0)) Map.empty
      else {
        val total = totalRow.getLong(0).toDouble
        grouped.orderBy(col("n").desc, col("bg"))
          .limit(LmTableSize)
          .collect()
          .map(r => r.getString(0) -> math.log(r.getLong(1) / total))
          .toMap
      }
    }
  }

  /** Mean bigram log-prob of a text column under a driver-built
    * table (broadcast as ONE map Literal — typedLit, not a 2·1024-
    * child CreateMap, which would be re-evaluated per row) — unseen
    * bigrams floored.
    */
  def lmScoreCol(text: Column, table: Map[String, Double]): Column = {
    val tableLit = typedLit(scala.collection.immutable.SortedMap.from(table))
    val perBigram = transform(
      sequence(lit(1), length(text) - 1),
      i => coalesce(element_at(tableLit, lower(text.substr(i, lit(2)))), lit(LmFloor)))
    aggregate(perBigram, lit(0.0), (acc, x) => acc + x) / (length(text) - 1)
  }

  /** [[bigramLogProbs]] quantized to exact micro-nat longs
    * (floor(ln·10⁶ + 0.5)) — per-document score sums become
    * integer-exact, so the cross-engine oracle hash-matches on any
    * partitioning (the Round-7 rule: quantize BEFORE corpus-sized
    * float sums; the 10⁻⁶ grid sits far below the 4-dp output
    * rounding).
    */
  def bigramLogProbMicros(docs: DataFrame): Map[String, Long] =
    bigramLogProbs(docs).map { case (bg, lp) =>
      bg -> math.floor(lp * 1e6 + 0.5).toLong
    }

  val LmFloorMicro: Long = math.floor(LmFloor * 1e6 + 0.5).toLong

  /** The train-then-score chain as CTE text (bigram explode → count →
    * top-1024 micro-nat table → per-doc exact integer sums), WITHOUT
    * the trailing SELECT — shared by the text_lm_score and
    * text_perplexity_bucket oracles.
    */
  private def lmScoredCtes: String =
    s"""bgs AS MATERIALIZED (
       |  SELECT doc_id, substr(lower(text), i, 2) AS bg
       |  FROM documents, UNNEST(generate_series(1, len(text) - 1)) AS t(i)),
       |bcounts AS MATERIALIZED (SELECT bg, count(*) AS n FROM bgs GROUP BY bg),
       |btot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM bcounts),
       |btbl AS MATERIALIZED (
       |  SELECT bg,
       |    CAST(floor(ln(n / (SELECT total FROM btot)) * 1000000.0 + 0.5)
       |      AS BIGINT) AS lp
       |  FROM bcounts ORDER BY n DESC, bg LIMIT $LmTableSize),
       |scored AS MATERIALIZED (
       |  SELECT b.doc_id, count(*) AS n_bigrams,
       |    sum(coalesce(t.lp, $LmFloorMicro)) AS sm
       |  FROM bgs b LEFT JOIN btbl t USING (bg) GROUP BY b.doc_id)""".stripMargin

  /** Character-bigram language-model scoring — the cheap perplexity
    * proxy for quality filtering (a KenLM stand-in with the same
    * pipeline shape): pass 1 trains the table from the corpus itself,
    * pass 2 scores every document map-side against the broadcast
    * table. Natural text scores high; gibberish and wrong-alphabet
    * text sink (test-pinned). Table log-probs are micro-nat longs so
    * the per-doc sums are integer-exact — the DuckDB oracle retrains
    * the identical table and replays the exact sums.
    */
  val textLmScore: QueryDef = QueryDef.sql(
    "text_lm_score",
    s"""WITH $lmScoredCtes
       |SELECT doc_id, n_bigrams,
       |  round(CAST(sm AS DOUBLE) / 1000000.0 / n_bigrams, 4) AS lm_score
       |FROM scored ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val table = bigramLogProbMicros(docs)
    import s.implicits._
    // relational scoring: bigrams explode map-side and hash-join the
    // broadcast table (O(1) lookups in codegen) — a per-element
    // element_at over a 1024-entry map literal is a linear scan per
    // bigram, ~1000× more comparisons on the same corpus. One shuffle
    // of (doc_id, partial sum/count) pairs.
    val tableDf = table.toSeq.sortBy(_._1).toDF("bg", "lp")
    bigramsOf(docs, carry = Seq(col("doc_id")))
      .join(broadcast(tableDf), Seq("bg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(coalesce(col("lp"), lit(LmFloorMicro))).cast("double")
          / lit(1000000.0) / count(lit(1)), 4).as("lm_score"))
      .orderBy(col("doc_id"))
  }

  /** Perplexity-bucket statistics (the CCNet head/middle/tail move,
    * at decile granularity): documents bucket by their bigram-LM
    * quality score and each bucket reports doc/token mass and its
    * score range — the inputs to "sample more from the better
    * buckets". Decile thresholds come from ONE exact-percentile
    * aggregate over the per-doc scored relation and the bucket
    * assignment is a map-side comparison chain — no global ntile
    * sort serializing the corpus (the 100 TB variant swaps the
    * threshold pass for the percentile_approx GK sketch). The DuckDB
    * oracle retrains the micro-nat LM table, replays the exact score
    * sums, and recomputes the same quantile_cont cuts — full
    * hash-match; threshold monotonicity and coverage stay pinned in
    * ScalaTest.
    */
  val textPerplexityBucket: QueryDef =
    QueryDef.sql(
      "text_perplexity_bucket",
      s"""WITH $lmScoredCtes,
         |sc AS MATERIALIZED (
         |  SELECT doc_id,
         |    round(CAST(sm AS DOUBLE) / 1000000.0 / n_bigrams, 4) AS lm_score
         |  FROM scored),
         |cuts AS (SELECT quantile_cont(lm_score,
         |  [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q FROM sc),
         |bucketed AS (
         |  SELECT sc.doc_id, sc.lm_score,
         |    CAST(1 + ${(1 to 9).map(i =>
        s"(CASE WHEN sc.lm_score > c.q[$i] THEN 1 ELSE 0 END)").mkString(" + ")}
         |      AS BIGINT) AS bucket
         |  FROM sc CROSS JOIN cuts c),
         |toks AS (SELECT doc_id,
         |    CAST(length(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT b.bucket, count(*) AS n_docs,
         |  CAST(sum(t.n_tokens) AS BIGINT) AS sum_tokens,
         |  round(min(b.lm_score), 4) AS min_score,
         |  round(max(b.lm_score), 4) AS max_score
         |FROM bucketed b JOIN toks t USING (doc_id)
         |GROUP BY b.bucket ORDER BY b.bucket""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val table = bigramLogProbMicros(docs)
      import s.implicits._
      val tableDf = table.toSeq.sortBy(_._1).toDF("bg", "lp")
      graft.Ckpt.scoped { sc =>
        val scored = sc.persist(bigramsOf(docs, carry = Seq(col("doc_id")))
          .join(broadcast(tableDf), Seq("bg"), "left")
          .groupBy(col("doc_id"))
          .agg(round(sum(coalesce(col("lp"), lit(LmFloorMicro))).cast("double")
            / lit(1000000.0) / count(lit(1)), 4).as("lm_score")))
        // exact decile thresholds over the per-doc scored relation —
        // the oracle-pinned rung (DuckDB quantile_cont is exact); at
        // 100 TB swap in the percentile_approx GK sketch, which the
        // bucket comparison chain consumes unchanged.
        val cuts = scored.agg(expr(
            "percentile(lm_score, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"))
          .collect()(0).getSeq[Double](0)
        val bucket = cuts.foldLeft(lit(1)) { (acc, t) =>
          acc + when(col("lm_score") > t, 1).otherwise(0)
        }
        val toks = docs.select(col("doc_id"),
          tokenCount(col("text")).cast("long").as("n_tokens"))
        sc.keep(scored.join(toks, "doc_id")
          .withColumn("bucket", bucket.cast("long"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
            round(min(col("lm_score")), 4).as("min_score"),
            round(max(col("lm_score")), 4).as("max_score"))
          .orderBy(col("bucket")))
      }
    }

  val WinnowK = 16 // character k-gram length
  val WinnowW = 8  // winnowing window (k-grams per window)
  val WinnowMinShared = 3

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 —
    * the MOSS algorithm): every position's character-16-gram is
    * hashed, and each window of 8 consecutive hashes contributes its
    * MINIMUM — guaranteeing any shared substring of length ≥
    * k + w − 1 = 23 chars produces at least one shared fingerprint.
    * Cross-doc fingerprint matches then flag SUBSTRING-level overlap
    * (shared boilerplate, quoted passages) that whole-document
    * MinHash can't localize and exact dedup can't see.
    *
    * Plan shape: gram hashing is map-side (one explode per doc); the
    * window-min partitions BY DOC (each doc's windows stay in one
    * partition — no corpus-wide ordering); the distinct fingerprint
    * set is ~2/(w+1) of positions, and only fingerprints shared
    * across docs survive the pair join. Bounded id range keeps the
    * oracle's pair join quadratic-safe, as dedup_ngram.
    */
  val textWinnow: QueryDef = QueryDef.sql(
    "text_winnow",
    s"""WITH t AS (
       |  SELECT doc_id, lower(text) AS txt FROM documents
       |  WHERE doc_id < 300 AND length(text) >= $WinnowK),
       |g AS (
       |  SELECT doc_id, length(txt) - ${WinnowK - 1} AS n, i,
       |    substr(md5(substr(txt, CAST(i AS INT), $WinnowK)), 1, 16) AS h
       |  FROM t, UNNEST(generate_series(1, length(txt) - ${WinnowK - 1})) AS u(i)),
       |w AS (
       |  SELECT doc_id, i, n,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS fp
       |  FROM g),
       |f AS (SELECT DISTINCT doc_id, fp FROM w WHERE i <= n - ${WinnowW - 1}),
       |p AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared
       |  FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id1, id2, n_shared FROM p WHERE n_shared >= $WinnowMinShared
       |ORDER BY id1, id2""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val fps = winnowFingerprints(
      Tables.documents(s, d).filter(col("doc_id") < 300))
    val p = fps.toDF("id1", "fp").join(fps.toDF("id2", "fp2"),
        col("fp") === col("fp2") && col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_shared"))
    p.filter(col("n_shared") >= WinnowMinShared)
      .select(col("id1"), col("id2"), col("n_shared"))
      .orderBy(col("id1"), col("id2"))
  }

  /** (doc_id, fp) winnowing fingerprint set for a document table. */
  def winnowFingerprints(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = docs
      .select(col("doc_id"), lower(col("text")).as("txt"))
      .filter(length(col("txt")) >= WinnowK)
      .select(col("doc_id"),
        (length(col("txt")) - lit(WinnowK - 1)).as("n"),
        // native k-gram loop + posexplode; the md5 moves OUT of the
        // interpreted lambda into the codegen'd projection (same
        // hash, same 1-based position, same values)
        posexplode(
          graft.functions.TextFunctions.char_ngrams(col("txt"), WinnowK)))
      .select(col("doc_id"), col("n"), (col("pos") + 1).as("i"),
        substring(md5(col("col")), 1, 16).as("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(Window.currentRow, WinnowW - 1)
    g.withColumn("fp", min(col("h")).over(w))
      .filter(col("i") <= col("n") - (WinnowW - 1))
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  /** Character-level Shannon entropy — the cheap gibberish/encoding
    * detector (base64 blobs and mojibake sit far from natural-text
    * entropy). Per-char explode feeds a map-side partial aggregate,
    * so the shuffle carries (doc, char, count) — bounded by the
    * alphabet, not the text length. One pass, entropy via
    * log2(N) - Σ n·log2(n)/N (no self-join on the totals).
    */
  val textEntropy: QueryDef = QueryDef.sql(
    "text_entropy",
    """WITH f AS (
      |  SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS n
      |  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS c
      |        FROM documents)
      |  GROUP BY 1, 2)
      |SELECT doc_id,
      |  round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 3) AS entropy
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit("."), lit(0))).as("c"))
      .groupBy(col("doc_id"), col("c"))
      .agg(count(lit(1)).cast("double").as("n"))
      .groupBy(col("doc_id"))
      .agg(round(log2(sum(col("n")))
        - sum(col("n") * log2(col("n"))) / sum(col("n")), 3).as("entropy"))
      .orderBy(col("doc_id"))
  }

  /** Type-token ratio (vocabulary richness) — fully map-side, no
    * shuffle at any scale. Tokenized once per document, in a Generate
    * as in qualityInputs, so filter pushdown cannot copy it.
    */
  val textTtr: QueryDef = QueryDef.sql(
    "text_ttr",
    """SELECT doc_id, n_types, n_tokens,
      |  round(CAST(n_types AS DOUBLE) / n_tokens, 4) AS ttr
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(list_distinct(regexp_extract_all(lower(text), '\S+'))) AS BIGINT) AS n_types,
      |    CAST(len(regexp_extract_all(lower(text), '\S+')) AS BIGINT) AS n_tokens
      |  FROM documents)
      |WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), inline(array(struct(
        regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)).as("toks")))))
      .select(col("doc_id"), size(array_distinct(col("toks"))).cast("long").as("n_types"),
        size(col("toks")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("ttr", round(col("n_types").cast("double") / col("n_tokens"), 4))
      .orderBy(col("doc_id"))
  }

  /** Corpus-order 5-gram novelty: the share of a document's distinct
    * 5-grams not already seen in any earlier (smaller doc_id)
    * document — dedup-lite scoring for "how much new text does this
    * shard add". First-owner resolution is one window min over the
    * shingle hash partitioning; per-doc rollup is the only other
    * shuffle. Same shingle machinery as text_contamination
    * (Curation.scala), scored instead of filtered.
    */
  val textNovelty: QueryDef = QueryDef.sql(
    "text_novelty",
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT DISTINCT doc_id,
      |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |    toks[i+3] || ' ' || toks[i+4] AS sh
      |  FROM t, UNNEST(generate_series(1, len(toks) - 4)) AS u(i)
      |  WHERE len(toks) >= 5),
      |f AS (
      |  SELECT doc_id, sh, min(doc_id) OVER (PARTITION BY sh) AS first_doc
      |  FROM s)
      |SELECT doc_id, count(*) AS n_grams,
      |  CAST(sum(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
      |  round(1.0 - CAST(sum(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END) AS DOUBLE)
      |        / count(*), 4) AS novelty
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val sh = Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)).as("toks"))
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), explode(
        graft.functions.TextFunctions.word_grams(col("toks"), 5)).as("sh"))
      .distinct()
    val seen = sh.withColumn("first_doc",
      min(col("doc_id")).over(Window.partitionBy(col("sh"))))
    seen.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L)).as("n_seen"))
      .withColumn("novelty",
        round(lit(1.0) - col("n_seen").cast("double") / col("n_grams"), 4))
      .orderBy(col("doc_id"))
  }

  /** Zipf's-law fit: the least-squares slope of ln(frequency) vs
    * ln(rank) over the word-frequency relation (natural language
    * lands near −1). One word shuffle for counts; the rank window
    * and regr_slope run over the O(vocabulary) aggregate.
    * Deterministic rank ties via the word itself.
    */
  val textZipf: QueryDef = QueryDef.sql(
    "text_zipf",
    """WITH freq AS (
      |  SELECT word, count(*) AS n
      |  FROM (SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS word
      |        FROM documents) t
      |  GROUP BY word),
      |ranked AS (
      |  SELECT n, row_number() OVER (ORDER BY n DESC, word) AS rank
      |  FROM freq)
      |SELECT CAST(count(*) AS BIGINT) AS vocab,
      |  floor(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE)))
      |        * 10000 + 0.5) / 10000 AS zipf_slope
      |FROM ranked""".stripMargin) { (s, d) =>
    val freq = stagedTfWs(s, d)
      .groupBy(col("word")).agg(sum(col("tf")).as("n"))
    val ranked = freq
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("word"))))
    ranked.agg(count(lit(1)).cast("long").as("vocab"),
      (floor(expr("regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE)))")
        * 10000 + 0.5) / 10000).as("zipf_slope"))
  }

  /** Flesch reading-ease scoring: words (whitespace runs), sentences
    * (terminator runs), syllables (vowel-group approximation — the
    * standard dictionary-free estimator), then
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    * plus per-source difficulty averages. One corpus pass, no
    * shuffle before the tiny per-source aggregate. n_words is
    * `tokenCount` (TextStats' n_tokens, equal to the oracle's `\S+`
    * count); the sentence and syllable counts are the same regexes
    * on both engines.
    */
  val textReadability: QueryDef = QueryDef.sql(
    "text_readability",
    """WITH scored AS (
      |  SELECT doc_id, source,
      |    greatest(len(regexp_extract_all(trim(text), '\S+')), 1) AS n_words,
      |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
      |    greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS n_syllables
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, source, n_words, n_sentences, n_syllables,
      |    206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
      |      - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) AS flesch
      |  FROM scored)
      |SELECT source, count(*) AS n_docs,
      |  round(avg(flesch), 4) AS avg_flesch,
      |  round(min(flesch), 4) AS min_flesch,
      |  round(max(flesch), 4) AS max_flesch,
      |  count(CASE WHEN flesch < 30 THEN 1 END) AS n_difficult
      |FROM f GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val scored = Tables.documents(s, d).select(
      col("doc_id"), col("source"),
      greatest(tokenCount(trim(col("text"))), lit(1L)).as("n_words"),
      greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))), lit(1))
        .as("n_sentences"),
      greatest(size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0))), lit(1))
        .as("n_syllables"))
    val f = scored.withColumn("flesch",
      lit(206.835) - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
        - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")))
    f.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("flesch")), 4).as("avg_flesch"),
        round(min(col("flesch")), 4).as("min_flesch"),
        round(max(col("flesch")), 4).as("max_flesch"),
        count(when(col("flesch") < 30, 1)).as("n_difficult"))
      .orderBy(col("source"))
  }

  /** Collocation mining: top bigrams by lift (= exp(PMI) — the
    * monotone transform that keeps the ranking while avoiding
    * transcendental functions, so the score stays a single exact
    * int64-product division and hash-matches across engines).
    * Bigram generation is a map-side explode (arrays_zip of the two
    * shifted slices); the counts are two key-partitioned aggregates
    * (bigram keys, unigram keys) and the corpus total rides in as a
    * broadcast 1-row aggregate — no driver collect, top-20 via
    * TakeOrdered. The c_ab ≥ 5 support floor is what makes lift
    * stable (a hapax pair would otherwise always win).
    */
  val textCollocations: QueryDef = QueryDef.sql(
    "text_collocations",
    """WITH w AS (
      |  SELECT regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents),
      |bg AS (
      |  SELECT ws[i] AS w1, ws[i + 1] AS w2
      |  FROM w, LATERAL unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS g(i)),
      |bc AS (SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY 1, 2),
      |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM (
      |         SELECT w1 AS w FROM bg UNION ALL SELECT w2 FROM bg) u GROUP BY 1),
      |n AS (SELECT count(*) AS total FROM bg)
      |SELECT bc.w1, bc.w2, c_ab,
      |  round(c_ab * (SELECT total FROM n) / CAST(a.cw * b.cw AS DOUBLE), 4) AS lift
      |FROM bc JOIN uc a ON bc.w1 = a.w JOIN uc b ON bc.w2 = b.w
      |WHERE c_ab >= 5
      |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin) { (s, d) =>
    val ws = regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))
    val n1 = greatest(size(col("ws")) - 1, lit(0))
    val bg = Tables.documents(s, d)
      .select(ws.as("ws"))
      .select(slice(col("ws"), lit(1), n1).as("a"),
        slice(col("ws"), lit(2), n1).as("b"))
      .select(explode(arrays_zip(col("a"), col("b"))).as("p"))
      .select(col("p.a").as("w1"), col("p.b").as("w2"))
    val bc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
    // unigram participation counts and the corpus total both fold out
    // of the bigram aggregate — the corpus is exploded ONCE and the
    // three consumers share bc's exchange (ReuseExchange), instead of
    // re-scanning documents per relation
    val uc = bc.select(col("w1").as("w"), col("c_ab"))
      .unionAll(bc.select(col("w2"), col("c_ab")))
      .groupBy(col("w")).agg(sum(col("c_ab")).as("cw"))
    val total = bc.agg(sum(col("c_ab")).as("total"))
    bc.filter(col("c_ab") >= 5)
      .join(uc.select(col("w").as("wa"), col("cw").as("ca")), col("w1") === col("wa"))
      .join(uc.select(col("w").as("wb"), col("cw").as("cb")), col("w2") === col("wb"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c_ab"),
        round((col("c_ab") * col("total")) / (col("ca") * col("cb")).cast("double"), 4)
          .as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** Code-vs-prose detector: per-doc density of code-ish symbols
    * ({} ; = () < >) counted engine-portably as length deltas under
    * single-char removal (no regex dialect in the hot path — each
    * count is a codegen'd length/replace pair). Map-only over the
    * corpus; the flag feeds pipeline filters the same way
    * text_quality does.
    */
  val textCodeDetect: QueryDef = {
    val symbols = Seq("{", "}", ";", "=", "(", ")", "<", ">")
    val sqlCount = symbols.map(c =>
      s"(length(text) - length(replace(text, '$c', '')))").mkString(" + ")
    QueryDef.sql(
      "text_code_detect",
      s"""SELECT doc_id, $sqlCount AS n_symbols,
         |  round(($sqlCount) * 1.0 / greatest(n_chars, 1), 6) AS symbol_ratio,
         |  ($sqlCount) * 1.0 / greatest(n_chars, 1) > 0.01 AS looks_code
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val nSym = symbols.map(c =>
          length(col("text")) - length(replace(col("text"), lit(c), lit(""))))
        .reduce(_ + _)
      Tables.documents(s, d)
        .withColumn("n_symbols", nSym.cast("long"))
        .select(col("doc_id"), col("n_symbols"),
          round(col("n_symbols") * lit(1.0) / greatest(col("n_chars"), lit(1L)), 6)
            .as("symbol_ratio"),
          (col("n_symbols") * lit(1.0) / greatest(col("n_chars"), lit(1L)) > 0.01)
            .as("looks_code"))
        .orderBy(col("doc_id"))
    }
  }

  /** χ² token–language association (feature selection): for the 20
    * highest-document-frequency tokens, the chi-square statistic of
    * the 2×2 contingency (token present? × lang == en?). All four
    * cell counts and both chi² products stay EXACT int64 (N·(ad−bc)²
    * ≤ ~3e18 at sf0.1) so the only float op is the final division —
    * identical IEEE on both engines. Corpus totals ride in as a
    * broadcast single-row aggregate, presence counts as one distinct
    * (doc, token) aggregate — two shuffles total, no driver loop.
    */
  val textChi2: QueryDef = QueryDef.sql(
    "text_chi2",
    """WITH dw AS (SELECT DISTINCT * FROM (
      |    SELECT doc_id, lang = 'en' AS is_en,
      |           unnest(regexp_extract_all(lower(text), '\S+')) AS word
      |    FROM documents)),
      |tot AS (SELECT count(*) AS n_docs,
      |               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
      |        FROM documents),
      |per AS (SELECT word, count(*) AS df,
      |               CAST(sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS n11
      |        FROM dw GROUP BY word),
      |top AS (SELECT * FROM per ORDER BY df DESC, word LIMIT 20),
      |c AS (SELECT word, df, n11,
      |             n_en - n11 AS n10, df - n11 AS n01,
      |             n_docs - n_en - (df - n11) AS n00, n_docs, n_en
      |      FROM top, tot)
      |SELECT word, df, n11,
      |  CASE WHEN (n_en * (n_docs - n_en)) * (df * (n_docs - df)) = 0 THEN 0.0
      |       ELSE round(
      |         CAST(n_docs * (n11*n00 - n10*n01) * (n11*n00 - n10*n01) AS DOUBLE) /
      |         CAST((n_en * (n_docs - n_en)) * (df * (n_docs - df)) AS DOUBLE), 4)
      |  END AS chi2
      |FROM c ORDER BY word""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val tot = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
    // the staged tf relation has one row per (doc, word) — exactly
    // the distinct doc-word presence the chi2 contingency counts need
    val per = stagedTfWs(s, d).groupBy(col("word")).agg(
      count(lit(1)).as("df"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n11"))
    val top = per.orderBy(col("df").desc, col("word")).limit(20)
    val c = top.crossJoin(broadcast(tot))
      .withColumn("n10", col("n_en") - col("n11"))
      .withColumn("n01", col("df") - col("n11"))
      .withColumn("n00", col("n_docs") - col("n_en") - (col("df") - col("n11")))
    val diff = col("n11") * col("n00") - col("n10") * col("n01")
    val den = (col("n_en") * (col("n_docs") - col("n_en"))) *
      (col("df") * (col("n_docs") - col("df")))
    c.select(col("word"), col("df"), col("n11"),
        when(den === 0L, lit(0.0))
          .otherwise(round(
            (col("n_docs") * diff * diff).cast("double") / den.cast("double"), 4))
          .as("chi2"))
      .orderBy(col("word"))
  }

  /** Feature hashing ("hashing trick"): tokens land in 256 buckets by
    * md5 hex prefix — the fixed-width vectorization that never needs a
    * vocabulary broadcast. Map-side hash + one bucket aggregate; the
    * bucket id is the 2-hex-char prefix itself, so both engines agree
    * with no hex→int dialect gap. Collision load (distinct tokens per
    * bucket) is the quality metric a pipeline monitors.
    */
  val textHashingTrick: QueryDef = QueryDef.sql(
    "text_hashing_trick",
    """SELECT substr(md5(word), 1, 2) AS bucket,
      |       count(*) AS n_tokens,
      |       count(DISTINCT word) AS n_distinct
      |FROM (SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS word
      |      FROM documents) t
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(explode(
        regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))).as("word"))
      .groupBy(substring(md5(col("word")), 1, 2).as("bucket"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("word")).as("n_distinct"))
      .orderBy(col("bucket"))
  }

  /** TRAINED language ID: multinomial Naive Bayes with Laplace
    * smoothing, fit distributed on the corpus's own truth labels and
    * applied back — the learned upgrade over the fixed marker-word
    * heuristic (text_langid), and the standard fast classifier real
    * pipelines run at ingest (fastText-class). Whitespace tokens so
    * CJK text stays informative. Training is ONE (lang, token)
    * shuffle with partial aggregation; the fitted model
    * (|langs|×|vocab| log-likelihood table) and the |langs|
    * prior/total row both BROADCAST to the scoring pass, which is
    * map-side ×|langs| expansion + one (doc, lang) aggregate — at
    * open-vocab web scale the model join degrades gracefully to a
    * token-key shuffle, never corpus². Output is the confusion
    * matrix vs truth. Rows-only by design: the per-doc argmax
    * compares float log-sums whose SQL replay would be summation-
    * order sensitive; self-consistency (diagonal dominance,
    * population conservation, accuracy ≥ the heuristic's) is pinned
    * in ScalaTest.
    */
  private val nbLangidOracle: String =
    """WITH docs AS (SELECT doc_id, lang, text FROM documents),
      |toks AS (
      |  SELECT doc_id, lang, tok FROM (
      |    SELECT doc_id, lang,
      |      unnest(string_split_regex(lower(text), '\s+')) AS tok
      |    FROM docs)
      |  WHERE length(tok) > 0),
      |counts AS (SELECT lang AS clang, tok, count(*) AS cnt
      |           FROM toks GROUP BY 1, 2),
      |langtot AS (SELECT clang, sum(cnt) AS tot FROM counts GROUP BY 1),
      |vocab AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM counts),
      |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM docs),
      |priors AS (SELECT lang AS clang,
      |             ln(count(*) / (SELECT n FROM nd)) AS logprior
      |           FROM docs GROUP BY 1),
      |ls AS (SELECT langtot.clang, tot, logprior
      |       FROM langtot JOIN priors USING (clang)),
      |scored AS (
      |  SELECT t.doc_id, ls.clang, any_value(ls.logprior) AS lp,
      |    sum(ln((coalesce(c.cnt, 0) + 1.0)
      |      / (ls.tot + (SELECT v FROM vocab)))) AS sll
      |  FROM (SELECT doc_id, tok FROM toks) t
      |  CROSS JOIN ls
      |  LEFT JOIN counts c ON c.clang = ls.clang AND c.tok = t.tok
      |  GROUP BY 1, 2),
      |pred AS (
      |  SELECT doc_id, clang AS pred_lang FROM (
      |    SELECT doc_id, clang,
      |      row_number() OVER (PARTITION BY doc_id
      |        ORDER BY (sll + lp) DESC, clang) AS rn
      |    FROM scored) WHERE rn = 1)
      |SELECT d.lang, p.pred_lang, count(*) AS n
      |FROM docs d JOIN pred p USING (doc_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val textNbLangid: QueryDef = QueryDef.sql(
    "text_nb_langid", nbLangidOracle) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    val toks = docs
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    // ---- fit (truth labels) ----
    val counts = toks.groupBy(col("lang").as("clang"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val langTot = counts.groupBy(col("clang"))
      .agg(sum(col("cnt")).as("tot"))
    val vocab = counts.select(col("tok")).distinct().count() // bounded: |vocab|
    val nDocs = docs.count()
    val priors = docs.groupBy(col("lang").as("clang"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("clang"), log(col("n_docs").cast("double") / nDocs).as("logprior"))
    val langSide = langTot.join(priors, Seq("clang"))
    // ---- score every doc under every language ----
    val scored = toks.select(col("doc_id"), col("tok"))
      .crossJoin(broadcast(langSide))
      .join(broadcast(counts), Seq("clang", "tok"), "left_outer")
      .select(col("doc_id"), col("clang"), col("logprior"),
        log((coalesce(col("cnt"), lit(0L)) + lit(1.0)) /
          (col("tot") + lit(vocab.toDouble))).as("ll"))
      .groupBy(col("doc_id"), col("clang"))
      .agg((sum(col("ll")) + first(col("logprior"))).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("clang"))
    val pred = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("clang").as("pred_lang"))
    docs.select(col("doc_id"), col("lang"))
      .join(pred, Seq("doc_id"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** Interpolated Kneser–Ney bigram LM (Kneser & Ney 1995; Chen &
    * Goodman's benchmark winner) — the principled upgrade over the
    * count-ratio bigram table (text_lm_score): absolute discounting
    * frees mass from every seen bigram, and the freed mass backs off
    * to the CONTINUATION distribution P_cont(w) ∝ |distinct
    * contexts w follows| — so "francisco" (frequent but only after
    * "san") stops stealing probability from genuinely versatile
    * words. Fully RELATIONAL: the model is three relations (bigram
    * counts; per-context totals + follower diversity; per-word
    * continuation mass) built in one bigram aggregate pass, and
    * scoring is map-side explode + three hash joins on token keys —
    * at web scale the model stays distributed (no driver table, no
    * broadcast-size ceiling; the join degrades to a token-key
    * shuffle). Unseen context backs off to pure continuation;
    * unseen word floors. Output: per-source mean KN log-prob +
    * perplexity. The EXACT normalization Σ_w P(w|v) = 1
    * per context — the property Laplace tables only approximate
    * after truncation — is pinned in ScalaTest, plus determinism;
    * per-bigram log-probs quantize to micro-nat longs so the DuckDB
    * oracle replays the per-source means hash-identically.
    */
  val KnDiscount = 0.75 // declared BEFORE the oracle string interpolates it

  val textKnLm: QueryDef = QueryDef.sql(
    "text_kn_lm", {
      // the mean-field spelling shared by mean_kn_logprob and the
      // perplexity readback (exp of the ROUNDED mean)
      val mean = "floor(CAST(sum(lnp) AS DOUBLE) / 1000000.0 / count(*)" +
        " * 10000 + 0.5) / 10000"
      s"""WITH wl AS (
         |  SELECT source, regexp_extract_all(lower(text), '\\S+') AS ws
         |  FROM documents),
         |bgp AS MATERIALIZED (
         |  SELECT source, ws[i] AS v, ws[i + 1] AS w
         |  FROM wl, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)),
         |bgc AS MATERIALIZED (
         |  SELECT v, w, CAST(count(*) AS DOUBLE) AS c_vw
         |  FROM bgp GROUP BY v, w),
         |ctx AS (SELECT v, sum(c_vw) AS c_v,
         |          CAST(count(*) AS DOUBLE) AS n1p_v FROM bgc GROUP BY v),
         |n1pp AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM bgc),
         |cont AS (SELECT w, count(*) / (SELECT t FROM n1pp) AS p_cont
         |         FROM bgc GROUP BY w),
         |scored AS (
         |  SELECT b.source,
         |    CASE WHEN x.c_v IS NOT NULL AND n.p_cont IS NOT NULL THEN
         |           greatest(coalesce(g.c_vw, $KnDiscount) - $KnDiscount, 0.0)
         |             / x.c_v
         |             + $KnDiscount * x.n1p_v / x.c_v * n.p_cont
         |         WHEN n.p_cont IS NOT NULL THEN n.p_cont
         |         ELSE ${math.exp(LmFloor)} END AS p
         |  FROM bgp b
         |  LEFT JOIN bgc g ON g.v = b.v AND g.w = b.w
         |  LEFT JOIN ctx x ON x.v = b.v
         |  LEFT JOIN cont n ON n.w = b.w),
         |lnm AS (
         |  SELECT source,
         |    CAST(floor(ln(p) * 1000000.0 + 0.5) AS BIGINT) AS lnp
         |  FROM scored)
         |SELECT source, count(*) AS n_bigrams,
         |  $mean AS mean_kn_logprob,
         |  floor(exp(-($mean)) * 100 + 0.5) / 100 AS perplexity
         |FROM lnm GROUP BY source ORDER BY source""".stripMargin
    }) { (s, d) =>
    val docs = Tables.documents(s, d)
    val (bgc, ctx, cont) = knModel(docs)
    val bg = docs.select(col("doc_id"), col("source"),
        explode(wordBigrams(col("text"))).as("b"))
      .select(col("doc_id"), col("source"),
        col("b.v").as("v"), col("b.w").as("w"))
    val scored = bg
      .join(bgc, Seq("v", "w"), "left")
      .join(ctx, Seq("v"), "left")
      .join(cont, Seq("w"), "left")
      .withColumn("p",
        when(col("c_v").isNotNull && col("p_cont").isNotNull,
          greatest(col("c_vw") - lit(KnDiscount), lit(0.0)) / col("c_v")
            + lit(KnDiscount) * col("n1p_v") / col("c_v") * col("p_cont"))
        .when(col("p_cont").isNotNull, col("p_cont")) // unseen context
        .otherwise(lit(math.exp(LmFloor))))           // unseen word
      // micro-nat quantization BEFORE the corpus-sized sum (Round-7
      // rule): the per-source mean becomes integer-exact and the
      // DuckDB replay hash-matches; the 1e-6 grid sits far below the
      // 4-dp output rounding
      .withColumn("lnp", floor(log(col("p")) * lit(1000000.0) + lit(0.5))
        .cast("long"))
    scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_bigrams"),
        (floor(sum(col("lnp")).cast("double") / lit(1000000.0)
          / count(lit(1)) * 10000 + 0.5) / 10000).as("mean_kn_logprob"))
      .withColumn("perplexity",
        floor(exp(-col("mean_kn_logprob")) * 100 + 0.5) / 100)
      .orderBy(col("source"))
  }

  /** (v, w) word-bigram structs of a text column, map-side. */
  def wordBigrams(text: Column): Column = {
    val ws = split(lower(text), "\\s+")
    val n1 = greatest(size(ws) - 1, lit(0))
    zip_with(slice(ws, lit(1), n1), slice(ws, lit(2), n1),
      (a, b) => struct(a.as("v"), b.as("w")))
  }

  /** The three KN model relations from one bigram aggregate:
    * (v, w, c_vw); (v, c_v, n1p_v); (w, p_cont). Exposed for the
    * normalization ScalaTest.
    */
  def knModel(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // the result's own checkpoint: all three model relations read it
    val bgc = graft.Ckpt.keep(docs.select(explode(wordBigrams(col("text"))).as("b"))
      .select(col("b.v").as("v"), col("b.w").as("w"))
      .filter(length(col("v")) > 0 && length(col("w")) > 0)
      .groupBy(col("v"), col("w")).agg(count(lit(1)).cast("double").as("c_vw")))
    val ctx = bgc.groupBy(col("v"))
      .agg(sum(col("c_vw")).as("c_v"), count(lit(1)).cast("double").as("n1p_v"))
    val n1pp = bgc.count().toDouble // distinct bigram types
    val cont = bgc.groupBy(col("w"))
      .agg((count(lit(1)) / n1pp).as("p_cont"))
    (bgc, ctx, cont)
  }

  /** Code-switch / mixed-language detection — the curation check
    * that catches documents whose parts belong to DIFFERENT
    * languages (concatenation artifacts, boilerplate wrappers,
    * genuinely bilingual text), which a whole-doc language vote
    * (text_langid) hides behind the majority half: each document
    * splits at its character midpoint, each half gets the standard
    * marker-argmax language id (the SAME markers/precedence as
    * text_langid, so the two ops can't disagree about what a
    * language looks like), and the corpus folds into a (first-half
    * lang, second-half lang) contingency table whose off-diagonal
    * mass is the mixed-document population. One map-side scan →
    * O(langs²) aggregate.
    */
  val textCodeSwitch: QueryDef = {
    def duckHalfCounts(which: String, expr0: String): String = markers.map {
      case (l, p) =>
        s"CAST(length(regexp_extract_all(lower($expr0), '$p')) AS BIGINT) AS ${which}_$l"
    }.mkString(", ")
    def duckArgmax(w: String): String =
      s"""CASE WHEN greatest(${w}_en, ${w}_es, ${w}_de, ${w}_fr) = 0 THEN 'und'
         |       WHEN ${w}_en >= ${w}_es AND ${w}_en >= ${w}_de AND ${w}_en >= ${w}_fr THEN 'en'
         |       WHEN ${w}_es >= ${w}_de AND ${w}_es >= ${w}_fr THEN 'es'
         |       WHEN ${w}_de >= ${w}_fr THEN 'de'
         |       ELSE 'fr' END""".stripMargin
    QueryDef.sql(
      "text_code_switch",
      s"""WITH h AS (
        |  SELECT doc_id,
        |    substr(text, 1, CAST(floor(length(text) / 2) AS INT)) AS ta,
        |    substr(text, CAST(floor(length(text) / 2) AS INT) + 1) AS tb
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, ${duckHalfCounts("a", "ta")}, ${duckHalfCounts("b", "tb")}
        |  FROM h),
        |l AS (
        |  SELECT doc_id, ${duckArgmax("a")} AS lang_a, ${duckArgmax("b")} AS lang_b
        |  FROM c)
        |SELECT lang_a, lang_b, count(*) AS n_docs,
        |  CASE WHEN lang_a <> lang_b THEN 1 ELSE 0 END AS mixed
        |FROM l GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      def halfCounts(which: String, c: Column): Seq[Column] = {
        val st = textStats(c)
        markers.map { case (l, _) => st.getField(s"c_$l").as(s"${which}_$l") }
      }
      def argmax(w: String): Column =
        when(greatest(col(s"${w}_en"), col(s"${w}_es"), col(s"${w}_de"),
            col(s"${w}_fr")) === 0, "und")
          .when(col(s"${w}_en") >= col(s"${w}_es") &&
            col(s"${w}_en") >= col(s"${w}_de") &&
            col(s"${w}_en") >= col(s"${w}_fr"), "en")
          .when(col(s"${w}_es") >= col(s"${w}_de") &&
            col(s"${w}_es") >= col(s"${w}_fr"), "es")
          .when(col(s"${w}_de") >= col(s"${w}_fr"), "de")
          .otherwise("fr")
      val mid = floor(length(col("text")) / 2).cast("int")
      val halves = Tables.documents(s, d).select(
        col("doc_id"),
        col("text").substr(lit(1), mid).as("ta"),
        col("text").substr(mid + 1, length(col("text"))).as("tb"))
      val counts = halves.select(
        Seq(col("doc_id")) ++ halfCounts("a", col("ta"))
          ++ halfCounts("b", col("tb")): _*)
      counts
        .select(argmax("a").as("lang_a"), argmax("b").as("lang_b"))
        .groupBy(col("lang_a"), col("lang_b"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("mixed",
          when(col("lang_a") =!= col("lang_b"), 1).otherwise(0))
        .orderBy(col("lang_a"), col("lang_b"))
    }
  }

  /** TextRank word scores over the corpus co-occurrence graph
    * (Mihalcea & Tarau 2004) — graph-centrality keyword extraction,
    * the unsupervised upgrade over raw frequency (text_wordfreq) and
    * pairwise lift (text_collocations): a word matters when words
    * that matter co-occur with it. Nodes = content words (≥4 chars),
    * undirected edges = adjacent-pair co-occurrence counts, then 10
    * damped power-iteration rounds r ← (1−d)/N + d·Σ w(u,v)/wdeg(u)
    * ·r(u) — each round ONE O(|E|) equality join + O(|V|) aggregate
    * on the word key (graph_pagerank's loop shape; the corpus is
    * touched once, to build edges). Full rank relation exposed for
    * the ScalaTest; the query emits the top-20 keywords. Rows-only
    * (float fixpoint); rank-mass conservation ≈ N, positivity,
    * determinism, and hub-beats-leaf ordering pinned.
    */
  val textTextrank: QueryDef = QueryDef.sql("text_textrank", textrankOracle(10)) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ranks = textrankScores(s, d)
    val w = Window.orderBy(col("rank").desc, col("word"))
    ranks.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .select(col("rn").as("position"), col("word"),
        (floor(col("rank") * 10000 + 0.5) / 10000).as("rank"))
      .orderBy(col("position"))
  }

  /** Full TextRank (word, rank) relation — see text_textrank. */
  def textrankScores(s: SparkSession, d: String): DataFrame = {
    val damping = 0.85
    val ws = regexp_extract_all(lower(col("text")), lit("[a-z]{4,}"), lit(0))
    val n1 = greatest(size(col("ws")) - 1, lit(0))
    val pairs = Tables.documents(s, d)
      .select(ws.as("ws"))
      .select(slice(col("ws"), lit(1), n1).as("a"),
        slice(col("ws"), lit(2), n1).as("b"))
      .select(explode(arrays_zip(col("a"), col("b"))).as("p"))
      .select(col("p.a").as("w1"), col("p.b").as("w2"))
      .filter(col("w1") =!= col("w2"))
    // undirected: each pair contributes both directions
    graft.Ckpt.scoped { sc =>
      // O(|E|) relation drives every iteration
      val edges = sc.persist(pairs
        .unionAll(pairs.select(col("w2").as("w1"), col("w1").as("w2")))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).cast("double").as("wt")))
      val wdeg = edges.groupBy(col("w1")).agg(sum(col("wt")).as("wdeg"))
      val out = sc.persist(edges.join(wdeg, "w1")
        .select(col("w1"), col("w2"), (col("wt") / col("wdeg")).as("share")))
      val init = out.select(col("w1").as("word")).distinct()
        .withColumn("rank", lit(1.0))
      // per-term contributions quantize to exact pico-unit longs
      // BEFORE the neighbor sum (the Round-7 rule): the sum is then
      // partition-order invariant and engine-exact, which is what
      // lets the chained-CTE oracle replay all 10 rounds
      // hash-identically. The 1e-12 grid sits 8 orders below the
      // output rounding. Lineage is cut every 3 rounds.
      sc.keep(sc.iterate(init, 10, 3) { (ranks, _) =>
        out.join(ranks, col("w1") === col("word"))
          .groupBy(col("w2").as("word"))
          .agg((lit((1.0 - damping)) + lit(damping) *
            (sum(round(col("share") * col("rank") * lit(1e12), 0).cast("long"))
              .cast("double") / lit(1e12))).as("rank"))
      })
    }
  }

  /** text_textrank's oracle: rebuild the co-occurrence graph and
    * replay the 10 damped update rounds as chained CTEs — the
    * per-neighbor contributions quantize to pico-unit longs exactly
    * as the engine does, so every round's ranks are bit-identical
    * and the top-20 cut (unrounded rank, word tie-break) matches.
    */
  private def textrankOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT o.w2 AS word,
         |    (1 - 0.85) + 0.85 * (CAST(sum(CAST(round(
         |      o.share * p.r * 1000000000000.0, 0) AS BIGINT)) AS DOUBLE)
         |      / 1000000000000.0) AS r
         |  FROM outs o JOIN r${i - 1} p ON p.word = o.w1
         |  GROUP BY o.w2)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT regexp_extract_all(lower(text), '[a-z]{4,}') AS ws
       |  FROM documents),
       |prs AS (
       |  SELECT ws[i] AS w1, ws[i + 1] AS w2
       |  FROM toks, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
       |  WHERE ws[i] <> ws[i + 1]),
       |edges AS MATERIALIZED (
       |  SELECT w1, w2, count(*) AS wt FROM (
       |    SELECT w1, w2 FROM prs
       |    UNION ALL SELECT w2 AS w1, w1 AS w2 FROM prs)
       |  GROUP BY w1, w2),
       |wdeg AS (SELECT w1, sum(wt) AS wdeg FROM edges GROUP BY w1),
       |outs AS MATERIALIZED (
       |  SELECT e.w1, e.w2,
       |    CAST(e.wt AS DOUBLE) / CAST(d.wdeg AS DOUBLE) AS share
       |  FROM edges e JOIN wdeg d ON d.w1 = e.w1),
       |r0 AS (SELECT DISTINCT w1 AS word, 1.0::DOUBLE AS r FROM outs),
       |$steps
       |SELECT CAST(rn AS INTEGER) AS position, word,
       |  floor(r * 10000 + 0.5) / 10000 AS rank
       |FROM (SELECT word, r,
       |        row_number() OVER (ORDER BY r DESC, word) AS rn
       |      FROM r$iters)
       |WHERE rn <= 20 ORDER BY position""".stripMargin
  }

  /** Per-source corpus drift via Jensen–Shannon divergence — the
    * curation readout that answers "which ingest feeds have moved
    * away from the corpus mix?" before a bad feed poisons a training
    * run: JSD(P_s ‖ Q) between each source's unigram distribution
    * P_s and the whole-corpus distribution Q, in bits (0 = identical
    * mix, 1 = disjoint vocabularies). The absent-word mass needs no
    * sources × vocab cross join: for words the source never emits,
    * p = 0 and the pair term collapses to q/2·log2(2) = q/2, so the
    * whole absent tail is 0.5·(1 − Σ_{w∈s} q_w) — one subtraction
    * from the per-source aggregate. 100 TB shape: ONE (source, word)
    * token shuffle with map-side partial agg → the per-word corpus
    * relation re-aggregates THAT (vocab-sized, never a second corpus
    * scan), per-source totals broadcast back; join work is
    * O(Σ_s vocab_s), never sources × vocab. Exact integer counts
    * feed one final float expression per (source, word); round(4).
    */
  val textJsd: QueryDef = QueryDef.sql(
    "text_jsd",
    """WITH toks AS (
      |  SELECT source, unnest(regexp_extract_all(lower(text), '\S+')) AS word
      |  FROM documents),
      |sw AS (SELECT source, word, count(*) AS nsw FROM toks GROUP BY 1, 2),
      |wt AS (SELECT word, sum(nsw) AS nw FROM sw GROUP BY 1),
      |st AS (SELECT source, sum(nsw) AS ns FROM sw GROUP BY 1),
      |tot AS (SELECT sum(nw) AS n FROM wt)
      |SELECT sw.source, CAST(count(*) AS BIGINT) AS n_words,
      |  round(sum(0.5 * (
      |      (CAST(nsw AS DOUBLE) / ns)
      |        * log2(2 * (CAST(nsw AS DOUBLE) / ns)
      |               / (CAST(nsw AS DOUBLE) / ns + CAST(nw AS DOUBLE) / n))
      |      + (CAST(nw AS DOUBLE) / n)
      |        * log2(2 * (CAST(nw AS DOUBLE) / n)
      |               / (CAST(nsw AS DOUBLE) / ns + CAST(nw AS DOUBLE) / n))))
      |    + 0.5 * (1 - sum(CAST(nw AS DOUBLE) / n)), 4) AS jsd
      |FROM sw JOIN wt USING (word) JOIN st USING (source) CROSS JOIN tot
      |GROUP BY sw.source ORDER BY sw.source""".stripMargin) { (s, d) =>
    val sw = stagedTfWs(s, d).groupBy(col("source"), col("word"))
      .agg(sum(col("tf")).as("nsw"))
    val wt = sw.groupBy(col("word")).agg(sum(col("nsw")).as("nw"))
    val st = sw.groupBy(col("source")).agg(sum(col("nsw")).as("ns"))
    // corpus token total: O(1) scalar off the vocab-sized relation
    val n = wt.agg(sum(col("nw"))).head.getLong(0).toDouble
    val p = col("nsw").cast("double") / col("ns")
    val q = col("nw").cast("double") / lit(n)
    sw.join(wt, "word").join(broadcast(st), "source")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        round(
          sum(lit(0.5) * (p * log2(lit(2) * p / (p + q))
            + q * log2(lit(2) * q / (p + q))))
            + lit(0.5) * (lit(1) - sum(q)), 4).as("jsd"))
      .orderBy(col("source"))
  }

  /** Gopher quality rules (Rae et al. 2021 §A1.1) — the named
    * rule-flag battery production corpus filters actually ship, as
    * distinct from text_quality's blended score: each document gets
    * a boolean per rule (word count in [10, 100k]; mean word length
    * in [3, 12]; ≥ 80% of words contain an alphabetic character;
    * symbol-to-word ratio (#, …) ≤ 0.1; ≥ 2 stopword hits) plus the
    * conjunction. Per-rule flags are what let an operator see WHY a
    * feed's pass rate dropped. Map-side only — zero shuffle at any
    * scale: n_words, alpha_chars and n_stops are TextStats fields,
    * alpha_words and n_symbols are regex counts; integer counts only,
    * with the two ratio rules phrased as cross-multiplied integer
    * comparisons so no float ever enters the predicate.
    */
  val textGopherRules: QueryDef = QueryDef.sql(
    "text_gopher_rules",
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
      |    CAST(length(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS alpha_chars,
      |    CAST(length(regexp_extract_all(text, '\S*[A-Za-z]\S*')) AS BIGINT) AS alpha_words,
      |    CAST(length(regexp_extract_all(text, '[#…]')) AS BIGINT) AS n_symbols,
      |    CAST(length(regexp_extract_all(lower(text),
      |      '\b(the|a|an|of|to|in|and|is|it|for)\b')) AS BIGINT) AS n_stops
      |  FROM documents)
      |SELECT doc_id,
      |  n_words,
      |  CAST(n_words BETWEEN 10 AND 100000 AS BOOLEAN) AS ok_n_words,
      |  CAST(alpha_chars >= 3 * n_words AND alpha_chars <= 12 * n_words
      |    AS BOOLEAN) AS ok_word_len,
      |  CAST(5 * alpha_words >= 4 * n_words AS BOOLEAN) AS ok_alpha,
      |  CAST(10 * n_symbols <= n_words AS BOOLEAN) AS ok_symbols,
      |  CAST(n_stops >= 2 AS BOOLEAN) AS ok_stops,
      |  CAST(n_words BETWEEN 10 AND 100000
      |    AND alpha_chars >= 3 * n_words AND alpha_chars <= 12 * n_words
      |    AND 5 * alpha_words >= 4 * n_words
      |    AND 10 * n_symbols <= n_words
      |    AND n_stops >= 2 AS BOOLEAN) AS passes
      |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
    val st = textStats(col("text"))
    val f = Tables.documents(s, d).select(col("doc_id"),
      st.getField("n_tokens").as("n_words"),
      // counting [A-Za-z] matches = TextStats' ASCII-letter count
      st.getField("alpha_chars").as("alpha_chars"),
      regexp_count(col("text"), lit("\\S*[A-Za-z]\\S*")).cast("long").as("alpha_words"),
      regexp_count(col("text"), lit("[#…]")).cast("long").as("n_symbols"),
      st.getField("n_stops").as("n_stops"))
    val okWords = col("n_words").between(10, 100000)
    // mean word length in [3, 12] as integer cross-multiplication
    val okLen = col("alpha_chars") >= lit(3) * col("n_words") &&
      col("alpha_chars") <= lit(12) * col("n_words")
    val okAlpha = lit(5) * col("alpha_words") >= lit(4) * col("n_words")
    val okSym = lit(10) * col("n_symbols") <= col("n_words")
    val okStops = col("n_stops") >= 2
    f.select(col("doc_id"), col("n_words"),
        okWords.as("ok_n_words"), okLen.as("ok_word_len"),
        okAlpha.as("ok_alpha"), okSym.as("ok_symbols"), okStops.as("ok_stops"),
        (okWords && okLen && okAlpha && okSym && okStops).as("passes"))
      .orderBy(col("doc_id"))
  }

  // ---- unigram-LM tokenizer (SentencePiece-style) --------------------

  private val UniMaxLen = 6
  private val UniVocabMulti = 800
  private val UniAlpha = 0.1
  private val UniIters = 3

  /** Distinct corpus words with counts — the relation every unigram
    * training pass runs over (≪ corpus; at web scale still the
    * right unit: the DP cost is per distinct word, not per token).
    */
  private[graft] def uniWords(docs: DataFrame): DataFrame =
    docs.select(explode(
        regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** Viterbi-best segmentation of one word under piece log-probs
    * (singles are always in the vocab, so every word is feasible).
    */
  private[graft] def uniViterbi(w: String, logp: Map[String, Double]): Seq[String] = {
    val n = w.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - UniMaxLen)
      while (j < i) {
        logp.get(w.substring(j, i)) match {
          case Some(lp) if best(j) + lp > best(i) =>
            best(i) = best(j) + lp; back(i) = j
          case _ =>
        }
        j += 1
      }
      i += 1
    }
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var k = n
    while (k > 0) { out.prepend(w.substring(back(k), k)); k = back(k) }
    out.toSeq
  }

  /** Unigram fits by the corpus's Warehouse content key. */
  private[graft] val uniFitCache =
    scala.collection.concurrent.TrieMap.empty[String, (Map[String, Long], Map[String, Double], Seq[Double])]

  /** Fit the unigram tokenizer: seed vocab = every 2..6-gram of the
    * distinct-word relation weighted by word count, top 800 by
    * weight, plus ALL single characters (coverage guarantee); then
    * Viterbi (hard) EM — each iteration ONE distributed pass over
    * the word relation with the O(V) vocab broadcast, the per-word
    * DP inside flatMap (genuinely imperative — the brief's
    * last-resort tier, scoped to an O(len·maxlen) loop), piece
    * counts partial-aggregated map-side, the O(V) model re-estimated
    * driver-side with add-α smoothing. Returns (final counts, final
    * log-probs, per-iteration Viterbi corpus log-likelihood).
    */
  private[graft] def unigramFit(s: SparkSession, d: String)
      : (Map[String, Long], Map[String, Double], Seq[Double]) =
    uniFitCache.getOrElseUpdate(
        graft.sources.Warehouse.key(s, d, "uni_fit", Seq("documents.parquet")), {
      import s.implicits._
      graft.Ckpt.scoped { sc =>
        val words = sc.persist(uniWords(Tables.documents(s, d))
          .as[(String, Long)])
        words.count()
        val multi = words.flatMap { case (w, cnt) =>
          for {
            i <- 0 until w.length
            l <- 2 to UniMaxLen
            if i + l <= w.length
          } yield (w.substring(i, i + l), cnt)
        }.toDF("piece", "wt")
          .groupBy(col("piece")).agg(sum(col("wt")).as("wt"))
          .orderBy(col("wt").desc, col("piece"))
          .limit(UniVocabMulti)
          .as[(String, Long)].collect()
        val singles = words.flatMap { case (w, cnt) =>
          w.map(c => (c.toString, cnt))
        }.toDF("piece", "wt")
          .groupBy(col("piece")).agg(sum(col("wt")).as("wt"))
          .as[(String, Long)].collect()
        var counts: Map[String, Long] =
          (multi ++ singles).groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
        def toLogp(c: Map[String, Long]): Map[String, Double] = {
          val v = c.size
          val tot = c.values.map(_.toDouble).sum
          c.map { case (p, n) =>
            p -> math.log((n + UniAlpha) / (tot + UniAlpha * v))
          }
        }
        var logp = toLogp(counts)
        val lls = scala.collection.mutable.ArrayBuffer.empty[Double]
        for (_ <- 1 to UniIters) {
          val bc = s.sparkContext.broadcast(logp)
          val agg = words.flatMap { case (w, cnt) =>
            val pieces = uniViterbi(w, bc.value)
            val ll = pieces.map(bc.value).sum * cnt
            pieces.map(p => (p, cnt, 0.0)) :+ (("", 0L, ll))
          }.toDF("piece", "n", "ll")
            .groupBy(col("piece"))
            .agg(sum(col("n")).as("n"), sum(col("ll")).as("ll"))
            .as[(String, Long, Double)].collect()
          lls += agg.find(_._1 == "").map(_._3).getOrElse(0.0)
          val used = agg.filter(_._1.nonEmpty).map(t => t._1 -> t._2).toMap
          // keep singles alive even at zero count (coverage); drop
          // unused multi-char pieces (SentencePiece's prune step)
          counts = counts.keys.map { p =>
            p -> used.getOrElse(p, 0L)
          }.filter { case (p, n) => p.length == 1 || n > 0 }.toMap
          logp = toLogp(counts)
          bc.destroy()
        }
        (counts, logp, lls.toSeq)
      }
    })

  /** Unigram-LM (SentencePiece-style) tokenizer training — BPE's
    * (text_bpe_merged) probabilistic sibling and the tokenizer used
    * by T5/ALBERT/XLNet: pieces carry probabilities, segmentation is
    * the Viterbi-best under the model, and training alternates
    * segmentation with count re-estimation (hard EM, monotone in the
    * Viterbi objective). Distributed shape documented on unigramFit;
    * the corpus is touched ONCE (the distinct-word collapse) and
    * each EM pass runs over the word relation only. Output: the top
    * 30 multi-character pieces by final usage with their log-probs —
    * the learned subword inventory. Rows-only (float log-probs);
    * ScalaTest pins coverage, Viterbi-LL monotonicity across EM
    * iterations, logp↔count consistency, piece-substring validity,
    * and determinism.
    */
  val textUnigramLm: QueryDef = QueryDef.rowsOnly("text_unigram_lm") { (s, d) =>
    import s.implicits._
    val (counts, logp, _) = unigramFit(s, d)
    counts.toSeq.filter(_._1.length > 1)
      .sortBy { case (p, n) => (-n, p) }
      .take(30)
      .map { case (p, n) =>
        (p, n, math.floor(logp(p) * 10000 + 0.5) / 10000)
      }
      .toDF("piece", "n_uses", "logp")
  }

  /** RAKE keyphrase extraction (Rose et al. 2010) — the unsupervised
    * corpus-keyphrase counterpart of text_textrank's sentence
    * ranking and text_collocations' bigram PMI: candidate phrases
    * are maximal stopword-free token runs (delimited by the shared
    * stopPattern list), word score = deg(w)/freq(w) where freq
    * counts occurrences and deg sums the lengths of the phrases each
    * occurrence sits in (within-phrase co-occurrence), phrase score
    * = Σ word scores. Fully relational at scale: tokenization is a
    * map-side posexplode, phrase grouping is a per-document window
    * (bounded by doc length), and BOTH statistics joins are on the
    * WORD KEY (hash join — vocabulary-sized relations, no broadcast
    * ceiling), then one phrase-keyed rollup. Ranking rounds BEFORE
    * ordering so the top-20 cut is ulp-stable across engines.
    * Output: top-20 (phrase, occurrences, score).
    */
  val textRake: QueryDef = QueryDef.sql(
    "text_rake",
    """WITH toks AS (
      |  SELECT doc_id, i, lst[i] AS w,
      |    lst[i] IN ('the','a','an','of','to','in','and','is','it','for') AS stop
      |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS lst
      |        FROM documents),
      |       UNNEST(generate_series(1, length(lst))) AS t(i)),
      |grp AS (
      |  SELECT doc_id, i, w, stop,
      |    sum(CASE WHEN stop THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY i) AS g
      |  FROM toks),
      |pw AS (SELECT doc_id, g, i, w FROM grp WHERE NOT stop),
      |ph AS (
      |  SELECT doc_id, g, string_agg(w, ' ' ORDER BY i) AS phrase,
      |         count(*) AS len
      |  FROM pw GROUP BY 1, 2),
      |ws AS (
      |  SELECT w, count(*) AS freq, sum(len) AS deg
      |  FROM pw JOIN ph USING (doc_id, g) GROUP BY 1),
      |ps AS (
      |  SELECT p.doc_id, p.g, p.phrase,
      |         sum(CAST(ws.deg AS DOUBLE) / ws.freq) AS pscore
      |  FROM pw t JOIN ph p USING (doc_id, g) JOIN ws ON t.w = ws.w
      |  GROUP BY 1, 2, 3)
      |SELECT phrase, count(*) AS n,
      |       floor(max(pscore) * 10000 + 0.5) / 10000 AS score
      |FROM ps GROUP BY 1
      |ORDER BY score DESC, phrase LIMIT 20""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val stops = Seq("the", "a", "an", "of", "to", "in", "and", "is", "it", "for")
    val toks = Tables.documents(s, d).select(col("doc_id"),
        posexplode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
          .as(Seq("i", "w")))
      .withColumn("stop", col("w").isInCollection(stops))
    val pw = toks
      .withColumn("g", sum(when(col("stop"), 1).otherwise(0)).over(
        Window.partitionBy(col("doc_id")).orderBy(col("i"))))
      .filter(!col("stop"))
      .select(col("doc_id"), col("g"), col("i"), col("w"))
    val ph = pw.groupBy(col("doc_id"), col("g"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("i"), col("w")))),
          e => e.getField("w")), " ").as("phrase"),
        count(lit(1)).as("len"))
    val withLen = pw.join(ph, Seq("doc_id", "g"))
    val ws = withLen.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
    val ps = withLen.join(ws, "w")
      .groupBy(col("doc_id"), col("g"), col("phrase"))
      .agg(sum(col("deg").cast("double") / col("freq")).as("pscore"))
    ps.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n"),
        (floor(max(col("pscore")) * 10000 + lit(0.5)) / 10000).as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(20)
  }

  /** S-stemmer vocabulary conflation (Harman 1991) — the
    * suffix-stripping normalization IR pipelines run before indexing
    * (text_wordfreq counts surface forms; this groups plural/singular
    * into one stem). Exactly ONE rule fires per word (ies→y, es→drop
    * s unless aes/ees/oes, s→drop unless us/ss) — spelled as the same
    * CASE/LIKE chain in both engines so no regex-dialect gap exists.
    * Map-side explode + one stem-key aggregate: the same shuffle
    * shape as wordfreq at any SF. Reports tokens + distinct surface
    * forms per stem — conflation visible when n_forms ≥ 2.
    */
  val textStem: QueryDef = QueryDef.sql(
    "text_stem",
    """WITH words AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |  FROM documents),
      |stemmed AS (
      |  SELECT w,
      |    CASE
      |      WHEN w LIKE '%ies' AND w NOT LIKE '%eies' AND w NOT LIKE '%aies'
      |        THEN substr(w, 1, length(w) - 3) || 'y'
      |      WHEN w LIKE '%es' AND w NOT LIKE '%aes' AND w NOT LIKE '%ees'
      |           AND w NOT LIKE '%oes'
      |        THEN substr(w, 1, length(w) - 1)
      |      WHEN w LIKE '%s' AND w NOT LIKE '%us' AND w NOT LIKE '%ss'
      |        THEN substr(w, 1, length(w) - 1)
      |      ELSE w END AS stem
      |  FROM words)
      |SELECT stem, count(*) AS n_tokens, count(DISTINCT w) AS n_forms
      |FROM stemmed GROUP BY stem
      |ORDER BY n_tokens DESC, stem LIMIT 30""".stripMargin) { (s, d) =>
    val w = col("w")
    def endsW(suf: String): Column = w.endsWith(suf)
    val stem = when(endsW("ies") && !endsW("eies") && !endsW("aies"),
        concat(expr("substr(w, 1, length(w) - 3)"), lit("y")))
      .when(endsW("es") && !endsW("aes") && !endsW("ees") && !endsW("oes"),
        expr("substr(w, 1, length(w) - 1)"))
      .when(endsW("s") && !endsW("us") && !endsW("ss"),
        expr("substr(w, 1, length(w) - 1)"))
      .otherwise(w)
    Tables.documents(s, d)
      .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("w"))
      .select(w, stem.as("stem"))
      .groupBy(col("stem"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("w")).as("n_forms"))
      .orderBy(col("n_tokens").desc, col("stem"))
      .limit(30)
  }

  /** Per-doc deflate compression ratio — the model-free redundancy
    * signal real curation pipelines filter on (boilerplate and
    * template spam compress far better than natural prose; the
    * complement of text_entropy's character-level view and
    * text_repetition's n-gram view, because LZ77 catches LONG-RANGE
    * repeats both miss). One Deflater per PARTITION (reused,
    * level 6), payload bytes never shuffle — the multimodal posture;
    * output is 4 narrow columns. Rows-only (no SQL engine deflates);
    * ScalaTest replays the same JDK Deflater and pins the
    * compressible-vs-incompressible ordering on constructed payloads.
    */
  val textCompressibility: QueryDef = QueryDef.rowsOnly("text_compressibility") { (s, d) =>
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, t) =>
          val b = t.getBytes("UTF-8")
          (id, b.length, deflatedSize(deflater, buf, b))
        }
      }
      .map { case (id, raw, comp) =>
        (id, raw, comp,
          if (raw == 0) 0.0 else math.round(comp.toDouble / raw * 1e4) / 1e4)
      }
      .toDF("doc_id", "n_bytes", "n_deflated", "ratio")
      .orderBy(col("doc_id"))
  }

  /** Deflate size of one payload with a reused Deflater. */
  private[graft] def deflatedSize(deflater: java.util.zip.Deflater,
      buf: Array[Byte], b: Array[Byte]): Int = {
    deflater.reset()
    deflater.setInput(b)
    deflater.finish()
    var n = 0
    while (!deflater.finished()) n += deflater.deflate(buf)
    n
  }

  /** Word burstiness — the variance-to-mean (dispersion) index of
    * per-document counts per word (Church & Gale 1995): function
    * words spread evenly (index ≈ 1, Poisson), topical words CLUMP
    * (index ≫ 1) — the statistic behind burstiness-aware term
    * weighting and stopword induction, orthogonal to raw frequency
    * (text_wordfreq) and corpus-global entropy (text_entropy).
    * Map-side tokenization → one (word, doc) count aggregate → one
    * word-level moment aggregate over the O(vocab×docs-touched)
    * relation; zero-count docs enter the moments in closed form
    * (n_docs is a literal) rather than via a fill join. Top-20 by
    * dispersion among words in ≥ 20 docs.
    */
  val textBurstiness: QueryDef = QueryDef.sql(
    "text_burstiness",
    """WITH n AS (SELECT count(*) AS nd FROM documents),
      |wd AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |  FROM documents),
      |cnt AS (SELECT w, doc_id, count(*) AS c FROM wd GROUP BY 1, 2),
      |mom AS (
      |  SELECT w, count(*) AS n_docs_with,
      |    sum(c) AS s1, sum(c * c) AS s2
      |  FROM cnt GROUP BY w)
      |SELECT w AS word, CAST(n_docs_with AS BIGINT) AS n_docs_with,
      |  CAST(s1 AS BIGINT) AS n_tokens,
      |  round((s2 - s1 * s1 * 1.0 / nd) / (nd - 1)
      |        / (s1 * 1.0 / nd), 4) AS dispersion
      |FROM mom, n WHERE n_docs_with >= 20
      |ORDER BY dispersion DESC, word LIMIT 20""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val nd = docs.count()
    docs.select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
          .as("w"))
      .groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_docs_with"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
      .filter(col("n_docs_with") >= 20)
      .select(col("w").as("word"), col("n_docs_with"),
        col("s1").as("n_tokens"),
        round((col("s2") - col("s1") * col("s1") * 1.0 / nd) / (nd - 1)
          / (col("s1") * 1.0 / nd), 4).as("dispersion"))
      .orderBy(col("dispersion").desc, col("word"))
      .limit(20)
  }

  /** Heaps' law fit over the 3-gram SHINGLE vocabulary —
    * V(n) ≈ K·n^β, the growth law that sizes every shingle-keyed
    * structure (dedup/LSH bucket tables, winnowing indexes, n-gram
    * LM tables) before the corpus is ingested. The WORD vocabulary
    * of this synthetic corpus is closed (~1k types, saturates in the
    * first checkpoint — β would be 0), so the op measures the open
    * combinatorial shingle space, which is also the unit the dedup
    * family actually stores. Exact with NO prefix re-scans and NO
    * global sort: V at checkpoint n = count of shingles whose FIRST
    * containing doc_id falls below the n-quantile of doc ids — one
    * min-per-shingle aggregate + ONE 8-condition conditional
    * aggregate gives the whole curve; the log-log OLS over 8 points
    * is driver arithmetic. β ∈ (0,1) for an open vocabulary.
    */
  /** DuckDB replay of the Heaps-law fit: checkpoint thresholds are
    * the same interpolated doc_id percentiles (percentile ↔
    * quantile_cont parity), corpus/vocab sizes are exact counts, and
    * the 8-point log-log regression reuses the Scala expression
    * shapes (ulp-level sum-order noise vs a 1e-4 floor).
    */
  private val heapsOracle: String = {
    val fracs = (7 to 0 by -1).map(i => 1.0 / (1 << i))
    s"""WITH qs AS (
       |  SELECT quantile_cont(doc_id, [${fracs.mkString(", ")}]) AS q
       |  FROM documents),
       |ck AS (SELECT i, q[i + 1] AS qv
       |       FROM qs, UNNEST(generate_series(0, 7)) AS t(i)),
       |tri AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(lst) - 2),
       |    i -> concat(lst[i], ' ', lst[i+1], ' ', lst[i+2]))) AS w
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS lst
       |        FROM documents)
       |  WHERE len(lst) >= 3),
       |fd AS (SELECT w, min(doc_id) AS f FROM tri GROUP BY w),
       |pts AS (
       |  SELECT i,
       |    (SELECT count(*) FROM documents WHERE doc_id <= qv) AS n,
       |    (SELECT count(*) FROM fd WHERE f <= qv) AS v
       |  FROM ck),
       |lg AS (SELECT i, n, v, ln(CAST(n AS DOUBLE)) AS x,
       |         ln(CAST(v AS DOUBLE)) AS y FROM pts),
       |mu AS (SELECT sum(x) / 8 AS mx, sum(y) / 8 AS my FROM lg),
       |fit AS (
       |  SELECT sum((x - mx) * (y - my)) / sum((x - mx) * (x - mx)) AS beta,
       |    any_value(my) AS my, any_value(mx) AS mx
       |  FROM lg, mu)
       |SELECT CAST(i AS INTEGER) AS checkpoint, n AS n_docs, v AS vocab,
       |  floor(beta * 1e4 + 0.5) / 1e4 AS beta,
       |  floor((my - beta * mx) * 1e4 + 0.5) / 1e4 AS ln_k
       |FROM lg, fit ORDER BY checkpoint""".stripMargin
  }

  val textHeapsLaw: QueryDef = QueryDef.sql("text_heaps_law", heapsOracle) { (s, d) =>
    val fracs = (7 to 0 by -1).map(i => 1.0 / (1 << i)) // 1/128 .. 1
    val docs = Tables.documents(s, d)
    val qs = docs.agg(expr(
      s"percentile(doc_id, array(${fracs.mkString(", ")}))")).collect()(0)
      .getSeq[Double](0)
    val nRow = docs.agg(
      fracs.indices.map(i =>
        count(when(col("doc_id") <= qs(i), 1)).as(s"n$i")).head,
      fracs.indices.map(i =>
        count(when(col("doc_id") <= qs(i), 1)).as(s"n$i")).tail: _*).collect()(0)
    val fd = docs.select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(
        graft.functions.TextFunctions.word_grams(col("toks"), 3)).as("w"))
      .groupBy(col("w")).agg(min(col("doc_id")).as("f"))
    val vRow = fd.agg(
      fracs.indices.map(i =>
        count(when(col("f") <= qs(i), 1)).as(s"v$i")).head,
      fracs.indices.map(i =>
        count(when(col("f") <= qs(i), 1)).as(s"v$i")).tail: _*).collect()(0)
    val pts = fracs.indices.map(i =>
      (nRow.getLong(i).toDouble, vRow.getLong(i).toDouble))
    val xs = pts.map(p => math.log(p._1))
    val ys = pts.map(p => math.log(p._2))
    val m = xs.length
    val (mx, my) = (xs.sum / m, ys.sum / m)
    val beta = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
      xs.map(x => (x - mx) * (x - mx)).sum
    val lnK = my - beta * mx
    import s.implicits._
    pts.zipWithIndex.map { case ((n, v), i) =>
      (i, n.toLong, v.toLong, math.floor(beta * 1e4 + 0.5) / 1e4,
        math.floor(lnK * 1e4 + 0.5) / 1e4)
    }.toDF("checkpoint", "n_docs", "vocab", "beta", "ln_k")
      .orderBy(col("checkpoint"))
  }

  val all: Seq[QueryDef] = Seq(
    textStem, textCompressibility, textBurstiness, textHeapsLaw,
    textRake,
    textUnigramLm,
    textTokens, textQuality, textLangid, textFingerprint, textWordfreq,
    textBpeTokens, textBpeMerged, textTfidf, textLangidEval, textRepetition,
    textRedact, textCmsFreq, textChunks, textChunkDedup, textLmScore,
    textWinnow, textEntropy, textTtr, textNovelty, textPerplexityBucket,
    textZipf, textReadability, textCollocations, textCodeDetect,
    textSeqLenProfile, textChi2, textHashingTrick, textNbLangid, textTextrank,
    textCodeSwitch, textKnLm, textJsd, textGopherRules)
}

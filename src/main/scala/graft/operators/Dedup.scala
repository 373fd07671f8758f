package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables

/** Deduplication family for training-data pipelines: exact,
  * n-gram-Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * Scale posture: exact dedup and MinHash/SimHash signatures are
  * map-side; candidate generation shuffles on (band, signature)
  * buckets so the pairwise work is confined to colliding buckets —
  * never an O(n²) cross join. The oracle-checked n-gram Jaccard
  * variant is intentionally bounded by doc_id so the quadratic
  * verification stays constant-size at any SF (SURVEY §5); at scale
  * the same verification runs only on LSH candidates.
  */
object Dedup {

  /** Whitespace-normalized text (the dedup key). */
  private def norm(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  val dedupExact: QueryDef = QueryDef.sql(
    "dedup_exact",
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      |      FROM documents) t
      |GROUP BY norm ORDER BY keep_id""".stripMargin) { (s, d) =>
    // group on the md5 fingerprint, not the text: the shuffle carries
    // 16 bytes per row instead of the whole document
    Tables.documents(s, d)
      .groupBy(md5(norm(col("text"))).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy(col("keep_id"))
  }

  /** Exact dedup on the UNICODE-NORMALIZED key: NFC first, so
    * composed and decomposed encodings of the same text (e.g. U+00E9
    * vs e + U+0301) land in one duplicate group — plain lowercasing
    * misses them. NFC on both engines (DuckDB nfc_normalize is the
    * oracle); the API also offers NFKC via
    * TextFunctions.unicode_normalize for compatibility-collapsing
    * dedup keys (no DuckDB oracle for that form).
    */
  val dedupExactNfc: QueryDef = QueryDef.sql(
    "dedup_exact_nfc",
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM (SELECT doc_id,
      |        trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) AS norm
      |      FROM documents) t
      |GROUP BY norm ORDER BY keep_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(norm(
        graft.functions.TextFunctions.unicode_normalize(col("text"), "NFC")))
        .as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy(col("keep_id"))
  }

  val dedupStats: QueryDef = QueryDef.sql(
    "dedup_stats",
    """SELECT n_copies, count(*) AS n_groups
      |FROM (SELECT count(*) AS n_copies
      |      FROM (SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      |            FROM documents) t
      |      GROUP BY norm) g
      |GROUP BY n_copies ORDER BY n_copies""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(norm(col("text"))).as("fp"))
      .agg(count(lit(1)).as("n_copies"))
      .groupBy(col("n_copies")).agg(count(lit(1)).as("n_groups"))
      .orderBy(col("n_copies"))
  }

  /** doc_id → `toks`, the lower-cased whitespace tokens, computed once
    * per row in a Generate (`inline(array(struct(toks)))`). A filter on
    * `toks` reads the Generate's output and cannot be pushed below it;
    * selected from a Project instead, the optimizer's filter pushdown
    * would copy the tokenizer into the pushed-down Filter and every
    * document would be tokenized twice.
    */
  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), inline(array(struct(
      regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)).as("toks")))))

  /** doc_id → exploded distinct word-3-shingles. */
  def shingles(docs: DataFrame, bound: Option[Long] = None): DataFrame = {
    val base = bound.fold(docs)(b => docs.filter(col("doc_id") < b))
    tokens(base)
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(
        graft.functions.TextFunctions.word_grams(col("toks"), 3)).as("sh"))
      .distinct()
  }

  /** Exact pairwise Jaccard ≥ threshold over candidate pairs.
    * `pairs` must have columns (id1, id2) and hold each pair once, as
    * `bucketPairs` emits them; a caller that unions or probes pairs
    * dedups them itself. A duplicated pair row multiplies the
    * intersection count of the join-expansion shape below — inter >
    * n1+n2 makes the union denominator negative and silently rejects
    * every true pair (stream_dedup_indexed once returned 0 rows for
    * exactly this reason). The result (id1, id2, jaccard) is
    * unordered: no pipeline consumer needs an order, and a global sort
    * costs a sampling job plus an exchange, so an entry that returns
    * the pairs sorts them itself.
    *
    * Join order matters at scale: candidates first, shingles second —
    * the co-occurrence work is O(|candidates| · shingles/doc). Joining
    * shingle-to-shingle across the whole corpus and then semi-joining
    * the candidates would re-create the quadratic blowup LSH exists
    * to avoid (a single hot shingle shared by m docs costs m² there).
    */
  def jaccardVerify(sh: DataFrame, pairs: DataFrame, threshold: Double): DataFrame = {
    // The pair plan is typically an expensive LSH expansion and feeds
    // three subtrees below (both id projections + the intersection
    // join) — materialize it once instead of replanning it per branch.
    // The result reads this checkpoint (and, in the intersect shape,
    // the arrays' one): a caller that consumes the pairs inside a
    // scope adopts the result so the scope frees them.
    val p = graft.Ckpt.keep(pairs.select(col("id1"), col("id2")))
    // SIZE-ADAPTIVE INTERSECTION SHAPE (r11, verdict item 3). The
    // join-expansion formulation below (the r10 fallback) attaches
    // every candidate doc's shingles to every pair it is in — a
    // |pairs| × shingles/doc relation exchanged by (id2, sh) for the
    // second join. Under heavy duplication that relation IS the
    // measured blowup (sf3: ~105M rows, 3.6 GB shuffle, 1.7 GB of
    // sort spill — the r10 scale table's dedup red row), and it
    // carries nothing the per-doc shingle SETS don't already hold.
    // While the candidate shingle corpus fits a broadcast, build one
    // (doc_id → distinct shingle array) relation instead and compute
    // |A∩B| per pair with a codegen'd array_intersect — the pair
    // relation streams map-side, NOTHING pair-shaped ever crosses an
    // exchange, and a hot LSH bucket adds zero skew (its pairs are
    // plain rows, not join-key collisions). Identical survivors and
    // values: collect_set = the distinct shingle set, |A∩B| and the
    // set sizes are the same longs, the jaccard algebra is the same
    // expression, and inter ≥ 1 reproduces the inner join's implicit
    // no-overlap drop. Above the Regime budget the join-expansion
    // shape remains the scale fallback (candidates at 100 TB are a
    // corpus-sized relation only under pathological duplication, but
    // the fallback must exist).
    // estimate: plan bytes of the UNRESTRICTED shingle relation
    // (candidate-restricted arrays are never bigger) ×4 for
    // parquet→rows inflation
    val counted =
      if (Regime.fits(sh.sparkSession, "dedup.jaccard_verify",
          Regime.planBytes(sh) * 4, ("intersect", "join_expand"))) {
        // The arrays are checkpointed so that both ids read one
        // aggregate and one broadcast. Two references to a lazy plan
        // would build them twice whenever `sh` is cached (as every
        // pipeline caches it): AQE cannot reuse an exchange above a
        // cached scan, whose table-cache stage is never shared. Over
        // the checkpoint the two broadcasts are one exchange.
        val arrays = graft.Ckpt.keep(candidateRows(sh, p)
          .groupBy(col("doc_id")).agg(collect_set(col("sh")).as("shs")))
        p.join(broadcast(arrays.as("a1")), col("id1") === col("a1.doc_id"))
          .join(broadcast(arrays.as("a2")), col("id2") === col("a2.doc_id"))
          .select(col("id1"), col("id2"),
            size(array_intersect(col("a1.shs"), col("a2.shs"))).cast("long").as("inter"),
            size(col("a1.shs")).cast("long").as("n1"),
            size(col("a2.shs")).cast("long").as("n2"))
          .filter(col("inter") >= 1L)
      } else {
        // scale fallback: the r10 join-expansion shape, unchanged
        // distinct AFTER the candidate restriction: exact Jaccard needs
        // set semantics, but deduping only candidate shingles keeps the
        // shuffle candidate-sized (the input `sh` is intentionally raw)
        val shCand = candidateRows(sh, p).distinct()
        val counts = shCand.groupBy("doc_id").agg(count(lit(1)).as("n"))
        p.join(shCand.toDF("id1", "sh"), "id1")
          .join(shCand.toDF("id2b", "sh2"),
            col("id2") === col("id2b") && col("sh") === col("sh2"))
          .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
          .join(broadcast(counts.toDF("id1", "n1")), "id1")
          .join(broadcast(counts.toDF("id2", "n2")), "id2")
      }
    counted
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** The rows of `rel` (doc_id, …) whose doc_id is in a pair of `p`
    * (id1, id2). Candidate ids are small BY LSH CONSTRUCTION (only
    * colliding buckets pair up); the corpus is not. Everything a verify
    * broadcasts must therefore be restricted to candidate ids FIRST — a
    * corpus-sized broadcast (one row per document) OOMs the driver and
    * every executor at 100 TB. This LeftSemi is the restriction
    * PlanAuditSpec locks on.
    */
  private def candidateRows(rel: DataFrame, p: DataFrame): DataFrame = {
    val ids = p.select(col("id1").as("doc_id"))
      .union(p.select(col("id2").as("doc_id"))).distinct()
    rel.join(broadcast(ids), Seq("doc_id"), "left_semi")
  }

  /** Exact pairwise n-gram Jaccard ≥ threshold on a bounded id range:
    * (id1, id2, jaccard). Shared by dedup_ngram and the group-
    * resolution entries below.
    */
  def ngramPairs(docs: DataFrame, bound: Long, threshold: Double): DataFrame = {
    val sh = shingles(docs, Some(bound))
    val inter = sh.toDF("id1", "sh").join(sh.toDF("id2", "sh2"),
        col("sh") === col("sh2") && col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    inter
      .join(broadcast(counts.toDF("id1", "n1")), "id1")
      .join(broadcast(counts.toDF("id2", "n2")), "id2")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** DuckDB CTEs producing the same bounded pairs as `ngramPairs`
    * (relation `pairs`: id1, id2, jaccard) — single-sourced so every
    * oracle built on the pair graph filters identically.
    */
  private val ngramPairCtes: String =
    """t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |      FROM documents WHERE doc_id < 300),
      |s AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      |      FROM t, UNNEST(generate_series(1, len(toks) - 2)) AS u(i)
      |      WHERE len(toks) >= 3),
      |c AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
      |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
      |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |pairs AS (SELECT id1, id2,
      |            round(CAST(inter AS DOUBLE) / (c1.n + c2.n - inter), 4) AS jaccard
      |          FROM p JOIN c c1 ON p.id1 = c1.doc_id JOIN c c2 ON p.id2 = c2.doc_id
      |          WHERE CAST(inter AS DOUBLE) / (c1.n + c2.n - inter) >= 0.8)""".stripMargin

  /** Oracle-checked exact n-gram Jaccard on a bounded id range. */
  val dedupNgram: QueryDef = QueryDef.sql(
    "dedup_ngram",
    s"WITH $ngramPairCtes\nSELECT id1, id2, jaccard FROM pairs ORDER BY id1, id2") { (s, d) =>
    ngramPairs(Tables.documents(s, d), 300L, 0.8)
      .orderBy(col("id1"), col("id2"))
  }

  /** Asymmetric shingle containment (Broder): |A∩B| / |A| per ordered
    * pair — flags doc-IN-doc embedding that symmetric Jaccard misses
    * (a short document wholly inside a long one scores ~1 here but
    * low Jaccard, so near-dup thresholds never catch it). Same
    * bounded 3-gram machinery as dedup_ngram; the scale path swaps
    * the exact self-join for LSH candidates and keeps this scorer.
    * The threshold compares n_both ≥ 0.9·n BEFORE any rounding, so
    * both engines cut identically.
    */
  val dedupContainment: QueryDef = QueryDef.sql(
    "dedup_containment",
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |  FROM documents WHERE doc_id < 150),
      |s AS (
      |  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      |  FROM t, UNNEST(generate_series(1, len(toks) - 2)) AS u(i)
      |  WHERE len(toks) >= 3),
      |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY 1),
      |ix AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_both
      |       FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      |       GROUP BY 1, 2)
      |SELECT id1, id2, round(CAST(n_both AS DOUBLE) / sz.n, 4) AS containment
      |FROM ix JOIN sz ON ix.id1 = sz.doc_id
      |WHERE n_both >= 0.9 * sz.n
      |ORDER BY id1, id2""".stripMargin) { (s, d) =>
    val sh = shingles(Tables.documents(s, d), Some(150L))
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val ix = sh.select(col("doc_id").as("id1"), col("sh"))
      .join(sh.select(col("doc_id").as("id2"), col("sh").as("sh2")),
        col("sh") === col("sh2") && col("id1") =!= col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("n_both"))
    ix.join(broadcast(sz.select(col("doc_id").as("id1"), col("n"))), "id1")
      .filter(col("n_both") >= lit(0.9) * col("n"))
      .select(col("id1"), col("id2"),
        round(col("n_both").cast("double") / col("n"), 4).as("containment"))
      .orderBy(col("id1"), col("id2"))
  }

  // ---- MinHash + LSH (the scale path) --------------------------------

  val NumPerm = 64
  val Bands = 16
  val RowsPerBand: Int = NumPerm / Bands

  /** doc_id → exploded 64-bit-hashed word-3-shingles (column `sh`:
    * long). One string hash per shingle up front; all downstream
    * MinHash permutations and the verification join then operate on
    * fixed-width longs — at corpus scale that cuts both the
    * 64-permutation hashing cost and the shuffle width.
    * Hash collisions perturb Jaccard by ~2^-64 — immaterial.
    *
    * Deliberately NOT distinct: a corpus-wide (doc_id, sh) distinct
    * is a full shuffle of every shingle row, and no consumer needs
    * it — MinHash min() is duplicate-insensitive, and jaccardVerify
    * dedups internally AFTER restricting to candidate ids (a
    * candidate-sized shuffle instead of a corpus-sized one).
    */
  def shinglesHashed(docs: DataFrame): DataFrame =
    tokens(docs)
      .filter(size(col("toks")) >= 3)
      // native per-row loop over the exact multi-arg xxhash64 seed
      // chain — value-identical to the transform(sequence, xxhash64)
      // spelling on the guarded (≥3-token) domain
      .select(col("doc_id"), explode(
        graft.functions.TextFunctions.word_gram_xxhash(col("toks"), 3)).as("sh"))

  /** Once-per-corpus STAGED (doc_id, sh) shingle relation (the
    * Warehouse contract): ~8 dedup entries used to re-derive the
    * identical tokenize+explode from documents per query — at 100 TB
    * that's the corpus tokenization paid per query for a relation
    * one ingest pass produces. doc_id-predicate callers (increment
    * splits, bounded-truth evals) filter the artifact; only
    * synthetic/streaming-batch frames still shingle directly.
    */
  def stagedShingles(s: SparkSession, d: String): DataFrame =
    graft.sources.Warehouse.staged(s, d, "dedup_shingles",
      Seq("documents.parquet"))(shinglesHashed(Tables.documents(s, d)))

  /** doc_id → 64-permutation MinHash signature (column `sig`:
    * array<long>) via the native mergeable MinHashAgg — ONE aggregate
    * buffer and one shingle hash per row instead of 64 independent
    * min(xxhash64) columns. Bit-identical to the composed form
    * (parity-pinned in VectorExprSpec).
    */
  def minhashSignatures(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id")
      .agg(graft.functions.SketchFunctions.minhash(col("sh"), NumPerm).as("sig"))

  /** The composed-operator formulation of the same signature
    * (NumPerm separate min(xxhash64(sh, j)) aggregates) — kept as the
    * built-in-only reference the native aggregate is tested against.
    */
  def minhashSignatureCols(sh: DataFrame): DataFrame = {
    val aggs = (0 until NumPerm).map { i =>
      min(xxhash64(col("sh"), lit(i))).as(s"m$i")
    }
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** (band, band-signature) buckets from array signatures — the ONE
    * banding definition shared by full-corpus and incremental LSH.
    */
  def lshBuckets(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { bi =>
      struct(lit(bi).as("band"),
        xxhash64(concat_ws(",", expr(
          s"transform(slice(sig, ${bi * RowsPerBand + 1}, $RowsPerBand), x -> cast(x AS string))")))
          .as("sig"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
  }

  /** Candidate pairs from key collisions: the one bucket→pair
    * expansion of the MinHash, SimHash, ICWS, set-sim prefix and IVF
    * pair families. `rows` holds at most one row per (id, key): the
    * `id` column, the `keys` columns and any `payload` columns. Every
    * pair of ids (id1 < id2) that shares at least one key comes out
    * exactly once, as the `out` columns, computed from id1, id2 and,
    * for each payload column p, p1 and p2 (the two members' values),
    * so that a site scores its pairs without joining the payload back.
    * This is the one place a pair family dedups its pairs: a verify
    * takes them as they come.
    *
    * Shape (r11, guide §2 skew): GROUP the rows by key and expand each
    * bucket's member list into its a<b pairs map-side, instead of a
    * bucket SELF-JOIN. The self-join exchanged the bucket relation
    * twice and sort-merged on the bucket key — a hot bucket (the LSH
    * skew case: a boilerplate band signature shared by m documents)
    * was one SMJ key doing m² row emissions behind a sort. The groupBy
    * exchanges the bucket rows ONCE (partial collect_list collapses
    * per-partition), the m² expansion streams out of a generator with
    * no sort and no join-key collision, and the pair relation flows
    * straight into the distinct's partial aggregate. Same pair set: a
    * sorted member array paired each-with-later is exactly
    * {(a, b) : a < b} per bucket, deduped across buckets by the
    * distinct. A filter on `out` columns runs before the distinct
    * (the optimizer pushes it below), so only surviving pairs shuffle.
    *
    * The distinct costs an exchange of the pairs. A site whose payload
    * tells which shared key is a pair's lowest passes `first`, a
    * predicate over the key columns, id1, id2 and the p1/p2 columns
    * that holds in exactly one of the buckets a pair shares; the pair
    * is then emitted from that bucket only, and no distinct runs.
    */
  def bucketPairs(rows: DataFrame, id: String, keys: Seq[String],
      payload: Seq[String] = Nil, out: Seq[Column] = Seq(col("id1"), col("id2")),
      first: Option[Column] = None): DataFrame = {
    val k = keys.map(col)
    val member = if (payload.isEmpty) col(id) else struct(col(id).as("id") +: payload.map(col): _*)
    val pairs = rows.groupBy(k: _*)
      .agg(sort_array(collect_list(member)).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(k :+ posexplode(col("ids")).as(Seq("i", "m1")) :+ col("ids"): _*)
      .select(k :+ col("m1") :+ explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("m2"): _*)
    val named = pairs.select(k ++ (if (payload.isEmpty) Seq(col("m1").as("id1"), col("m2").as("id2"))
      else col("m1.id").as("id1") +: col("m2.id").as("id2") +: payload.flatMap(p =>
        Seq(col(s"m1.$p").as(s"${p}1"), col(s"m2.$p").as(s"${p}2")))): _*)
    first.fold(named.select(out: _*).distinct())(f => named.filter(f).select(out: _*))
  }

  /** LSH banding candidates: ids colliding in ≥1 (band, sig) bucket. */
  def lshCandidates(sigs: DataFrame): DataFrame =
    bucketPairs(lshBuckets(sigs), "doc_id", Seq("band", "sig"))

  /** MinHash+LSH near-dup pairs of `sh` (doc_id, sh), Jaccard-verified
    * ≥ threshold: (id1, id2, jaccard), unordered.
    */
  def minhashPairs(sh: DataFrame, threshold: Double): DataFrame =
    jaccardVerify(sh, lshCandidates(minhashSignatures(sh)), threshold)

  /** MinHash+LSH near-dup detection, Jaccard-verified ≥ 0.8.
    *
    * The hashed-shingle corpus feeds three subtrees (signatures + both
    * sides of the verification join), so it is cached for the run and
    * released afterwards: the verified pairs (tiny vs. the corpus) are
    * kept while the cache is hot, then the shingle blocks are dropped
    * so a long-lived session (Bench runs every query in one JVM) isn't
    * left pinning the corpus in executor memory.
    */
  val dedupMinhash: QueryDef = QueryDef.rowsOnly("dedup_minhash") { (s, d) =>
    graft.Ckpt.scoped { sc =>
      val sh = sc.persist(stagedShingles(s, d))
      sc.keep(sc.adopt(minhashPairs(sh, 0.8)).orderBy(col("id1"), col("id2")))
    }
  }

  /** Sketch-calibration report: the MinHash-ESTIMATED Jaccard
    * (fraction of agreeing signature components — an unbiased
    * estimator with Var = J(1−J)/64) next to the EXACT Jaccard for
    * every LSH candidate pair. This is how a pipeline tunes banding
    * and thresholds at 100 TB: the estimate is free once signatures
    * exist, the exact verify is the expensive step the estimate
    * gates. The comparison runs on the candidate-pair relation (tiny
    * by LSH construction), so the zip_with lambda never touches a
    * corpus scan. Rows-only (xxhash64 signatures aren't
    * DuckDB-expressible); estimator error bounds pinned in ScalaTest.
    */
  val dedupMinhashEst: QueryDef = QueryDef.rowsOnly("dedup_minhash_est") { (s, d) =>
    graft.Ckpt.scoped { sc =>
      val sh = sc.persist(stagedShingles(s, d))
      val sigs = minhashSignatures(sh)
      val cand = lshCandidates(sigs)
      val matches = size(filter(
        zip_with(col("sig1"), col("sig2"), (a, b) => a === b), x => x))
      val est = cand
        .join(sigs.toDF("id1", "sig1"), "id1")
        .join(sigs.toDF("id2", "sig2"), "id2")
        .select(col("id1"), col("id2"),
          round(matches / lit(NumPerm.toDouble), 4).as("est_jaccard"))
      // threshold 0 keeps every candidate that shares any shingle;
      // zero-overlap candidates (possible but LSH-rare) exact to 0
      val exact = sc.adopt(jaccardVerify(sh, cand, 0.0))
      sc.keep(est.join(exact, Seq("id1", "id2"), "left")
        .select(col("id1"), col("id2"), col("est_jaccard"),
          coalesce(col("jaccard"), lit(0.0)).as("jaccard"))
        .withColumn("abs_err", round(abs(col("est_jaccard") - col("jaccard")), 4))
        .orderBy(col("id1"), col("id2")))
    }
  }

  // ---- Near-dup group resolution (connected components) --------------

  /** Driver heap budgeted per collected edge on the union-find path:
    * 16 B of packed ids (`packedEdges`) and 103 B for the union-find
    * map entries of its two nodes, measured on JDK 17 (compressed
    * oops) by retained heap after GC over 1M disjoint edges. The
    * constant is the 256 B measured when an edge also arrived as a
    * Row (101 B) with a (Long, Long) copy (44 B), kept so that the
    * graph size at which the regime flips has not moved.
    */
  private val DriverBytesPerEdge = 256L

  /** The edges of `pairs` (id1, id2), one array per partition with the
    * two ids of each edge side by side: 16 bytes an edge, cached or
    * shipped.
    */
  private def packedEdges(pairs: DataFrame): org.apache.spark.rdd.RDD[Array[Long]] =
    pairs.select(col("id1").cast("long"), col("id2").cast("long")).queryExecution.toRdd
      .mapPartitions { rows =>
        val ids = new scala.collection.mutable.ArrayBuilder.ofLong
        rows.foreach { r =>
          require(!r.isNullAt(0) && !r.isNullAt(1), "null id in the pair graph")
          ids += r.getLong(0)
          ids += r.getLong(1)
        }
        Iterator.single(ids.result())
      }

  /** The number of edges in `packed` and, when it is at most `cap`,
    * the edges themselves. One job reads every partition (filling the
    * cache of a persisted `packed`): each task returns its partition's
    * edge count, and its edges only when that count is at most its
    * share, cap / partitions + 1. So the driver receives at most
    * cap + partitions edges, whatever the size of the graph. When the
    * total fits but a skewed partition went over its share, a second
    * job fetches just those partitions.
    */
  private def boundedEdges(packed: org.apache.spark.rdd.RDD[Array[Long]],
      cap: Long): (Long, Option[Array[Long]]) = {
    val share = cap / math.max(1, packed.getNumPartitions) + 1
    val parts = packed.sparkContext.runJob(packed, (it: Iterator[Array[Long]]) => {
      val ids = it.next()
      val n = ids.length / 2L
      (n, if (n <= share) ids else null)
    })
    val total = parts.map(_._1).sum
    if (total > cap) (total, None)
    else {
      val over = parts.indices.filter(i => parts(i)._2 == null)
      // (a job over no partition still posts a job start)
      val fetched = if (over.isEmpty) Map.empty[Int, Array[Long]]
        else over.zip(packed.sparkContext.runJob(packed,
          (it: Iterator[Array[Long]]) => it.next(), over)).toMap
      (total, Some(parts.indices.flatMap(i => fetched.getOrElse(i, parts(i)._2)).toArray))
    }
  }

  /** Driver-side union-find (path compression, min-id roots) over
    * packed edges (the two ids of each side by side) — zero iterative
    * Spark rounds. Returns the same (id, label = component min)
    * contract as the distributed loop.
    */
  private def localComponents(s: SparkSession, edges: Array[Long]): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for (i <- edges.indices by 2) {
      val (a, b) = (edges(i), edges(i + 1))
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // min root wins so the label IS the component min
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    import s.implicits._
    parent.keys.toSeq.sorted.map(id => (id, find(id))).toDF("id", "label")
  }

  /** Connected components over an undirected pair graph
    * (columns id1, id2) → (id, label) where label = the component's
    * minimum id. Iterative min-label propagation: each round every
    * node takes the minimum label among itself and its neighbors —
    * one equality join + one min-aggregation per round, both plain
    * shuffles on node id, so a round costs O(|edges|) regardless of
    * cluster count. Rounds needed = graph diameter; near-dup
    * components are near-cliques (every member pair tends to collide),
    * so diameter is tiny in practice. Labels are monotonically
    * non-increasing, hence an unchanged label sum is a fixpoint —
    * the O(1) convergence probe collected per round.
    *
    * Lineage is truncated per round (localCheckpoint) so the plan
    * doesn't grow with iterations; the label table is O(nodes in the
    * pair graph), far smaller than the corpus.
    *
    * SIZE-ADAPTIVE (Regime): while the collected graph fits the
    * budget, a driver union-find answers in one pass — the candidate
    * graph is small relative to the corpus by LSH construction, and
    * each distributed round costs two joins + a checkpoint + a
    * convergence collect, a fixed overhead a tiny graph never
    * amortizes. The distributed loop is the scale path, with the same
    * labels. The pick costs one bounded read (`boundedEdges`), not a
    * count and then a collect: the read counts every edge and brings
    * them to the driver only when there are at most budget /
    * DriverBytesPerEdge of them.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30): DataFrame =
    graft.Ckpt.scoped { sc =>
      // the pair plan feeds the bounded read and, on the distributed
      // path, three edge branches: materialize it once, not once per
      // branch (the caller may hand us an expensive join)
      val s = pairs.sparkSession
      val packed = sc.persist(packedEdges(pairs))
      val (n, read) = boundedEdges(packed, Regime.budget(s) / DriverBytesPerEdge)
      // estimate: edge count × driver bytes per collected edge
      if (Regime.fits(s, "dedup.connected_components",
          BigInt(n) * DriverBytesPerEdge, ("driver_union_find", "distributed")))
        localComponents(s, read.get)
      else {
        import s.implicits._
        val p = packed.flatMap(ids => Iterator.range(0, ids.length, 2).map(i => (ids(i), ids(i + 1))))
          .toDF("id1", "id2")
        val nodes = p.select(col("id1").as("src"))
          .union(p.select(col("id2").as("src"))).distinct()
        // symmetric closure + self-loops: min over neighbors then includes
        // the node's own label, so one inner join per round suffices
        val edges = sc.persist(p.select(col("id1").as("src"), col("id2").as("dst"))
          .union(p.select(col("id2").as("src"), col("id1").as("dst")))
          .union(nodes.withColumn("dst", col("src"))))
        var labels = sc.checkpoint(edges.select(col("src").as("id")).distinct()
          .withColumn("label", col("id")))
        def labelSum(df: DataFrame): Long = {
          val r = df.agg(sum(col("label"))).collect()(0)
          if (r.isNullAt(0)) 0L else r.getLong(0)
        }
        var prev = labelSum(labels)
        var iter = 0
        // an explicit emptiness probe — a zero label SUM does not mean
        // empty (negative ids can sum to zero on a live graph)
        var done = labels.head(1).isEmpty
        while (!done && iter < maxIter) {
          val prop = edges
            .join(labels.withColumnRenamed("id", "nbr"), col("dst") === col("nbr"))
            .groupBy(col("src").as("id")).agg(min(col("label")).as("label"))
          // pointer jumping: label(v) ← label(label(v)). A label is
          // itself a node id, so one self-join squares the propagation
          // distance per round — O(log diameter) rounds on chains
          // instead of O(diameter).
          labels = sc.roll(prop
            .join(prop.select(col("id").as("pid"), col("label").as("plabel")),
              col("label") === col("pid"))
            .select(col("id"), col("plabel").as("label")), labels)
          val cur = labelSum(labels)
          done = cur == prev
          prev = cur
          iter += 1
        }
        require(done, s"connectedComponents did not converge in $maxIter rounds")
        sc.keep(labels)
      }
    }

  /** The near-deduplicated corpus: drop every document that belongs
    * to a near-dup component but is not its minimum-id representative.
    * `pairs` is any near-dup pair graph — `ngramPairs` for exact
    * verification, `dedupMinhash`'s output for the 100 TB path.
    */
  def nearDedupedCorpus(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val losers = connectedComponents(pairs)
      .filter(col("label") =!= col("id")).select(col("id"))
    docs.join(losers, docs("doc_id") === losers("id"), "left_anti")
  }

  /** Recursive-CTE transitive closure over the `pairs` relation:
    * relation `lab` = (id, rep) with rep = component minimum.
    */
  private val componentCtes: String =
    """edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
      |          UNION SELECT id2, id1 FROM pairs),
      |reach AS (SELECT src, dst FROM edges
      |          UNION
      |          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |lab AS (SELECT src AS id, least(src, min(dst)) AS rep
      |        FROM reach GROUP BY src)""".stripMargin

  /** Near-dup groups resolved from the bounded n-gram pair graph:
    * one row per component (representative, member count). The same
    * Spark code runs unbounded on LSH-verified pairs at scale.
    */
  val dedupGroups: QueryDef = QueryDef.sql(
    "dedup_groups",
    s"""WITH RECURSIVE $ngramPairCtes,
       |$componentCtes
       |SELECT rep AS group_rep, count(*) AS member_count
       |FROM lab GROUP BY rep ORDER BY group_rep""".stripMargin) { (s, d) =>
    connectedComponents(ngramPairs(Tables.documents(s, d), 300L, 0.8))
      .groupBy(col("label").as("group_rep"))
      .agg(count(lit(1)).as("member_count"))
      .orderBy(col("group_rep"))
  }

  /** The surviving documents of the bounded corpus after near-dedup —
    * oracles the `nearDedupedCorpus` API end-to-end.
    */
  val dedupNearCorpus: QueryDef = QueryDef.sql(
    "dedup_near_corpus",
    s"""WITH RECURSIVE $ngramPairCtes,
       |$componentCtes
       |SELECT doc_id FROM documents
       |WHERE doc_id < 300
       |  AND doc_id NOT IN (SELECT id FROM lab WHERE rep <> id)
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).filter(col("doc_id") < 300)
    nearDedupedCorpus(docs, ngramPairs(docs, 300L, 0.8))
      .select(col("doc_id")).orderBy(col("doc_id"))
  }

  // ---- SimHash -------------------------------------------------------

  /** doc_id → 64-bit SimHash packed into a long, via the native
    * mergeable SimHashAgg (sql/graft/sketch.scala): one 64-counter
    * buffer per doc instead of 64 composed conditional-sum columns —
    * the composed plan's generated code took seconds of janino
    * compilation per run and shuffled 64 long buffers per
    * (partition, doc); the aggregate is bit-identical (parity
    * test-pinned in SketchSimhashSpec) and map-side combining.
    */
  def simhash(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))).as("tok"))
      .groupBy("doc_id")
      .agg(graft.functions.SketchFunctions.simhash(xxhash64(col("tok"))).as("simhash"))

  /** The composed 64-column formulation of [[simhash]] — retained as
    * the parity reference the native aggregate is pinned against.
    */
  private[graft] def simhashComposed(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val sums = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    sums.select(col("doc_id"),
      (0 until 64).map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ bitwiseOR _).as("simhash"))
  }

  /** SimHash near-dup pairs (Hamming ≤ 3) on a bounded id range. */
  val dedupSimhash: QueryDef = QueryDef.rowsOnly("dedup_simhash") { (s, d) =>
    val sig = simhash(Tables.documents(s, d).filter(col("doc_id") < 300))
    sig.toDF("id1", "h1").join(sig.toDF("id2", "h2"), col("id1") < col("id2"))
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("hamming") <= 3)
      .select(col("id1"), col("id2"), col("hamming").cast("long").as("hamming"))
      .orderBy(col("id1"), col("id2"))
  }

  /** SimHash banded LSH — the unbounded scale path. The 64-bit
    * signature splits into 4 × 16-bit bands; Hamming distance ≤ 3
    * can spread at most 3 differing bits over 4 bands, so by
    * pigeonhole every qualifying pair matches exactly in ≥ 1 band.
    * Candidates are therefore the pairs sharing a (band, band-value)
    * bucket — `bucketPairs`, as MinHash banding, carrying each side's
    * signature — followed by an exact popcount verification. Returns exactly the
    * pairs the quadratic operator would (guarantee, not heuristic).
    * The signatures also tell the lowest band a pair shares, so each
    * pair comes out of that band's bucket only, with no distinct.
    *
    * Bucket sizing at scale: a 16-bit band has 2^16 values, so
    * in-bucket pairing grows ~ (n/2^16)² per band; beyond ~10^8 docs
    * widen the key (join on 2 bands = 32 bits and repeat for the
    * C(4,2) band choices with the Hamming budget split 1+2), the
    * standard table-permutation layout of Manku et al., WWW'07.
    */
  val dedupSimhashLsh: QueryDef = QueryDef.rowsOnly("dedup_simhash_lsh") { (s, d) =>
    val sig = simhash(Tables.documents(s, d))
    val bands = sig.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(j => struct(lit(j).as("band"),
          shiftright(col("simhash"), j * 16).bitwiseAND(0xFFFF).as("bv"))): _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.band").as("band"), col("b.bv").as("bv"))
    val x = col("simhash1").bitwiseXOR(col("simhash2"))
    val lowestShared = (0 until 3).map(j =>
      col("band") <= j || shiftright(x, j * 16).bitwiseAND(0xFFFF) =!= 0).reduce(_ && _)
    bucketPairs(bands, "doc_id", Seq("band", "bv"), Seq("simhash"),
        Seq(col("id1"), col("id2"), bit_count(x).cast("long").as("hamming")), Some(lowestShared))
      .filter(col("hamming") <= 3)
      .orderBy(col("id1"), col("id2"))
  }

  // ---- Embedding cosine near-dup -------------------------------------

  /** Pairwise embedding cosine ≥ 0.35 (threshold calibrated to the
    * synthetic corpus: max pairwise cosine ≈ 0.456) on a bounded id
    * range; the unbounded scale path is Similarity.annLsh bucketing.
    */
  val dedupEmbedding: QueryDef = QueryDef.sql(
    "dedup_embedding",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
      |           FROM embeddings WHERE vec_id < 300),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
      |SELECT a.vec_id AS id1, b.vec_id AS id2,
      |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= 0.35
      |ORDER BY id1, id2""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d).filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val n = e.withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v"))))
    val cos = round(Similarity.dot(col("v"), col("v2")) / (col("nrm") * col("nrm2")), 4)
    n.toDF("id1", "v", "nrm")
      .join(n.toDF("id2", "v2", "nrm2"), col("id1") < col("id2"))
      .withColumn("cos_sim", cos)
      .filter(col("cos_sim") >= 0.35)
      .select("id1", "id2", "cos_sim")
      .orderBy(col("id1"), col("id2"))
  }

  /** The deduplicated corpus itself: keep the lowest doc_id of every
    * exact-duplicate group, preserving all document columns — the
    * DataFrame a pipeline feeds downstream. One fingerprint-keyed
    * aggregate (`min_by` doc_id, map-side combined); rows never widen.
    * Nearly every document is its own group, so the aggregate holds
    * about the whole corpus: it must be one that can spill, never an
    * in-memory per-key map such as TopKPerKey's.
    */
  def dedupedCorpus(docs: DataFrame): DataFrame =
    docs.groupBy(md5(norm(col("text"))).as("graft_fp"))
      .agg(min_by(struct(docs.columns.map(col): _*), col("doc_id")).as("graft_doc"))
      .select(col("graft_doc.*"))

  /** Streaming exact dedup (dropDuplicates state) — per-source
    * unique-document counts, same oracle as a batch distinct.
    */
  val streamDedup: QueryDef = QueryDef.sql(
    "stream_dedup",
    """SELECT source,
      |  count(DISTINCT trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS n_unique
      |FROM documents GROUP BY source ORDER BY source""".stripMargin)(
    graft.streaming.EventStreams.streamDedup)

  /** Incremental near-dedup: new documents against an existing corpus
    * WITHOUT re-pairing the corpus with itself. Both sides bucket the
    * usual way, but candidates are (increment ⋈ corpus buckets) plus
    * the increment's self-pairs — so a daily ingest costs
    * O(increment · bands), not O(corpus²) or even O(corpus · bands)
    * beyond the one signature pass. A document present on BOTH sides
    * (a re-ingestion) is handled: its self-match is dropped and its
    * shingles deduplicate before verification. Returns
    * (id1 < id2, jaccard).
    */
  def minhashIncrementPairs(corpusSh: DataFrame, incSh: DataFrame,
      threshold: Double = 0.8): DataFrame =
    minhashIncrementPairsWithIndex(
      lshBuckets(minhashSignatures(corpusSh)), corpusSh, incSh, threshold)

  /** LSH cross candidates: increment buckets (broadcast — a daily
    * ingest is small) against the corpus bucket table, map-side with
    * zero corpus shuffle. Returns (id1 < id2).
    */
  def incrementCrossCandidates(corpusBuckets: DataFrame,
      incBuckets: DataFrame): DataFrame =
    broadcast(incBuckets.toDF("ia", "band", "sig"))
      .join(corpusBuckets.toDF("ib", "band2", "sig2"),
        col("band") === col("band2") && col("sig") === col("sig2")
          && col("ia") =!= col("ib"))
      .select(least(col("ia"), col("ib")).as("id1"),
        greatest(col("ia"), col("ib")).as("id2"))

  /** The same increment-vs-corpus pairing, but against an ALREADY
    * MATERIALIZED corpus bucket table (the stored index below) — the
    * corpus is never re-shingled or re-signed for candidate
    * generation. The increment side (a daily ingest — small relative
    * to the corpus) is broadcast, so the index join is map-side: the
    * stored buckets stream through executors with ZERO corpus
    * shuffle. Corpus shingles are still needed for the exact-Jaccard
    * verification, but jaccardVerify restricts them to candidate ids
    * before any work.
    */
  def minhashIncrementPairsWithIndex(corpusBuckets: DataFrame,
      corpusSh: DataFrame, incSh: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    val bi = lshBuckets(minhashSignatures(incSh))
    val cross = incrementCrossCandidates(corpusBuckets, bi)
    val self = bucketPairs(bi, "doc_id", Seq("band", "sig"))
    // a cross pair arrives once per colliding band
    jaccardVerify(corpusSh.union(incSh), cross.union(self).distinct(), threshold)
  }

  /** Write the LSH bucket index (doc_id, band, sig) of a corpus to
    * parquet — the dedup "ingest" step. A daily pipeline runs this
    * once per corpus append, and every increment thereafter joins
    * against the STORED buckets (`minhashIncrementPairsWithIndex`)
    * instead of re-signing the corpus.
    */
  def writeDedupIndex(corpusDocs: DataFrame, path: String): Unit =
    lshBuckets(minhashSignatures(shinglesHashed(corpusDocs)))
      .write.mode("overwrite").parquet(path)

  /** The LSH bucket index of the corpus below `split` (documents
    * with a smaller doc_id): a Warehouse artifact over documents,
    * salted with the split and the signature shape, built once per
    * corpus and reused by any later session.
    */
  def dedupIndexDir(s: SparkSession, d: String, split: Long): String =
    graft.sources.Warehouse.artifact(s, d, "dedup_idx", Seq("documents.parquet"),
        s"|split$split|perm$NumPerm|bands$Bands") { dir =>
      writeDedupIndex(Tables.documents(s, d).filter(col("doc_id") < split), dir)
    }

  /** The corpus/increment boundary the incremental entries share:
    * newest 40% of doc ids are "today's ingest".
    */
  def incrementSplit(docs: DataFrame): Long =
    docs.agg((max(col("doc_id")) * 0.6).cast("long")).collect()(0).getLong(0)

  /** The daily-ingest entry: the newest 40% of documents deduped
    * against the older 60% corpus. Test-pinned to equal the full
    * minhash pairs touching the increment.
    */
  val dedupIncremental: QueryDef = QueryDef.rowsOnly("dedup_incremental") { (s, d) =>
    val docs = Tables.documents(s, d)
    val split = incrementSplit(docs)
    graft.Ckpt.scoped { sc =>
      val sh = sc.persist(stagedShingles(s, d))
      sc.keep(sc.adopt(minhashIncrementPairs(
        sh.filter(col("doc_id") < split), sh.filter(col("doc_id") >= split)))
        .orderBy(col("id1"), col("id2")))
    }
  }

  /** The indexed daily-ingest entry: the increment joins the STORED
    * LSH bucket table (built once per corpus by `dedupIndexDir`) —
    * no corpus re-shingling or re-signing on the candidate path, and
    * the verification's corpus shingles are candidate-restricted
    * before any shuffle (the LeftSemi pushes below the shingle
    * explode). Test-pinned equal to `dedup_incremental` on the same
    * split.
    */
  val dedupIncrementalIndexed: QueryDef =
    QueryDef.rowsOnly("dedup_incremental_indexed") { (s, d) =>
      val docs = Tables.documents(s, d)
      val split = incrementSplit(docs)
      val idx = dedupIndexDir(s, d, split)
      graft.Ckpt.scoped { sc =>
        val incSh = sc.persist(stagedShingles(s, d).filter(col("doc_id") >= split))
        val corpusSh = stagedShingles(s, d).filter(col("doc_id") < split)
        sc.keep(sc.adopt(
          minhashIncrementPairsWithIndex(Tables.parquet(s, idx), corpusSh, incSh))
          .orderBy(col("id1"), col("id2")))
      }
    }

  /** The full 100 TB near-dedup pipeline end-to-end: MinHash+LSH
    * candidate pairs (unbounded), connected components, one survivor
    * per component — the deduplicated corpus a training run reads.
    * Rows-only (the MinHash leg is not SQL-expressible); pinned by
    * ScalaTest against an independently recomputed component set.
    */
  val dedupMinhashCorpus: QueryDef = QueryDef.rowsOnly("dedup_minhash_corpus") { (s, d) =>
    val docs = Tables.documents(s, d)
    graft.Ckpt.scoped { sc =>
      val pairs = sc.adopt(dedupMinhash.fn(s, d)).select("id1", "id2")
      nearDedupedCorpus(docs, pairs).select(col("doc_id")).orderBy(col("doc_id"))
    }
  }

  /** The streamed increment PLUS one planted cross-batch near-dup of
    * the LONGEST corpus document (tie-break lowest id; append one
    * token): for an m-token donor the shingle Jaccard is ~(m-2)/(m-1),
    * which clears the 0.8 verify threshold only for m ≥ 6 — picking
    * the longest document (rather than the lowest-id one, which could
    * be short at some SF) keeps the gate non-vacuous at EVERY SF. The
    * cross-vs-corpus path then emits at least one verified pair, so
    * the correctness gate exercises the full index-join → verify →
    * sink path instead of passing vacuously on 0 rows. Shared with
    * the spec's batch-parity pin, which plants the same document.
    */
  private[graft] val PlantedStreamDocId = 900000000L
  private[graft] def plantedIncrement(docs: DataFrame, split: Long): DataFrame = {
    val planted = docs.filter(col("doc_id") < split)
      .orderBy(col("n_chars").desc, col("doc_id")).limit(1)
      .select(lit(PlantedStreamDocId).as("doc_id"),
        concat_ws(" ", col("text"), lit("mirrored")).as("text"),
        col("lang"), col("source"), (col("n_chars") + 9).as("n_chars"))
    docs.filter(col("doc_id") >= split)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .unionAll(planted)
  }

  /** STREAMING ingest against the STORED dedup index: documents
    * arrive as micro-batches (2 files, maxFilesPerTrigger=1 — a real
    * multi-batch run), and every batch's buckets broadcast-join the
    * persisted corpus bucket table, Jaccard-verify, and append the
    * confirmed near-dup pairs to a parquet sink — the always-on
    * front door of the daily-ingest story (cross-vs-corpus only;
    * intra-increment self pairs belong to the daily batch job).
    * Per-batch cost is O(batch · bands) against a corpus-sized scan,
    * zero corpus shuffle; state lives in the index, not the stream.
    * Test-pinned equal to the batch cross-only path on the same
    * split.
    */
  val streamDedupIndexed: QueryDef =
    QueryDef.rowsOnly("stream_dedup_indexed") { (s, d) =>
      val docs = Tables.documents(s, d)
      val split = incrementSplit(docs)
      val idx = dedupIndexDir(s, d, split)
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_idx")
      try {
        val srcDir = s"$tmp/src"; val sinkDir = s"$tmp/sink"
        plantedIncrement(docs, split).repartition(2)
          .write.parquet(srcDir)
        val stream = s.readStream
          .schema(graft.streaming.EventStreams.docsSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir)
        val q = stream.writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$tmp/chk")
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            val batchSh = shinglesHashed(batch.toDF())
            val cand = incrementCrossCandidates(Tables.parquet(s, idx),
              lshBuckets(minhashSignatures(batchSh))).distinct()
            graft.Ckpt.scoped { sc =>
              sc.adopt(jaccardVerify(
                stagedShingles(s, d).filter(col("doc_id") < split).union(batchSh), cand, 0.8))
                .write.mode("append").parquet(sinkDir)
            }
          }
          .start()
        try q.processAllAvailable() finally q.stop()
        graft.Ckpt.keep(s.read.parquet(sinkDir).orderBy(col("id1"), col("id2")))
      } finally
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }

  private val IcwsSamples = 16
  private val IcwsThreshold = 0.5

  /** EXACT weighted (tf) Jaccard pairs on the bounded truth range —
    * the hash-matched rung of the WEIGHTED dedup family (what
    * dedup_ngram is to the unweighted one, and the ground truth
    * dedup_minhash_weighted's recall is pinned against): J_w =
    * Σ min(w_A,w_B) / Σ max(w_A,w_B) over term frequencies, via one
    * token-equality self-join of the tf relation (work = Σ_token
    * df(token)² — fine on the bounded range; the UNbounded corpus
    * takes the ICWS sketch path, which never joins raw tokens).
    * Σmax = W_A + W_B − Σmin keeps it one join + two broadcast
    * totals, the jaccardVerify algebra.
    */
  val dedupWeightedExact: QueryDef = QueryDef.sql(
    "dedup_weighted_exact",
    """WITH t AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS tok
      |  FROM documents WHERE doc_id < 300),
      |tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS w
      |       FROM t GROUP BY 1, 2),
      |tot AS (SELECT doc_id, sum(w) AS tw FROM tf GROUP BY 1),
      |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
      |        sum(least(a.w, b.w)) AS imin
      |      FROM tf a JOIN tf b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2)
      |SELECT id1, id2,
      |  round(imin / (t1.tw + t2.tw - imin), 4) AS w_jaccard
      |FROM p JOIN tot t1 ON p.id1 = t1.doc_id
      |       JOIN tot t2 ON p.id2 = t2.doc_id
      |WHERE imin / (t1.tw + t2.tw - imin) >= 0.5
      |ORDER BY id1, id2""".stripMargin) { (s, d) =>
    // pair join + totals share one scan
    val tf = graft.Ckpt.keep(termFreqs(Tables.documents(s, d).filter(col("doc_id") < 300L)))
    val tot = tf.groupBy("doc_id").agg(sum(col("w")).as("tw"))
    tf.toDF("id1", "tok", "w1")
      .join(tf.toDF("id2", "tok2", "w2"),
        col("tok") === col("tok2") && col("id1") < col("id2"))
      .groupBy("id1", "id2")
      .agg(sum(least(col("w1"), col("w2"))).as("imin"))
      .join(broadcast(tot.toDF("id1", "tw1")), "id1")
      .join(broadcast(tot.toDF("id2", "tw2")), "id2")
      .withColumn("jw", col("imin") / (col("tw1") + col("tw2") - col("imin")))
      .filter(col("jw") >= IcwsThreshold)
      .select(col("id1"), col("id2"), round(col("jw"), 4).as("w_jaccard"))
      .orderBy(col("id1"), col("id2"))
  }

  /** WEIGHTED near-dup detection by Improved Consistent Weighted
    * Sampling (Ioffe, ICDM 2010) — the tf-WEIGHTED upgrade over
    * set-Jaccard MinHash: two documents sharing vocabulary but with
    * very different term emphasis score lower, and heavy repeated
    * terms count proportionally, matching J_w(A,B) =
    * Σ min(w_A,w_B) / Σ max(w_A,w_B) (the weighted Jaccard that
    * tf-weighted dedup policies actually want). Per (doc, token,
    * sample j): ICWS draws r, c ~ Gamma(2,1) and β ~ U(0,1)
    * DETERMINISTICALLY from xxhash64(token, j, salt) (Gamma(2,1) =
    * −ln(u·u')), t = ⌊ln w / r + β⌋, a = c / (exp(r·(t−β+1))); the
    * per-(doc, j) argmin (token, t) is the sample, and
    * P[sample_A = sample_B] = J_w exactly — Ioffe's theorem. All of
    * it is codegen'd column math; the argmin is one map-side
    * aggregate over the O(doc·vocab·K) relation.
    *
    * Candidates = docs agreeing on ≥1 of the K=16 (j, token, t)
    * buckets (bucketPairs, never all-pairs: collision prob at
    * J_w=0.5 is 1−0.5¹⁶ ≈ 0.99998); each candidate is then verified
    * with the EXACT weighted Jaccard over the tf relation restricted
    * to candidate ids (precision 1 by construction — same discipline
    * as jaccardVerify). Rows-only (the sketch leg); ScalaTest pins
    * verified ⊆ exact, recall ≥ 0.9 against exact all-pairs J_w on
    * the bounded range, the within-doc identity J_w(A,A)=1, and
    * determinism.
    */
  val dedupMinhashWeighted: QueryDef = QueryDef.rowsOnly("dedup_minhash_weighted") { (s, d) =>
    val docs = Tables.documents(s, d).filter(col("doc_id") < 300L)
    weightedMinhashPairs(docs, IcwsThreshold)
  }

  /** (doc_id, tok, w): each document's lower-cased whitespace tokens
    * with their counts (as doubles) — the weighted-dedup relation.
    */
  private def termFreqs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).cast("double").as("w"))

  /** The ICWS pipeline shared with the spec: tf weights → K ICWS
    * samples → bucket candidates → exact weighted-Jaccard
    * verify ≥ threshold. Returns (id1, id2, w_jaccard).
    */
  private[graft] def weightedMinhashPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val tf = graft.Ckpt.keep(termFreqs(docs)) // feeds samples AND the exact verify
    // u ∈ (0, 1]: top 53 hash bits + 1 — never 0, so ln is total
    def u(salt: Int): Column =
      (shiftrightunsigned(xxhash64(col("tok"), col("j"), lit(salt)), 11) + 1L)
        .cast("double") / 9007199254740992.0
    val r = -log(u(1) * u(2))
    val c = -log(u(3) * u(4))
    val b = u(5)
    val t = floor(log(col("w")) / r + b)
    val a = c / exp(r * (t - b + 1))
    val sig = tf
      .withColumn("j", explode(array((0 until IcwsSamples).map(lit): _*)))
      .groupBy(col("doc_id"), col("j"))
      .agg(min(struct(a.as("a"), col("tok").as("tok"), t.as("t"))).as("p"))
      .select(col("doc_id"), col("j"),
        col("p.tok").as("btok"), col("p.t").as("bt"))
    val cand = graft.Ckpt.keep(bucketPairs(sig, "doc_id", Seq("j", "btok", "bt")))
    // exact weighted Jaccard, candidate-restricted before any work
    val tfCand = candidateRows(tf, cand)
    val totals = tfCand.groupBy("doc_id").agg(sum(col("w")).as("tw"))
    val interMin = cand
      .join(tfCand.toDF("id1", "tok", "w1"), "id1")
      .join(tfCand.toDF("id2b", "tok2", "w2"),
        col("id2") === col("id2b") && col("tok") === col("tok2"))
      .groupBy("id1", "id2")
      .agg(sum(least(col("w1"), col("w2"))).as("imin"))
    interMin
      .join(broadcast(totals.toDF("id1", "tw1")), "id1")
      .join(broadcast(totals.toDF("id2", "tw2")), "id2")
      .withColumn("w_jaccard",
        col("imin") / (col("tw1") + col("tw2") - col("imin")))
      .filter(col("w_jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("w_jaccard"), 4).as("w_jaccard"))
      .orderBy(col("id1"), col("id2"))
  }

  /** Streaming dedup with watermark-bounded state — per-event-type
    * distinct users through dropDuplicatesWithinWatermark.
    */
  val streamDedupWm: QueryDef = QueryDef.sql(
    "stream_dedup_wm",
    """SELECT event_type, count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)(
    graft.streaming.EventStreams.streamDedupWithinWatermark)

  private val SpanGram = 8

  /** Substring-level duplication report (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * problem, re-expressed for a distributed engine): every
    * word-position contributes its 8-token span; spans occurring in
    * more than one distinct document mark both documents as sharing
    * duplicated text. Per doc: how many of its positions sit inside a
    * cross-document duplicated span, and how many distinct spans
    * those are — the measure that decides span-removal vs doc-drop.
    *
    * The sliding windows come from ONE native per-document loop
    * (graft_word_grams — the `transform(sequence(..), slice)`
    * formulation pays an interpreted lambda plus an O(n) slice copy
    * per POSITION), and the corpus is tokenized exactly once: the
    * per-(span, doc) counts aggregate map-side, the cross-document
    * test is a count window over the span partition of that
    * aggregate (no grams-vs-grams self-join — the naive join
    * formulation re-derives the whole gram relation twice), and the
    * final per-doc rollup reduces the surviving rows. At 100 TB the
    * shuffle would carry a 128-bit span fingerprint instead of the
    * span string (the md5 trick dedup_exact uses — elided here only
    * because the oracle's per-doc DISTINCT-gram count must see the
    * literal span); the suffix-array formulation serializes, this
    * one scales with ordinary shuffle capacity.
    */
  val dedupSubstring: QueryDef = QueryDef.sql(
    "dedup_substring",
    s"""WITH tok AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents),
       |pos AS (
       |  SELECT doc_id, ws, unnest(range(0, greatest(len(ws) - ${SpanGram - 1}, 0))) AS i
       |  FROM tok),
       |grams AS (
       |  SELECT doc_id, array_to_string(ws[i+1:i+$SpanGram], ' ') AS gram FROM pos),
       |dup AS (
       |  SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) > 1)
       |SELECT g.doc_id, count(*) AS n_dup_spans, count(DISTINCT g.gram) AS n_dup_grams
       |FROM grams g JOIN dup USING (gram)
       |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val grams = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.word_grams(
          regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)),
          SpanGram)).as("gram"))
    val perDoc = grams.groupBy(col("gram"), col("doc_id"))
      .agg(count(lit(1)).as("n"))
    perDoc
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("gram"))))
      .filter(col("nd") > 1)
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_dup_spans"),
        count(lit(1)).as("n_dup_grams"))
      .orderBy(col("doc_id"))
  }

  /** Policy-driven survivor selection: within each exact-duplicate
    * group, keep the RICHEST copy (longest text, then lowest doc_id)
    * instead of dedup_exact's lowest-id default — the survivorship
    * rule real curation uses when near-identical copies differ in
    * completeness (one has the full article, another a truncation
    * that normalizes equal after whitespace collapse would not — but
    * trailing metadata variants do). One fingerprint-keyed shuffle;
    * the ranked pick is max_by over a (n_chars, −doc_id) struct —
    * an aggregate, not a window sort. Emits only multi-member
    * groups; total order so both engines cut identically.
    */
  /** Survivor pick per fingerprint group — exposed for the planted-
    * duplicate policy test. Input needs (doc_id, n_chars, fp).
    */
  def bestSurvivors(byFp: DataFrame): DataFrame =
    byFp.groupBy(col("fp"))
      .agg(
        expr("max_by(doc_id, struct(n_chars, -doc_id))").as("survivor_id"),
        count(lit(1)).as("n_members"),
        max(col("n_chars")).as("survivor_chars"))
      .select(col("survivor_id"), col("n_members"), col("survivor_chars"))

  val dedupBestSurvivor: QueryDef = QueryDef.sql(
    "dedup_best_survivor",
    """WITH g AS (
      |  SELECT doc_id, n_chars,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM documents),
      |r AS (
      |  SELECT fp, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY fp
      |      ORDER BY n_chars DESC, doc_id) AS rk,
      |    count(*) OVER (PARTITION BY fp) AS n_members
      |  FROM g)
      |SELECT doc_id AS survivor_id, n_members,
      |  CAST(n_chars AS BIGINT) AS survivor_chars
      |FROM r WHERE rk = 1
      |ORDER BY survivor_id""".stripMargin) { (s, d) =>
    bestSurvivors(Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), md5(norm(col("text"))).as("fp")))
      .orderBy(col("survivor_id"))
  }

  /** Prefix-filtered exact set-similarity self-join (SSJoin/PPJoin
    * family): 3-shingle Jaccard ≥ 0.6 WITHOUT MinHash approximation
    * and WITHOUT the all-pairs join. Under a global rarest-first
    * token order (df asc, token asc), any pair with Jaccard ≥ t must
    * share a token within each side's first m − ⌈t·m⌉ + 1 tokens —
    * so candidates are the pairs sharing one of those PREFIX tokens
    * (rare by construction → tiny buckets), then exact verification
    * runs on candidates alone. No global row_number is needed: the
    * (df, token) pair itself is the total order, so the only
    * per-token state is its df and the per-doc prefix is one
    * partitionBy(doc) window. Oracle = exact all-pairs on the same
    * bounded range (the bound keeps the QUADRATIC oracle constant;
    * the Spark plan itself never goes quadratic and runs corpus-wide
    * in the ScalaTest completeness pin).
    */
  val SetSimThreshold = 0.6

  def setSimPrefixPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val toks = shingles(docs) // distinct (doc_id, sh)
    val dfreq = toks.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val tr = toks.join(dfreq, "sh")
    val m = tr.groupBy(col("doc_id")).agg(count(lit(1)).as("m"))
    val prefix = tr.join(m, "doc_id")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))))
      .filter(col("pos") <= col("m") - ceil(lit(threshold) * col("m")) + 1)
      .select(col("doc_id"), col("sh"))
    jaccardVerify(toks, bucketPairs(prefix, "doc_id", Seq("sh")), threshold)
  }

  val dedupSetsimPrefix: QueryDef = QueryDef.sql(
    "dedup_setsim_prefix",
    """WITH t0 AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |           FROM documents WHERE doc_id < 300),
      |t AS (SELECT DISTINCT doc_id,
      |             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      |      FROM t0, UNNEST(generate_series(1, len(toks) - 2)) AS u(i)
      |      WHERE len(toks) >= 3),
      |c AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
      |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
      |      FROM t a JOIN t b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2)
      |SELECT id1, id2,
      |       round(CAST(inter AS DOUBLE) / (c1.n + c2.n - inter), 4) AS jaccard
      |FROM p JOIN c c1 ON p.id1 = c1.doc_id JOIN c c2 ON p.id2 = c2.doc_id
      |WHERE CAST(inter AS DOUBLE) / (c1.n + c2.n - inter) >= 0.6
      |ORDER BY id1, id2""".stripMargin) { (s, d) =>
    setSimPrefixPairs(
      Tables.documents(s, d).filter(col("doc_id") < 300L), SetSimThreshold)
      .orderBy(col("id1"), col("id2"))
  }

  /** Sketch-pipeline CALIBRATION report — the QA gate a production
    * near-dedup deployment runs before trusting MinHash+LSH on a new
    * corpus: on a bounded range where the exact all-pairs ground
    * truth is computable, measure what the LSH pipeline recovers.
    * Reports truth/candidate/verified pair counts and recall; the
    * post-verify stage makes precision 1.0 by construction (every
    * emitted pair is exactly re-checked), so RECALL is the number
    * that needs watching — at 64 perms / 16 bands the collision
    * probability at Jaccard 0.8 is 1−(1−0.8⁴)¹⁶ ≈ 0.9998. Rows-only
    * (sketch path); recall ≥ 0.9 and verified ⊆ truth pinned.
    */
  val dedupEval: QueryDef = QueryDef.rowsOnly("dedup_eval") { (s, d) =>
    val docs = Tables.documents(s, d).filter(col("doc_id") < 300L)
    graft.Ckpt.scoped { sc =>
      val truth = sc.checkpoint(ngramPairs(docs, 300L, 0.8).select("id1", "id2"))
      val sh = sc.persist(stagedShingles(s, d).filter(col("doc_id") < 300L))
      val verified = sc.checkpoint(sc.adopt(minhashPairs(sh, 0.8)).select("id1", "id2"))
      val nTruth = truth.count()
      val nVerified = verified.count()
      val nHit = truth.join(verified, Seq("id1", "id2"), "left_semi").count()
      import s.implicits._
      Seq(
        ("n_truth", nTruth.toDouble),
        ("n_verified", nVerified.toDouble),
        ("n_recovered", nHit.toDouble),
        ("recall",
          if (nTruth == 0) 1.0
          else BigDecimal(nHit.toDouble / nTruth)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("metric", "value")
    }
  }

  /** Cross-source duplication matrix — the provenance readout behind
    * "which ingest feeds copy from which": near-duplicate pairs
    * (exact n-gram Jaccard ≥ 0.8, bounded corpus) attributed to
    * their UNORDERED source pair, counted per pair. A feed that
    * mirrors another shows up as a hot cell; the dedup policy then
    * keeps one canonical feed instead of running pair dedup forever.
    * Source lookup is two |pairs|-sized joins against the doc→source
    * projection (broadcast at matrix scale); least/greatest
    * canonicalizes the pair so (A,B) and (B,A) land in one cell.
    * 100 TB path: the pair relation comes from the bucketed LSH
    * machinery, never all-pairs — this operator only re-keys it.
    */
  val dedupSourceMatrix: QueryDef = QueryDef.sql(
    "dedup_source_matrix",
    s"""WITH $ngramPairCtes
       |SELECT least(d1.source, d2.source) AS source_a,
       |  greatest(d1.source, d2.source) AS source_b,
       |  count(*) AS n_pairs
       |FROM pairs
       |  JOIN documents d1 ON pairs.id1 = d1.doc_id
       |  JOIN documents d2 ON pairs.id2 = d2.doc_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    ngramPairs(Tables.documents(s, d), 300L, 0.8)
      .join(broadcast(src.toDF("id1", "src1")), "id1")
      .join(broadcast(src.toDF("id2", "src2")), "id2")
      .groupBy(least(col("src1"), col("src2")).as("source_a"),
        greatest(col("src1"), col("src2")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  // ---- dedup_cdc_chunks -------------------------------------------------

  /** Gear table for content-defined chunking: 256 pseudorandom 64-bit
    * values derived from a splitmix64 finalizer of the byte value —
    * deterministic everywhere, no stored state.
    */
  private val gearTable: Array[Long] = Array.tabulate(256) { i =>
    var z = i.toLong + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private val CdcMin = 16
  private val CdcMax = 256
  private val CdcMask = 0x3fL // boundary prob 1/64 → ~64-byte chunks

  /** Content-defined chunk list of a payload: Gear rolling hash
    * (h = (h<<1) + G[b]), boundary when (h & mask) == 0 past the
    * minimum size, forced at the maximum. Returns (fnv1a64, length)
    * per chunk. Shared with the spec's shift-resistance replay.
    */
  private[graft] def cdcChunks(bytes: Array[Byte]): Array[(Long, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    var start = 0
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h << 1) + gearTable(bytes(i) & 0xff)
      val len = i - start + 1
      if ((len >= CdcMin && (h & CdcMask) == 0L) || len >= CdcMax ||
          i == bytes.length - 1) {
        var f = 0xcbf29ce484222325L
        var j = start
        while (j <= i) { f = (f ^ (bytes(j) & 0xffL)) * 0x100000001b3L; j += 1 }
        out += ((f, len))
        start = i + 1
        h = 0L
      }
      i += 1
    }
    out.toArray
  }

  /** Content-defined chunking dedup (Gear/FastCDC lineage; LBFS,
    * Muthitacharoen et al. SOSP 2001) — byte-level duplicate
    * detection that SURVIVES INSERTIONS: fixed-window chunking
    * (text_chunk_dedup) shifts every boundary after an edit, CDC
    * boundaries are content-anchored so unchanged regions keep their
    * chunk hashes. Chunking is a narrow mapPartitions (payload bytes
    * never shuffle — the multimodal posture); the only exchanges are
    * the chunk-hash count aggregate and the hash-key join back, both
    * O(total chunks). Output: the docs carrying the most duplicated
    * bytes. Rows-only; ScalaTest pins partition/coverage invariants,
    * the shift-resistance property itself (prefix edit preserves the
    * chunk-hash multiset tail), and a full driver replay.
    */
  /** dedup_cdc_chunks' oracle: the Gear roll and FNV-1a chunk hashes
    * replay in DuckDB as a per-document fold over UTF-8 BYTES —
    * matching the engine's text.cast(binary) chunking exactly (a
    * code-point fold would diverge on any non-ASCII document: code
    * points > 255 have no gear-table entry and one multi-byte char
    * would collapse several FNV steps into one). Byte values come
    * from hex(encode(text)) two-digit slices, since DuckDB BLOBs
    * aren't directly indexable. Java's wrapping 64-bit arithmetic is
    * emulated exactly in HUGEINT mod 2⁶⁴ (the gear table embeds as
    * 256 unsigned literals; the byte xor touches only the low 8 bits
    * so it runs in BIGINT). Chunk hashes only ever GROUP, so the
    * signed↔unsigned mapping is invisible to the output.
    */
  private def cdcOracle: String = {
    def u(l: Long): String = java.lang.Long.toUnsignedString(l)
    val gear = gearTable.map(v => s"${u(v)}::HUGEINT").mkString("[", ", ", "]")
    val M = "18446744073709551616::HUGEINT" // 2^64
    val fnv0 = s"${u(0xcbf29ce484222325L)}::HUGEINT"
    val prime = s"${u(0x100000001b3L)}::HUGEINT"
    // fold state: [pos, h, f, len, (chunk_f, chunk_len)*]
    val hNext = s"(a[2] * 2 + g.g[CAST(x[1] AS INT) + 1]) % $M"
    val fNext = s"((a[3] - a[3] % 256 + " +
      s"xor(CAST(a[3] % 256 AS BIGINT), CAST(x[1] AS BIGINT))) * $prime) % $M"
    val hexDigit = "'0123456789ABCDEF'"
    s"""WITH gt AS (SELECT $gear AS g),
       |db AS (SELECT doc_id, hex(encode(text)) AS hx,
       |              octet_length(encode(text)) AS nb
       |       FROM documents WHERE octet_length(encode(text)) > 0),
       |folded AS (
       |  SELECT doc_id,
       |    list_reduce(
       |      list_prepend([0::HUGEINT, 0::HUGEINT, $fnv0, 0::HUGEINT],
       |        list_transform(generate_series(1, nb),
       |          i -> [CAST((strpos($hexDigit, substr(hx, 2*i-1, 1)) - 1) * 16
       |                 + strpos($hexDigit, substr(hx, 2*i, 1)) - 1 AS HUGEINT)])),
       |      (a, x) -> CASE
       |        WHEN (a[4] + 1 >= $CdcMin AND ($hNext) % ${CdcMask + 1} = 0)
       |          OR a[4] + 1 >= $CdcMax OR a[1] + 1 = nb
       |        THEN list_concat(
       |          list_concat([a[1] + 1, 0::HUGEINT, $fnv0, 0::HUGEINT],
       |            a[5:len(a)]),
       |          [$fNext, a[4] + 1])
       |        ELSE list_concat([a[1] + 1, $hNext, $fNext, a[4] + 1],
       |          a[5:len(a)])
       |      END) AS st
       |  FROM db CROSS JOIN gt g),
       |chunks AS MATERIALIZED (
       |  SELECT doc_id,
       |    st[5 + 2 * (k - 1)] AS chunk_hash,
       |    CAST(st[6 + 2 * (k - 1)] AS BIGINT) AS chunk_len
       |  FROM folded, UNNEST(generate_series(1, (len(st) - 4) // 2)) AS t(k)),
       |cnts AS (SELECT chunk_hash, count(*) AS n_occ FROM chunks GROUP BY 1)
       |SELECT c.doc_id,
       |  CAST(count(*) AS INT) AS n_chunks,
       |  CAST(sum(CASE WHEN n.n_occ > 1 THEN 1 ELSE 0 END) AS INT)
       |    AS n_dup_chunks,
       |  floor(CAST(sum(CASE WHEN n.n_occ > 1 THEN c.chunk_len ELSE 0 END)
       |      AS DOUBLE) / CAST(sum(c.chunk_len) AS DOUBLE) * 10000 + 0.5)
       |    / 10000.0 AS dup_byte_share
       |FROM chunks c JOIN cnts n USING (chunk_hash) GROUP BY c.doc_id
       |ORDER BY dup_byte_share DESC, doc_id LIMIT 20""".stripMargin
  }

  val dedupCdcChunks: QueryDef = QueryDef.sql(
    "dedup_cdc_chunks", cdcOracle) { (s, d) =>
    import s.implicits._
    val chunks = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, b) =>
        cdcChunks(b).iterator.map { case (h, len) => (id, h, len) }
      })
      .toDF("doc_id", "chunk_hash", "chunk_len")
    val counts = chunks.groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_occurrences"))
    chunks.join(counts, Seq("chunk_hash"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_chunks"),
        sum(when(col("n_occurrences") > 1, 1L).otherwise(0L)).cast("int")
          .as("n_dup_chunks"),
        // floor(x·10⁴+0.5)/10⁴ on BOTH sides instead of round(x, 4):
        // identical IEEE ops in either engine, where round() is
        // HALF_UP-on-BigDecimal in Spark vs scaled-double in DuckDB
        (floor(sum(when(col("n_occurrences") > 1, col("chunk_len")).otherwise(0L))
          / sum(col("chunk_len")) * 10000 + 0.5) / 10000.0).as("dup_byte_share"))
      .orderBy(col("dup_byte_share").desc, col("doc_id"))
      .limit(20)
  }

  val all: Seq[QueryDef] = Seq(
    dedupCdcChunks,
    dedupBestSurvivor, dedupSetsimPrefix, dedupEval,
    dedupExact, dedupExactNfc, dedupStats, dedupNgram, dedupContainment,
    dedupMinhash,
    dedupSimhash, dedupEmbedding, streamDedup, dedupGroups, dedupNearCorpus,
    dedupSimhashLsh, streamDedupWm, dedupMinhashCorpus, dedupIncremental,
    dedupIncrementalIndexed, streamDedupIndexed, dedupMinhashEst, dedupSubstring,
    dedupSourceMatrix, dedupMinhashWeighted, dedupWeightedExact)
}

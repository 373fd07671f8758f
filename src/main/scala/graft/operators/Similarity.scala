package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: exact brute-force cosine top-k (bounded, oracle-checked).
  * Scale path: random-hyperplane LSH — map-side signature, bucket
  * join prunes the candidate space so the pairwise work is confined
  * to colliding buckets.
  */
object Similarity {

  /** Dot product of two array<double> columns — native codegen'd
    * Catalyst expression (sequential accumulation, matching the
    * oracle's list_dot_product evaluation order).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_product(a, b)

  /** Reference formulation via higher-order functions (kept for
    * cross-checking the native expression in tests).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Embeddings as (vec_id, v: array<double>). */
  /** NONZERO-NORM INVARIANT: every cosine path here divides by the
    * row's L2 norm; a zero-norm embedding yields NaN, and NaN then
    * DIVERGES between engines (Spark's floor() maps NaN to 0, DuckDB
    * keeps it) — a silent hash drift instead of a failure. The
    * corpus generator never emits zero vectors; assert_true turns a
    * future violation into a loud error at the scan, one codegen'd
    * comparison per row.
    */
  def vectors(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // assert_true returns NULL when the condition holds, so the
      // filter passes every valid row and throws on a violation; as a
      // Filter (not a dropped projection) it cannot be pruned away.
      // The message interpolates vec_id so a violation IDENTIFIES the
      // offending row (r9 advice). Cost: one codegen'd dot(v,v)
      // comparison per scanned row on every vectors() consumer —
      // ~2·d flops against the ≥d-flop work every consumer already
      // does per row; the concat sits on the never-taken error branch.
      .filter(assert_true(dot(col("v"), col("v")) > lit(0.0d),
        concat(lit("zero-norm embedding: cosine similarity is undefined: vec_id="),
          col("vec_id"))).isNull)

  /** Exact cosine top-10 for the vec_id=0 query vector. */
  val annBruteforce: QueryDef = QueryDef.sql(
    "ann_bruteforce",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
      |SELECT vec_id,
      |  (floor((list_dot_product(v, qv)
      |    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))) * 10000 + 0.5) / 10000.0) AS cos_sim
      |FROM e CROSS JOIN q WHERE vec_id <> 0
      |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val e = vectors(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (floor((cosine(col("v"), col("qv"))) * 10000 + 0.5) / 10000.0).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Exact top-1 neighbor for each of the first 100 vectors. */
  val annTopkJoin: QueryDef = QueryDef.sql(
    "ann_topk_join",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
      |           FROM embeddings WHERE vec_id < 100),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
      |        (floor((list_dot_product(a.v, b.v) / (a.nrm * b.nrm)) * 10000 + 0.5) / 10000.0) AS cos_sim
      |      FROM n a JOIN n b ON a.vec_id <> b.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY id1
      |        ORDER BY cos_sim DESC, id2) AS rn FROM p)
      |SELECT id1, id2, cos_sim FROM r WHERE rn = 1 ORDER BY id1""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = vectors(s, d).filter(col("vec_id") < 100)
    val n = e.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val p = n.toDF("id1", "v", "nrm")
      .join(n.toDF("id2", "v2", "nrm2"), col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"),
        (floor((dot(col("v"), col("v2")) / (col("nrm") * col("nrm2"))) * 10000 + 0.5) / 10000.0).as("cos_sim"))
    val w = Window.partitionBy(col("id1")).orderBy(col("cos_sim").desc, col("id2"))
    p.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("id1", "id2", "cos_sim")
      .orderBy(col("id1"))
  }

  // ---- Random-hyperplane LSH (scale path) ----------------------------

  val NumPlanes = 8
  val Dim = 64

  /** Fixed gaussian hyperplanes (seeded). */
  private lazy val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(NumPlanes)(Array.fill(Dim)(rnd.nextGaussian()))
  }

  /** Sign-bit signature: bucket id in [0, 2^NumPlanes). Map-side. */
  def lshSignature(v: Column): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(dot(v, planeLit) >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Amplification: L independent hash tables (table t's planes from
    * seed 7+t, so table 0 is the original single-table geometry) —
    * a near neighbor only has to collide in ONE of them. L = 10:
    * per-table Hamming-1 success is ~0.14 on this corpus, so
    * 1−(1−p)^L crosses the 0.7 usable-recall line near L = 8; 10
    * holds it with margin. The cost is linear and explicit — the
    * stored index is O(L·n) rows and each query probes
    * L·(1+planes) buckets — which is exactly the (r,c)-amplification
    * rent hyperplane LSH pays; the IVF rungs beat it on this corpus
    * and ann_recall_eval reports both so the choice is data, not
    * folklore.
    */
  val NumTables = 10
  private lazy val tablePlanes: Array[Array[Array[Double]]] =
    Array.tabulate(NumTables) { t =>
      val rnd = new scala.util.Random(7 + t)
      Array.fill(NumPlanes)(Array.fill(Dim)(rnd.nextGaussian()))
    }

  /** Signature under table t's planes. Map-side. */
  def lshSignatureT(t: Int, v: Column): Column =
    tablePlanes(t).zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(dot(v, planeLit) >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** array<struct(t, sig)> of all L table signatures. Map-side. */
  def lshAllSignatures(v: Column): Column =
    array((0 until NumTables).map(t =>
      struct(lit(t).as("t"), lshSignatureT(t, v).as("sig"))): _*)

  /** LSH approximate top-1 neighbor for the first 20 vectors —
    * MULTI-TABLE + MULTIPROBE, the two standard amplifications a
    * single hyperplane table needs to reach usable recall (one
    * 8-plane table's top-1 recall is ~5% on this corpus —
    * ann_recall_eval exposes exactly this):
    *   - the corpus stores L=4 signatures per vector (seeds 7..10),
    *     exploded map-side to (t, sig) rows — the shuffle carries
    *     L rows per vector, the index stays O(L·n);
    *   - each query probes, per table, its own bucket plus all 8
    *     Hamming-1 buckets (sign flips of one plane — where a
    *     boundary-straddling neighbor lands), a map-side explode of
    *     L·(1+planes) = 36 probe keys per query.
    * Candidates are the equality join on (t, sig) — never O(n²);
    * duplicate pairs from different probes collapse with distinct()
    * before the exact-cosine top-1. Candidate fraction is
    * ~L·(1+planes)/2^planes of the corpus per query at any scale;
    * tighter recall targets raise planes AND tables together (the
    * standard (r,c)-amplification tradeoff).
    */
  val annLsh: QueryDef = QueryDef.rowsOnly("ann_lsh") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = vectors(s, d).withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val corpus = e
      .withColumn("ts", explode(lshAllSignatures(col("v"))))
      .select(col("vec_id").as("id2"), col("v").as("v2"),
        col("nrm").as("nrm2"), col("ts.t").as("t"), col("ts.sig").as("sig"))
    // probe keys: own bucket + the 8 Hamming-1 flips, per table
    val flips = (-1 until NumPlanes) // -1 = the unflipped bucket
    val queries = e.filter(col("vec_id") < 20)
      .withColumn("ts", explode(lshAllSignatures(col("v"))))
      .withColumn("probe", explode(array(flips.map { b =>
        if (b < 0) col("ts.sig")
        else col("ts.sig").bitwiseXOR(lit(1 << b))
      }: _*)))
      .select(col("vec_id").as("id1"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("ts.t").as("qt"), col("probe"))
    val p = queries.join(corpus,
        col("qt") === col("t") && col("probe") === col("sig") &&
          col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"),
        (floor((dot(col("qv"), col("v2")) / (col("qnrm") * col("nrm2"))) * 10000 + 0.5) / 10000.0).as("cos_sim"))
      .distinct() // same pair via several tables/probes → one row
    val w = Window.partitionBy(col("id1")).orderBy(col("cos_sim").desc, col("id2"))
    p.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("id1", "id2", "cos_sim")
      .orderBy(col("id1"))
  }

  // ---- IVF (inverted-file) ANN ---------------------------------------

  val NLists = 16
  val NProbe = 4

  /** Distance-to-centroid candidates as (dist, id) structs for a
    * UNIT-normalized input u: ‖u−c‖² = 1 − 2u·c + ‖c‖², and the
    * constant 1 can't change an argmin/sort, so dist = ‖c‖² − 2u·c.
    * Struct min/sort gives nearest-centroid and probe lists without
    * UDFs.
    */
  private def centroidStructs(cs: Array[Array[Double]], u: Column): Seq[Column] =
    cs.zipWithIndex.map { case (c, i) =>
      val cl = array(c.map(lit): _*)
      struct((lit(dotd(c, c)) - lit(2.0) * dot(u, cl)).as("dist"),
        lit(i).as("list"))
    }

  private def dotd(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** v scaled by a precomputed norm column (cosine NN over v ==
    * Euclidean NN over the unit vector, which is what the L2
    * quantizer partitions). Native codegen'd divide: the transform()
    * HOF it replaces is CodegenFallback and evicted every projection
    * hosting a normalization from whole-stage codegen.
    */
  private def scaled(v: Column, nrm: Column): Column =
    graft.functions.VectorFunctions.vec_div(v, nrm)

  private[graft] def unit(v: Column): Column = scaled(v, sqrt(dot(v, v)))

  /** Coarse quantizer: k-means|| centroids over the UNIT-normalized
    * embedding space (seeded, few iterations — the quantizer needs
    * to be stable, not optimal). O(NLists·dim) to the driver.
    *
    * An IVF index is built once at ingest and reused by every query,
    * so the fitted centroids are cached per corpus.
    */
  private val quantizerCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Double]]]

  /** Warehouse path of the persisted ANN index for a source dir
    * (same source-dir-hash contract as the other index/table names).
    */
  private def annIndexPath(s: SparkSession, d: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    new org.apache.hadoop.fs.Path(wh, s"graft_ann_idx_$h").toString
  }

  /** Read `sub` of the persisted index iff its _SUCCESS exists —
    * fitted index artifacts are reused by FRESH sessions, not refit
    * per process (fits are deterministic, so a load equals a refit;
    * shape is validated in case index constants changed since the
    * files were written).
    */
  private def loadIndexPart(s: SparkSession, d: String, sub: String):
      Option[Array[org.apache.spark.sql.Row]] = {
    val dir = new org.apache.hadoop.fs.Path(s"${annIndexPath(s, d)}/$sub")
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS")))
      Some(s.read.parquet(dir.toString).collect())
    else None
  }

  def coarseCentroids(e: DataFrame, cacheKey: String = ""): Array[Array[Double]] = {
    def fit(): Array[Array[Double]] = {
      // a coarse quantizer needs a representative sample, not the
      // corpus: cap the fit set (first-N is fine for synthetic data;
      // use .sample at production skew). Runs graft's own n-D Lloyd
      // over the unit sphere — deterministic first-NLists init.
      graft.Ckpt.scoped { sc =>
        val sample = sc.persist(e.limit(4096).select(unit(col("v")).as("v")))
        val init = sample.limit(NLists).collect()
          .map(_.getSeq[Double](0).toArray)
        KMeans.ndLloyd(sample, init, iters = 3)._1
      }
    }
    def loadOrFit(): Array[Array[Double]] =
      loadIndexPart(e.sparkSession, cacheKey, "centroids")
        .map(_.map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
          .sortBy(_._1).map(_._2))
        .filter(cs => cs.length == NLists && cs.forall(_.length == Dim))
        .getOrElse(fit())
    if (cacheKey.isEmpty) fit()
    else quantizerCache.getOrElseUpdate(cacheKey, loadOrFit())
  }

  /** IVF ANN: assign every vector to its nearest coarse centroid
    * (map-side expression over broadcast centroid literals — the
    * inverted lists), then answer each query by probing only its
    * NProbe nearest lists. The candidate join is an equality join on
    * the list id: work is O(|queries| · corpus/NLists · NProbe),
    * never O(n²), and the lists shard across executors at any scale.
    * The oracle replays the deterministic coarse fit (ivfFitCtes —
    * the machinery ann_ivf_stats proved), the same shifted-distance
    * assignment/probe ranking, and the per-query top-1 cut on the
    * ROUNDED cosine with id tie-break, so the full index answer is
    * hash-matched cross-engine.
    */
  val annIvf: QueryDef = QueryDef.sql("ann_ivf", ivfTopOracle(NLists, NProbe, 3, 4096)) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = vectors(s, d)
    val cs = coarseCentroids(e, cacheKey = d)
    // norm and unit vector computed once per row as columns — the
    // normalization never re-enters the 16 per-centroid dist exprs
    val withUnit = e
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("u", scaled(col("v"), col("nrm")))
    val assigned = withUnit
      .withColumn("list", array_min(array(centroidStructs(cs, col("u")): _*)).getField("list"))
      .select("vec_id", "v", "list", "nrm")
    val probes = withUnit.filter(col("vec_id") < 20)
      .withColumn("probe", explode(slice(
        array_sort(array(centroidStructs(cs, col("u")): _*)), 1, NProbe)))
      .select(col("vec_id").as("id1"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("probe.list").as("list"))
    val p = probes.join(assigned.toDF("id2", "v2", "list", "nrm2"),
        Seq("list"))
      .filter(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"),
        (floor((dot(col("qv"), col("v2")) / (col("qnrm") * col("nrm2"))) * 10000 + 0.5) / 10000.0).as("cos_sim"))
    val w = Window.partitionBy(col("id1")).orderBy(col("cos_sim").desc, col("id2"))
    p.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("id1", "id2", "cos_sim")
      .orderBy(col("id1"))
  }

  // ---- Product quantization (PQ) ANN ---------------------------------

  val PqM = 16                // subspaces
  val PqK = 16                // codewords per subspace
  val SubDim: Int = Dim / PqM // 4 dims per subvector
  val PqShortlist = 100       // ADC candidates kept for exact re-rank

  /** Per-subspace codebooks ([m][codeword][subdim]), trained with
    * graft's n-D Lloyd on a capped sample of UNIT-normalized
    * subvectors (unit first: L2-NN on the unit sphere ≡ cosine
    * ranking, same trick as IVF). Trained once per corpus and cached
    * — a PQ index is built at ingest, not per query.
    */
  private val pqCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Array[Double]]]]

  /** Concurrent per-subspace Lloyd fits over a sample exposing the
    * vector to quantize as column `u` — shared by raw-vector PQ and
    * residual IVF-PQ. The 16 fits are independent driver loops over
    * tiny jobs, so they run concurrently to overlap scheduler
    * overhead; the sample materializes once first.
    */
  private def fitSubspaceCodebooks(sampleU: DataFrame): Array[Array[Array[Double]]] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.DurationInt
    implicit val ec: ExecutionContext = ExecutionContext.global
    graft.Ckpt.scoped { sc =>
      val sample = sc.persist(sampleU)
      sample.count()
      val fits = (0 until PqM).map { m =>
        Future {
          val sub = sample.select(slice(col("u"), m * SubDim + 1, SubDim).as("v"))
          val init = sub.limit(PqK).collect().map(_.getSeq[Double](0).toArray)
          KMeans.ndLloyd(sub, init, iters = 3)._1
        }
      }
      Await.result(Future.sequence(fits), 10.minutes).toArray
    }
  }

  /** Squared L2 distance of two equal-length arrays (driver-side). */
  private def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s2 = 0.0; var i = 0
    while (i < a.length) { val df = b(i) - a(i); s2 += df * df; i += 1 }
    s2
  }

  /** Exact cosine re-rank: the shortlist is O(k) by construction, so
    * its ids COLLECT (k longs to the driver — same O(k) contract as
    * the centroid collects) and push into the corpus scan as an IN
    * predicate: parquet row-group stats skip everything else. The
    * previous broadcast-join formulation still READ every vector's
    * bytes just to probe a 100-entry hash table — a full corpus scan
    * per query at 100 TB; the pushed filter makes the re-rank read
    * O(k) row groups.
    */
  private def rerankExact(e: DataFrame, shortlist: DataFrame, q: Array[Double]): DataFrame = {
    val ids = shortlist.collect().map(_.getLong(0))
    val qlit = array(q.map(lit): _*)
    e.filter(col("vec_id").isin(ids.map(java.lang.Long.valueOf): _*))
      .select(col("vec_id"), (floor((dot(unit(col("v")), qlit)) * 10000 + 0.5) / 10000.0).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  def pqCodebooks(e: DataFrame, cacheKey: String = ""): Array[Array[Array[Double]]] = {
    def fit(): Array[Array[Array[Double]]] =
      fitSubspaceCodebooks(e.limit(4096).select(unit(col("v")).as("u")))
    def loadOrFit(): Array[Array[Array[Double]]] =
      loadIndexPart(e.sparkSession, cacheKey, "codebooks_raw")
        .map { rows =>
          val m = rows.map(r =>
            (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
          if (m.size == PqM * PqK && m.values.forall(_.length == SubDim))
            Some(Array.tabulate(PqM, PqK)((i, j) => m((i, j))))
          else None
        }.flatten.getOrElse(fit())
    if (cacheKey.isEmpty) fit()
    else pqCache.getOrElseUpdate(cacheKey, loadOrFit())
  }

  /** All PqM codeword ids of a vector column as c0..c{PqM-1}, via the
    * native PqEncode expression (ONE codegen'd argmin loop per row —
    * the composed struct-min formulation generated M·K unrolled dot
    * products and blew janino's 64 KB method limit, silently dropping
    * the PQ encode scan out of whole-stage codegen). The encode runs
    * once in its own projection; the element extraction happens in a
    * second projection over the materialized array.
    */
  private def withPqCodes(df: DataFrame, cb: Array[Array[Array[Double]]],
      u: Column, keep: Seq[Column]): DataFrame =
    df.select(keep :+ graft.functions.VectorFunctions.pq_encode(u, cb).as("pqc"): _*)
      .select(keep ++ (0 until PqM).map(m =>
        element_at(col("pqc"), m + 1).as(s"c$m")): _*)

  /** PQ-compressed ANN: every vector encodes to PqM codeword nibbles
    * (8 B here vs 512 B raw — the compression that keeps a 100 TB
    * embedding corpus scannable in memory), and a query is answered
    * by summing per-subspace lookup-table entries over the codes —
    * asymmetric distance computation (Jégou et al., TPAMI 2011) —
    * followed by an exact re-rank of the ADC shortlist, the standard
    * two-stage layout: the compressed scan PRUNES (map-side LUT
    * lookups, TakeOrdered of PqShortlist ids), exact math DECIDES
    * (top-10 cosine over 100 shortlisted vectors). The LUT is
    * O(PqM·PqK) per query, built driver-side from the cached
    * codebooks; no full-width vector arithmetic touches the corpus
    * scan.
    */
  val annPq: QueryDef = QueryDef.sql("ann_pq", pqOracle(4096, PqShortlist)) { (s, d) =>
    val e = vectors(s, d)
    val cb = pqCodebooks(e, cacheKey = d)
    val withU = e.withColumn("u", unit(col("v")))
    val codes = withPqCodes(withU, cb, col("u"), keep = Seq(col("vec_id")))
    // query = vec 0's unit vector; LUT entry [m][j] = ||q_m - c_mj||^2
    val q = withU.filter(col("vec_id") === 0)
      .select(col("u")).collect()(0).getSeq[Double](0).toArray
    val lut: Array[Array[Double]] = Array.tabulate(PqM) { m =>
      val qm = q.slice(m * SubDim, (m + 1) * SubDim)
      cb(m).map(dist2(_, qm))
    }
    val adc = (0 until PqM).map { m =>
      element_at(array(lut(m).map(lit): _*), col(s"c$m") + 1)
    }.reduce(_ + _)
    val shortlist = codes.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), adc.as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(PqShortlist)
      .select("vec_id")
    rerankExact(e, shortlist, q)
  }

  // ---- SQ8 (scalar quantization) -------------------------------------

  val SqShortlist = 50

  /** Scalar-quantized (SQ8) ANN: each unit-normalized dimension maps
    * to one byte against per-dimension corpus (min, span) bounds —
    * 64 B/vector vs 512 B raw, the middle rung between raw floats
    * and PQ's 8 B. The search exploits that SQ decode is AFFINE:
    * decoded·q = Σᵢ(mnᵢ + spanᵢ·(cᵢ+128)/255)·qᵢ collapses to
    * `const + codes·w` with w precomputed driver-side from the query
    * — so the compressed scan is a cast + one native codegen'd dot
    * against the int8 codes (no per-element lambda, no decode), then
    * TakeOrdered of SqShortlist ids and the standard exact re-rank.
    * Bounds are one O(D) aggregate pass (the ingest-time stats
    * artifact at 100 TB).
    */
  /** ann_sq8's oracle: the whole scalar-quantization chain is
    * deterministic column math — unit vectors, exact per-dim min/max,
    * HALF_UP byte codes, the affine-collapsed ADC score with every
    * float expression spelled in the engine's operation order (w =
    * span·q/255, c0 = Σ(mn + span·128/255)·q ascending, score = c0 +
    * Σ code·w ascending) — so the shortlist cut and the exact rerank
    * replay hash-identically.
    */
  private def sq8Oracle(dim: Int, shortlist: Int): String =
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |eu AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
       |  FROM e0),
       |dims AS (
       |  SELECT pos, min(u[pos]) AS mn, max(u[pos]) AS mx
       |  FROM eu, UNNEST(generate_series(1, $dim)) AS t(pos) GROUP BY pos),
       |spans AS (SELECT pos, mn, greatest(mx - mn, 1e-12) AS span FROM dims),
       |q AS (SELECT u AS qu FROM eu WHERE vec_id = 0),
       |wts AS (
       |  SELECT s.pos, s.span * q.qu[s.pos] / 255.0 AS w,
       |    (s.mn + s.span * 128.0 / 255.0) * q.qu[s.pos] AS c0term
       |  FROM spans s CROSS JOIN q),
       |c0 AS (SELECT list_sum(list(c0term ORDER BY pos)) AS c0 FROM wts),
       |codes AS (
       |  SELECT eu.vec_id, s.pos,
       |    CAST(least(greatest(round((eu.u[s.pos] - s.mn) / s.span * 255.0, 0),
       |      0.0), 255.0) AS INT) - 128 AS code
       |  FROM eu JOIN spans s ON true
       |  WHERE eu.vec_id <> 0),
       |sims AS (
       |  SELECT c.vec_id,
       |    (SELECT c0 FROM c0) + list_sum(list(c.code * w.w ORDER BY c.pos))
       |      AS approx_sim
       |  FROM codes c JOIN wts w ON w.pos = c.pos
       |  GROUP BY c.vec_id),
       |short AS (SELECT vec_id FROM sims
       |          ORDER BY approx_sim DESC, vec_id LIMIT $shortlist)
       |SELECT eu.vec_id, (floor((list_dot_product(eu.u, q.qu)) * 10000 + 0.5) / 10000.0) AS cos_sim
       |FROM eu JOIN short ON short.vec_id = eu.vec_id CROSS JOIN q
       |ORDER BY cos_sim DESC, eu.vec_id LIMIT 10""".stripMargin

  val annSq8: QueryDef = QueryDef.sql("ann_sq8", sq8Oracle(Dim, SqShortlist)) { (s, d) =>
    val e = vectors(s, d)
    val withU = e.withColumn("u", unit(col("v")))
    val b = withU.select(
      array((0 until Dim).map(i => min(element_at(col("u"), i + 1))): _*).as("mn"),
      array((0 until Dim).map(i => max(element_at(col("u"), i + 1))): _*).as("mx"))
      .collect()(0)
    val mn = b.getSeq[Double](0).toArray
    val mx = b.getSeq[Double](1).toArray
    val span = mn.indices.map(i => math.max(mx(i) - mn(i), 1e-12)).toArray
    val mnL = array(mn.map(lit): _*)
    val spanL = array(span.map(lit): _*)
    val codes = withU.select(col("vec_id"),
      transform(col("u"), (x, i) =>
        (least(greatest(round((x - element_at(mnL, i + 1))
          / element_at(spanL, i + 1) * 255.0, 0), lit(0.0)), lit(255.0))
          .cast("int") - 128).cast("tinyint")).as("codes"))
    val q = withU.filter(col("vec_id") === 0)
      .select("u").collect()(0).getSeq[Double](0).toArray
    // affine collapse: score = C + Σ cᵢ·wᵢ over the signed codes
    val w = Array.tabulate(Dim)(i => span(i) * q(i) / 255.0)
    val c0 = Array.tabulate(Dim)(i => (mn(i) + span(i) * 128.0 / 255.0) * q(i)).sum
    val shortlist = codes.filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        (lit(c0) + dot(col("codes").cast("array<double>"), array(w.map(lit): _*)))
          .as("approx_sim"))
      .orderBy(col("approx_sim").desc, col("vec_id"))
      .limit(SqShortlist)
      .select("vec_id")
    rerankExact(e, shortlist, q)
  }

  /** Cross-table retrieval: nearest embeddings joined back to their
    * document metadata (doc_id == vec_id in the synthetic corpus) —
    * the "semantic search returns documents, not vector ids" step.
    * The top-5 id set (O(k)) broadcasts into the documents scan.
    */
  val annSearchText: QueryDef = QueryDef.sql(
    "ann_search_text",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |top AS (
      |  SELECT vec_id,
      |    (floor((list_dot_product(v, qv)
      |      / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))) * 10000 + 0.5) / 10000.0) AS cos_sim
      |  FROM e CROSS JOIN q WHERE vec_id <> 0
      |  ORDER BY cos_sim DESC, vec_id LIMIT 5)
      |SELECT t.vec_id, t.cos_sim, d.lang, d.source, d.n_chars
      |FROM top t JOIN documents d ON d.doc_id = t.vec_id
      |ORDER BY t.cos_sim DESC, t.vec_id""".stripMargin) { (s, d) =>
    val e = vectors(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val top = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), (floor((cosine(col("v"), col("qv"))) * 10000 + 0.5) / 10000.0).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(5)
    broadcast(top)
      .join(Tables.documents(s, d), col("doc_id") === col("vec_id"))
      .select(col("vec_id"), col("cos_sim"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
  }

  // ---- IVF-PQ (coarse lists + residual product quantization) ---------

  /** The corpus centroids as one nested array literal, indexable by
    * list id inside an expression.
    */
  private def centroidArrayLit(cs: Array[Array[Double]]): Column =
    array(cs.map(c => array(c.map(lit): _*)): _*)

  /** Residual u − centroid(list), computed per row against the
    * broadcast centroid table — the vector PQ encodes under IVF-PQ
    * (residuals are far more quantizable than raw vectors: the coarse
    * step has already removed the list's mean).
    */
  private def residualExpr(cs: Array[Array[Double]], u: Column, list: Column): Column =
    graft.functions.VectorFunctions.vec_sub(
      u, element_at(centroidArrayLit(cs), list + 1))

  private val ivfPqCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Array[Double]]]]

  /** Residual PQ codebooks: per-subspace Lloyd over (u − coarse
    * centroid) on a capped sample, fits shared with pqCodebooks.
    */
  def ivfPqCodebooks(e: DataFrame, cs: Array[Array[Double]],
      cacheKey: String = ""): Array[Array[Array[Double]]] = {
    def fit(): Array[Array[Array[Double]]] =
      fitSubspaceCodebooks(e.limit(4096)
        .withColumn("u0", unit(col("v")))
        .withColumn("list",
          array_min(array(centroidStructs(cs, col("u0")): _*)).getField("list"))
        .select(residualExpr(cs, col("u0"), col("list")).as("u")))
    def loadOrFit(): Array[Array[Array[Double]]] =
      loadIndexPart(e.sparkSession, cacheKey, "codebooks")
        .map { rows =>
          val m = rows.map(r =>
            (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
          if (m.size == PqM * PqK && m.values.forall(_.length == SubDim))
            Some(Array.tabulate(PqM, PqK)((i, j) => m((i, j))))
          else None
        }.flatten.getOrElse(fit())
    if (cacheKey.isEmpty) fit()
    else ivfPqCache.getOrElseUpdate(cacheKey, loadOrFit())
  }

  /** IVF-PQ ANN — the production index layout (Jégou et al.; FAISS
    * IVFPQ): the coarse quantizer routes each vector to one of NLists
    * inverted lists, PQ encodes its RESIDUAL in 8 bytes, and a query
    * touches only its NProbe nearest lists, scanning codes with a
    * per-list lookup table (the query residual differs per probed
    * list) before an exact re-rank of the shortlist. Candidate
    * selection is a partition-pruning filter on the list id; the ADC
    * scan is map-side literal lookups; the only vector math on the
    * corpus is the final 100-row re-rank.
    */
  /** The IVF-PQ code table (vec_id, list, c0..c{PqM-1}) for a corpus
    * under given centroids + residual codebooks — what the persisted
    * index stores, 8 B of codes + a list id per vector.
    */
  def ivfPqCodes(e: DataFrame, cs: Array[Array[Double]],
      cb: Array[Array[Array[Double]]]): DataFrame = {
    val withU = e.withColumn("u", unit(col("v")))
      .withColumn("list",
        array_min(array(centroidStructs(cs, col("u")): _*)).getField("list"))
      .withColumn("res", residualExpr(cs, col("u"), col("list")))
    withPqCodes(withU, cb, col("res"), keep = Seq(col("vec_id"), col("list")))
  }

  /** Search-only IVF-PQ: probe the query's NProbe nearest lists over
    * an EXISTING code table (in-memory plan or parquet scan — the
    * persisted path gets partition pruning for free when codes are
    * partitioned by list), ADC-scan with per-list LUTs, exact re-rank.
    */
  /** The IVF-PQ shortlist (pre-re-rank): probe filter on the list id
    * (partition pruning over a persisted code table), ADC scan with
    * per-list LUTs, TakeOrdered to PqShortlist ids. Exposed so the
    * plan test can assert the probed-partition pruning directly.
    */
  def ivfPqShortlist(codes: DataFrame, cs: Array[Array[Double]],
      cb: Array[Array[Array[Double]]], q: Array[Double]): DataFrame = {
    val probed = cs.zipWithIndex.sortBy { case (c, _) => dist2(c, q) }
      .take(NProbe).map(_._2)
    // per-probed-list LUT over the QUERY RESIDUAL for that list
    val luts: Map[Int, Array[Array[Double]]] = probed.map { l =>
      val res = q.indices.map(i => q(i) - cs(l)(i)).toArray
      l -> Array.tabulate(PqM) { m =>
        val rm = res.slice(m * SubDim, (m + 1) * SubDim)
        cb(m).map(dist2(_, rm))
      }
    }.toMap
    val lutMap = map_from_arrays(
      array(probed.map(l => lit(l)): _*),
      array(probed.map(l =>
        array(luts(l).map(row => array(row.map(lit): _*)): _*)): _*))
    val adc = (0 until PqM).map { m =>
      element_at(element_at(element_at(lutMap, col("list")), m + 1), col(s"c$m") + 1)
    }.reduce(_ + _)
    codes
      .filter(col("list").isin(probed.map(Integer.valueOf): _*) && col("vec_id") =!= 0)
      .select(col("vec_id"), adc.as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(PqShortlist)
      .select("vec_id")
  }

  def ivfPqSearchFromCodes(e: DataFrame, codes: DataFrame,
      cs: Array[Array[Double]], cb: Array[Array[Array[Double]]],
      q: Array[Double]): DataFrame =
    rerankExact(e, ivfPqShortlist(codes, cs, cb, q), q)

  /** The persisted-index shortlist for the standard query vector —
    * the pre-re-rank plan the partition-pruning test locks.
    */
  def ivfPqPersistedShortlist(s: SparkSession, d: String): DataFrame = {
    val e = vectors(s, d)
    val idx = annIndexDir(s, d, e)
    val (cs, cb) = loadAnnCodebooks(s, idx)
    val q = e.filter(col("vec_id") === 0)
      .select(unit(col("v"))).collect()(0).getSeq[Double](0).toArray
    ivfPqShortlist(s.read.parquet(s"$idx/codes"), cs, cb, q)
  }

  /** The IVF-PQ replay shared by ann_ivfpq and its persisted twin
    * (test-pinned identical): coarse fit → sample residuals → 16
    * residual-subspace fits → corpus assignment + residual encoding →
    * driver probe order (full Σ(q−c)², stable ties) → per-probed-list
    * residual LUTs with the driver's term order → ADC shortlist →
    * exact rerank.
    */
  private def ivfpqOracle(sampleCap: Int, shortlist: Int): String = {
    val rsubs = (0 until PqM).map { m =>
      val st = m * SubDim + 1
      val en = (m + 1) * SubDim
      s"""samp_r$m AS MATERIALIZED (
         |  SELECT rn, list_slice(v, $st, $en) AS v FROM samp_res),
         |${lloydChainCtes(s"_r$m", PqK, 3)}""".stripMargin
    }.mkString(",\n")
    val runion = (0 until PqM)
      .map(m => s"SELECT $m AS m, cid, c FROM fc3_r$m").mkString(" UNION ALL ")
    // the driver's probe ranking: full Σ(q_i − c_i)² folded ascending
    val d2cq = s"""list_reduce(list_prepend([0.0::DOUBLE],
       |      list_transform(generate_series(1, $Dim),
       |        i -> [(q.u[i] - c.c[i]) * (q.u[i] - c.c[i])])),
       |      (a, x) -> [a[1] + x[1]])[1]""".stripMargin
    val lutDist = (1 to SubDim)
      .map(i => s"(q.qs[$i] - c.c[$i]) * (q.qs[$i] - c.c[$i])")
      .mkString(" + ")
    s"""WITH ${ivfFitCtes(NLists, 3, sampleCap)},
       |asg_s AS (
       |  SELECT rn, v, cid FROM (
       |    SELECT s.rn, s.v, c.cid,
       |      row_number() OVER (PARTITION BY s.rn
       |        ORDER BY list_dot_product(c.c, c.c) - 2 * list_dot_product(s.v, c.c),
       |                 c.cid) AS r
       |    FROM samp s CROSS JOIN fc3 c) WHERE r = 1),
       |samp_res AS MATERIALIZED (
       |  SELECT s.rn,
       |    list_transform(generate_series(1, $Dim), i -> s.v[i] - c.c[i]) AS v
       |  FROM asg_s s JOIN fc3 c ON c.cid = s.cid),
       |$rsubs,
       |cbr AS MATERIALIZED ($runion),
       |asg AS MATERIALIZED (
       |  SELECT vec_id, u, cid AS list FROM (
       |    SELECT eu.vec_id, eu.u, c.cid,
       |      row_number() OVER (PARTITION BY eu.vec_id
       |        ORDER BY list_dot_product(c.c, c.c) - 2 * list_dot_product(eu.u, c.c),
       |                 c.cid) AS r
       |    FROM eu CROSS JOIN fc3 c) WHERE r = 1),
       |res AS MATERIALIZED (
       |  SELECT a.vec_id, a.list,
       |    list_transform(generate_series(1, $Dim), i -> a.u[i] - c.c[i]) AS rv
       |  FROM asg a JOIN fc3 c ON c.cid = a.list),
       |subr AS (
       |  SELECT vec_id, list, m,
       |    list_slice(rv, m * $SubDim + 1, (m + 1) * $SubDim) AS rs
       |  FROM res, UNNEST(generate_series(0, ${PqM - 1})) AS t(m)),
       |enc AS MATERIALIZED (
       |  SELECT vec_id, list, m, cid FROM (
       |    SELECT s.vec_id, s.list, s.m, c.cid,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY list_dot_product(c.c, c.c) - 2 * list_dot_product(s.rs, c.c),
       |                 c.cid) AS r
       |    FROM subr s JOIN cbr c ON c.m = s.m) WHERE r = 1),
       |qv AS (SELECT u FROM eu WHERE vec_id = 0),
       |probes AS MATERIALIZED (
       |  SELECT cid AS list FROM (
       |    SELECT c.cid,
       |      row_number() OVER (ORDER BY $d2cq, c.cid) AS r
       |    FROM fc3 c CROSS JOIN qv q) WHERE r <= $NProbe),
       |qres AS (
       |  SELECT p.list,
       |    list_transform(generate_series(1, $Dim), i -> q.u[i] - c.c[i]) AS rv
       |  FROM probes p JOIN fc3 c ON c.cid = p.list CROSS JOIN qv q),
       |qsub AS (
       |  SELECT list, m,
       |    list_slice(rv, m * $SubDim + 1, (m + 1) * $SubDim) AS qs
       |  FROM qres, UNNEST(generate_series(0, ${PqM - 1})) AS t(m)),
       |lut AS MATERIALIZED (
       |  SELECT q.list, c.m, c.cid, $lutDist AS dist
       |  FROM cbr c JOIN qsub q ON q.m = c.m),
       |adcs AS (
       |  SELECT e.vec_id,
       |    list_reduce(list(l.dist ORDER BY l.m), (a, x) -> a + x) AS adc_dist
       |  FROM enc e
       |  JOIN probes p ON p.list = e.list
       |  JOIN lut l ON l.list = e.list AND l.m = e.m AND l.cid = e.cid
       |  WHERE e.vec_id <> 0 GROUP BY e.vec_id),
       |short AS (SELECT vec_id FROM adcs ORDER BY adc_dist, vec_id LIMIT $shortlist)
       |SELECT eu.vec_id, (floor((list_dot_product(eu.u, q.u)) * 10000 + 0.5) / 10000.0) AS cos_sim
       |FROM eu JOIN short ON short.vec_id = eu.vec_id CROSS JOIN qv q
       |ORDER BY cos_sim DESC, eu.vec_id LIMIT 10""".stripMargin
  }

  val annIvfPq: QueryDef = QueryDef.sql(
    "ann_ivfpq", ivfpqOracle(4096, PqShortlist)) { (s, d) =>
    val e = vectors(s, d)
    val cs = coarseCentroids(e, cacheKey = d)
    val cb = ivfPqCodebooks(e, cs, cacheKey = d)
    val q = e.filter(col("vec_id") === 0)
      .select(unit(col("v"))).collect()(0).getSeq[Double](0).toArray
    ivfPqSearchFromCodes(e, ivfPqCodes(e, cs, cb), cs, cb, q)
  }

  // ---- Persisted IVF-PQ index ----------------------------------------

  /** Write the full IVF-PQ index to parquet — the ANN "ingest" step:
    * coarse centroids, residual codebooks, and the per-vector code
    * table (partitioned by list id, so a query's NProbe filter prunes
    * at file listing and a search reads NProbe/NLists of the codes).
    * Codebooks are O(NLists·Dim + PqM·PqK·SubDim) — metadata-sized;
    * the codes are the real payload at 8 B + a list id per vector.
    */
  def writeAnnIndex(s: SparkSession, e: DataFrame, path: String,
      cacheKey: String = ""): Unit = {
    import s.implicits._
    val cs = coarseCentroids(e, cacheKey)
    val cb = ivfPqCodebooks(e, cs, cacheKey)
    cs.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("list", "c").repartition(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    (for { m <- 0 until PqM; j <- 0 until PqK } yield (m, j, cb(m)(j).toSeq))
      .toDF("m", "j", "c").repartition(1)
      .write.mode("overwrite").parquet(s"$path/codebooks")
    // raw-vector PQ codebooks too (ann_pq's flavor — trained on unit
    // vectors, not residuals), so no ANN entry refits per process
    val cbRaw = pqCodebooks(e, cacheKey)
    (for { m <- 0 until PqM; j <- 0 until PqK } yield (m, j, cbRaw(m)(j).toSeq))
      .toDF("m", "j", "c").repartition(1)
      .write.mode("overwrite").parquet(s"$path/codebooks_raw")
    ivfPqCodes(e, cs, cb)
      .write.partitionBy("list").mode("overwrite").parquet(s"$path/codes")
  }

  /** Load the driver-side index metadata (centroids + codebooks) —
    * O(index constants), never O(corpus).
    */
  def loadAnnCodebooks(s: SparkSession, path: String):
      (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val cs = s.read.parquet(s"$path/centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    val cbRows = s.read.parquet(s"$path/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val cb = Array.tabulate(PqM, PqK)((m, j) => cbRows
      .find(t => t._1 == m && t._2 == j).get._3)
    (cs, cb)
  }

  /** Once-per-corpus index materialization under the warehouse dir
    * (same contract as the dedup index): a fresh session reuses
    * complete index files on disk.
    */
  def annIndexDir(s: SparkSession, d: String, e: => DataFrame): String =
    synchronized {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
      val dir = new org.apache.hadoop.fs.Path(wh, s"graft_ann_idx_$h")
      val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/codes/_SUCCESS")))
        writeAnnIndex(s, e, dir.toString, cacheKey = d)
      dir.toString
    }

  /** IVF-PQ search against the STORED index: codebooks load from
    * parquet (driver-side, constant-sized), the code scan reads only
    * the probed list partitions (partition pruning), and only the
    * 100-row shortlist touches full-width vectors. Test-pinned
    * identical to the in-memory ann_ivfpq.
    */
  val annIvfPqPersisted: QueryDef =
    QueryDef.sql("ann_ivfpq_persisted", ivfpqOracle(4096, PqShortlist)) { (s, d) =>
      val e = vectors(s, d)
      val idx = annIndexDir(s, d, e)
      val (cs, cb) = loadAnnCodebooks(s, idx)
      val codes = s.read.parquet(s"$idx/codes")
      val q = e.filter(col("vec_id") === 0)
        .select(unit(col("v"))).collect()(0).getSeq[Double](0).toArray
      ivfPqSearchFromCodes(e, codes, cs, cb, q)
    }

  /** IVF-bucketed pairwise cosine ≥ threshold: every vector probes
    * its `probes` nearest coarse lists and pairs only WITHIN a list —
    * Σ n_l² work instead of n², sharded by list id across executors.
    */
  def embeddingIvfPairs(e: DataFrame, cs: Array[Array[Double]],
      threshold: Double, probes: Int): DataFrame = {
    val probed = e
      .withColumn("u", unit(col("v")))
      .withColumn("probe", explode(slice(
        array_sort(array(centroidStructs(cs, col("u")): _*)), 1, probes)))
      .select(col("vec_id"), col("u"), col("probe.list").as("list"))
    probed.toDF("id1", "u1", "list")
      .join(probed.toDF("id2", "u2", "list2"),
        col("list") === col("list2") && col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        (floor((dot(col("u1"), col("u2"))) * 10000 + 0.5) / 10000.0).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .distinct()
      .orderBy(col("id1"), col("id2"))
  }

  /** Unbounded-scale embedding near-dup — the scale path for
    * dedup_embedding's bounded exact pairwise. Precision is exact
    * (every emitted pair is cosine-verified); recall is probe-
    * bounded: TRUE near-duplicates (cos ≥ ~0.99) share their nearest
    * coarse list virtually surely (planted-duplicate recall pinned
    * at 100% in ScalaTest), while the 0.35 corpus-calibrated demo
    * threshold (~69° apart — far beyond near-dup) recalls only
    * what happens to co-bucket, as any sub-quadratic scheme must.
    */
  /** The probed-pair CTEs over the fitted quantizer (`eu`, `fc3`
    * from ivfFitCtes): per-vector 2 nearest lists, within-list pairs,
    * rounded-cosine threshold — emb_cluster and dedup_embedding_ivf
    * share them.
    */
  private[graft] def ivfPairsCtes(threshold: Double, probes: Int): String =
    s"""probed AS MATERIALIZED (
       |  SELECT vec_id, u, list FROM (
       |    SELECT eu.vec_id, eu.u, c.cid AS list,
       |      row_number() OVER (PARTITION BY eu.vec_id
       |        ORDER BY list_dot_product(c.c, c.c) - 2 * list_dot_product(eu.u, c.c),
       |                 c.cid) AS rn
       |    FROM eu CROSS JOIN fc3 c) WHERE rn <= $probes),
       |pairs AS MATERIALIZED (
       |  SELECT DISTINCT p1.vec_id AS id1, p2.vec_id AS id2,
       |    (floor((list_dot_product(p1.u, p2.u)) * 10000 + 0.5) / 10000.0) AS cos_sim
       |  FROM probed p1 JOIN probed p2
       |    ON p2.list = p1.list AND p1.vec_id < p2.vec_id
       |  WHERE (floor((list_dot_product(p1.u, p2.u)) * 10000 + 0.5) / 10000.0) >= $threshold)""".stripMargin

  private[graft] def ivfPairsOraclePrefix: String =
    s"${ivfFitCtes(NLists, 3, 4096)},\n${ivfPairsCtes(0.35, 2)}"

  val dedupEmbeddingIvf: QueryDef =
    QueryDef.sql(
      "dedup_embedding_ivf",
      s"""WITH $ivfPairsOraclePrefix
         |SELECT id1, id2, cos_sim FROM pairs ORDER BY id1, id2""".stripMargin) { (s, d) =>
      val e = vectors(s, d)
      embeddingIvfPairs(e, coarseCentroids(e, cacheKey = d), 0.35, probes = 2)
    }

  /** Exact cosine k-NN graph (k=4) over the whole embedding corpus
    * — the adjacency a SemDeDup / label-propagation pass consumes.
    * This is the EXACT baseline: an all-pairs block product with
    * per-source top-k pushed into the join's consumer (row_number
    * keeps k rows per src before anything wide materializes). At
    * 100 TB you don't run this; you run the IVF-bucketed variant
    * (dedupEmbeddingIvf / annIvf machinery) whose candidate space
    * is Σ n_l² over probed lists — this entry exists so the
    * approximate graph has a measurable recall target.
    */
  val embKnnGraph: QueryDef = QueryDef.sql(
    "emb_knn_graph",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |    (floor((list_dot_product(a.v, b.v)
      |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) * 10000 + 0.5) / 10000.0)
      |      AS cos_sim
      |  FROM e a CROSS JOIN e b WHERE a.vec_id <> b.vec_id),
      |ranked AS (
      |  SELECT src, dst, cos_sim,
      |    row_number() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst) AS rank
      |  FROM p)
      |SELECT src, rank, dst, cos_sim FROM ranked WHERE rank <= 4
      |ORDER BY src, rank""".stripMargin) { (s, d) =>
    val e = vectors(s, d)
    // per-side norms: 1 dot per pair instead of 3, bit-identical cos
    // repartition(src) + native top-k: see emb_hubness — the one-split
    // embeddings scan otherwise leaves the O(n²) stage on one core,
    // and the window rank sorts every src's full candidate list where
    // the bounded TopKPerKey buffer keeps 4 rows. The rank column is
    // re-derived by a window over the ≤4-row-per-key survivors (the
    // emb_knn_graph_ivf pattern) — identical rows, identical ranks.
    val a = e.select(col("vec_id").as("src"), col("v").as("va"),
      sqrt(dot(col("v"), col("v"))).as("na"))
      .repartition(e.sparkSession.sparkContext.defaultParallelism, col("src"))
    val b = e.select(col("vec_id").as("dst"), col("v").as("vb"),
      sqrt(dot(col("v"), col("v"))).as("nb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("cos_sim").desc, col("dst"))
    // Regime estimate: plan bytes of the vector relation (embedding
    // doubles are ~incompressible, so file bytes ≈ row bytes); the
    // fallback cross join plans a cartesian product, same pair set
    val pairs = a.crossJoin(Regime.broadcastIfFits(
        "emb_knn_graph.vectors", Regime.planBytes(e), b, "cartesian"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        (floor((dot(col("va"), col("vb")) / (col("na") * col("nb"))) * 10000 + 0.5) / 10000.0)
          .as("cos_sim"))
    org.apache.spark.sql.graft.TopKOps.topKPerKey(
        pairs, Seq(col("src")), Seq(col("cos_sim").desc, col("dst").asc), 4)
      .withColumn("rank", row_number().over(w))
      .select(col("src"), col("rank"), col("dst"), col("cos_sim"))
      .orderBy(col("src"), col("rank"))
  }

  /** APPROXIMATE kNN graph through the IVF lists — the scale path
    * for emb_knn_graph, whose exact all-pairs cross join is O(n²)
    * and the one embedding-family entry without one: every vector is
    * both corpus (assigned to its nearest coarse list, map-side) and
    * query (probing its NProbe nearest lists), so candidate work is
    * O(n · NProbe · n/NLists) — an equality join on the list id that
    * shards across executors; at production scale NLists grows with
    * √n and the ratio keeps falling. No duplicate candidates by
    * construction (each dst lives in exactly ONE list, probes are
    * distinct lists). Top-4 per source via the NATIVE TopKPerKey
    * (bounded buffers, no sort of the candidate relation); the rank
    * column comes from a ≤4-row-per-key window after the cut.
    * Rows-only; ScalaTest pins per-source shape, exact-cosine
    * consistency, recall vs the exact graph on the bounded corpus,
    * and determinism.
    */
  /** emb_knn_graph_ivf's oracle: replay the coarse fit (shared
    * ivfFitCtes), the 8-probe candidate join, the top-8 cut, the
    * symmetrized neighbors-of-neighbors NN-descent round, and the
    * final top-4 — every cosine is the same rounded expression, so
    * the whole refined graph hash-matches.
    */
  private def knnGraphIvfOracle(nLists: Int, probes: Int, iters: Int,
      sampleCap: Int): String =
    s"""WITH ${ivfFitCtes(nLists, iters, sampleCap)},
       |dists AS (
       |  SELECT eu.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY eu.vec_id
       |      ORDER BY list_dot_product(c.c, c.c) - 2 * list_dot_product(eu.u, c.c),
       |               c.cid) AS r
       |  FROM eu CROSS JOIN fc$iters c),
       |asg AS (SELECT vec_id, cid AS list FROM dists WHERE r = 1),
       |prb AS (SELECT vec_id, cid AS list FROM dists WHERE r <= $probes),
       |cand AS (
       |  SELECT p.vec_id AS src, a.vec_id AS dst,
       |    (floor((list_dot_product(q.v, t.v)
       |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(t.v, t.v)))) * 10000 + 0.5) / 10000.0)
       |      AS cos_sim
       |  FROM prb p JOIN asg a ON a.list = p.list AND a.vec_id <> p.vec_id
       |  JOIN e0 q ON q.vec_id = p.vec_id
       |  JOIN e0 t ON t.vec_id = a.vec_id),
       |top8 AS MATERIALIZED (
       |  SELECT src, dst, cos_sim FROM (
       |    SELECT src, dst, cos_sim,
       |      row_number() OVER (PARTITION BY src
       |        ORDER BY cos_sim DESC, dst) AS rn
       |    FROM cand) WHERE rn <= 8),
       |adj AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM top8
       |    UNION ALL SELECT dst AS src, src AS dst FROM top8)),
       |nn2 AS (
       |  SELECT DISTINCT a.src, b.dst
       |  FROM adj a JOIN adj b ON b.src = a.dst
       |  WHERE a.src <> b.dst),
       |extra AS (
       |  SELECT n.src, n.dst,
       |    (floor((list_dot_product(q.v, t.v)
       |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(t.v, t.v)))) * 10000 + 0.5) / 10000.0)
       |      AS cos_sim
       |  FROM nn2 n JOIN e0 q ON q.vec_id = n.src
       |  JOIN e0 t ON t.vec_id = n.dst),
       |refined AS (
       |  SELECT DISTINCT src, dst, cos_sim FROM (
       |    SELECT src, dst, cos_sim FROM top8
       |    UNION ALL SELECT src, dst, cos_sim FROM extra))
       |SELECT src, CAST(rn AS INTEGER) AS rank, dst, cos_sim FROM (
       |  SELECT src, dst, cos_sim,
       |    row_number() OVER (PARTITION BY src
       |      ORDER BY cos_sim DESC, dst) AS rn
       |  FROM refined) WHERE rn <= 4 ORDER BY src, rank""".stripMargin

  val embKnnGraphIvf: QueryDef = QueryDef.sql(
    "emb_knn_graph_ivf", knnGraphIvfOracle(NLists, 8, 3, 4096)) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = vectors(s, d)
    val cs = coarseCentroids(e, cacheKey = d)
    val withUnit = e
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("u", scaled(col("v"), col("nrm")))
    graft.Ckpt.scoped { sc =>
      val assigned = sc.checkpoint(withUnit
        .withColumn("list",
          array_min(array(centroidStructs(cs, col("u")): _*)).getField("list"))
        .select(col("vec_id").as("dst"), col("v").as("v2"),
          col("nrm").as("nrm2"), col("list"))) // one assignment pass, reused by all probes
      // a kNN-GRAPH build probes deeper than a point query (it runs
      // once per corpus and its recall gates everything downstream):
      // 8 of 16 lists here; at production NLists (√n) the probe
      // fraction keeps shrinking while absolute probes stay constant
      val graphProbes = 8
      val probes = withUnit
        .withColumn("probe", explode(slice(
          array_sort(array(centroidStructs(cs, col("u")): _*)), 1, graphProbes)))
        .select(col("vec_id").as("src"), col("v").as("qv"),
          col("nrm").as("qnrm"), col("probe.list").as("list"))
      val cand = probes.join(assigned, Seq("list"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          (floor((dot(col("qv"), col("v2")) / (col("qnrm") * col("nrm2"))) * 10000 + 0.5) / 10000.0)
            .as("cos_sim"))
      // keep a WIDER intermediate list (top-8) for the refinement round
      // — the extra candidates are exactly the pool NN-descent mines —
      // and cut to the final 4 after it
      // read 3x below (two self-join arms + union)
      val top = sc.checkpoint(org.apache.spark.sql.graft.TopKOps.topKPerKey(
          cand, Seq(col("src")), Seq(col("cos_sim").desc, col("dst").asc), 8))
      // ONE NN-DESCENT refinement round (Dong et al. WWW 2011): a
      // vector's true neighbors are usually neighbors of its current
      // neighbors, so candidates ∪= neighbors-of-neighbors from the
      // top-4 graph — one self-join on the middle vertex (O(n·16)
      // pairs), score, union with the kept edges, re-cut. Closes the
      // misrouted-probe recall gap (0.84 → ≥0.9 pinned) for one cheap
      // equality-join round; production ANN builds iterate this to a
      // fixpoint.
      val vecs = withUnit.select(col("vec_id"), col("v"), col("nrm"))
      // SYMMETRIZED adjacency (forward ∪ reverse neighbors) — the
      // NN-descent neighborhood: being someone's neighbor is as
      // informative as having one
      val adj = top.select(col("src"), col("dst"))
        .unionAll(top.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val nn2 = adj.select(col("src"), col("dst").as("mid"))
        .join(adj.select(col("src").as("mid"), col("dst").as("dst2")), "mid")
        .select(col("src"), col("dst2").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      val extra = nn2
        .join(vecs.select(col("vec_id").as("src"), col("v").as("qv"),
          col("nrm").as("qnrm")), "src")
        .join(vecs.select(col("vec_id").as("dst"), col("v").as("v2"),
          col("nrm").as("nrm2")), "dst")
        .select(col("src"), col("dst"),
          (floor((dot(col("qv"), col("v2")) / (col("qnrm") * col("nrm2"))) * 10000 + 0.5) / 10000.0)
            .as("cos_sim"))
      val refined = top.select("src", "dst", "cos_sim").unionAll(extra)
        .dropDuplicates("src", "dst")
      val top2 = org.apache.spark.sql.graft.TopKOps.topKPerKey(
        refined, Seq(col("src")), Seq(col("cos_sim").desc, col("dst").asc), 4)
      val w = Window.partitionBy(col("src")).orderBy(col("cos_sim").desc, col("dst"))
      sc.keep(top2.withColumn("rank", row_number().over(w))
        .select(col("src"), col("rank"), col("dst"), col("cos_sim"))
        .orderBy(col("src"), col("rank")))
    }
  }

  /** IVF INDEX-QUALITY report — the health check a production ANN
    * deployment runs before trusting an index (and re-runs as the
    * corpus drifts): per coarse list its population, share, and mean
    * L2 residual to the centroid (the quantization error that upper-
    * bounds how badly a probe can misroute). List-size skew is the
    * number that matters operationally — a hot list makes every
    * probe that touches it scan a corpus-sized bucket; the balance
    * factor (max/mean population) is the alarm. One map-side
    * assignment pass (the same broadcast-literal centroid structs as
    * the index itself) + one 16-group aggregate; centroidStructs'
    * dist is the shifted ‖u−c‖²−1, so the true residual is
    * √(dist+1) for unit u. Rows-only; population conservation,
    * share-sum=1, residual bounds, and determinism pinned.
    */
  /** DuckDB replay of the IVF health report: re-fit the coarse
    * quantizer (unit sample, first-NLists init, 3 n-D Lloyd rounds —
    * the ndLloydCtes machinery over list ops), then one assignment
    * pass with the identical shifted-distance expression
    * ‖c‖² − 2u·c and the per-list population/share/residual rollup.
    */
  /** The IVF coarse-quantizer fit as CTE text (unit corpus `eu`,
    * first-N sample, `iters` n-D Lloyd rounds → `fc<iters>`),
    * WITHOUT the leading WITH — shared by the ann_ivf_stats,
    * emb_cluster, and dedup_embedding_ivf oracles.
    */
  /** One deterministic n-D Lloyd chain as CTE text: consumes a CTE
    * named `samp$sfx` holding (rn, v) rows, seeds from its first
    * `nClusters` rows, runs `iters` rounds, and emits
    * `fc$iters$sfx` — the exact ndLloyd replay the IVF oracles
    * proved, reused per PQ subspace with a suffix.
    */
  private def lloydChainCtes(sfx: String, nClusters: Int, iters: Int): String = {
    val chain = (1 to iters).map { i =>
      val p = i - 1
      s"""fa$i$sfx AS (
         |  SELECT s.rn, s.v, c.cid,
         |    row_number() OVER (PARTITION BY s.rn
         |      ORDER BY list_dot_product(s.v, s.v) - 2*list_dot_product(s.v, c.c)
         |               + list_dot_product(c.c, c.c), c.cid) AS rnk
         |  FROM samp$sfx s CROSS JOIN fc$p$sfx c),
         |fs$i$sfx AS MATERIALIZED (SELECT rn, v, cid FROM fa$i$sfx WHERE rnk = 1),
         |fx$i$sfx AS (SELECT cid, pos, avg(v[pos]) AS val
         |         FROM fs$i$sfx, UNNEST(generate_series(1, len(v))) AS t(pos)
         |         GROUP BY 1, 2),
         |fm$i$sfx AS (SELECT cid, list(val ORDER BY pos) AS c FROM fx$i$sfx GROUP BY cid),
         |fc$i$sfx AS MATERIALIZED (SELECT cid, c FROM fm$i$sfx
         |  UNION ALL
         |  SELECT cid, c FROM fc$p$sfx WHERE cid NOT IN (SELECT cid FROM fm$i$sfx))""".stripMargin
    }.mkString(",\n")
    s"""fc0$sfx AS MATERIALIZED (SELECT rn - 1 AS cid, v AS c FROM samp$sfx WHERE rn <= $nClusters),
       |$chain""".stripMargin
  }

  /** The corpus/sample preamble shared by every fit replay. */
  private def sampCtes(sampleCap: Int): String =
    s"""e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |eu AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
       |  FROM e0),
       |samp AS MATERIALIZED (
       |  SELECT u AS v, rn FROM (
       |    SELECT u, row_number() OVER (ORDER BY vec_id) AS rn FROM eu)
       |  WHERE rn <= $sampleCap)""".stripMargin

  private def ivfFitCtes(nLists: Int, iters: Int, sampleCap: Int): String =
    s"""${sampCtes(sampleCap)},
       |${lloydChainCtes("", nLists, iters)}""".stripMargin

  /** The PqM per-subspace codebook fits (slices of the same sample,
    * PqK codewords each, 3 Lloyd rounds) plus the flattened
    * (m, cid, c) codebook relation `cbs` — the fitSubspaceCodebooks
    * replay.
    */
  private def pqFitCtes(sampleCap: Int): String = {
    val subs = (0 until PqM).map { m =>
      val st = m * SubDim + 1
      val en = (m + 1) * SubDim
      s"""samp_p$m AS MATERIALIZED (
         |  SELECT rn, list_slice(v, $st, $en) AS v FROM samp),
         |${lloydChainCtes(s"_p$m", PqK, 3)}""".stripMargin
    }.mkString(",\n")
    val union = (0 until PqM)
      .map(m => s"SELECT $m AS m, cid, c FROM fc3_p$m").mkString(" UNION ALL ")
    s"""${sampCtes(sampleCap)},
       |$subs,
       |cbs AS MATERIALIZED ($union)""".stripMargin
  }

  /** ann_pq's oracle: refit all 16 subspace codebooks, re-encode
    * every vector with the PqEncode argmin (‖c‖²−2u·c, lowest-j
    * ties), rebuild the query LUT with the driver's exact term order,
    * cut the ADC shortlist, and exact-rerank — the full PQ pipeline
    * hash-matched.
    */
  private def pqOracle(sampleCap: Int, shortlist: Int): String = {
    val lutDist = (1 to SubDim)
      .map(i => s"(q.qs[$i] - c.c[$i]) * (q.qs[$i] - c.c[$i])")
      .mkString(" + ")
    s"""WITH ${pqFitCtes(sampleCap)},
       |subv AS (
       |  SELECT vec_id, m, list_slice(u, m * $SubDim + 1, (m + 1) * $SubDim) AS us
       |  FROM eu, UNNEST(generate_series(0, ${PqM - 1})) AS t(m)),
       |enc AS (
       |  SELECT vec_id, m, cid FROM (
       |    SELECT s.vec_id, s.m, c.cid,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY list_dot_product(c.c, c.c) - 2 * list_dot_product(s.us, c.c),
       |                 c.cid) AS r
       |    FROM subv s JOIN cbs c ON c.m = s.m) WHERE r = 1),
       |lut AS MATERIALIZED (
       |  SELECT c.m, c.cid, $lutDist AS dist
       |  FROM cbs c JOIN (SELECT m, us AS qs FROM subv WHERE vec_id = 0) q
       |    ON q.m = c.m),
       |adcs AS (
       |  SELECT e.vec_id,
       |    list_reduce(list(l.dist ORDER BY l.m), (a, x) -> a + x) AS adc_dist
       |  FROM enc e JOIN lut l ON l.m = e.m AND l.cid = e.cid
       |  WHERE e.vec_id <> 0 GROUP BY e.vec_id),
       |short AS (SELECT vec_id FROM adcs ORDER BY adc_dist, vec_id LIMIT $shortlist)
       |SELECT eu.vec_id, (floor((list_dot_product(eu.u, q.qu)) * 10000 + 0.5) / 10000.0) AS cos_sim
       |FROM eu JOIN short ON short.vec_id = eu.vec_id
       |CROSS JOIN (SELECT u AS qu FROM eu WHERE vec_id = 0) q
       |ORDER BY cos_sim DESC, eu.vec_id LIMIT 10""".stripMargin
  }

  /** ann_ivf's oracle: replay the coarse fit, assign every vector to
    * its nearest list (shifted distance ‖c‖²−2u·c, cid tie-break),
    * probe each query's nProbe nearest lists, and cut the per-query
    * top-1 on the ROUNDED cosine with id2 tie-break — the exact
    * engine ranking expressions spelled in DuckDB.
    */
  private def ivfTopOracle(nLists: Int, nProbe: Int, iters: Int, sampleCap: Int): String =
    s"""WITH ${ivfFitCtes(nLists, iters, sampleCap)},
       |dists AS (
       |  SELECT eu.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY eu.vec_id
       |      ORDER BY list_dot_product(c.c, c.c) - 2 * list_dot_product(eu.u, c.c),
       |               c.cid) AS r
       |  FROM eu CROSS JOIN fc$iters c),
       |asg AS (SELECT vec_id, cid AS list FROM dists WHERE r = 1),
       |probes AS (SELECT vec_id AS id1, cid AS list FROM dists
       |           WHERE vec_id < 20 AND r <= $nProbe),
       |cand AS (
       |  SELECT p.id1, a.vec_id AS id2,
       |    (floor((list_dot_product(q.v, t.v)
       |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(t.v, t.v)))) * 10000 + 0.5) / 10000.0)
       |      AS cos_sim
       |  FROM probes p JOIN asg a ON a.list = p.list AND a.vec_id <> p.id1
       |  JOIN e0 q ON q.vec_id = p.id1
       |  JOIN e0 t ON t.vec_id = a.vec_id)
       |SELECT id1, id2, cos_sim FROM (
       |  SELECT id1, id2, cos_sim,
       |    row_number() OVER (PARTITION BY id1 ORDER BY cos_sim DESC, id2) AS rn
       |  FROM cand) WHERE rn = 1 ORDER BY id1""".stripMargin

  private def ivfStatsOracle(nLists: Int, iters: Int, sampleCap: Int): String = {
    s"""WITH ${ivfFitCtes(nLists, iters, sampleCap)},
       |asg AS (
       |  SELECT vec_id, list, dist FROM (
       |    SELECT eu.vec_id, c.cid AS list,
       |      list_dot_product(c.c, c.c) - 2 * list_dot_product(eu.u, c.c) AS dist,
       |      row_number() OVER (PARTITION BY eu.vec_id
       |        ORDER BY list_dot_product(c.c, c.c) - 2 * list_dot_product(eu.u, c.c),
       |                 c.cid) AS r
       |    FROM eu CROSS JOIN fc$iters c) WHERE r = 1),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e0)
       |SELECT list, count(*) AS n_vectors,
       |  (floor((count(*) / (SELECT n FROM nn)) * 10000 + 0.5) / 10000.0) AS share,
       |  (floor((avg(sqrt(greatest(dist + 1.0, 0.0)))) * 10000 + 0.5) / 10000.0) AS mean_resid_l2,
       |  (floor((max(sqrt(greatest(dist + 1.0, 0.0)))) * 10000 + 0.5) / 10000.0) AS max_resid_l2
       |FROM asg GROUP BY list ORDER BY list""".stripMargin
  }

  val annIvfStats: QueryDef = QueryDef.sql(
    "ann_ivf_stats", ivfStatsOracle(NLists, 3, 4096)) { (s, d) =>
    val e = vectors(s, d)
    val cs = coarseCentroids(e, cacheKey = d)
    val n = e.count().toDouble
    val assigned = e
      .withColumn("u", unit(col("v")))
      .withColumn("best",
        array_min(array(centroidStructs(cs, col("u")): _*)))
      .select(col("best.list").as("list"),
        sqrt(greatest(col("best.dist") + 1.0, lit(0.0))).as("resid"))
    assigned.groupBy(col("list"))
      .agg(count(lit(1)).as("n_vectors"),
        (floor((count(lit(1)) / n) * 10000 + 0.5) / 10000.0).as("share"),
        (floor((avg(col("resid"))) * 10000 + 0.5) / 10000.0).as("mean_resid_l2"),
        (floor((max(col("resid"))) * 10000 + 0.5) / 10000.0).as("max_resid_l2"))
      .orderBy(col("list"))
  }

  /** Radius (range) search — the "everything within cosine ≥ r of
    * the query" API, the other half of the ANN surface next to
    * top-k: dedup wants "all near-dups of X", not "the 10 nearest".
    * Exact form is a map-only scan against the broadcast query
    * vector (zero shuffle — the ideal 100 TB shape for a single
    * probe); at index scale the same predicate runs inside the IVF
    * probed lists (embeddingIvfPairs machinery). The cut is on the
    * UNROUNDED cosine in both engines, output rounded.
    */
  val RangeRadius = 0.2

  val annRangeSearch: QueryDef = QueryDef.sql(
    "ann_range_search",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       |SELECT vec_id,
       |  (floor((list_dot_product(v, qv)
       |    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))) * 10000 + 0.5) / 10000.0) AS cos_sim
       |FROM e CROSS JOIN q
       |WHERE vec_id <> 0
       |  AND list_dot_product(v, qv)
       |    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) >= $RangeRadius
       |ORDER BY vec_id""".stripMargin) { (s, d) =>
    val e = vectors(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .filter(cosine(col("v"), col("qv")) >= RangeRadius)
      .select(col("vec_id"), (floor((cosine(col("v"), col("qv"))) * 10000 + 0.5) / 10000.0).as("cos_sim"))
      .orderBy(col("vec_id"))
  }

  /** Maximum-inner-product search (MIPS) — recommendation-serving's
    * scoring primitive (user·item, not cosine: item popularity lives
    * in the norm, so the two rankings genuinely differ). Exact
    * top-10 by inner product for the first 5 query vectors: query
    * set broadcasts, ONE corpus scan serves all queries, and the
    * per-query top-k runs through the native TopKPerKey operator
    * (bounded per-partition heaps + final k-merge) instead of a
    * window rank — no corpus-sized sort, no single-partition-per-
    * query shuffle skew. The scale path to sub-linear MIPS is the
    * norm-augmentation reduction to cosine (x→[x, √(M²−‖x‖²)],
    * q→[q, 0], Bachrach et al. 2014), after which any cosine ANN
    * index in this file applies; the reduction's rank-equivalence is
    * pinned in ScalaTest against this exact operator.
    */
  val annMips: QueryDef = QueryDef.sql(
    "ann_mips",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      |p AS (SELECT qid, vec_id, list_inner_product(v, qv) AS ip
      |      FROM e CROSS JOIN q WHERE vec_id <> qid),
      |r AS (SELECT qid, vec_id, ip, row_number() OVER (PARTITION BY qid
      |        ORDER BY ip DESC, vec_id) AS rn FROM p)
      |SELECT qid, vec_id, (floor((ip) * 10000 + 0.5) / 10000.0) AS ip
      |FROM r WHERE rn <= 10 ORDER BY qid, ip DESC, vec_id""".stripMargin) { (s, d) =>
    val e = vectors(s, d)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), dot(col("v"), col("qv")).as("ip"))
    org.apache.spark.sql.graft.TopKOps.topKPerKey(scored,
        keys = Seq(col("qid")),
        order = Seq(col("ip").desc, col("vec_id").asc),
        k = 10)
      .select(col("qid"), col("vec_id"), (floor((col("ip")) * 10000 + 0.5) / 10000.0).as("ip"))
      .orderBy(col("qid"), col("ip").desc, col("vec_id"))
  }

  /** kNN classification over the embedding space — the similarity
    * index applied to LABELING: each vector's class predicted by the
    * majority label of its k=5 nearest neighbors (rounded cosine,
    * self excluded), evaluated against the stored truth label as a
    * confusion matrix. The neighbor stage is emb_knn_graph's exact
    * formulation (rounding BEFORE ranking keeps both engines' ties
    * identical); the vote is one (src) aggregate with a
    * count-desc/label-asc deterministic tie-break via max_by on an
    * exact (count, −label) struct order. Exact all-pairs here; at
    * corpus scale the neighbor source swaps to the IVF/LSH candidate
    * machinery (ann_ivf) — the vote and evaluation stages are
    * unchanged. Leave-one-out accuracy-vs-majority-baseline pinned
    * in ScalaTest.
    */
  val embKnnClassify: QueryDef = QueryDef.sql(
    "emb_knn_classify",
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS src, a.label AS truth, b.label AS nb_label,
      |    (floor((list_dot_product(a.v, b.v)
      |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) * 10000 + 0.5) / 10000.0)
      |      AS cos_sim, b.vec_id AS dst
      |  FROM e a CROSS JOIN e b WHERE a.vec_id <> b.vec_id),
      |ranked AS (
      |  SELECT src, truth, nb_label,
      |    row_number() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst) AS rank
      |  FROM p),
      |votes AS (
      |  SELECT src, truth, nb_label, count(*) AS n_votes
      |  FROM ranked WHERE rank <= 5 GROUP BY 1, 2, 3),
      |pred AS (
      |  SELECT src, truth, nb_label AS predicted,
      |    row_number() OVER (PARTITION BY src
      |      ORDER BY n_votes DESC, nb_label) AS vr
      |  FROM votes)
      |SELECT truth, predicted, count(*) AS n
      |FROM pred WHERE vr = 1
      |GROUP BY 1, 2 ORDER BY truth, predicted""".stripMargin) { (s, d) =>
    knnClassify(Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v")), k = 5)
      .orderBy(col("truth"), col("predicted"))
  }

  /** kNN-classifier core over (vec_id, label, v) — confusion matrix
    * of majority-vote-of-k-nearest vs truth. Factored out so the
    * ScalaTest can pin ≥90% leave-one-out accuracy on planted
    * Gaussian clusters (the corpus embeddings carry uncorrelated
    * labels, which only exercises the plumbing).
    */
  def knnClassify(e: DataFrame, k: Int): DataFrame = {
    // norms precomputed PER SIDE, not per pair: cos = dot/(na·nb) is
    // bit-identical to the inline cosine (same ops, factored), and
    // the O(n²) stage drops from 3 dots/pair to 1
    // repartition(src) + native top-k: see emb_knn_graph (one-split
    // scan parallelism + bounded-buffer cut; identical survivors)
    val a = e.select(col("vec_id").as("src"), col("label").as("truth"),
      col("v").as("va"), sqrt(dot(col("v"), col("v"))).as("na"))
      .repartition(e.sparkSession.sparkContext.defaultParallelism, col("src"))
    val b = e.select(col("vec_id").as("dst"), col("label").as("nb_label"),
      col("v").as("vb"), sqrt(dot(col("v"), col("v"))).as("nb"))
    val wVote = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("n_votes").desc, col("nb_label"))
    // Regime estimate: plan bytes of the vector relation (see emb_knn_graph)
    val pairs = a.crossJoin(Regime.broadcastIfFits(
        "emb_knn_classify.vectors", Regime.planBytes(e), b, "cartesian"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("truth"), col("nb_label"), col("dst"),
        (floor((dot(col("va"), col("vb")) / (col("na") * col("nb"))) * 10000 + 0.5) / 10000.0)
          .as("cos_sim"))
    org.apache.spark.sql.graft.TopKOps.topKPerKey(
        pairs, Seq(col("src")), Seq(col("cos_sim").desc, col("dst").asc), k)
      .groupBy(col("src"), col("truth"), col("nb_label"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .groupBy(col("truth"), col("nb_label").as("predicted"))
      .agg(count(lit(1)).as("n"))
  }

  /** Graph-based ANN (NSW — navigable small world, Malkov et al.
    * 2014; the single-layer core of HNSW, the index behind most
    * production vector stores): SHARDED for Spark's execution model
    * — vectors hash-partition into independent shards, each shard
    * builds its own NSW graph in one mapPartitions pass (sequential
    * greedy-insert: each point links bidirectionally to the M=8 best
    * of an ef-bounded beam search over the graph built so far), and
    * every query beam-searches every shard graph (visiting a small
    * fraction of the shard, vs the scan-everything brute force).
    * The O(shards·k) candidate union re-ranks by exact cosine into
    * the global top-10 — one tiny shuffle. Graph build is the
    * justified mapPartitions case (pointer-chasing insert loop; no
    * Expression fits); everything is deterministic: shard membership
    * by hash, insert order by vec_id, beam tie-breaks by (sim, id).
    * At corpus scale each executor holds one shard's graph —
    * build cost Σ n_s·ef·deg, query cost shards·beam — and the shard
    * graphs persist like the IVF-PQ index (same contract). Recall
    * ≥ 8/10 vs brute force + determinism + beam-visits-a-fraction
    * pinned in ScalaTest.
    */
  val annNsw: QueryDef = QueryDef.rowsOnly("ann_nsw") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = vectors(s, d)
    val queries: Array[(Long, Array[Double])] = e.filter(col("vec_id") < 5)
      .collect().map(r => r.getLong(0) -> normalize(r.getSeq[Double](1).toArray))
    val nShards = 8
    val cands = e.repartition(nShards, col("vec_id"))
      .mapPartitions { it =>
        val pts = it.map(r => r.getLong(0) -> normalize(r.getSeq[Double](1).toArray))
          .toArray.sortBy(_._1) // deterministic insert order
        if (pts.isEmpty) Iterator.empty
        else nswSearchShard(pts, queries, m = 8, ef = 48, k = 10).iterator
      }(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble))
      .toDF("qid", "vec_id", "cos_sim")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    cands.filter(col("vec_id") =!= col("qid"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("vec_id"),
        (floor(col("cos_sim") * 10000 + 0.5) / 10000).as("cos_sim"))
      .orderBy(col("qid"), col("rank"))
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0) v else v.map(_ / n)
  }

  /** One shard's NSW build + query pass. `pts` are (id, unit vector)
    * in deterministic order; returns (qid, id, cosine) candidates —
    * the per-shard top-k each query's beam search reaches.
    * `visitCounter`, when supplied, counts QUERY-phase node visits
    * only — the serving-time cost the ScalaTest pins to a fraction
    * of the shard.
    */
  def nswSearchShard(pts: Array[(Long, Array[Double])],
      queries: Array[(Long, Array[Double])], m: Int, ef: Int, k: Int,
      visitCounter: java.util.concurrent.atomic.AtomicLong = null)
      : Seq[(Long, Long, Double)] = {
    val n = pts.length
    val vecs = pts.map(_._2)
    var counting = false // build-phase visits are amortized ingest cost
    val adj = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    // best-first beam over the graph restricted to nodes < upTo;
    // returns the `width` best (sim desc, id asc) nodes reached
    def beam(q: Array[Double], width: Int, upTo: Int): Array[(Double, Int)] = {
      val ord = Ordering.by[(Double, Int), (Double, Int)] { case (s, i) => (s, -i) }
      val cand = scala.collection.mutable.PriorityQueue.empty(ord) // max by sim
      val res = scala.collection.mutable.PriorityQueue.empty(ord.reverse) // min by sim
      val visited = new java.util.BitSet(upTo)
      val s0 = dot(q, vecs(0))
      cand.enqueue((s0, 0)); res.enqueue((s0, 0)); visited.set(0)
      if (counting && visitCounter != null) visitCounter.incrementAndGet()
      while (cand.nonEmpty) {
        val (cs, c) = cand.dequeue()
        if (res.size >= width && cs < res.head._1) { cand.clear() }
        else {
          adj(c).foreach { nb =>
            if (nb < upTo && !visited.get(nb)) {
              visited.set(nb)
              if (counting && visitCounter != null) visitCounter.incrementAndGet()
              val sNb = dot(q, vecs(nb))
              if (res.size < width || sNb > res.head._1) {
                cand.enqueue((sNb, nb)); res.enqueue((sNb, nb))
                if (res.size > width) res.dequeue()
              }
            }
          }
        }
      }
      res.dequeueAll.toArray.sortBy { case (s, i) => (-s, i) }
    }
    // sequential greedy insert (the NSW construction)
    var i = 1
    while (i < n) {
      beam(vecs(i), math.max(m, ef / 2), i).take(m).foreach { case (_, j) =>
        adj(i) += j; adj(j) += i
      }
      i += 1
    }
    counting = true
    queries.toSeq.flatMap { case (qid, qv) =>
      beam(qv, math.max(k, ef), n).take(k).map { case (s, idx) =>
        (qid, pts(idx)._1, s)
      }
    }
  }

  /** Binary-code ANN via sign quantization + Hamming ranking — the
    * most compressed rung of the quantization ladder (1 bit/dim:
    * 8 bytes per 64-d vector vs SQ8's 64 and PQ's 8-with-codebooks),
    * and the only one whose distance is EXACT integer arithmetic:
    * each vector packs its coordinate signs into two 32-bit halves
    * (codegen'd shift/or tree, zValue's pattern — no UDF), Hamming =
    * popcount(xor) + popcount(xor). Sign codes are data-independent
    * (no training pass), distances are total-ordered integers, so
    * unlike every float ANN variant the whole operator is
    * deterministic enough for a SQL oracle. Scan shape: 5-row query
    * side broadcast, ONE corpus pass scores all queries, per-query
    * top-10 window over the Hamming-pruned candidates. At serving
    * scale the packed codes column is the persisted index (the
    * corpus rescans 16 B/row, not 512 B), and re-ranking the top
    * Hamming bucket by exact cosine restores float precision —
    * sign-agreement monotonicity pinned in ScalaTest.
    */
  val annHamming: QueryDef = {
    def duckHalf(v: String, lo: Int): String =
      (0 until 32).map(i =>
        s"CASE WHEN $v[${lo + i + 1}] >= 0 THEN ${1L << i} ELSE 0 END")
        .mkString(" + ")
    QueryDef.sql(
      "ann_hamming",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id, ${duckHalf("v", 0)} AS h1,
        |             ${duckHalf("v", 32)} AS h2 FROM e),
        |q AS (SELECT vec_id AS qid, h1 AS q1, h2 AS q2 FROM c WHERE vec_id < 5),
        |p AS (
        |  SELECT qid, vec_id,
        |    bit_count(xor(h1, q1)) + bit_count(xor(h2, q2)) AS hamming
        |  FROM c CROSS JOIN q WHERE vec_id <> qid),
        |r AS (SELECT qid, vec_id, hamming, row_number() OVER (
        |        PARTITION BY qid ORDER BY hamming, vec_id) AS rank FROM p)
        |SELECT qid, rank, vec_id, CAST(hamming AS BIGINT) AS hamming
        |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val packed = vectors(s, d)
        .withColumn("h1", signPackHalf(col("v"), 0))
        .withColumn("h2", signPackHalf(col("v"), 32))
        .drop("v")
      val q = packed.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("h1").as("q1"), col("h2").as("q2"))
      val w = Window.partitionBy(col("qid")).orderBy(col("hamming"), col("vec_id"))
      packed.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          (bit_count(col("h1").bitwiseXOR(col("q1"))) +
            bit_count(col("h2").bitwiseXOR(col("q2")))).cast("long").as("hamming"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("rank"), col("vec_id"), col("hamming"))
        .orderBy(col("qid"), col("rank"))
    }
  }

  /** MMR-diversified retrieval (maximal marginal relevance,
    * Carbonell & Goldstein 1998) — the re-ranking layer RAG serving
    * puts between ANN shortlist and prompt: plain top-k returns
    * near-duplicates of the best hit; MMR greedily picks
    * argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c,s), trading relevance
    * against redundancy with what's already selected. The corpus
    * stage is exactly an ANN shortlist (ONE scan, top-20 by cosine
    * for the query — any index in this file can substitute); the
    * greedy loop is O(k·|shortlist|) DRIVER arithmetic over 20
    * vectors, the textbook cheap-final-stage. λ=0.7, deterministic
    * (ties to smaller vec_id). Duplicate-skipping pinned on a
    * planted near-dup shortlist in ScalaTest.
    */
  /** ann_mmr's oracle: the greedy λ-tradeoff selection replays as 5
    * chained CTEs — each step scores the remaining shortlist members
    * with the engine's exact float spelling (rel uses √aa·√bb, the
    * driver redundancy cosine uses √(aa·bb), the penalty weight is
    * the IEEE value of 1−0.7) and picks argmax(score, min id).
    */
  private def mmrOracle(k: Int, cut: Int): String = {
    def prevUnion(n: Int): String =
      (1 until n).map(i => s"SELECT vec_id FROM sel$i").mkString(" UNION ALL ")
    val steps = (2 to k).map { n =>
      s"""sel$n AS MATERIALIZED (
         |  SELECT s.vec_id, s.rel, 0.7 * s.rel - (1 - 0.7) * r.red AS score,
         |    $n AS position
         |  FROM short s JOIN (
         |    SELECT p.ia AS vec_id, max(p.cos) AS red FROM pc p
         |    WHERE p.ib IN (${prevUnion(n)}) GROUP BY p.ia) r
         |    ON r.vec_id = s.vec_id
         |  WHERE s.vec_id NOT IN (${prevUnion(n)})
         |  ORDER BY 0.7 * s.rel - (1 - 0.7) * r.red DESC, s.vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val all = (1 to k).map(i => s"SELECT position, vec_id, rel, score FROM sel$i")
      .mkString(" UNION ALL ")
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e0 WHERE vec_id = 0),
       |rels AS (
       |  SELECT e.vec_id, e.v,
       |    list_dot_product(e.v, q.qv)
       |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
       |      AS rel
       |  FROM e0 e CROSS JOIN q WHERE e.vec_id <> 0),
       |short AS MATERIALIZED (
       |  SELECT vec_id, v, rel FROM rels ORDER BY rel DESC, vec_id LIMIT $cut),
       |pc AS MATERIALIZED (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    list_dot_product(a.v, b.v)
       |      / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) AS cos
       |  FROM short a JOIN short b ON a.vec_id <> b.vec_id),
       |sel1 AS MATERIALIZED (
       |  SELECT vec_id, rel, 0.7 * rel - (1 - 0.7) * 0.0 AS score, 1 AS position
       |  FROM short ORDER BY 0.7 * rel - (1 - 0.7) * 0.0 DESC, vec_id LIMIT 1),
       |$steps
       |SELECT position, vec_id,
       |  floor(rel * 10000 + 0.5) / 10000 AS relevance,
       |  floor(score * 10000 + 0.5) / 10000 AS mmr_score
       |FROM ($all) ORDER BY position""".stripMargin
  }

  val annMmr: QueryDef = QueryDef.sql("ann_mmr", mmrOracle(5, 20)) { (s, d) =>
    val e = vectors(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val shortlist = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("v"), cosine(col("v"), col("qv")).as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(20)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    val picks = mmrSelect(shortlist, lambda = 0.7, k = 5)
    import s.implicits._
    picks.zipWithIndex
      .map { case ((id, rel, score), i) =>
        (i + 1, id, math.floor(rel * 10000 + 0.5) / 10000,
          math.floor(score * 10000 + 0.5) / 10000)
      }.toDF("position", "vec_id", "relevance", "mmr_score")
  }

  /** Greedy MMR over a (id, vector, relevance) shortlist — returns
    * (id, relevance, mmr score at selection) in pick order. Driver
    * arithmetic; factored for the planted-near-dup ScalaTest.
    */
  def mmrSelect(cands: Array[(Long, Array[Double], Double)],
      lambda: Double, k: Int): Seq[(Long, Double, Double)] = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double, Double)]
    val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
    while (selected.length < k && remaining.nonEmpty) {
      val scoredCands = remaining.map { case (id, v, rel) =>
        val redundancy =
          if (selected.isEmpty) 0.0
          else selected.map(sel => cos(v, sel._2)).max
        (id, v, rel, lambda * rel - (1 - lambda) * redundancy)
      }
      val best = scoredCands.minBy { case (id, _, _, score) => (-score, id) }
      selected += best
      remaining.remove(remaining.indexWhere(_._1 == best._1))
    }
    selected.map { case (id, _, rel, score) => (id, rel, score) }.toSeq
  }

  /** Sign-bit packing of dims [lo, lo+32) into one long — a codegen'd
    * 32-term shift/or tree (src_zorder_scan's zValue pattern).
    */
  def signPackHalf(v: Column, lo: Int): Column =
    (0 until 32).map { i =>
      when(element_at(v, lo + i + 1) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** FILTERED vector search — the tenant/shard-scoped query every
    * production vector store serves ("nearest neighbors WHERE
    * label = X"): exact cosine top-10 for the vec_id=0 query
    * restricted to its own label class. The strategy is
    * PRE-filtering: the query's label resolves first (one O(1)
    * driver lookup, exactly how a vector store resolves the tenant),
    * then lands in the scan as a LITERAL predicate — `PushedFilters`
    * carries it into the parquet reader, so the vector math only
    * ever touches the qualifying class. Post-filtering (search
    * first, filter the top-k after) is the WRONG plan at any scale:
    * it under-fills k whenever the query's class is a minority of
    * its neighborhood. Composes with the IVF/PQ entries unchanged —
    * the filter prunes before list assignment.
    */
  val annFiltered: QueryDef = QueryDef.sql(
    "ann_filtered",
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT label AS ql, v AS qv FROM e WHERE vec_id = 0)
      |SELECT vec_id, label,
      |  (floor((list_dot_product(v, qv)
      |    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))) * 10000 + 0.5) / 10000.0) AS cos_sim
      |FROM e CROSS JOIN q
      |WHERE vec_id <> 0 AND label = ql
      |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id") === 0).head()
    val (ql, qv) = (q.getInt(1), q.getSeq[Double](2))
    e.filter(col("vec_id") =!= 0 && col("label") === lit(ql))
      .select(col("vec_id"), col("label"),
        (floor((cosine(col("v"),
          lit(qv.toArray))) * 10000 + 0.5) / 10000.0).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** RECALL EVALUATION — index quality as data, the gate a vector
    * deployment runs before trusting an ANN index (an index with
    * silent 40% recall poisons every downstream consumer): each
    * approximate rung scored against the exact answer on the same
    * queries. LSH and IVF report top-1 recall over the 20 standing
    * queries (a query the method misses entirely — e.g. no LSH
    * bucket collision — counts as a miss, not a skip); SQ8 reports
    * top-10 overlap for its query. The exact reference is ONE
    * broadcast-queries corpus pass; everything downstream is
    * O(queries). Deterministic end-to-end (fixed planes/centroids/
    * grids), so the readout is stable across runs and partitionings.
    */
  val annRecallEval: QueryDef = QueryDef.rowsOnly("ann_recall_eval") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = vectors(s, d).withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("id1"), col("v").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("id1")).orderBy(col("cos_sim").desc, col("id2"))
    val exact1 = e.toDF("id2", "v2", "n2")
      .join(broadcast(q), col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"),
        (floor((dot(col("qv"), col("v2")) / (col("qn") * col("n2"))) * 10000 + 0.5) / 10000.0).as("cos_sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("id1"), col("id2").as("nn"))
    def top1Recall(method: String, got: DataFrame): DataFrame =
      exact1.join(got, Seq("id1"), "left_outer")
        .agg(count(lit(1)).as("nq"),
          sum(when(col("got") === col("nn"), 1).otherwise(0)).as("hits"))
        .select(lit(method).as("method"), lit(1).as("k"),
          col("nq").as("n_queries"),
          (floor((col("hits") / col("nq")) * 10000 + 0.5) / 10000.0).as("recall"))
    val lsh = top1Recall("lsh",
      annLsh.fn(s, d).select(col("id1"), col("id2").as("got")))
    val ivf = top1Recall("ivf",
      annIvf.fn(s, d).select(col("id1"), col("id2").as("got")))
    val exact10 = annBruteforce.fn(s, d).select(col("vec_id").as("t10"))
    def top10Overlap(method: String, df: DataFrame): DataFrame =
      df.select(col("vec_id"))
        .join(broadcast(exact10), col("vec_id") === col("t10"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(method).as("method"), lit(10).as("k"),
          lit(1L).as("n_queries"), (floor((col("hits") / lit(10.0)) * 10000 + 0.5) / 10000.0).as("recall"))
    val sq8 = top10Overlap("sq8", annSq8.fn(s, d))
    val pq = top10Overlap("pq", annPq.fn(s, d))
    val ivfpq = top10Overlap("ivfpq", annIvfPq.fn(s, d))
    lsh.unionAll(ivf).unionAll(sq8).unionAll(pq).unionAll(ivfpq)
      .orderBy(col("method"))
  }

  val all: Seq[QueryDef] = Seq(
    annBruteforce, annTopkJoin, annLsh, annIvf, annPq, annSearchText,
    annIvfPq, annIvfPqPersisted, dedupEmbeddingIvf, annSq8, embKnnGraph,
    embKnnGraphIvf, annIvfStats,
    annRangeSearch, annMips, embKnnClassify, annNsw, annHamming, annMmr,
    annFiltered, annRecallEval)
}

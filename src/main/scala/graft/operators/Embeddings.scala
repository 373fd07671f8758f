package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.functions.{SketchFunctions, VectorFunctions}
import graft.sources.Tables

/** Embedding-space dimensionality reduction: distributed PCA as one
  * mergeable aggregation + a driver-side d×d eigendecomposition + a
  * map-side codegen'd projection.
  *
  * The 100 TB shape: the corpus is touched exactly twice, and both
  * passes are embarrassingly parallel — (1) the GramianAgg pass
  * reduces every partition to one O(d²) sufficient-statistics buffer
  * (shuffle = one buffer per partition, independent of row count);
  * (2) projection is d·k multiplies per row against broadcast
  * component literals inside whole-stage codegen (graft_dot), no
  * shuffle at all. The eigendecomposition itself is O(d³) on a d×d
  * matrix — driver-side by design, exactly like the reference keeps
  * its k centroids driver-side between iterations (KMeans.java:119-146).
  */
object Embeddings {

  val Dim = 64
  val NComponents = 8

  final case class PcaModel(
      n: Long,
      mean: Array[Double],
      eigenvalues: Array[Double], // descending, all d of them
      components: Array[Array[Double]]) { // top-k rows, each length d
    def totalVariance: Double = eigenvalues.sum
  }

  /** One-pass covariance fit: n, μ and the upper triangle of Σvvᵀ
    * come back as a single array<double>; C = Σvvᵀ/n − μμᵀ is
    * assembled driver-side and eigendecomposed (symmetric d×d).
    */
  def fitPca(vectors: DataFrame, vecCol: String = "v",
      d: Int = Dim, k: Int = NComponents): PcaModel = {
    val stats = vectors
      .agg(SketchFunctions.gramian(col(vecCol), d).as("g"))
      .head.getSeq[Double](0).toArray
    val n = stats(0)
    val mean = Array.tabulate(d)(i => stats(1 + i) / n)
    val cov = breeze.linalg.DenseMatrix.zeros[Double](d, d)
    var t = 1 + d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = stats(t) / n - mean(i) * mean(j)
        cov(i, j) = c
        cov(j, i) = c
        t += 1
        j += 1
      }
      i += 1
    }
    val es = breeze.linalg.eigSym(cov) // eigenvalues ascending
    val order = (0 until d).sortBy(idx => -es.eigenvalues(idx))
    val eigenvalues = order.map(es.eigenvalues(_)).toArray
    val components = order.take(k)
      .map(idx => (0 until d).map(es.eigenvectors(_, idx)).toArray).toArray
    PcaModel(n.toLong, mean, eigenvalues, components)
  }

  /** Append pc0..pc{k-1} projection columns: dot(v − μ, w_j) computed
    * as dot(v, w_j) − dot(μ, w_j) so the per-row work is one codegen'd
    * dot product per component against a literal array — the centering
    * folds into a constant.
    */
  def project(vectors: DataFrame, model: PcaModel, vecCol: String = "v"): DataFrame =
    model.components.zipWithIndex.foldLeft(vectors) { case (df, (w, j)) =>
      val wLit: Column = array(w.map(lit): _*)
      val center = w.zip(model.mean).map { case (wi, mi) => wi * mi }.sum
      df.withColumn(s"pc$j",
        VectorFunctions.dot_product(col(vecCol), wLit) - lit(center))
    }

  /** Scree summary: per retained component, the eigenvalue (= the
    * variance the corpus shows along it) and the cumulative explained
    * ratio. Not SQL-expressible (eigendecomposition); the ScalaTest
    * pins orthonormality, variance ordering, and that the PROJECTED
    * data's per-component variance matches the eigenvalue.
    */
  val embPca: QueryDef = QueryDef.rowsOnly("emb_pca") { (s, d) =>
    val model = fitPca(Similarity.vectors(s, d))
    val total = model.totalVariance
    val rows = model.components.indices.map { j =>
      val cum = model.eigenvalues.take(j + 1).sum / total
      (j, BigDecimal(model.eigenvalues(j)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(cum).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    import s.implicits._
    rows.toDF("component", "variance", "cum_explained")
      .orderBy(col("component"))
  }

  /** Semantic clustering (the SemDeDup shape): IVF-bucketed cosine
    * pairs (Σ n_l² work, sharded by coarse list — never n²) feed the
    * size-adaptive connected components, giving similarity clusters
    * with their representative and size — the unit "keep one per
    * semantic cluster" curation operates on. Rows-only (IVF fit is
    * FP-path dependent); edge/cluster consistency pinned in ScalaTest.
    */
  /** DuckDB replay: the shared IVF fit + probed-pair CTEs
    * (Similarity.ivfPairsOraclePrefix), then min-label connected
    * components as a recursive CTE (the graph_cc oracle pattern) and
    * the per-cluster rollup.
    */
  private lazy val embClusterOracle: String =
    s"""WITH RECURSIVE ${Similarity.ivfPairsOraclePrefix},
       |e2 AS (SELECT id1 AS s, id2 AS t FROM pairs
       |       UNION SELECT id2, id1 FROM pairs),
       |r(n, l) AS (
       |  SELECT s, s FROM (SELECT DISTINCT s FROM e2)
       |  UNION
       |  SELECT e2.t, r.l FROM r JOIN e2 ON r.n = e2.s),
       |lbl AS (SELECT n, min(l) AS comp FROM r GROUP BY n)
       |SELECT comp AS cluster_rep, count(*) AS n_members
       |FROM lbl GROUP BY comp ORDER BY comp""".stripMargin

  val embCluster: QueryDef = QueryDef.sql(
    "emb_cluster", embClusterOracle) { (s, d) =>
    val e = Similarity.vectors(s, d)
    val pairs = Similarity.embeddingIvfPairs(
        e, Similarity.coarseCentroids(e, Similarity.annIndex(s, d)), 0.35, probes = 2)
      .select(col("id1"), col("id2"))
    Dedup.connectedComponents(pairs)
      .groupBy(col("label").as("cluster_rep"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("cluster_rep"))
  }

  val RpDim = 16

  /** Deterministic ±1 sign for entry (i,j) of the projection matrix
    * via the splitmix64 finalizer — full avalanche, so rows are
    * uncorrelated (a plain multiplicative hash read row-major makes
    * every row a shift of one LCG sequence, which showed up as 2.2×
    * pairwise distortions). The oracle never computes this: signs
    * are INLINED into the generated SQL as +/− literals.
    */
  private def rpSign(i: Int, j: Int): Int = {
    var z = i.toLong * Dim + j + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    if ((z & 1L) == 0L) 1 else -1
  }

  private def rpOracle(k: Int): String = {
    val comps = (0 until k).map { i =>
      val terms = (0 until Dim).map { j =>
        val op = if (rpSign(i, j) > 0) "+" else "-"
        s"$op v[${j + 1}]"
      }.mkString(" ")
      s"  round((0 $terms) / sqrt($k), 4) AS r$i"
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
       |SELECT vec_id,
       |$comps
       |FROM e ORDER BY vec_id""".stripMargin
  }

  /** Johnson–Lindenstrauss random projection $Dim → $RpDim with a
    * sign matrix (Achlioptas 2003): per row, $RpDim codegen'd
    * graft_dot products against ±1/√$RpDim literal arrays — no
    * shuffle at all, the ideal 100 TB shape (map-only, matrix
    * shipped as plan literals). Hash-matchable against DuckDB
    * because everything is exact or order-deterministic: the sign
    * matrix is integer arithmetic, both engines sum j ascending
    * (graft_dot's loop = SQL's left-associative chain from 0), and
    * float→double casts, ±v products, and sqrt are IEEE-exact.
    * Distance/norm preservation pinned in ScalaTest.
    */
  val embRandomProjection: QueryDef = QueryDef.sql(
    "emb_random_projection", rpOracle(RpDim)) { (s, d) =>
    val v = Similarity.vectors(s, d)
    val scale = math.sqrt(RpDim.toDouble)
    val projected = (0 until RpDim).foldLeft(v) { (df, i) =>
      val signs: Column = array((0 until Dim).map(j => lit(rpSign(i, j).toDouble)): _*)
      df.withColumn(s"r$i",
        round(VectorFunctions.dot_product(col("v"), signs) / lit(scale), 4))
    }
    projected.drop("v").orderBy(col("vec_id"))
  }

  /** Per-dimension distribution profile of the embedding space —
    * mean/min/max per coordinate, the "is any dimension dead or
    * exploding" diagnostic run before indexing or quantizing a new
    * embedding table (a collapsed dimension breaks PQ codebooks, an
    * unscaled one dominates L2). posexplode → one (dim) aggregate:
    * O(rows·d) map-side expansion into an O(d) result. At 100 TB the
    * same numbers fold out of one GramianAgg pass (emb_pca's
    * machinery) without the explode; the explode spelling is the
    * oracle-checkable one. floor(x·1e4+0.5)/1e4 rounding (decimal vs
    * binary round ties).
    */
  val embDimStats: QueryDef = QueryDef.sql(
    "emb_dim_stats",
    """SELECT i AS dim,
      |  floor(avg(embedding[i]) * 10000 + 0.5) / 10000 AS mean_v,
      |  floor(min(embedding[i]) * 10000 + 0.5) / 10000 AS min_v,
      |  floor(max(embedding[i]) * 10000 + 0.5) / 10000 AS max_v
      |FROM embeddings, LATERAL unnest(generate_series(1, 64)) AS g(i)
      |GROUP BY i ORDER BY i""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select((col("pos") + 1).cast("int").as("dim"), col("v"))
      .groupBy(col("dim"))
      .agg(
        (floor(avg(col("v")) * 10000 + 0.5) / 10000).as("mean_v"),
        (floor(min(col("v")).cast("double") * 10000 + 0.5) / 10000).as("min_v"),
        (floor(max(col("v")).cast("double") * 10000 + 0.5) / 10000).as("max_v"))
      .orderBy(col("dim"))
  }

  /** Matryoshka truncation evaluation (Kusupati et al. 2022): how
    * much ANN quality survives keeping only the first d dimensions —
    * the memory/recall dial MRL-trained embeddings expose. For d ∈
    * {8, 16, 32, 64}: exact cosine top-10 under the truncated prefix
    * (slice() — codegen'd, no UDF), overlap counted against the
    * full-dimension top-10. Rankings use the ROUNDED similarity +
    * vec_id tie-break (the ann_bruteforce parity convention), so
    * both engines cut identical top-10 sets. The readout tells a
    * pipeline which prefix length is safe to store: at 100 TB,
    * storing 16 of 64 dims is a 4× index-size cut, and this is the
    * query that justifies it.
    */
  val embMatryoshka: QueryDef = QueryDef.sql(
    "emb_matryoshka", {
      val dims = Seq(8, 16, 32, 64)
      val ctes = dims.map { dd =>
        s"""t$dd AS (
           |  SELECT vec_id FROM (
           |    SELECT vec_id,
           |      round(list_dot_product(v[1:$dd], qv[1:$dd])
           |        / (sqrt(list_dot_product(v[1:$dd], v[1:$dd]))
           |           * sqrt(list_dot_product(qv[1:$dd], qv[1:$dd]))), 4) AS c
           |    FROM e CROSS JOIN q WHERE vec_id <> 0
           |    ORDER BY c DESC, vec_id LIMIT 10))""".stripMargin
      }.mkString(",\n")
      val rows = dims.map(dd =>
        s"SELECT $dd AS dim, (SELECT count(*) FROM t$dd WHERE vec_id IN (SELECT vec_id FROM t64)) AS overlap_full")
        .mkString(" UNION ALL ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |$ctes
         |SELECT dim, overlap_full FROM ($rows) ORDER BY dim""".stripMargin
    }) { (s, d) =>
    import s.implicits._
    val e = Similarity.vectors(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    def top10(dd: Int): Set[Long] = {
      val v = slice(col("v"), 1, dd); val qv = slice(col("qv"), 1, dd)
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(Similarity.dot(v, qv) /
            (sqrt(Similarity.dot(v, v)) * sqrt(Similarity.dot(qv, qv))), 4).as("c"))
        .orderBy(col("c").desc, col("vec_id"))
        .limit(10).select("vec_id").collect().map(_.getLong(0)).toSet
    }
    val full = top10(64)
    Seq(8, 16, 32, 64)
      .map(dd => (dd.toLong, (top10(dd) & full).size.toLong))
      .toDF("dim", "overlap_full")
      .orderBy(col("dim"))
  }

  /** PCA whitening (ZCA-style decorrelation): z = Λ^{-1/2}·W·(v − μ)
    * over the full d = 64 basis, then the post-whitening per-component
    * mean/variance as the self-audit — a whitened space must read
    * μ ≈ 0, σ² ≈ 1 on every axis, which is what downstream cosine/PQ
    * quantizers assume when they treat dimensions as exchangeable.
    * Same 100 TB shape as emb_pca: one GramianAgg pass for the fit, a
    * map-only codegen'd projection (components are plan literals),
    * one O(d) aggregate for the audit. Rows-only (eigendecomposition);
    * the ScalaTest pins unit variance, zero mean, and decorrelation.
    */
  val embWhitening: QueryDef = QueryDef.rowsOnly("emb_whitening") { (s, d) =>
    val v = Similarity.vectors(s, d)
    val model = fitPca(v, k = Dim)
    val whitened = whiten(v, model)
    whitened
      .select(posexplode(col("z")).as(Seq("dim", "zv")))
      .groupBy(col("dim"))
      .agg(round(avg(col("zv")), 3).as("mean_w"),
        round(avg(col("zv") * col("zv")) - avg(col("zv")) * avg(col("zv")), 3)
          .as("var_w"))
      .orderBy(col("dim"))
  }

  /** Append a whitened array column `z` (length = retained components
    * with λ > 1e-9): each entry one codegen'd graft_dot against the
    * literal row of Λ^{-1/2}·W, centering folded into a constant.
    */
  def whiten(vectors: DataFrame, model: PcaModel, vecCol: String = "v"): DataFrame = {
    val comps = model.components.zip(model.eigenvalues)
      .filter { case (_, ev) => ev > 1e-9 }
    val zCols: Seq[Column] = comps.map { case (w, ev) =>
      val invSd = 1.0 / math.sqrt(ev)
      val wLit: Column = array(w.map(wi => lit(wi * invSd)): _*)
      val center = w.zip(model.mean).map { case (wi, mi) => wi * mi }.sum * invSd
      VectorFunctions.dot_product(col(vecCol), wLit) - lit(center)
    }.toSeq
    vectors.withColumn("z", array(zCols: _*))
  }

  /** Deterministic orthogonal "model-upgrade" transform for the
    * Procrustes demo: coordinate permutation + sign flips, both from
    * the splitmix64 finalizer (full avalanche, no LCG correlation).
    * p is a Fisher–Yates shuffle driven by the hash; s is a ±1 per
    * target coordinate.
    */
  private[graft] val ProcrustesPerm: Array[Int] = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val p = Array.range(0, Dim)
    var i = Dim - 1
    while (i > 0) {
      val j = java.lang.Long.remainderUnsigned(mix(i.toLong + 7L), i + 1L).toInt
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  private[graft] val ProcrustesSign: Array[Double] =
    Array.tabulate(Dim)(j => if ((rpSign(j, 63 - j) : Int) > 0) 1.0 else -1.0)

  /** Orthogonal Procrustes alignment of two embedding spaces — the
    * "model upgrade" operator: given vectors under an old and a new
    * embedding model, recover the rotation R* = argmin ‖AR − B‖_F =
    * UVᵀ from SVD(AᵀB) so old vectors can be queried against the new
    * index without re-embedding the corpus. The 100 TB shape: AᵀB
    * comes from ONE mergeable GramianAgg pass over the STACKED
    * [a;b] vector (the 128×128 upper triangle contains the full
    * 64×64 cross block), the SVD is a driver-side d×d solve — the
    * fitPca pattern applied to alignment. Here B is a deterministic
    * permutation+sign transform of A, so the recovered R must BE
    * that transform: each output row reports the dominant target
    * coordinate and its weight (≈ ±1). Rows-only (SVD); exact
    * permutation recovery pinned in ScalaTest.
    */
  val embProcrustes: QueryDef = QueryDef.rowsOnly("emb_procrustes") { (s, d) =>
    val v = Similarity.vectors(s, d)
    // b[j] = sign_j * a[perm(j)] — plan literals, map-side only
    val bCols: Seq[Column] = (0 until Dim).map(j =>
      lit(ProcrustesSign(j)) * col("v")(ProcrustesPerm(j)))
    val stacked = v.withColumn("ab", concat(col("v"), array(bCols: _*)))
    val stats = stacked
      .agg(SketchFunctions.gramian(col("ab"), 2 * Dim).as("g"))
      .head.getSeq[Double](0).toArray
    // upper-triangle offsets of the stacked 128×128 gramian: entry
    // (i, k) for i ≤ k lives at 1 + 2d + (i*(2*2d - i + 1))/2 + (k - i)
    val dd = 2 * Dim
    def tri(i: Int, k: Int): Double =
      stats(1 + dd + i * (2 * dd - i + 1) / 2 + (k - i))
    val m = breeze.linalg.DenseMatrix.tabulate(Dim, Dim)((i, j) => tri(i, Dim + j))
    val svd = breeze.linalg.svd(m)
    val r = svd.U * svd.Vt
    import s.implicits._
    (0 until Dim).map { i =>
      val row = (0 until Dim).map(j => r(i, j))
      val jmax = row.indices.maxBy(j => math.abs(row(j)))
      (i, jmax,
        BigDecimal(row(jmax)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("source_dim", "target_dim", "weight")
      .orderBy(col("source_dim"))
  }

  /** Hubness audit (Radovanović et al. 2010) — the embedding-space
    * pathology detector every vector-search deployment should run:
    * in high dimensions some points ("hubs") appear in a huge share
    * of OTHER points' k-NN lists while antihubs appear in none,
    * silently skewing retrieval, dedup, and kNN-classification
    * quality. k-occurrence N_k(King) = how often each vector shows up
    * in someone else's top-4 (emb_knn_graph's exact neighbor stage —
    * at corpus scale the ANN graph substitutes); the audit is the
    * N_k distribution: histogram + moment-based skewness + hub/
    * antihub counts. A healthy space has skewness near 0; large
    * positive skew says distance concentration is biting. One
    * O(n·k) aggregate over the neighbor relation. Exact-int
    * histogram; skewness floats derive from int sums (exact
    * sufficient statistics — partition-invariant).
    */
  val embHubness: QueryDef = QueryDef.sql(
    "emb_hubness",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |    round(list_dot_product(a.v, b.v)
      |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)
      |      AS cos_sim
      |  FROM e a CROSS JOIN e b WHERE a.vec_id <> b.vec_id),
      |ranked AS (
      |  SELECT src, dst, row_number() OVER (PARTITION BY src
      |    ORDER BY cos_sim DESC, dst) AS rank FROM p),
      |occ AS (
      |  SELECT e.vec_id,
      |    CAST(coalesce(k.nk, 0) AS BIGINT) AS nk
      |  FROM e LEFT JOIN (
      |    SELECT dst, count(*) AS nk FROM ranked WHERE rank <= 4 GROUP BY 1) k
      |    ON e.vec_id = k.dst),
      |s AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(nk) AS DOUBLE) AS s1,
      |    CAST(sum(nk * nk) AS DOUBLE) AS s2,
      |    CAST(sum(nk * nk * nk) AS DOUBLE) AS s3,
      |    CAST(sum(CASE WHEN nk >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS hubs,
      |    CAST(sum(CASE WHEN nk = 0 THEN 1 ELSE 0 END) AS BIGINT) AS antihubs
      |  FROM occ)
      |SELECT CAST(n AS BIGINT) AS n, hubs, antihubs,
      |  floor(s1 / n * 10000 + 0.5) / 10000 AS mean_nk,
      |  floor((s2 / n - (s1 / n) * (s1 / n)) * 10000 + 0.5) / 10000 AS var_nk,
      |  floor((s3 / n - 3 * (s1 / n) * (s2 / n - (s1 / n) * (s1 / n))
      |         - (s1 / n) * (s1 / n) * (s1 / n))
      |    / power(s2 / n - (s1 / n) * (s1 / n), 1.5) * 10000 + 0.5) / 10000
      |    AS skewness
      |FROM s""".stripMargin) { (s, d) =>
    val e = Similarity.vectors(s, d)
    // the oracle rounds with round(…, 4), not the floor spelling
    val nk = Similarity.exactKnn(e, "emb_hubness.vectors", 4, Nil, round(_, 4))
      .groupBy(col("dst")).agg(count(lit(1)).as("nk0"))
    val occ = e.select(col("vec_id"))
      .join(nk, col("vec_id") === col("dst"), "left_outer")
      .select(coalesce(col("nk0"), lit(0L)).as("nk"))
    val st = occ.agg(
      count(lit(1)).as("n"),
      sum(col("nk")).cast("double").as("s1"),
      sum(col("nk") * col("nk")).cast("double").as("s2"),
      sum(col("nk") * col("nk") * col("nk")).cast("double").as("s3"),
      sum(when(col("nk") >= 8, 1).otherwise(0)).cast("long").as("hubs"),
      sum(when(col("nk") === 0, 1).otherwise(0)).cast("long").as("antihubs"))
    val m = col("s1") / col("n")
    val v2 = col("s2") / col("n") - m * m
    st.select(col("n").cast("long").as("n"), col("hubs"), col("antihubs"),
      (floor(m * 10000 + 0.5) / 10000).as("mean_nk"),
      (floor(v2 * 10000 + 0.5) / 10000).as("var_nk"),
      (floor((col("s3") / col("n") - lit(3) * m * v2 - m * m * m)
        / pow(v2, 1.5) * 10000 + 0.5) / 10000).as("skewness"))
  }

  /** Top principal direction by DISTRIBUTED LANCZOS (Krylov-
    * accelerated power iteration) — the PCA path for dimensions too
    * wide for the gramian: fitPca ships an O(d²) buffer per
    * partition and eigendecomposes d×d on the driver, which dies
    * around d ≈ 10⁴ (10⁸ doubles per buffer); Lanczos never
    * materializes the covariance at all. Each round is ONE map-side
    * partial aggregate computing the matvec w = Σᵢ(xᵢ−μ)((xᵢ−μ)ᵀv)
    * against the broadcast-literal v — shuffle is d doubles per
    * partition, independent of n AND of d², so it scales to any
    * embedding width; centering folds into constants ((x−μ)ᵀv =
    * xᵀv − μᵀv, and the per-dim sums need only the extra scalar Σs).
    * The Krylov part is why t stays small: plain power iteration
    * converges like (λ₂/λ₁)ᵗ — hopeless on near-isotropic embedding
    * spectra (λ₂/λ₁ ≈ 0.93 here ⇒ ~100 passes) — while the Lanczos
    * Ritz vector converges like a degree-t Chebyshev polynomial of
    * the same matvecs, reaching machine-level alignment in ~12. The
    * O(t·d) basis, 3-term recurrence + full reorthogonalization,
    * and the t×t tridiagonal eig are driver-side arithmetic, same
    * posture as the k centroids of kmeans.
    *
    * Sign convention: largest-|·| component positive. Rows-only
    * (iterative float fixpoint); ScalaTest pins |cos| ≥ 0.999
    * against fitPca's exact PC1 and λ₁ to 1e-4 relative.
    */
  val LanczosIters = 12

  /** n and per-dimension mean in one pass. */
  private def meanPass(vectors: DataFrame, vecCol: String, d: Int): (Double, Array[Double]) = {
    val base = vectors
      .agg(count(lit(1)).cast("double").as("n"),
        (0 until d).map(j =>
          sum(element_at(col(vecCol), j + 1)).as(s"s$j")): _*)
      .head
    val n = base.getDouble(0)
    (n, Array.tabulate(d)(j => base.getDouble(1 + j) / n))
  }

  /** One distributed centered-covariance matvec: C·v with
    * C = Σᵢ(xᵢ−μ)(xᵢ−μ)ᵀ/n, computed as a single aggregate pass.
    */
  private def matvec(vectors: DataFrame, vecCol: String, d: Int,
      n: Double, mean: Array[Double], v: Array[Double]): Array[Double] = {
    val vLit: Column = array(v.map(lit).toIndexedSeq: _*)
    val muDotV = mean.zip(v).map { case (m, x) => m * x }.sum
    val score = VectorFunctions.dot_product(col(vecCol), vLit) - lit(muDotV)
    val r = vectors
      .agg(sum(score).as("ss"),
        (0 until d).map(j =>
          sum(element_at(col(vecCol), j + 1) * score).as(s"w$j")): _*)
      .head
    val sumS = r.getDouble(0)
    Array.tabulate(d)(j => (r.getDouble(1 + j) - mean(j) * sumS) / n)
  }

  def lanczosTop(vectors: DataFrame, vecCol: String = "v",
      d: Int = Dim, iters: Int = LanczosIters): (Array[Double], Double, Long) = {
    val (n, mean) = meanPass(vectors, vecCol, d)
    def norm(a: Array[Double]): Double = math.sqrt(a.map(x => x * x).sum)
    // deterministic start (never orthogonal to PC1 in practice)
    var q = Array.tabulate(d)(j => if (j % 2 == 0) 1.0 else -1.0)
    val q0n = norm(q); q = q.map(_ / q0n)
    val basis = scala.collection.mutable.ArrayBuffer(q)
    val alpha = scala.collection.mutable.ArrayBuffer.empty[Double]
    val beta = scala.collection.mutable.ArrayBuffer.empty[Double]
    var done = false
    while (basis.size <= iters && !done) {
      val v = basis.last
      var w = matvec(vectors, vecCol, d, n, mean, v)
      alpha += v.zip(w).map { case (a, b) => a * b }.sum
      // full reorthogonalization against the whole basis (t·d driver work)
      basis.foreach { b =>
        val c = b.zip(w).map { case (a, x) => a * x }.sum
        w = w.zip(b).map { case (x, bb) => x - c * bb }
      }
      val b = norm(w)
      if (b < 1e-12) done = true // invariant subspace found early
      else { beta += b; basis += w.map(_ / b) }
    }
    val t = alpha.size
    val tri = breeze.linalg.DenseMatrix.zeros[Double](t, t)
    for (i <- 0 until t) {
      tri(i, i) = alpha(i)
      if (i + 1 < t) { tri(i, i + 1) = beta(i); tri(i + 1, i) = beta(i) }
    }
    val es = breeze.linalg.eigSym(tri)
    val top = (0 until t).maxBy(es.eigenvalues(_))
    val lambda = es.eigenvalues(top)
    val y = (0 until t).map(es.eigenvectors(_, top))
    var u = Array.tabulate(d)(j =>
      (0 until t).map(i => y(i) * basis(i)(j)).sum)
    val un = norm(u); u = u.map(_ / un)
    val pivot = u.indices.maxBy(j => math.abs(u(j)))
    if (u(pivot) < 0) u = u.map(-_)
    (u, lambda, n.toLong)
  }

  val embPowerIteration: QueryDef = QueryDef.rowsOnly("emb_power_iteration") { (s, d) =>
    val (v, lambda, n) = lanczosTop(Similarity.vectors(s, d))
    import s.implicits._
    val rows = v.zipWithIndex.map { case (x, j) =>
      (s"loading_${"%02d".format(j)}",
        BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble)
    } :+ (("lambda1",
      BigDecimal(lambda).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble)) :+
      (("n", n.toDouble))
    rows.toSeq.toDF("term", "value").orderBy(col("term"))
  }

  /** Per-slice embedding drift monitor — the model-observability op
    * behind "did this source/label/week shift in embedding space?"
    * (profile_drift covers categorical JSD; this is its dense-vector
    * sibling): ONE Summarizer pass groups mean + variance vectors by
    * label, the corpus-global mean derives from the label means by
    * exact weighted combination (conservation — no second pass), and
    * each slice reports centroid shift ‖μ_l − μ‖, cosine alignment,
    * and mean per-dim variance gap. O(labels·d) driver arithmetic
    * after one partial-agg shuffle. Rows-only; ScalaTest pins the
    * weighted-mean conservation identity and a collected replay.
    */
  private val sliceDriftOracle: String =
    """WITH x AS (
      |  SELECT label, pos, (embedding::DOUBLE[])[pos] AS v
      |  FROM embeddings, UNNEST(generate_series(1, 64)) AS t(pos)),
      |st AS (
      |  SELECT label, pos, avg(v) AS mu, var_samp(v) AS va, count(*) AS n
      |  FROM x GROUP BY 1, 2),
      |tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM embeddings),
      |g AS (
      |  SELECT pos,
      |    sum(mu * n) / (SELECT total FROM tot) AS gmu,
      |    sum(va * n) / (SELECT total FROM tot) AS gva
      |  FROM st GROUP BY pos),
      |gn AS (SELECT sqrt(sum(gmu * gmu)) AS gnorm FROM g),
      |per AS (
      |  SELECT label, any_value(st.n) AS n,
      |    sqrt(sum((mu - gmu) * (mu - gmu))) AS diff,
      |    sqrt(sum(mu * mu)) AS mnorm,
      |    sum(mu * gmu) AS mdotg,
      |    sum(abs(va - gva)) / 64 AS gap
      |  FROM st JOIN g USING (pos) GROUP BY label)
      |SELECT label, n,
      |  floor(diff * 1e6 + 0.5) / 1e6 AS centroid_shift,
      |  floor(CASE WHEN mnorm * gnorm = 0 THEN 0.0
      |             ELSE mdotg / (mnorm * gnorm) END * 1e6 + 0.5) / 1e6
      |    AS cos_to_global,
      |  floor(gap * 1e6 + 0.5) / 1e6 AS var_gap
      |FROM per, gn ORDER BY label""".stripMargin

  val embSliceDrift: QueryDef = QueryDef.sql(
    "emb_slice_drift", sliceDriftOracle) { (s, d) =>
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    val rows = Tables.embeddings(s, d)
      .select(col("label"), array_to_vector(
        col("embedding").cast("array<double>")).as("v"))
      .groupBy(col("label"))
      .agg(Summarizer.mean(col("v")).as("mu"),
        Summarizer.variance(col("v")).as("var"),
        count(lit(1)).as("n"))
      .select(col("label"), vector_to_array(col("mu")).as("mu"),
        vector_to_array(col("var")).as("var"), col("n"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray,
        r.getSeq[Double](2).toArray, r.getLong(3)))
    val total = rows.map(_._4).sum.toDouble
    val dim = rows.head._2.length
    val gmu = Array.tabulate(dim)(j => rows.map(r => r._2(j) * r._4).sum / total)
    val gnorm = math.sqrt(gmu.map(x => x * x).sum)
    import s.implicits._
    rows.sortBy(_._1).map { case (label, mu, va, n) =>
      val diff = math.sqrt(mu.zip(gmu).map { case (a, b) => (a - b) * (a - b) }.sum)
      val mnorm = math.sqrt(mu.map(x => x * x).sum)
      val cos = if (mnorm * gnorm == 0) 0.0
        else mu.zip(gmu).map { case (a, b) => a * b }.sum / (mnorm * gnorm)
      val gap = va.indices.map { j =>
        math.abs(va(j) - rows.map(r => r._3(j) * r._4).sum / total)
      }.sum / dim
      (label, n, math.floor(diff * 1e6 + 0.5) / 1e6,
        math.floor(cos * 1e6 + 0.5) / 1e6, math.floor(gap * 1e6 + 0.5) / 1e6)
    }.toSeq.toDF("label", "n", "centroid_shift", "cos_to_global", "var_gap")
      .orderBy(col("label"))
  }

  val all: Seq[QueryDef] = Seq(embPca, embCluster, embRandomProjection,
    embDimStats, embMatryoshka, embWhitening, embProcrustes, embHubness,
    embPowerIteration, embSliceDrift)
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.graft.{ColumnBridge, NearestCentroid}

/** K-Means — the reference engine's whole surface, re-expressed
  * Spark-first.
  *
  * Reference semantics (cited file:line):
  *  - assignment: nearest centroid by squared Euclidean distance,
  *    first-minimum (lowest cluster id) wins ties —
  *    /root/reference/src/MapReduceKMean/PointsMapper.java:63-75
  *  - update: new centroid = arithmetic mean of assigned points —
  *    /root/reference/src/MapReduceKMean/PointsReducer.java:21-36
  *  - loop: per-axis convergence tolerance 1e-3, max 20 iterations —
  *    /root/reference/src/KMeans.java:104-115,201-233
  *  - empty cluster keeps its previous centroid (reducer emits no
  *    row; driver's readClusterResults leaves the slot untouched) —
  *    /root/reference/src/KMeans.java:119-146
  *
  * Spark-first design: centroids are O(k) driver-side values (the
  * reference ships them in the job Configuration; we ship them as one
  * reference object of the codegen'd NearestCentroid kernel, so the
  * generated code is the same every iteration). Each iteration is one
  * map-side assignment (zero shuffle) plus one partial-aggregated
  * groupBy of k groups — the same shape that holds at 100 TB:
  * per-iteration cluster traffic is O(k · partitions), never O(rows).
  *
  * Points are 2-D, as in the reference: x = l_quantity,
  * y = l_extendedprice from lineitem. Deterministic init (so the
  * DuckDB oracle can reproduce it): the k first points ordered by
  * the unique (l_orderkey, l_linenumber) key.
  */
object KMeans {

  val K = 8

  /** lineitem → (rid-orderable keys, x, y). */
  def points(li: DataFrame): DataFrame =
    li.select(col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").as("x"), col("l_extendedprice").as("y"))

  /** Deterministic init: k first points by (l_orderkey, l_linenumber,
    * x, y) — the key pair alone is NOT unique in the synthetic data,
    * so the coordinates join the sort to make the order total (any
    * remaining ties are identical points and can't change the init).
    * collect() of k rows only — mirrors the reference distributing k
    * centroids via the Configuration (KMeans.java:52-99).
    */
  def initCentroids(pts: DataFrame, k: Int = K): Array[(Double, Double)] =
    pts.orderBy(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"))
      .limit(k)
      .select("x", "y").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))

  /** Nearest-centroid id: the NearestCentroid kernel's argmin, the
    * lowest cid on ties. No shuffle, no UDF.
    */
  def assignExpr(cs: Array[(Double, Double)], x: Column, y: Column): Column =
    nearest(cs, x, y, distance = false)

  /** Squared distance from (x,y) to its assigned (nearest) centroid. */
  def minDistExpr(cs: Array[(Double, Double)], x: Column, y: Column): Column =
    nearest(cs, x, y, distance = true)

  private def nearest(cs: Array[(Double, Double)], x: Column, y: Column,
      distance: Boolean): Column =
    ColumnBridge.column(NearestCentroid(
      ColumnBridge.expression(x), ColumnBridge.expression(y),
      cs.toIndexedSeq.flatMap { case (cx, cy) => Seq(cx, cy) }, distance))

  /** One Lloyd update: mean of assigned points per cluster (empty
    * clusters produce no row; caller decides stale-keep semantics).
    * Map-side partial aggregation → single k-group shuffle.
    *
    * The centroids reach the assignment as a reference object of the
    * NearestCentroid kernel, not as literals: literals are written
    * into the generated source, so each iteration used to compile a
    * new class (janino) that then ran in the bytecode interpreter.
    * With the kernel the plan's code is the same every iteration and
    * every job, so it hits Spark's codegen cache. On perfbench
    * kmeans_lloyd (250k points, k=8, 20 iterations, a 4-core VM) that
    * took codegen compiles per job 40 → 0, executor CPU 7.0 → 1.2 s,
    * the Lloyd loop 7.2 → 2.5 s and the median job 7.1 → 2.6 s. An
    * earlier attempt at plan reuse was 7× slower, but that came from a
    * higher-order transform() evaluated per row and a one-row
    * crossJoin breaking whole-stage codegen, not from keeping the
    * centroids out of the code.
    */
  def step(pts: DataFrame, cs: Array[(Double, Double)]): DataFrame =
    pts.withColumn("cid", assignExpr(cs, col("x"), col("y")))
      .groupBy(col("cid"))
      .agg(avg(col("x")).as("x"), avg(col("y")).as("y"), count(lit(1)).as("n"))

  /** n chained Lloyd iterations, dropping empty clusters (matches the
    * generated SQL oracle). Returns final centroids keyed by cid.
    * Caller should persist `pts` (each iteration is a full pass).
    * `stepFn` is the update: `step`, or `weightedStep` for weighted
    * Lloyd.
    */
  def iterate(pts: DataFrame, init: Array[(Double, Double)], iters: Int,
      stepFn: (DataFrame, Array[(Double, Double)]) => DataFrame = step): Map[Int, (Double, Double)] = {
    var centroids: Map[Int, (Double, Double)] = init.zipWithIndex.map { case (c, i) => i -> c }.toMap
    var i = 0
    while (i < iters) {
      val ordered = centroids.toSeq.sortBy(_._1)
      val cs = ordered.map(_._2).toArray
      val ids = ordered.map(_._1).toArray
      val updated = stepFn(pts, cs).select("cid", "x", "y").collect()
        .map(r => ids(r.getInt(0)) -> (r.getDouble(1), r.getDouble(2))).toMap
      centroids = updated
      i += 1
    }
    centroids
  }

  /** Full reference semantics: iterate until every centroid moves
    * < tol on both axes (KMeans.java:104-115), max 20 iterations;
    * empty clusters keep their previous centroid.
    */
  def lloyd(pts: DataFrame, init: Array[(Double, Double)],
      tol: Double = 1e-3, maxIter: Int = 20): (Array[(Double, Double)], Int, Boolean) =
    lloydLoop(_ => pts, init, tol, maxIter)

  /** The Lloyd loop over a per-iteration input: `batch(iter)` is the
    * relation iteration `iter` averages (all points, or a mini-batch).
    */
  private def lloydLoop(batch: Int => DataFrame, init: Array[(Double, Double)],
      tol: Double, maxIter: Int): (Array[(Double, Double)], Int, Boolean) = {
    var centroids = init.clone()
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val updated = step(batch(iter), centroids).select("cid", "x", "y").collect()
        .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val next = centroids.zipWithIndex.map { case (old, i) => updated.getOrElse(i, old) }
      converged = centroids.zip(next).forall { case ((ox, oy), (nx, ny)) =>
        math.abs(ox - nx) < tol && math.abs(oy - ny) < tol
      }
      centroids = next
      iter += 1
    }
    (centroids, iter, converged)
  }

  /** Mini-batch k-means (after Sculley, WWW 2010 — simplified to a
    * plain batch-mean update): every Lloyd update runs on a
    * DETERMINISTIC rotating hash-sample of the points (1/frac per
    * iteration, keyed by md5 slices of the coordinates), so each iteration
    * scans a fraction of the corpus instead of all of it — the
    * trade that keeps k-means affordable when one full pass is
    * hours. Hash-based sampling means every run and any partitioning
    * draws the same batches (reproducible, unlike rand()). Stale-keep
    * empty clusters and per-axis tol as the reference.
    */
  def minibatchLloyd(pts: DataFrame, init: Array[(Double, Double)],
      tol: Double = 1e-3, maxIter: Int = 20, frac: Int = 5): (Array[(Double, Double)], Int, Boolean) = {
    // md5-derived rotating batches (not xxhash64) so the DuckDB
    // oracle replays the identical samples — hashed ONCE per row:
    // two md5 strings carry twenty 12-bit slices, folded at
    // materialization into a single 20-BIT MEMBERSHIP MASK long
    // (bit i set ⇔ row in iteration i's batch), so each of the 20
    // iteration filters is one cached bitwise test instead of a
    // per-row string hash or substring+conv.
    //
    // The slices come out via FOUR 60-bit conv parses (15 hex chars
    // each) + codegen'd shift/and, not twenty per-slice
    // substring+conv chains — the r7 spelling spent ~5 s at sf0.1
    // in string parsing alone (20 conv calls/row). The extracted
    // BITS are identical, so the oracle's per-slice
    // '0x'||substr(md5,3s+1,3) replay is untouched.
    val xi = round(col("x") * 100).cast("long")
    val yi = round(col("y") * 100).cast("long")
    def h(m: Int) = md5(concat_ws(",", xi, yi, lit(m)))
    val halves = pts.select(col("x"), col("y"),
      conv(substring(h(0), 1, 15), 16, 10).cast("long").as("h0"),
      conv(substring(h(0), 16, 15), 16, 10).cast("long").as("h1"),
      conv(substring(h(1), 1, 15), 16, 10).cast("long").as("h2"),
      conv(substring(h(1), 16, 15), 16, 10).cast("long").as("h3"))
    val mask = (0 until maxIter).map { i =>
      // iteration i reads slice s = i%10 of md5 #(i/10); slice s
      // lives in half h{2*(i/10) + s/5} at bit offset 48 - 12*(s%5)
      val half = col(s"h${2 * (i / 10) + (i % 10) / 5}")
      val sh = 48 - 12 * ((i % 10) % 5)
      when(pmod(shiftright(half, sh).bitwiseAND(lit(4095L)), lit(frac)) === 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    graft.Ckpt.scoped { sc =>
      val hashed = sc.persist(halves.select(col("x"), col("y"), mask.as("bmask")))
      lloydLoop(iter => hashed.filter(col("bmask").bitwiseAND(lit(1L << iter)) =!= 0L),
        init, tol, maxIter)
    }
  }

  // ---- DuckDB oracle generation --------------------------------------

  /** CTE chain for n Lloyd iterations — the same algorithm the Spark
    * side runs, emitted as SQL so DuckDB can replay it exactly.
    */
  private def lloydCtes(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH pts AS (
         |  SELECT l_quantity AS x, l_extendedprice AS y,
         |         row_number() OVER (ORDER BY l_orderkey, l_linenumber,
         |                            l_quantity, l_extendedprice) - 1 AS rid
         |  FROM lineitem),
         |c0 AS (SELECT rid AS cid, x, y FROM pts WHERE rid < $k)""".stripMargin)
    for (i <- 1 to iters) {
      sb.append(
        s""",
           |a$i AS (
           |  SELECT p.rid, p.x, p.y, c.cid,
           |         (p.x-c.x)*(p.x-c.x) + (p.y-c.y)*(p.y-c.y) AS dist,
           |         row_number() OVER (PARTITION BY p.rid
           |           ORDER BY (p.x-c.x)*(p.x-c.x) + (p.y-c.y)*(p.y-c.y), c.cid) AS rn
           |  FROM pts p CROSS JOIN c${i - 1} c),
           |s$i AS (SELECT rid, x, y, cid, dist FROM a$i WHERE rn = 1),
           |c$i AS (SELECT cid, avg(x) AS x, avg(y) AS y FROM s$i GROUP BY cid)""".stripMargin)
    }
    sb.toString
  }

  /** CTE chain replaying the FULL reference loop in SQL: stale-keep
    * empty clusters, per-axis tol, maxIter cap, and per-iteration
    * convergence tracking so the final select can pick the centroids
    * of the first converged iteration (the reference stops there —
    * a plain n-iteration chain would keep drifting past it).
    *
    * Every per-iteration relation is MATERIALIZED: c_i is referenced
    * three times (next assignment, stale branch, convergence check),
    * so inlined CTEs would expand 3^iters scans.
    *
    * Parity caveat (accepted): the tol comparison is an unrounded
    * threshold over engine-computed means, so a centroid axis whose
    * per-iteration movement lands within FP-summation noise (~1e-13)
    * of 1e-3 could flip n_iters between engines. Verified stable at
    * sf0.001/0.01/0.1; movements near convergence are continuous-
    * valued, so a boundary landing is measure-zero in practice.
    */
  private def lloydFullCtes(k: Int, maxIter: Int, tol: Double): String =
    s"""WITH pts AS MATERIALIZED (
       |  SELECT l_quantity AS x, l_extendedprice AS y,
       |         row_number() OVER (ORDER BY l_orderkey, l_linenumber,
       |                            l_quantity, l_extendedprice) - 1 AS rid
       |  FROM lineitem)""".stripMargin +
      lloydLoopCtes(k, maxIter, tol, "")

  /** The per-k body of lloydFullCtes (everything after the shared
    * `pts` CTE), name-prefixed so several k's can share one query —
    * the kmeans_elbow oracle chains four of these.
    */
  private def lloydLoopCtes(k: Int, maxIter: Int, tol: Double, q: String): String = {
    val sb = new StringBuilder
    sb.append(
      s""",
         |${q}c0 AS MATERIALIZED (SELECT rid AS cid, x, y FROM pts WHERE rid < $k)""".stripMargin)
    for (i <- 1 to maxIter) {
      val p = i - 1
      sb.append(
        s""",
           |${q}a$i AS (
           |  SELECT p.rid, p.x, p.y, c.cid,
           |         row_number() OVER (PARTITION BY p.rid
           |           ORDER BY (p.x-c.x)*(p.x-c.x) + (p.y-c.y)*(p.y-c.y), c.cid) AS rn
           |  FROM pts p CROSS JOIN ${q}c$p c),
           |${q}s$i AS MATERIALIZED (SELECT rid, x, y, cid FROM ${q}a$i WHERE rn = 1),
           |${q}m$i AS (SELECT cid, avg(x) AS x, avg(y) AS y FROM ${q}s$i GROUP BY cid),
           |${q}c$i AS MATERIALIZED (SELECT cid, x, y FROM ${q}m$i
           |       UNION ALL
           |       SELECT cid, x, y FROM ${q}c$p WHERE cid NOT IN (SELECT cid FROM ${q}m$i)),
           |${q}v$i AS (SELECT bool_and(abs(n.x - o.x) < $tol AND abs(n.y - o.y) < $tol) AS conv
           |        FROM ${q}c$i n JOIN ${q}c$p o USING (cid))""".stripMargin)
    }
    val allc = (1 to maxIter)
      .map(i => s"SELECT $i AS iter, cid, x, y FROM ${q}c$i").mkString(" UNION ALL ")
    val convs = (1 to maxIter)
      .map(i => s"SELECT $i AS iter, conv FROM ${q}v$i").mkString(" UNION ALL ")
    sb.append(
      s""",
         |${q}allc AS ($allc),
         |${q}convs AS ($convs),
         |${q}nit AS (SELECT coalesce(min(iter), $maxIter) AS n_iters,
         |               coalesce(min(iter), ${maxIter + 1}) <= $maxIter AS converged
         |        FROM ${q}convs WHERE conv)""".stripMargin)
    sb.toString
  }

  /** CTE chain for the n-dimensional Lloyd on the embeddings table —
    * the list-typed mirror of lloydFullCtes (fixed iterations, stale
    * empty clusters): element-wise centroid means via a position
    * unnest + per-(cid, pos) avg, reassembled with an ordered list().
    */
  private def ndLloydCtes(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |init AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $k),
         |c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c FROM init)""".stripMargin)
    for (i <- 1 to iters) {
      val p = i - 1
      sb.append(
        s""",
           |a$i AS (SELECT e.vec_id, e.v, c.cid,
           |         row_number() OVER (PARTITION BY e.vec_id
           |           ORDER BY list_dot_product(e.v, e.v) - 2*list_dot_product(e.v, c.c)
           |                    + list_dot_product(c.c, c.c), c.cid) AS rn
           |       FROM e CROSS JOIN c$p c),
           |s$i AS MATERIALIZED (SELECT vec_id, v, cid FROM a$i WHERE rn = 1),
           |n$i AS (SELECT cid, count(*) AS n FROM s$i GROUP BY cid),
           |x$i AS (SELECT cid, pos, avg(v[pos]) AS val
           |       FROM s$i, UNNEST(generate_series(1, len(v))) AS t(pos)
           |       GROUP BY cid, pos),
           |m$i AS (SELECT cid, list(val ORDER BY pos) AS c FROM x$i GROUP BY cid),
           |c$i AS MATERIALIZED (SELECT cid, c FROM m$i
           |       UNION ALL
           |       SELECT cid, c FROM c$p WHERE cid NOT IN (SELECT cid FROM m$i))""".stripMargin)
    }
    sb.toString
  }

  // ---- QueryDefs -----------------------------------------------------

  /** Cluster sizes after the first assignment. */
  val kmeansAssign: QueryDef = QueryDef.sql(
    "kmeans_assign",
    lloydCtes(K, 1) +
      "\nSELECT cid, count(*) AS n FROM s1 GROUP BY cid ORDER BY cid") { (s, d) =>
    val pts = points(Tables.lineitem(s, d))
    val cs = initCentroids(pts)
    pts.withColumn("cid", assignExpr(cs, col("x"), col("y")))
      .groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .select(col("cid").cast("long"), col("n"))
      .orderBy(col("cid"))
  }

  /** Centroids after one Lloyd update. */
  val kmeansStep: QueryDef = QueryDef.sql(
    "kmeans_step",
    lloydCtes(K, 1) +
      "\nSELECT cid, round(x, 3) AS cx, round(y, 3) AS cy FROM c1 ORDER BY cid") { (s, d) =>
    val pts = points(Tables.lineitem(s, d))
    val cs = initCentroids(pts)
    step(pts, cs)
      .select(col("cid").cast("long"), round(col("x"), 3).as("cx"), round(col("y"), 3).as("cy"))
      .orderBy(col("cid"))
  }

  /** Centroids after three chained Lloyd iterations — oracle SQL is
    * generated by the same Scala code for any iteration count.
    */
  val kmeansIter3: QueryDef = QueryDef.sql(
    "kmeans_iter3",
    lloydCtes(K, 3) +
      "\nSELECT cid, round(x, 3) AS cx, round(y, 3) AS cy FROM c3 ORDER BY cid") { (s, d) =>
    val all = points(Tables.lineitem(s, d))
    val init = initCentroids(all)
    val fin = graft.Ckpt.scoped(sc => iterate(sc.persist(all.select("x", "y")), init, 3))
    import s.implicits._
    fin.toSeq.sortBy(_._1)
      .map { case (cid, (x, y)) => (cid.toLong, x, y) }
      .toDF("cid", "cx", "cy")
      .select(col("cid"), round(col("cx"), 3).as("cx"), round(col("cy"), 3).as("cy"))
  }

  /** WSSSE (total within-cluster squared error) of the first
    * assignment, in millions (FP-stable rounding, SURVEY §5).
    */
  val kmeansCost: QueryDef = QueryDef.sql(
    "kmeans_cost",
    lloydCtes(K, 1) +
      "\nSELECT round(sum(dist) / 1000000, 3) AS cost_m FROM s1") { (s, d) =>
    val pts = points(Tables.lineitem(s, d))
    val cs = initCentroids(pts)
    pts.select(minDistExpr(cs, col("x"), col("y")).as("dist"))
      .agg(round(sum(col("dist")) / 1000000, 3).as("cost_m"))
  }

  /** Full Lloyd to convergence — the reference's exact loop
    * (tol 1e-3 per axis, maxIter 20, stale empty clusters).
    */
  val kmeansLloyd: QueryDef = QueryDef.sql(
    "kmeans_lloyd",
    lloydFullCtes(K, maxIter = 20, tol = 1e-3) +
      """
        |SELECT a.cid, round(a.x, 3) AS cx, round(a.y, 3) AS cy,
        |       nit.n_iters, nit.converged
        |FROM allc a JOIN nit ON a.iter = nit.n_iters ORDER BY a.cid""".stripMargin) { (s, d) =>
    val all = points(Tables.lineitem(s, d))
    val init = initCentroids(all)
    // cache only what the loop reads: 16 bytes/row
    val (cs, iters, converged) =
      graft.Ckpt.scoped(sc => lloyd(sc.persist(all.select("x", "y")), init))
    import s.implicits._
    cs.zipWithIndex.map { case ((x, y), i) =>
      (i.toLong, math.round(x * 1000) / 1000.0, math.round(y * 1000) / 1000.0,
        iters.toLong, converged)
    }.toSeq.toDF("cid", "cx", "cy", "n_iters", "converged")
  }

  /** MLlib KMeans (k-means|| init) — the production-scale path for
    * high-dimensional / huge-k cases.
    */
  val kmeansMllib: QueryDef = QueryDef.rowsOnly("kmeans_mllib") { (s, d) =>
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.ml.clustering.{KMeans => MlKMeans}
    val pts = points(Tables.lineitem(s, d))
    graft.Ckpt.scoped { sc =>
      val features = sc.persist(pts
        .select(array_to_vector(array(col("x"), col("y"))).as("features")))
      // materialize the cache BEFORE fit so MLlib's storageLevel check
      // sees populated blocks and every k-means|| pass reads memory.
      // (Bench IO note: inputMetrics counts cached-block reads too, so
      // this query reports ~8 passes x corpus as "input" — that's the
      // cache being read, not the parquet being rescanned.)
      features.count()
      val fitted = new MlKMeans().setK(K).setSeed(42L).setMaxIter(20)
        .setTol(1e-3) // the reference's convergence tolerance (KMeans.java:199)
        .setFeaturesCol("features").fit(features)
      val sizes = fitted.transform(features)
        .groupBy(col("prediction")).agg(count(lit(1)).as("n"))
        .select(col("prediction").cast("long").as("cid"), col("n")).orderBy(col("cid"))
      sc.keep(sizes)
    }
  }

  // ---- n-dimensional Lloyd (DataFrame-native) ------------------------

  /** Nearest-centroid id over array<double> points: ‖v‖² − 2·v·c + ‖c‖²
    * per centroid (native graft_dot against array literals), struct
    * min for the lowest-cid tie-break. Map-side only, like the 2-D
    * path.
    */
  def ndAssignExpr(cs: Array[Array[Double]], v: Column): Column = {
    val vv = Similarity.dot(v, v)
    val candidates = cs.zipWithIndex.map { case (c, i) =>
      val cl = array(c.map(lit): _*)
      val dist = vv - lit(2.0) * Similarity.dot(v, cl) + lit(c.map(x => x * x).sum)
      struct(dist.as("dist"), lit(i).as("cid"))
    }
    array_min(array(candidates: _*)).getField("cid")
  }

  /** One n-D Lloyd update: per-cluster mean vector via Summarizer
    * (a true partial aggregator — one k-group shuffle, O(k·dim) per
    * partition on the wire, same shape as the 2-D step).
    */
  def ndStep(pts: DataFrame, cs: Array[Array[Double]]): Array[(Int, Array[Double], Long)] = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    pts.withColumn("cid", ndAssignExpr(cs, col("v")))
      .groupBy(col("cid"))
      .agg(Summarizer.mean(array_to_vector(col("v"))).as("c"), count(lit(1)).as("n"))
      .select(col("cid"), vector_to_array(col("c")).as("c"), col("n"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray, r.getLong(2)))
  }

  /** n-D Lloyd over the embedding corpus: deterministic init (first k
    * vectors by vec_id), fixed iterations, stale empty clusters —
    * the reference's semantics lifted to any dimension.
    */
  def ndLloyd(pts: DataFrame, init: Array[Array[Double]], iters: Int): (Array[Array[Double]], Array[Long]) = {
    var cs = init.map(_.clone())
    val sizes = Array.fill(init.length)(0L)
    var i = 0
    while (i < iters) {
      java.util.Arrays.fill(sizes, 0L)
      val updated = ndStep(pts, cs)
      updated.foreach { case (cid, c, n) => cs(cid) = c; sizes(cid) = n }
      i += 1
    }
    (cs, sizes)
  }

  /** 64-dim K-Means on the embeddings table (3 iterations). */
  val kmeansNd: QueryDef = QueryDef.sql(
    "kmeans_nd",
    ndLloydCtes(K, 3) +
      """
        |SELECT c3.cid, coalesce(n3.n, 0) AS n,
        |  round(c3.c[1], 4) AS c0, round(c3.c[2], 4) AS c1
        |FROM c3 LEFT JOIN n3 USING (cid) ORDER BY cid""".stripMargin) { (s, d) =>
    graft.Ckpt.scoped { sc =>
      val pts = sc.persist(Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
      val init = pts.orderBy(col("vec_id")).limit(K)
        .select("v").collect().map(_.getSeq[Double](0).toArray)
      val (cs, sizes) = ndLloyd(pts, init, iters = 3)
      import s.implicits._
      cs.zipWithIndex.map { case (c, i) => (i.toLong, sizes(i), c(0), c(1)) }
        .toSeq.toDF("cid", "n", "c0", "c1")
        // HALF_UP like the oracle's round() (math.round floors halves
        // toward +inf, which disagrees on negative embedding means)
        .select(col("cid"), col("n"),
          round(col("c0"), 4).as("c0"), round(col("c1"), 4).as("c1"))
    }
  }

  /** Generated DuckDB replay of the mini-batch loop: per-iteration
    * md5 batch filter, batch-mean update, stale-keep, per-axis tol,
    * and the stopping-iteration pick — lloydFullCtes with a sampled
    * assignment relation.
    */
  private def minibatchOracle(k: Int, maxIter: Int, tol: Double, frac: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH pts AS MATERIALIZED (
         |  SELECT l_quantity AS x, l_extendedprice AS y,
         |    CAST(round(l_quantity * 100) AS BIGINT) AS xi,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS yi,
         |    row_number() OVER (ORDER BY l_orderkey, l_linenumber,
         |                       l_quantity, l_extendedprice) - 1 AS rid
         |  FROM lineitem),
         |c0 AS MATERIALIZED (SELECT rid AS cid, x, y FROM pts WHERE rid < $k)""".stripMargin)
    for (i <- 1 to maxIter) {
      val p = i - 1
      val it = i - 1 // Scala iter counter starts at 0
      sb.append(
        s""",
           |b$i AS (SELECT * FROM pts
           |  WHERE CAST(concat('0x', substring(md5(concat_ws(',', xi, yi, '${it / 10}')), ${3 * (it % 10) + 1}, 3)) AS BIGINT)
           |        % $frac = 0),
           |a$i AS (
           |  SELECT p.rid, p.x, p.y, c.cid,
           |         row_number() OVER (PARTITION BY p.rid
           |           ORDER BY (p.x-c.x)*(p.x-c.x) + (p.y-c.y)*(p.y-c.y), c.cid) AS rn
           |  FROM b$i p CROSS JOIN c$p c),
           |s$i AS MATERIALIZED (SELECT rid, x, y, cid FROM a$i WHERE rn = 1),
           |m$i AS (SELECT cid, avg(x) AS x, avg(y) AS y FROM s$i GROUP BY cid),
           |c$i AS MATERIALIZED (SELECT cid, x, y FROM m$i
           |       UNION ALL
           |       SELECT cid, x, y FROM c$p WHERE cid NOT IN (SELECT cid FROM m$i)),
           |v$i AS (SELECT bool_and(abs(n.x - o.x) < $tol AND abs(n.y - o.y) < $tol) AS conv
           |        FROM c$i n JOIN c$p o USING (cid))""".stripMargin)
    }
    val allc = (1 to maxIter)
      .map(i => s"SELECT $i AS iter, cid, x, y FROM c$i").mkString(" UNION ALL ")
    val convs = (1 to maxIter)
      .map(i => s"SELECT $i AS iter, conv FROM v$i").mkString(" UNION ALL ")
    sb.append(
      s""",
         |allc AS ($allc),
         |convs AS ($convs),
         |nit AS (SELECT coalesce(min(iter), $maxIter) AS n_iters,
         |               coalesce(min(iter), ${maxIter + 1}) <= $maxIter AS converged
         |        FROM convs WHERE conv)
         |SELECT a.cid,
         |  floor(a.x * 1000 + 0.5) / 1000 AS cx,
         |  floor(a.y * 1000 + 0.5) / 1000 AS cy,
         |  CAST(nit.n_iters AS BIGINT) AS n_iters, nit.converged
         |FROM allc a JOIN nit ON a.iter = nit.n_iters ORDER BY a.cid""".stripMargin)
    sb.toString
  }

  /** Mini-batch k-means over the same points/init as kmeans_lloyd —
    * the 100 TB path for the reference's own algorithm (each update
    * scans 20% of the corpus). Oracle replays the md5 rotating
    * batches as a sampled lloydFullCtes chain; WSSSE-vs-full-Lloyd
    * and determinism additionally pinned in ScalaTest.
    */
  val kmeansMinibatch: QueryDef = QueryDef.sql(
    "kmeans_minibatch", minibatchOracle(K, 20, 1e-3, 5)) { (s, d) =>
    val allPts = points(Tables.lineitem(s, d))
    val init = initCentroids(allPts)
    // no outer persist: minibatchLloyd scans pts exactly once (to
    // build its own cached mask frame) — a second cache here only
    // paid materialization for a single read
    val pts = allPts.select("x", "y")
    val (cs, iters, converged) = minibatchLloyd(pts, init)
    import s.implicits._
    cs.zipWithIndex.map { case ((x, y), i) =>
      (i.toLong, math.round(x * 1000) / 1000.0, math.round(y * 1000) / 1000.0,
        iters.toLong, converged)
    }.toSeq.toDF("cid", "cx", "cy", "n_iters", "converged")
  }

  /** Hierarchical divisive clustering (MLlib BisectingKMeans): the
    * tree alternative to flat Lloyd — each level splits one cluster
    * with a local k=2 fit over only that cluster's points. The TREE
    * fits on a deterministic 10% xxhash64 sample (same sampling
    * contract as kmeans_minibatch — the split hierarchy needs cluster
    * SHAPES, not every point) and the FULL corpus is then assigned in
    * one map-side transform against the broadcast centroid tree: fit
    * cost drops 5× while the output still covers every row. Rows-only
    * (tree splits are seed/FP-path dependent); size conservation and
    * cluster count pinned in ScalaTest.
    */
  val kmeansBisecting: QueryDef = QueryDef.rowsOnly("kmeans_bisecting") { (s, d) =>
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.ml.clustering.BisectingKMeans
    val pts = points(Tables.lineitem(s, d))
    graft.Ckpt.scoped { sc =>
      val features = sc.persist(pts
        .select(array_to_vector(array(col("x"), col("y"))).as("features"),
          pmod(xxhash64(col("x"), col("y")), lit(10)).as("h")))
      val sample = sc.persist(features.filter(col("h") === 0).select("features"))
      sample.count() // materialize before fit (see kmeansMllib note)
      val fitted = new BisectingKMeans().setK(K).setSeed(42L).setMaxIter(10)
        .setFeaturesCol("features").fit(sample)
      val sizes = fitted.transform(features.select("features"))
        .groupBy(col("prediction")).agg(count(lit(1)).as("n"))
        .select(col("prediction").cast("long").as("cid"), col("n"))
        .orderBy(col("cid"))
      sc.keep(sizes)
    }
  }

  /** Deterministic k-means++ initialization (Arthur & Vassilvitskii
    * 2007): first centroid = global min of a multiplicative-hash
    * priority, each next centroid drawn D²-proportionally via
    * Ohlsson's order-sampling trick (priority = u/D², take the
    * minimum — the same deterministic-uniform machinery as
    * q_weighted_sample, so every run and any partitioning picks the
    * SAME centroids, unlike rand()). Each round is one scan + a
    * 1-row TakeOrdered: k scans total — the classic k-means++ cost,
    * which is exactly what MLlib's k-means|| (kmeans_mllib)
    * oversamples to avoid at cluster scale; this operator is the
    * exact-semantics reference point.
    */
  def ppInit(pts: DataFrame, k: Int): Array[(Double, Double)] = {
    // Uniforms in (0,1] from md5 over the centi-unit INTEGER
    // coordinates (double→string formatting is engine-specific, so
    // the DuckDB oracle replays identical hex). ONE md5 per row
    // yields FOUR 32-bit priorities (8-hex slices) — the per-pick
    // hashing that made each of the k corpus scans pay a string md5
    // is gone; all k priorities materialize once in a persisted
    // projection and each pick is arithmetic over it. Ties from the
    // 2^-32 granularity break on (x, y) deterministically.
    def uExpr(j: Int): Column = {
      val xi = round(col("x") * 100).cast("long")
      val yi = round(col("y") * 100).cast("long")
      val h = md5(concat_ws(",", xi, yi, lit(j / 4)))
      (conv(substring(h, 8 * (j % 4) + 1, 8), 16, 10)
        .cast("long") + 1L).cast("double") / lit(4294967296.0) // 2^32
    }
    graft.Ckpt.scoped { sc =>
      val withU = sc.persist(pts.select(
        col("x") +: col("y") +: (0 until k).map(j => uExpr(j).as(s"u$j")): _*))
      val first = withU.orderBy(col("u0").asc, col("x"), col("y")).limit(1)
        .select("x", "y").collect()(0)
      val chosen = scala.collection.mutable.ArrayBuffer(
        (first.getDouble(0), first.getDouble(1)))
      var j = 1
      while (j < k) {
        val d2 = minDistExpr(chosen.toArray, col("x"), col("y"))
        val next = withU
          .filter(d2 > 0) // never re-pick a chosen point
          .orderBy((col(s"u$j") / d2).asc, col("x"), col("y")).limit(1)
          .select("x", "y").collect()(0)
        chosen += ((next.getDouble(0), next.getDouble(1)))
        j += 1
      }
      chosen.toArray
    }
  }

  /** DuckDB replay of ppInit + 3 Lloyd iterations: the md5-derived
    * priorities are exact 52-bit rationals, D² is least() over the
    * already-picked scalar subqueries (exact data values), so every
    * u/D² ordering decision is engine-identical; the Lloyd chain is
    * the kmeans_iter3 CTE body seeded from the picks.
    */
  private def ppOracle(k: Int, iters: Int): String = {
    def u(j: Int): String =
      s"(CAST(concat('0x', substring(md5(concat_ws(',', xi, yi, '${j / 4}')), ${8 * (j % 4) + 1}, 8)) AS BIGINT) + 1) / 4294967296.0"
    val picks = (1 until k).map { j =>
      val dists = (0 until j).map(i =>
        s"(x - (SELECT x FROM p$i)) * (x - (SELECT x FROM p$i)) + (y - (SELECT y FROM p$i)) * (y - (SELECT y FROM p$i))")
        .mkString(",\n        ")
      val d2 = if (j == 1) dists else s"least($dists)"
      s"""p$j AS MATERIALIZED (
         |  SELECT x, y FROM (
         |    SELECT x, y, ${u(j)} AS uu, $d2 AS d2 FROM pts)
         |  WHERE d2 > 0 ORDER BY uu / d2, x, y LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val c0 = (0 until k).map(i => s"SELECT $i AS cid, x, y FROM p$i")
      .mkString(" UNION ALL ")
    val lloyd = (1 to iters).map { i =>
      val p = i - 1
      s"""a$i AS (
         |  SELECT p.rid, p.x, p.y, c.cid,
         |         row_number() OVER (PARTITION BY p.rid
         |           ORDER BY (p.x-c.x)*(p.x-c.x) + (p.y-c.y)*(p.y-c.y), c.cid) AS rn
         |  FROM pts p CROSS JOIN c$p c),
         |s$i AS (SELECT rid, x, y, cid FROM a$i WHERE rn = 1),
         |c$i AS MATERIALIZED (SELECT cid, avg(x) AS x, avg(y) AS y FROM s$i GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    s"""WITH pts AS MATERIALIZED (
       |  SELECT l_quantity AS x, l_extendedprice AS y,
       |    CAST(round(l_quantity * 100) AS BIGINT) AS xi,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS yi,
       |    row_number() OVER (ORDER BY l_orderkey, l_linenumber,
       |                       l_quantity, l_extendedprice) - 1 AS rid
       |  FROM lineitem),
       |p0 AS MATERIALIZED (
       |  SELECT x, y FROM pts ORDER BY ${u(0)}, x, y LIMIT 1),
       |$picks,
       |c0 AS MATERIALIZED ($c0),
       |$lloyd
       |SELECT CAST(cid AS BIGINT) AS cid,
       |  floor(x * 10000 + 0.5) / 10000 AS x,
       |  floor(y * 10000 + 0.5) / 10000 AS y
       |FROM c$iters ORDER BY cid""".stripMargin
  }

  /** k-means++ init + 3 Lloyd iterations (the kmeans_iter3 shape on
    * the better init). Oracle replays the md5 D² draws and the Lloyd
    * chain; determinism + spread additionally pinned in ScalaTest.
    */
  val kmeansPp: QueryDef = QueryDef.sql(
    "kmeans_pp", ppOracle(K, 3)) { (s, d) =>
    val allPts = points(Tables.lineitem(s, d))
    graft.Ckpt.scoped { sc =>
      val pts = sc.persist(allPts.select("x", "y"))
      val init = ppInit(pts, K)
      val fin = iterate(pts, init, 3)
      import s.implicits._
      fin.toSeq.sortBy(_._1)
        .map { case (cid, (x, y)) =>
          (cid.toLong, math.floor(x * 10000 + 0.5) / 10000,
            math.floor(y * 10000 + 0.5) / 10000) }
        .toDF("cid", "x", "y")
    }
  }

  /** Elbow sweep — the "choose k" workflow: reference-semantics
    * Lloyd at k ∈ {2, 4, 8, 16} from the deterministic line init,
    * reporting iterations, convergence, and final within-cluster
    * cost per k. Iterations cap at 8 (not the reference's 20): an
    * elbow compares costs ACROSS k, and the cost ordering is stable
    * long before per-axis convergence.
    *
    * FUSED SWEEP: the four k's share every corpus pass instead of
    * running 4 independent Lloyd loops (up to 80 passes). Each
    * iteration is ONE scan evaluating all still-active k's
    * assignments (their 30 centroid structs are one codegen'd
    * expression set) and ONE flat aggregate of 3 conditional columns
    * per (k, cid) — the kmeans_fuzzy many-column trick — so the whole
    * sweep costs max-iterations scans, not Σ per-k iterations. Each
    * k's update trajectory only reads its own centroids, so per-k
    * centroids / iteration counts / convergence flags are IDENTICAL
    * to independent runs (parity pinned in ScalaTest); a k that
    * converges drops out of the scan while the others continue. The
    * 4 final costs fuse into one last scan the same way.
    *
    * Cost is reported in millions, from an EXACT integer sum: each
    * point's min squared distance quantizes to centi-units
    * (floor(d·100) as int64) before summing, so the corpus-sized sum
    * is partition- and engine-identical — a raw float sum at this
    * magnitude would drift past any useful rounding. Oracle = four
    * name-prefixed lloydFullCtes chains over one shared pts CTE,
    * replaying init, per-axis tol, stale-keep, the stopping
    * iteration, and the quantized cost per k.
    */
  val kmeansElbow: QueryDef = QueryDef.sql(
    "kmeans_elbow", {
      val ks = Seq(2, 4, 8, 16)
      val chains = ks.map(k => lloydLoopCtes(k, maxIter = 8, tol = 1e-3, q = s"k${k}_"))
      val perK = ks.map { k =>
        val q = s"k${k}_"
        s"""SELECT CAST($k AS BIGINT) AS k,
           |  CAST(n.n_iters AS BIGINT) AS n_iters, n.converged,
           |  (SELECT floor(CAST(sum(im) AS DOUBLE) / 100 / 1000000 * 1000 + 0.5) / 1000
           |   FROM (SELECT min(CAST(floor(((p.x-c.x)*(p.x-c.x) + (p.y-c.y)*(p.y-c.y)) * 100) AS BIGINT)) AS im
           |         FROM pts p CROSS JOIN (SELECT cid, x, y FROM ${q}allc a
           |                                JOIN ${q}nit t ON a.iter = t.n_iters) c
           |         GROUP BY p.rid)) AS cost_m
           |FROM ${q}nit n""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH pts AS MATERIALIZED (
         |  SELECT l_quantity AS x, l_extendedprice AS y,
         |         row_number() OVER (ORDER BY l_orderkey, l_linenumber,
         |                            l_quantity, l_extendedprice) - 1 AS rid
         |  FROM lineitem)""".stripMargin +
        chains.mkString("") +
        s"\n$perK\nORDER BY k"
    }) { (s, d) =>
    val allPts = points(Tables.lineitem(s, d))
    graft.Ckpt.scoped { sc =>
      val pts = sc.persist(allPts.select("x", "y"))
      val ks = Seq(2, 4, 8, 16)
      // the line init has the PREFIX property — init(k) is the first
      // k points of one fixed ordering — so all four inits come from
      // ONE TakeOrdered pass instead of four
      val first = initCentroids(allPts, ks.max)
      val results = fusedLloydSweep(pts, ks.map(k => k -> first.take(k)).toMap,
        tol = 1e-3, maxIter = 8)
      // all 4 final quantized costs in ONE scan, summed as exact int64
      val costAggs = ks.map { k =>
        sum(floor(minDistExpr(results(k)._1, col("x"), col("y")) * 100)
          .cast("long")).as(s"cost_$k")
      }
      val crow = pts.agg(costAggs.head, costAggs.tail: _*).head()
      val rows = ks.map { k =>
        val (_, iters, converged) = results(k)
        (k.toLong, iters.toLong, converged,
          math.floor(crow.getAs[Long](s"cost_$k") / 100.0 / 1000000 * 1000 + 0.5) / 1000)
      }
      import s.implicits._
      rows.toDF("k", "n_iters", "converged", "cost_m")
    }
  }

  /** Lloyd for SEVERAL k at once over one stream of scans: per
    * iteration, one projection computes each active k's assignment
    * (one NearestCentroid kernel per k) and one flat aggregate computes
    * Σx / Σy / n per (k, cid) as conditional columns — all
    * partial-aggregable, so the shuffle is a single 1-row exchange
    * regardless of corpus size. Per-k semantics are exactly
    * `lloyd`'s: mean update, stale-keep empty clusters, per-axis
    * tol, per-k maxIter. Returns (centroids, iterations, converged)
    * per k.
    */
  def fusedLloydSweep(pts: DataFrame,
      inits: Map[Int, Array[(Double, Double)]],
      tol: Double, maxIter: Int): Map[Int, (Array[(Double, Double)], Int, Boolean)] = {
    val ks = inits.keys.toSeq.sorted
    val cents = scala.collection.mutable.Map(ks.map(k => k -> inits(k).clone()): _*)
    val iters = scala.collection.mutable.Map(ks.map(_ -> 0): _*)
    val conv = scala.collection.mutable.Map(ks.map(_ -> false): _*)
    var round = 0
    while (round < maxIter && !ks.forall(conv)) {
      val active = ks.filterNot(conv)
      // one pass: per-row assignment per active k (computed once
      // each), then ONE fine-grained group aggregate over the
      // assignment TUPLE — ≤ Πk groups (1024 for {2,4,8,16}), 3
      // accumulators per row instead of 3·Σk conditional columns;
      // per-k moments marginalize on the driver over the (sorted,
      // so FP-deterministic) group rows.
      val withCids = pts.select(
        col("x") +: col("y") +:
          active.map(k => assignExpr(cents(k), col("x"), col("y")).as(s"cid_$k")): _*)
      val groups = withCids
        .groupBy(active.map(k => col(s"cid_$k")): _*)
        .agg(sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          count(lit(1)).as("n"))
        .collect()
        .map { r =>
          (active.indices.map(r.getInt).toArray,
            r.getAs[Double]("sx"), r.getAs[Double]("sy"), r.getAs[Long]("n"))
        }
        .sortBy(_._1.toSeq.mkString(","))
      active.zipWithIndex.foreach { case (k, ki) =>
        val cs = cents(k)
        val sx = Array.fill(cs.length)(0.0)
        val sy = Array.fill(cs.length)(0.0)
        val nn = Array.fill(cs.length)(0L)
        groups.foreach { case (cids, gx, gy, gn) =>
          val c = cids(ki)
          sx(c) += gx; sy(c) += gy; nn(c) += gn
        }
        val next = cs.indices.map { c =>
          if (nn(c) == 0L) cs(c) // stale-keep, as the reference
          else (sx(c) / nn(c), sy(c) / nn(c))
        }.toArray
        conv(k) = cs.zip(next).forall { case ((ox, oy), (nx, ny)) =>
          math.abs(ox - nx) < tol && math.abs(oy - ny) < tol
        }
        cents(k) = next
        iters(k) += 1
      }
      round += 1
    }
    ks.map(k => k -> ((cents(k), iters(k), conv(k)))).toMap
  }

  /** Simplified silhouette (Hruschka et al.): per point, a = distance
    * to its OWN (nearest) centroid, b = distance to the next-nearest
    * centroid, s = (b−a)/max(a,b) — the O(n·k) centroid-based cluster
    * quality score (the classic pairwise silhouette is O(n²) and dead
    * at scale). Runs on kmeans_iter3's final centroids: the per-point
    * pass is entirely map-side (a and b are the two smallest entries
    * of one codegen'd distance array — no second scan, no shuffle
    * beyond the O(k) aggregate). Oracle replays the same 3 Lloyd
    * iterations in SQL and ranks distances per point. Floor-rounding
    * convention (see ts_interp); s ∈ [0,1] here since a is the
    * minimum by construction.
    */
  val kmeansSilhouette: QueryDef = QueryDef.sql(
    "kmeans_silhouette",
    lloydCtes(K, 3) +
      """,
        |a4 AS (
        |  SELECT p.rid, c.cid,
        |         (p.x-c.x)*(p.x-c.x) + (p.y-c.y)*(p.y-c.y) AS d2,
        |         row_number() OVER (PARTITION BY p.rid
        |           ORDER BY (p.x-c.x)*(p.x-c.x) + (p.y-c.y)*(p.y-c.y), c.cid) AS rn
        |  FROM pts p CROSS JOIN c3 c),
        |own AS (SELECT rid, cid, sqrt(d2) AS a FROM a4 WHERE rn = 1),
        |nxt AS (SELECT rid, sqrt(d2) AS b FROM a4 WHERE rn = 2),
        |sil AS (SELECT own.cid,
        |  CASE WHEN greatest(a, b) = 0 THEN 0.0
        |       ELSE (b - a) / greatest(a, b) END AS sc
        |  FROM own JOIN nxt USING (rid))
        |SELECT cid, count(*) AS n,
        |  floor(avg(sc) * 10000 + 0.5) / 10000 AS mean_sil
        |FROM sil GROUP BY cid ORDER BY cid""".stripMargin) { (s, d) =>
    val all = points(Tables.lineitem(s, d))
    val init = initCentroids(all)
    val fin = graft.Ckpt.scoped(sc => iterate(sc.persist(all.select("x", "y")), init, 3))
    val ordered = fin.toSeq.sortBy(_._1)
    val ids = ordered.map(_._1).toArray
    val cs = ordered.map(_._2).toArray
    val d2s = cs.map { case (cx, cy) =>
      (col("x") - lit(cx)) * (col("x") - lit(cx)) +
        (col("y") - lit(cy)) * (col("y") - lit(cy))
    }
    val sorted = array_sort(array(d2s.toIndexedSeq: _*))
    val a = sqrt(element_at(sorted, 1))
    val b = sqrt(element_at(sorted, 2))
    val sc = when(greatest(a, b) === 0, lit(0.0))
      .otherwise((b - a) / greatest(a, b))
    val idOf = element_at(
      array(ids.map(i => lit(i.toLong)).toIndexedSeq: _*),
      assignExpr(cs, col("x"), col("y")) + 1)
    all.select(idOf.as("cid"), sc.as("sc"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        (floor(avg(col("sc")) * 10000 + 0.5) / 10000).as("mean_sil"))
      .orderBy(col("cid"))
  }

  /** Weighted Lloyd: centroid = Σw·x / Σw — the variant that fits
    * when points carry mass (pre-aggregated micro-clusters, sample
    * weights, dedup multiplicities). Weight = l_quantity here. Same
    * plan shape as the unweighted step (map-side assignment + one
    * k-group partially-aggregated shuffle; the weighted mean is two
    * sums, both partial-aggregable), so the 100 TB posture is
    * unchanged. The oracle replays 3 weighted iterations in
    * generated SQL. Weighted-mean identity (k=1 ⇒ centroid =
    * global weighted mean) pinned in ScalaTest.
    */
  def weightedStep(pts: DataFrame, cs: Array[(Double, Double)]): DataFrame =
    pts.withColumn("cid", assignExpr(cs, col("x"), col("y")))
      .groupBy(col("cid"))
      .agg((sum(col("w") * col("x")) / sum(col("w"))).as("x"),
        (sum(col("w") * col("y")) / sum(col("w"))).as("y"),
        count(lit(1)).as("n"))

  private def weightedLloydCtes(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH pts AS MATERIALIZED (
         |  SELECT l_quantity AS x, l_extendedprice AS y, l_quantity AS w,
         |         row_number() OVER (ORDER BY l_orderkey, l_linenumber,
         |                            l_quantity, l_extendedprice) - 1 AS rid
         |  FROM lineitem),
         |c0 AS (SELECT rid AS cid, x, y FROM pts WHERE rid < $k)""".stripMargin)
    for (i <- 1 to iters) {
      sb.append(
        s""",
           |a$i AS (
           |  SELECT p.rid, p.x, p.y, p.w, c.cid,
           |         row_number() OVER (PARTITION BY p.rid
           |           ORDER BY (p.x-c.x)*(p.x-c.x) + (p.y-c.y)*(p.y-c.y), c.cid) AS rn
           |  FROM pts p CROSS JOIN c${i - 1} c),
           |s$i AS MATERIALIZED (SELECT rid, x, y, w, cid FROM a$i WHERE rn = 1),
           |c$i AS (SELECT cid, sum(w*x)/sum(w) AS x, sum(w*y)/sum(w) AS y
           |        FROM s$i GROUP BY cid)""".stripMargin)
    }
    sb.toString
  }

  val kmeansWeighted: QueryDef = QueryDef.sql(
    "kmeans_weighted",
    weightedLloydCtes(K, 3) +
      "\nSELECT cid, round(x, 3) AS cx, round(y, 3) AS cy FROM c3 ORDER BY cid") { (s, d) =>
    val all = points(Tables.lineitem(s, d))
    val init = initCentroids(all)
    val fin = graft.Ckpt.scoped { sc =>
      iterate(sc.persist(all.select(col("x"), col("y"), col("x").as("w"))), init, 3, weightedStep)
    }
    import s.implicits._
    fin.toSeq.sortBy(_._1)
      .map { case (cid, (x, y)) => (cid.toLong, x, y) }
      .toDF("cid", "cx", "cy")
      .select(col("cid"), round(col("cx"), 3).as("cx"), round(col("cy"), 3).as("cy"))
  }

  /** Streaming k-means: centroids maintained across micro-batches by
    * count-weighted blending (the Sculley mini-batch rule with the
    * per-cluster history count as the learning-rate denominator —
    * MLlib's StreamingKMeans update with decay 1). The events stream
    * stages as 3 deterministic files in a fixed order, so the run is
    * reproducible; each batch is one map-side assignment + k-group
    * aggregate over ONLY that batch's rows. Rows-only; convergence
    * (final WSSSE ≤ init WSSSE) and determinism pinned.
    */
  /** DuckDB replay of the streaming blend: md5-derived arrival
    * slices, per-batch assignment + batch means, and the
    * count-weighted blend in the Scala expression order, chained as
    * three centroid CTEs with stale-keep LEFT JOINs.
    */
  private def streamKmeansOracle(k: Int, batches: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH pts AS MATERIALIZED (
         |  SELECT l_quantity AS x, l_extendedprice AS y,
         |    CAST(concat('0x', substring(md5(concat_ws(',', l_orderkey, l_linenumber)), 1, 13)) AS BIGINT)
         |      % $batches AS b,
         |    row_number() OVER (ORDER BY l_orderkey, l_linenumber,
         |                       l_quantity, l_extendedprice) - 1 AS rid
         |  FROM lineitem),
         |c0 AS MATERIALIZED (SELECT rid AS cid, x, y, CAST(0 AS BIGINT) AS cnt
         |                    FROM pts WHERE rid < $k)""".stripMargin)
    for (i <- 1 to batches) {
      val p = i - 1
      sb.append(
        s""",
           |a$i AS (
           |  SELECT p.rid, p.x, p.y, c.cid,
           |         row_number() OVER (PARTITION BY p.rid
           |           ORDER BY (p.x-c.x)*(p.x-c.x) + (p.y-c.y)*(p.y-c.y), c.cid) AS rn
           |  FROM (SELECT * FROM pts WHERE b = ${i - 1}) p CROSS JOIN c$p c),
           |m$i AS (SELECT cid, avg(x) AS bx, avg(y) AS by, count(*) AS bn
           |        FROM a$i WHERE rn = 1 GROUP BY cid),
           |c$i AS MATERIALIZED (
           |  SELECT c.cid,
           |    CASE WHEN m.cid IS NULL THEN c.x
           |         ELSE (c.x * c.cnt + m.bx * m.bn) / (c.cnt + m.bn) END AS x,
           |    CASE WHEN m.cid IS NULL THEN c.y
           |         ELSE (c.y * c.cnt + m.by * m.bn) / (c.cnt + m.bn) END AS y,
           |    c.cnt + coalesce(m.bn, 0) AS cnt
           |  FROM c$p c LEFT JOIN m$i m ON m.cid = c.cid)""".stripMargin)
    }
    sb.append(
      s"""
         |SELECT CAST(cid AS BIGINT) AS cid,
         |  floor(x * 1000 + 0.5) / 1000 AS cx,
         |  floor(y * 1000 + 0.5) / 1000 AS cy,
         |  cnt AS n_seen
         |FROM c$batches ORDER BY cid""".stripMargin)
    sb.toString
  }

  val kmeansStream: QueryDef = QueryDef.sql(
    "kmeans_stream", streamKmeansOracle(K, 3)) { (s, d) =>
    val all = points(Tables.lineitem(s, d))
    val init = initCentroids(all)
    var cs = init.clone()
    val counts = Array.fill(K)(0L)
    // 3 deterministic "arrival" slices by row hash (md5-derived so
    // the oracle replays the identical slices)
    (0 until 3).foreach { b =>
      val batch = all
        .filter(pmod(conv(substring(
            md5(concat_ws(",", col("l_orderkey"), col("l_linenumber"))), 1, 13),
          16, 10).cast("long"), lit(3)) === b)
        .select("x", "y")
      val upd = step(batch, cs).select("cid", "x", "y", "n").collect()
      upd.foreach { r =>
        val (cid, bx, by, bn) =
          (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3))
        val tot = counts(cid) + bn
        cs(cid) = (
          (cs(cid)._1 * counts(cid) + bx * bn) / tot,
          (cs(cid)._2 * counts(cid) + by * bn) / tot)
        counts(cid) = tot
      }
    }
    import s.implicits._
    cs.zipWithIndex.map { case ((x, y), i) =>
      (i.toLong, math.floor(x * 1000 + 0.5) / 1000,
        math.floor(y * 1000 + 0.5) / 1000, counts(i))
    }.toSeq.toDF("cid", "cx", "cy", "n_seen")
  }

  /** Density-based clustering (DBSCAN, Ester et al. 1996) — the
    * non-centroidal complement to Lloyd's: finds arbitrary-shape
    * clusters and an explicit noise set, no k required. Grid-cell
    * bucketing makes it shuffle-native at scale: points land in
    * ⌈eps⌉-sized cells (map-side), each point probes only its 3×3
    * cell neighborhood via ONE equality join on cell id (the 9-cell
    * expansion is a map-side explode of the probe side — candidate
    * work is Σ|cell|·|neighborhood|, never n²), the exact eps test
    * filters candidates, core points are a neighbor-count aggregate,
    * and the cluster partition is connected components over the
    * core-core eps graph (Dedup.connectedComponents: size-adaptive
    * through Regime — driver union-find while the edges fit the
    * budget, pointer-jumping label rounds when not). Border points
    * attach to their minimum-label core neighbor; everything else is
    * noise. Coordinates are min-max
    * normalized to [0,100]² (one broadcast 1-row aggregate) so eps
    * is scale-free across SFs. Output: per-cluster core/border
    * counts plus one (-1) noise row — cluster ids are component
    * minima, so the whole result is deterministic under any
    * partitioning (pinned, with the density invariants, in
    * ScalaTest; SQL-inexpressible: the component fixpoint).
    */
  val clusterDbscan: QueryDef = QueryDef.rowsOnly("cluster_dbscan") { (s, d) =>
    val minPts = 4
    // events in (time, log-magnitude) space — both axes genuinely
    // continuous, so eps-balls see 2-D density. (The k-means lineitem
    // points are degenerate here: x = l_quantity has 50 distinct
    // values, so every eps chain percolates along 1-D price lines
    // into huge-diameter components and the CC rounds blow up.)
    val pts = Tables.events(s, d)
      .select(col("event_id").as("pid"),
        unix_timestamp(col("ts")).cast("double").as("x"),
        log1p(col("value")).as("y"))
    // density-adaptive radius: eps sized so a point expects ~3
    // eps-neighbors under uniform density (π·eps²·n / 100² ≈ 3) —
    // candidate pairs, core-graph edges, and component sizes all stay
    // O(n·const) at ANY corpus size instead of percolating into one
    // giant everything-cluster as density grows with SF
    val nPts = pts.count()
    val eps = 100.0 * math.sqrt(3.0 / (math.Pi * nPts))
    val bounds = pts.agg(
      min(col("x")).as("x0"), max(col("x")).as("x1"),
      min(col("y")).as("y0"), max(col("y")).as("y1"))
    val norm = pts.join(broadcast(bounds))
      .select(col("pid"),
        (lit(100.0) * (col("x") - col("x0")) /
          greatest(col("x1") - col("x0"), lit(1e-12))).as("nx"),
        (lit(100.0) * (col("y") - col("y0")) /
          greatest(col("y1") - col("y0"), lit(1e-12))).as("ny"))
    val withCell = norm
      .withColumn("cx", floor(col("nx") / eps).cast("long"))
      .withColumn("cy", floor(col("ny") / eps).cast("long"))
    // probe side explodes to its 9-cell neighborhood; build side keyed
    // by its own cell → equality shuffle on (cell_x, cell_y)
    val probe = withCell.select(col("pid"), col("nx"), col("ny"),
        explode(array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
          struct((col("cx") + dx).as("jx"), (col("cy") + dy).as("jy")))): _*)).as("nb"))
      .select(col("pid"), col("nx"), col("ny"),
        col("nb.jx").as("jx"), col("nb.jy").as("jy"))
    val build = withCell.select(col("pid").as("pid2"), col("nx").as("nx2"),
      col("ny").as("ny2"), col("cx").as("jx"), col("cy").as("jy"))
    // size-adaptive broadcast of the slim build side (Regime): while
    // it fits, the 9n exploded probe rows never cross an exchange
    // (the r9 shape shuffled 34 MB at sf0.1 through this join); above
    // it the shuffled join is the fallback, same neighbor set.
    // Estimate: nPts (already counted) × the 5-field build row.
    val buildSide = Regime.broadcastIfFits("cluster_dbscan.build",
      nPts * Regime.rowBytes(5), build)
    // the eps-neighbor relation feeds three branches (core counts,
    // core-core edges, border attachment) — materialize it once
    graft.Ckpt.scoped { sc =>
      val nbrs = sc.persist(probe.join(buildSide, Seq("jx", "jy"))
        .filter((col("nx") - col("nx2")) * (col("nx") - col("nx2")) +
          (col("ny") - col("ny2")) * (col("ny") - col("ny2")) <= lit(eps * eps))
        .select(col("pid"), col("pid2")))
      // neighbor count INCLUDES self (pid==pid2 survives the eps test)
      val cores = nbrs.groupBy(col("pid")).agg(count(lit(1)).as("n_nbr"))
        .filter(col("n_nbr") >= minPts).select(col("pid"))
      val coreEdges = nbrs
        .join(cores, Seq("pid"))
        .join(cores.select(col("pid").as("pid2")), Seq("pid2"))
        .filter(col("pid") < col("pid2"))
        .select(col("pid").as("id1"), col("pid2").as("id2"))
      val labels = sc.adopt(Dedup.connectedComponents(
        coreEdges.union(cores.select(col("pid").as("id1"), col("pid").as("id2")))))
      val coreLabeled = labels.select(col("id").as("core_id"), col("label"))
      // border: non-core with ≥1 core neighbor → minimum core label
      val borders = nbrs
        .join(cores.select(col("pid")), Seq("pid"), "left_anti")
        .join(coreLabeled, col("pid2") === col("core_id"))
        .groupBy(col("pid")).agg(min(col("label")).as("label"))
      // per-cluster summary is O(#clusters) — bounded driver collect,
      // so the expensive neighbor relation can be released eagerly
      val perCluster = coreLabeled
        .groupBy(col("label")).agg(count(lit(1)).as("n_core"))
        .join(borders.groupBy(col("label")).agg(count(lit(1)).as("n_border")),
          Seq("label"), "left_outer")
        .select(col("label").as("cluster"), col("n_core"),
          coalesce(col("n_border"), lit(0L)).as("n_border"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val assigned = perCluster.map(c => c._2 + c._3).sum
      import s.implicits._
      (perCluster.toSeq :+ ((-1L, 0L, nPts - assigned)))
        .toDF("cluster", "n_core", "n_border")
        .orderBy(col("cluster"))
    }
  }

  /** k-means|| oversampling initialization (Bahmani et al., VLDB
    * 2012) — the cluster-scale init that replaces k-means++'s k
    * SEQUENTIAL scans with O(rounds) scans: each round samples each
    * point independently with probability min(1, l·d²(x,C)/φ)
    * (φ = the current total cost, ONE aggregate), pulling in ~l
    * candidates per round; after `rounds` rounds the ≤1+rounds·l
    * candidate set is weighted by its nearest-point population (one
    * assignment pass) and reduced to k centroids DRIVER-SIDE by
    * deterministic weighted greedy ++ seeding + weighted Lloyd — the
    * same recluster MLlib runs. All "randomness" is hash-derived
    * (xxhash64 uniforms, ppInit's machinery), so every run, any
    * partitioning, replays identically. Distributed passes:
    * 2·rounds + 2, independent of k — the point at 100 TB, where
    * k-means++'s k round trips dominate.
    */
  def parallelInit(pts: DataFrame, k: Int, l: Int, rounds: Int)
      : (Array[(Double, Double)], Int) = {
    def u(seed: Int): Column =
      (shiftrightunsigned(xxhash64(col("x"), col("y"), lit(seed)), 11) + 1L)
        .cast("double") / lit(9007199254740992.0)
    val first = pts.orderBy(u(100).asc, col("x"), col("y")).limit(1)
      .select("x", "y").collect()(0)
    val chosen = scala.collection.mutable.ArrayBuffer(
      (first.getDouble(0), first.getDouble(1)))
    for (r <- 1 to rounds) {
      val d2 = minDistExpr(chosen.toArray, col("x"), col("y"))
      val phi = pts.agg(sum(d2)).collect()(0).getDouble(0)
      if (phi > 0) {
        val fresh = pts
          .filter(u(100 + r) < least(lit(1.0), d2 * lit(l.toDouble) / lit(phi)))
          .select("x", "y").distinct().collect()
          .map(row => (row.getDouble(0), row.getDouble(1)))
          .filterNot(chosen.contains)
        chosen ++= fresh
      }
    }
    val cs = chosen.toArray
    // candidate weights: nearest-point population
    val w = pts.withColumn("cid", assignExpr(cs, col("x"), col("y")))
      .groupBy("cid").agg(count(lit(1)).as("w")).collect()
      .map(row => row.getInt(0) -> row.getLong(1)).toMap
    val wts = cs.indices.map(i => w.getOrElse(i, 0L).toDouble).toArray
    // driver-side weighted greedy ++ seeding over the candidate set
    def d2p(a: (Double, Double), b: (Double, Double)): Double = {
      val dx = a._1 - b._1; val dy = a._2 - b._2; dx * dx + dy * dy
    }
    val seeds = scala.collection.mutable.ArrayBuffer(
      cs(wts.indices.maxBy(i => (wts(i), -i))))
    while (seeds.length < math.min(k, cs.length)) {
      val next = cs.indices.maxBy { i =>
        (wts(i) * seeds.map(d2p(cs(i), _)).min, -i)
      }
      seeds += cs(next)
    }
    // driver-side weighted Lloyd to convergence on the candidates
    var centers = seeds.toArray
    var it = 0
    var moved = true
    while (moved && it < 20) {
      val assign = cs.indices.map(i =>
        centers.indices.minBy(j => (d2p(cs(i), centers(j)), j)))
      val next = centers.indices.map { j =>
        val mine = cs.indices.filter(assign(_) == j)
        val tw = mine.map(wts).sum
        if (tw == 0) centers(j)
        else (mine.map(i => wts(i) * cs(i)._1).sum / tw,
          mine.map(i => wts(i) * cs(i)._2).sum / tw)
      }.toArray
      moved = centers.zip(next).exists { case (a, b) => d2p(a, b) > 1e-12 }
      centers = next
      it += 1
    }
    (centers, cs.length)
  }

  /** k-means|| init + 3 distributed Lloyd iterations (the kmeans_pp
    * shape on the O(rounds)-pass init). Rows-only: float sampling
    * thresholds; ScalaTest pins determinism, the candidate bound,
    * k distinct centroids, and init quality (final cost beats the
    * reference line-init after the same Lloyd budget).
    */
  val kmeansParallel: QueryDef = QueryDef.rowsOnly("kmeans_parallel") { (s, d) =>
    val allPts = points(Tables.lineitem(s, d))
    graft.Ckpt.scoped { sc =>
      val pts = sc.persist(allPts.select("x", "y"))
      val (init, _) = parallelInit(pts, K, l = 2 * K, rounds = 2)
      val fin = iterate(pts, init, 3)
      import s.implicits._
      fin.toSeq.sortBy(_._1)
        .map { case (cid, (x, y)) =>
          (cid.toLong, math.floor(x * 10000 + 0.5) / 10000,
            math.floor(y * 10000 + 0.5) / 10000) }
        .toDF("cid", "x", "y")
    }
  }

  private val FuzzyIters = 5

  /** Fuzzy c-means (Bezdek 1981, fuzzifier m=2) — SOFT clustering on
    * the reference's own point set: every point belongs to every
    * cluster with membership u_j ∝ 1/d_j² (normalized), centroids
    * are u²-weighted means, and the objective J = ΣΣ u_j²·d_j² is
    * guaranteed non-increasing under the alternating update (the EM
    * counterpart of Lloyd's hard assignment; mining_gmm's
    * geometric sibling without the covariance model). Distributed
    * shape identical to kmeans_step: centroids are O(k) driver
    * literals inside ONE codegen'd aggregate per iteration — all 8
    * memberships, their squares, weighted coordinates and the
    * objective reduce map-side to a single 1-row collect (5k+1
    * partial-agg columns, zero shuffle of point rows), so
    * per-iteration cluster traffic is O(k·partitions) at any scale.
    * d²=0 guarded by an epsilon floor. Same deterministic init as
    * the Lloyd family. Output: per (iter, cluster) the updated
    * centroid, fuzzy mass Σu, and the objective entering the
    * iteration. Rows-only; ScalaTest pins monotone J, membership
    * conservation (Σ masses == n exactly, since each point's
    * memberships sum to 1), J consistency with a driver replay at
    * sf0.001, and determinism.
    */
  /** Generated DuckDB replay of the fuzzy loop: iteration i expands
    * pts × c{i-1} to per-(rid, cid) distances, normalizes the inverse
    * distances per rid (a window sum — 8 terms, so float order noise
    * is ~1e-16 against 1e-4 output rounding), and aggregates the
    * u²-weighted sums per cid — relational instead of the Spark
    * side's 5k+1 fused columns, same algebra.
    */
  private def fuzzyOracle(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH pts AS MATERIALIZED (
         |  SELECT l_quantity AS x, l_extendedprice AS y,
         |         row_number() OVER (ORDER BY l_orderkey, l_linenumber,
         |                            l_quantity, l_extendedprice) - 1 AS rid
         |  FROM lineitem),
         |c0 AS MATERIALIZED (SELECT rid AS cid, x AS cx, y AS cy FROM pts WHERE rid < $k)""".stripMargin)
    for (i <- 1 to iters) {
      val p = i - 1
      sb.append(
        s""",
           |u$i AS MATERIALIZED (
           |  SELECT rid, cid, d2, inv / sum(inv) OVER (PARTITION BY rid) AS u
           |  FROM (SELECT p.rid, c.cid, p.x, p.y,
           |          (p.x-c.cx)*(p.x-c.cx) + (p.y-c.cy)*(p.y-c.cy) AS d2,
           |          1.0 / greatest((p.x-c.cx)*(p.x-c.cx) + (p.y-c.cy)*(p.y-c.cy), 1e-12) AS inv
           |        FROM pts p CROSS JOIN c$p c)),
           |g$i AS MATERIALIZED (
           |  SELECT u.cid,
           |    sum(u.u * u.u * p.x) / sum(u.u * u.u) AS cx,
           |    sum(u.u * u.u * p.y) / sum(u.u * u.u) AS cy,
           |    sum(u.u) AS mass, sum(u.u * u.u * u.d2) AS o
           |  FROM u$i u JOIN pts p ON p.rid = u.rid
           |  GROUP BY u.cid),
           |c$i AS MATERIALIZED (SELECT cid, cx, cy FROM g$i)""".stripMargin)
    }
    val rows = (1 to iters).map { i =>
      s"""SELECT $i AS iter, CAST(cid AS INTEGER) AS cid,
         |  floor(cx * 10000 + 0.5) / 10000 AS cx,
         |  floor(cy * 10000 + 0.5) / 10000 AS cy,
         |  floor(mass * 100 + 0.5) / 100 AS fuzzy_mass,
         |  floor((SELECT sum(o) FROM g$i) / 1e6 * 1000 + 0.5) / 1000 AS j_before_m
         |FROM g$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    sb.append(s"\n$rows\nORDER BY iter, cid").toString
  }

  val kmeansFuzzy: QueryDef = QueryDef.sql(
    "kmeans_fuzzy", fuzzyOracle(K, FuzzyIters)) { (s, d) =>
    import s.implicits._
    graft.Ckpt.scoped { sc =>
      val pts = sc.persist(points(Tables.lineitem(s, d)).select(col("x"), col("y")))
      var cents = initCentroids(pts)
      val k = cents.length
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Int, Double, Double, Double, Double)]
      for (iter <- 1 to FuzzyIters) {
        val d2 = cents.map { case (cx, cy) =>
          (col("x") - cx) * (col("x") - cx) + (col("y") - cy) * (col("y") - cy)
        }
        val inv = d2.map(dd => lit(1.0) / greatest(dd, lit(1e-12)))
        val denom = inv.reduce(_ + _)
        val u = inv.map(_ / denom)
        val aggs = (0 until k).flatMap { j =>
          Seq(sum(u(j) * u(j) * col("x")).as(s"wx$j"),
            sum(u(j) * u(j) * col("y")).as(s"wy$j"),
            sum(u(j) * u(j)).as(s"w$j"),
            sum(u(j)).as(s"m$j"),
            sum(u(j) * u(j) * d2(j)).as(s"o$j"))
        }
        val r = pts.agg(aggs.head, aggs.tail: _*).collect()(0)
        val obj = (0 until k).map(j => r.getDouble(r.fieldIndex(s"o$j"))).sum
        cents = (0 until k).map { j =>
          val w = r.getDouble(r.fieldIndex(s"w$j"))
          (r.getDouble(r.fieldIndex(s"wx$j")) / w,
            r.getDouble(r.fieldIndex(s"wy$j")) / w)
        }.toArray
        (0 until k).foreach { j =>
          rows += ((iter, j,
            math.floor(cents(j)._1 * 10000 + 0.5) / 10000,
            math.floor(cents(j)._2 * 10000 + 0.5) / 10000,
            math.floor(r.getDouble(r.fieldIndex(s"m$j")) * 100 + 0.5) / 100,
            // J in MILLIONS: the raw objective is a corpus float sum
            // (~1e12) whose cross-engine order noise exceeds a 0.01
            // floor; millions at 3dp leaves 5 orders of headroom
            math.floor(obj / 1e6 * 1000 + 0.5) / 1000))
        }
      }
      rows.toSeq.toDF("iter", "cid", "cx", "cy", "fuzzy_mass", "j_before_m")
        .orderBy(col("iter"), col("cid"))
    }
  }

  /** Spherical k-means (Dhillon & Modha 2001) on the embedding corpus
    * — COSINE clustering, the variant text/embedding pipelines use
    * where direction carries meaning and magnitude is nuisance:
    * vectors L2-normalized once, assignment = argmax dot (map-side
    * codegen'd struct-min, kmeans_nd's shape), centroid = the
    * RE-NORMALIZED member mean (the closed-form maximizer of Σ cos on
    * the sphere, so the objective is monotone by construction). Each
    * iteration is ONE Summarizer partial-agg shuffle of O(k·dim);
    * normalization is O(k·dim) driver arithmetic. Rows-only;
    * ScalaTest pins unit-norm centroids, monotone mean-cosine,
    * mass conservation, and determinism.
    */
  /** DuckDB replay of sphericalFit: list_dot_product accumulates in
    * the same left-to-right order as the codegen'd dot, the argmax
    * uses the identical (−dot, cid) ordering, and the per-dim member
    * means + renormalization mirror Summarizer.mean + l2norm. n is
    * exact; mean_cos floors at 1e-4 (assignment flips would need a
    * sub-ulp dot margin).
    */
  private def sphericalOracle(k: Int, iters: Int): String = {
    val chain = (1 to iters).map { r =>
      val p = r - 1
      s""",
         |a$r AS (
         |  SELECT e.vec_id, e.v, c.cid, list_dot_product(e.v, c.c) AS dotc,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY 0.0 - list_dot_product(e.v, c.c), c.cid) AS rn
         |  FROM e CROSS JOIN c$p c),
         |s$r AS MATERIALIZED (SELECT vec_id, v, cid, dotc FROM a$r WHERE rn = 1),
         |g$r AS (SELECT cid, count(*) AS n, avg(dotc) AS mc FROM s$r GROUP BY cid),
         |x$r AS (SELECT cid, pos, avg(v[pos]) AS val
         |        FROM s$r, UNNEST(generate_series(1, len(v))) AS t(pos)
         |        GROUP BY 1, 2),
         |m$r AS (SELECT cid, list(val ORDER BY pos) AS mv FROM x$r GROUP BY cid),
         |c$r AS MATERIALIZED (
         |  SELECT cid,
         |    list_transform(mv, x -> x / sqrt(list_dot_product(mv, mv))) AS c
         |  FROM m$r
         |  UNION ALL
         |  SELECT cid, c FROM c$p WHERE cid NOT IN (SELECT cid FROM m$r))""".stripMargin
    }.mkString("")
    s"""WITH e1 AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS raw,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |e AS MATERIALIZED (
       |  SELECT vec_id, list_transform(raw, x -> x / nrm) AS v
       |  FROM e1 WHERE nrm > 0),
       |init AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $k),
       |c0 AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
       |    list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS c
       |  FROM init)
       |$chain
       |SELECT CAST(g.cid AS BIGINT) AS cid, g.n,
       |  floor(g.mc * 1e4 + 0.5) / 1e4 AS mean_cos,
       |  floor(list_dot_product(c.c, c.c) * 1e6 + 0.5) / 1e6 AS centroid_norm2
       |FROM g$iters g JOIN c$iters c ON c.cid = g.cid
       |ORDER BY cid""".stripMargin
  }

  val kmeansSpherical: QueryDef = QueryDef.sql(
    "kmeans_spherical", sphericalOracle(K, 3)) { (s, d) =>
    val (cs, sizes, cos, _) = sphericalFit(s, d, K, iters = 3)
    import s.implicits._
    cs.zipWithIndex.map { case (c, i) =>
      (i.toLong, sizes(i), math.round(cos(i) * 1e4) / 1e4,
        math.round(c.map(x => x * x).sum * 1e6) / 1e6)
    }.toSeq.toDF("cid", "n", "mean_cos", "centroid_norm2")
      .orderBy(col("cid"))
  }

  private def l2norm(a: Array[Double]): Array[Double] = {
    val n = math.sqrt(a.map(x => x * x).sum)
    if (n == 0) a else a.map(_ / n)
  }

  /** Shared with the spec: (unit centroids, sizes, per-cluster mean
    * cosine from the FINAL assignment, per-iteration global objective
    * trajectory — avg max-cosine measured at assignment time, which
    * alternating maximization makes non-decreasing).
    */
  private[graft] def sphericalFit(s: SparkSession, d: String, k: Int, iters: Int)
      : (Array[Array[Double]], Array[Long], Array[Double], Seq[Double]) = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    graft.Ckpt.scoped { sc =>
      val pts = sc.persist(Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("raw"))
        .withColumn("nrm", sqrt(Similarity.dot(col("raw"), col("raw"))))
        .filter(col("nrm") > 0)
        .select(col("vec_id"), expr("transform(raw, x -> x / nrm)").as("v")))
      val cs = pts.orderBy(col("vec_id")).limit(k)
        .select("v").collect().map(r => l2norm(r.getSeq[Double](0).toArray))
      val sizes = Array.fill(k)(0L)
      val cos = Array.fill(k)(0.0)
      val traj = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (_ <- 1 to iters) {
        java.util.Arrays.fill(sizes, 0L)
        // the struct-min carries the winning dot for free — the same
        // pass yields assignment, objective, and the update statistics
        val candidates = cs.zipWithIndex.map { case (c, i) =>
          struct((lit(0.0) - Similarity.dot(col("v"), array(c.map(lit): _*)))
            .as("negdot"), lit(i).as("cid"))
        }
        val rows = pts
          .withColumn("a", array_min(array(candidates: _*)))
          .select(col("v"), col("a.cid").as("cid"),
            (lit(0.0) - col("a.negdot")).as("dotc"))
          .groupBy(col("cid"))
          .agg(Summarizer.mean(array_to_vector(col("v"))).as("c"),
            count(lit(1)).as("n"), avg(col("dotc")).as("mc"))
          .select(col("cid"), vector_to_array(col("c")).as("c"), col("n"),
            col("mc"))
          .collect()
        rows.foreach { r =>
          cs(r.getInt(0)) = l2norm(r.getSeq[Double](1).toArray)
          sizes(r.getInt(0)) = r.getLong(2)
          cos(r.getInt(0)) = r.getDouble(3)
        }
        val total = rows.map(_.getLong(2)).sum
        traj += rows.map(r => r.getDouble(3) * r.getLong(2)).sum / total
      }
      (cs, sizes, cos, traj.toSeq)
    }
  }

  val all: Seq[QueryDef] = Seq(
    kmeansAssign, kmeansStep, kmeansIter3, kmeansCost, kmeansLloyd,
    kmeansMllib, kmeansNd, kmeansMinibatch, kmeansBisecting,
    kmeansPp, kmeansElbow, kmeansSilhouette, kmeansWeighted,
    kmeansStream, clusterDbscan, kmeansParallel, kmeansFuzzy,
    kmeansSpherical)
}

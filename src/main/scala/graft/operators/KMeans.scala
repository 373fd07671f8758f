package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
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
  * reference ships them in the job Configuration; we ship them in the
  * task closure). A loop decodes its points once (`pack`: flat
  * `double[]` coordinate blocks, cached for the loop) and each
  * iteration is ONE map+combine job (`sweep`) over those blocks:
  * every task assigns its points to the nearest centroid and sums them
  * per cluster (the mapper and the combiner), and the driver adds the
  * k per-partition partials and divides (the reducer). No shuffle, no
  * per-iteration planning, codegen or row decoding — the same shape
  * that holds at 100 TB: per-iteration cluster traffic is
  * O(k · partitions), never O(rows). The SQL-side
  * entries (assignment counts, costs) use the NearestCentroid kernel,
  * whose argmin the sweep calls too.
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

  // ---- the Lloyd loop ------------------------------------------------

  /** The (x, y, w, m) rows `pack` reads: coordinates, weight and
    * membership mask (`-1L`: every row in every sweep).
    */
  private[graft] def sweepRows(pts: DataFrame, w: Column = lit(1.0),
      m: Column = lit(-1L)): DataFrame =
    pts.select(col("x").cast("double"), col("y").cast("double"), w.cast("double"),
      m.cast("long"))

  /** `sweepRows` for n-D points: (v: array<double>, 1.0, -1L), every
    * row weight 1 and in every sweep.
    */
  private[graft] def vectorRows(pts: DataFrame, v: Column): DataFrame =
    pts.select(v.cast("array<double>"), lit(1.0), lit(-1L))

  /** Rows per packed block: bounds one block's arrays (128 KB of 2-D
    * coordinates) however large a partition is.
    */
  private val BlockRows = 1 << 13

  /** `n` consecutive rows of one partition, packed: row i's `dim`
    * coordinates at `v(i·dim)` until `v((i+1)·dim)`, its weight and its
    * mask. `w` is null when every weight is 1 and `m` when every mask
    * is `-1L`, so an unweighted 2-D block holds 16 bytes a point.
    */
  private[graft] final class Block(val dim: Int, val n: Int, val v: Array[Double],
      w: Array[Double], m: Array[Long]) extends Serializable {
    def weight(i: Int): Double = if (w == null) 1.0 else w(i)
    def mask(i: Int): Long = if (m == null) -1L else m(i)
    def xy(i: Int): (Double, Double) = (v(i * dim), v(i * dim + 1))
  }

  /** Decodes `sweepRows` or `vectorRows` once into blocks, in partition
    * order and with the input's partitions, so a sweep over the blocks
    * visits the rows a row sweep would, in the same order. A row with a
    * null coordinate, weight or mask takes part in no sweep and is
    * dropped; the rows of a block share one vector length.
    */
  private[graft] def pack(rows: DataFrame): RDD[Block] = {
    val vec = rows.schema.head.dataType.isInstanceOf[ArrayType]
    val wi = if (vec) 1 else 2
    rows.queryExecution.toRdd.mapPartitions { it =>
      val live = it.filter(r =>
        !r.isNullAt(0) && (vec || !r.isNullAt(1)) && !r.isNullAt(wi) && !r.isNullAt(wi + 1))
      new Iterator[Block] {
        def hasNext: Boolean = live.hasNext
        def next(): Block = {
          var dim = 2
          var v: Array[Double] = null
          val w = new Array[Double](BlockRows)
          val m = new Array[Long](BlockRows)
          var n = 0
          while (n < BlockRows && live.hasNext) {
            val r = live.next()
            if (vec) {
              val a = r.getArray(0)
              if (v == null) { dim = a.numElements(); v = new Array[Double](BlockRows * dim) }
              require(a.numElements() == dim,
                s"a sweep row has ${a.numElements()} coordinates, the block's first has $dim")
              var j = 0
              while (j < dim) { v(n * dim + j) = a.getDouble(j); j += 1 }
            } else {
              if (v == null) v = new Array[Double](BlockRows * 2)
              v(2 * n) = r.getDouble(0); v(2 * n + 1) = r.getDouble(1)
            }
            w(n) = r.getDouble(wi); m(n) = r.getLong(wi + 1)
            n += 1
          }
          val ws = java.util.Arrays.copyOf(w, n)
          val ms = java.util.Arrays.copyOf(m, n)
          new Block(dim, n, if (n == BlockRows) v else java.util.Arrays.copyOf(v, n * dim),
            if (ws.forall(_ == 1.0)) null else ws, if (ms.forall(_ == -1L)) null else ms)
        }
      }
    }
  }

  /** How a sweep scores a row against a centroid; the nearest is the
    * first minimum (lowest cid on ties), NaN after every number, as in
    * Spark's SQL ordering. `Planar`: (x−cx)² + (y−cy)², by the 2-D SQL
    * kernel's `NearestCentroid.argmin`. `Euclid`: ‖v‖² − 2·v·c + ‖c‖²,
    * every dot summed left to right from 0 as `graft_dot` and DuckDB's
    * list_dot_product do, so the n-D oracles replay each assignment.
    * `Cosine`: −v·c (spherical k-means).
    */
  private[graft] sealed trait Rule
  private[graft] case object Planar extends Rule
  private[graft] case object Euclid extends Rule
  private[graft] case object Cosine extends Rule

  /** One centroid set of a sweep: k centroids of `dim` coordinates,
    * flat (c0's, then c1's, …), scored by `rule` against coordinates
    * `off` until `off + dim` of each row.
    */
  private[graft] final case class Centroids(cs: Array[Double], dim: Int,
      rule: Rule = Planar, off: Int = 0) {
    require(dim > 0 && cs.nonEmpty && cs.length % dim == 0 && (rule != Planar || dim == 2),
      s"$rule centroids need k·$dim coordinates, got ${cs.length}")
    def k: Int = cs.length / dim
    def apply(c: Int): Array[Double] = cs.slice(c * dim, (c + 1) * dim)
    def vectors: Array[Array[Double]] = Array.tabulate(k)(apply)
    def pairs: Array[(Double, Double)] = Array.tabulate(k)(c => (cs(2 * c), cs(2 * c + 1)))

    @transient private lazy val norms = Array.tabulate(k)(c => dot(cs, c * dim, cs, c * dim))

    private def dot(a: Array[Double], ao: Int, b: Array[Double], bo: Int): Double = {
      var s = 0.0
      var j = 0
      while (j < dim) { s += a(ao + j) * b(bo + j); j += 1 }
      s
    }

    /** The cid nearest the row whose coordinates start at `v(at)`. */
    def nearest(v: Array[Double], at: Int): Int = {
      val o = at + off
      if (rule == Planar) NearestCentroid.argmin(cs, v(o), v(o + 1))
      else {
        val vv = if (rule == Euclid) dot(v, o, v, o) else 0.0
        var best = 0.0
        var bestC = 0
        var c = 0
        while (c < k) {
          val vc = dot(v, o, cs, c * dim)
          val d = if (rule == Euclid) vv - 2.0 * vc + norms(c) else 0.0 - vc
          if (c == 0 || d < best || (best.isNaN && !d.isNaN)) { best = d; bestC = c }
          c += 1
        }
        bestC
      }
    }
  }
  private[graft] object Centroids {
    def planar(cs: Array[(Double, Double)]): Centroids =
      Centroids(cs.flatMap { case (x, y) => Array(x, y) }, 2)
    def of(cs: Array[Array[Double]], rule: Rule = Euclid, off: Int = 0): Centroids =
      Centroids(cs.flatten, cs.head.length, rule, off)
  }

  /** One map+combine pass over packed points — the reference's mapper
    * and combiner in one job with no shuffle. Each task takes the rows
    * whose mask has `bit` set, assigns each to its nearest centroid in
    * every set and sums (Σw·v…, Σw, n) per cluster over the set's
    * coordinates; the driver adds the per-partition partials in
    * partition order, so the result does not depend on task timing.
    * Returns per set, per cluster, those dim + 2 numbers.
    */
  private[graft] def sweep(pts: RDD[Block], sets: Seq[Centroids],
      bit: Long): Seq[Array[Array[Double]]] = {
    val ss = sets.toArray
    val need = ss.map(s => s.off + s.dim).max
    val parts = pts.mapPartitions { it =>
      val acc = ss.map(s => Array.fill(s.k)(new Array[Double](s.dim + 2)))
      it.foreach { b =>
        require(b.dim >= need, s"a sweep row has ${b.dim} coordinates, need $need")
        val v = b.v
        var i = 0
        while (i < b.n) {
          if ((b.mask(i) & bit) != 0L) {
            val at = i * b.dim
            val w = b.weight(i)
            var s = 0
            while (s < ss.length) {
              val set = ss(s)
              val a = acc(s)(set.nearest(v, at))
              val o = at + set.off
              var j = 0
              while (j < set.dim) { a(j) += w * v(o + j); j += 1 }
              a(set.dim) += w; a(set.dim + 1) += 1
              s += 1
            }
          }
          i += 1
        }
      }
      Iterator.single(acc)
    }.collect()
    ss.indices.map(s => Array.tabulate(ss(s).k) { c =>
      val sum = new Array[Double](ss(s).dim + 2)
      parts.foreach(p => sum.indices.foreach(i => sum(i) += p(s)(c)(i)))
      sum
    })
  }

  /** One centroid set of a Lloyd loop: its centroids, the cid each
    * started as, the iterations it ran, whether it converged, and the
    * cluster sizes of its last sweep.
    */
  private[graft] final case class Fit(set: Centroids, ids: Array[Int], iters: Int,
      converged: Boolean, sizes: Array[Long]) {

    /** The Lloyd update from a sweep's sums: each centroid moves to
      * Σw·v / Σw. An empty cluster keeps its centroid, or leaves the
      * set if `drop`. Converged when every remaining centroid moved
      * less than `tol` on every axis (so tol 0 never converges).
      */
    def next(sums: Array[Array[Double]], tol: Double, drop: Boolean): Fit = {
      val d = set.dim
      val kept = sums.indices.filter(c => !drop || sums(c)(d + 1) > 0)
      val moved = kept.map { c =>
        if (sums(c)(d + 1) == 0) set(c) else Array.tabulate(d)(j => sums(c)(j) / sums(c)(d))
      }
      val still = kept.zip(moved).forall { case (c, m) =>
        m.indices.forall(j => math.abs(set.cs(c * d + j) - m(j)) < tol)
      }
      Fit(set.copy(cs = moved.flatten.toArray), kept.map(ids(_)).toArray, iters + 1, still,
        kept.map(c => sums(c)(d + 1).toLong).toArray)
    }
  }

  /** Lloyd over several centroid sets at once on `rows` (`sweepRows` or
    * `vectorRows`), packed once and cached for the loop: one sweep per
    * iteration serves every set still running. A set stops on its own
    * after `maxIter` iterations or once it converges (per-axis `tol`,
    * KMeans.java:104-115), and drops out of later sweeps. Empty
    * clusters keep their centroid, as the reference does, or with
    * `drop` leave the set, as the fixed-iteration SQL oracles do.
    * Iteration i reads the rows whose mask has `bit(i)` set.
    */
  private[graft] def lloydSets(rows: DataFrame, inits: Seq[Centroids],
      tol: Double, maxIter: Int, drop: Boolean = false,
      bit: Int => Long = _ => -1L): Seq[Fit] =
    graft.Ckpt.scoped(sc => fitSets(sc.persist(pack(rows)), inits, tol, maxIter, drop, bit))

  /** `lloydSets` over points already packed. */
  private[graft] def fitSets(pts: RDD[Block], inits: Seq[Centroids],
      tol: Double, maxIter: Int, drop: Boolean = false,
      bit: Int => Long = _ => -1L): Seq[Fit] = {
    var fits = inits.map(cs =>
      Fit(cs, (0 until cs.k).toArray, 0, converged = false, new Array[Long](cs.k)))
    var i = 0
    while (i < maxIter && fits.exists(!_.converged)) {
      val active = fits.indices.filterNot(fits(_).converged)
      sweep(pts, active.map(fits(_).set), bit(i)).zip(active).foreach { case (sums, f) =>
        fits = fits.updated(f, fits(f).next(sums, tol, drop))
      }
      i += 1
    }
    fits
  }

  /** `iters` Lloyd iterations with no early stop, dropping empty
    * clusters (matches the generated SQL oracle). Returns the final
    * centroids keyed by their first cid. `weight` turns each mean into
    * Σw·x / Σw (weighted Lloyd).
    */
  def iterate(pts: DataFrame, init: Array[(Double, Double)], iters: Int,
      weight: Column = lit(1.0)): Map[Int, (Double, Double)] = {
    val f = lloydSets(sweepRows(pts, weight), Seq(Centroids.planar(init)), tol = 0, iters,
      drop = true).head
    f.ids.zip(f.set.pairs).toMap
  }

  /** Full reference semantics: iterate until every centroid moves
    * < tol on both axes (KMeans.java:104-115), max 20 iterations;
    * empty clusters keep their previous centroid.
    */
  def lloyd(pts: DataFrame, init: Array[(Double, Double)],
      tol: Double = 1e-3, maxIter: Int = 20): (Array[(Double, Double)], Int, Boolean) =
    graft.Ckpt.scoped(sc => lloydPacked(sc.persist(pack(sweepRows(pts))), init, tol, maxIter))

  /** `lloyd` over 2-D points already packed. */
  private[graft] def lloydPacked(pts: RDD[Block], init: Array[(Double, Double)],
      tol: Double = 1e-3, maxIter: Int = 20): (Array[(Double, Double)], Int, Boolean) = {
    val f = fitSets(pts, Seq(Centroids.planar(init)), tol, maxIter).head
    (f.set.pairs, f.iters, f.converged)
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
    // two md5s carry 20 slices, one batch per iteration
    require(1 <= maxIter && maxIter <= 20 && frac >= 1,
      s"minibatchLloyd needs 1 <= maxIter <= 20 and frac >= 1, got maxIter=$maxIter, frac=$frac")
    // md5-derived rotating batches (not xxhash64) so the DuckDB
    // oracle replays the identical samples — hashed ONCE per row:
    // two md5 strings carry twenty 12-bit slices, folded when the
    // points are packed into a single 20-BIT MEMBERSHIP MASK long
    // (bit i set ⇔ row in iteration i's batch), so iteration i's sweep
    // reads the rows with bit i set: no per-iteration filter plan, and
    // no per-row string hash or substring+conv.
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
    val f = lloydSets(sweepRows(halves, m = mask), Seq(Centroids.planar(init)), tol,
      maxIter, bit = i => 1L << i).head
    (f.set.pairs, f.iters, f.converged)
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
    centroidRows(s, iterate(pts, initCentroids(pts), 1))
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
    centroidRows(s, iterate(all, init, 3))
  }

  /** (cid, cx, cy) rows of an `iterate` result, rounded as the oracle rounds. */
  private def centroidRows(s: SparkSession, fin: Map[Int, (Double, Double)]): DataFrame = {
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
    val (cs, iters, converged) = lloyd(all, init)
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

  // ---- n-dimensional Lloyd -------------------------------------------

  /** n-D Lloyd over the array<double> column `v`: fixed iterations,
    * stale empty clusters, `Euclid` rule. Returns the centroids and
    * the cluster sizes of the last sweep.
    */
  def ndLloyd(pts: DataFrame, init: Array[Array[Double]], iters: Int): (Array[Array[Double]], Array[Long]) = {
    val f = lloydSets(vectorRows(pts, col("v")), Seq(Centroids.of(init)), tol = 0, iters).head
    (f.set.vectors, f.sizes)
  }

  /** 64-dim K-Means on the embeddings table (3 iterations); the
    * oracle is the IVF/PQ oracles' n-D Lloyd chain over every vector.
    */
  val kmeansNd: QueryDef = QueryDef.sql(
    "kmeans_nd",
    s"""WITH samp AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS rn, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |${Similarity.lloydChainCtes("", K, 3)}
       |SELECT c.cid, coalesce(n.n, 0) AS n, round(c.c[1], 4) AS c0, round(c.c[2], 4) AS c1
       |FROM fc3 c LEFT JOIN (SELECT cid, count(*) AS n FROM fs3 GROUP BY cid) n USING (cid)
       |ORDER BY cid""".stripMargin) { (s, d) =>
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
    val (cs, iters, converged) = minibatchLloyd(allPts, init)
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
      def pick(ordered: DataFrame): (Double, Double) = {
        val r = ordered.limit(1).select("x", "y").collect()
        require(r.nonEmpty, s"ppInit needs k=$k distinct points, found " +
          withU.select("x", "y").distinct().count())
        (r(0).getDouble(0), r(0).getDouble(1))
      }
      val chosen = scala.collection.mutable.ArrayBuffer(
        pick(withU.orderBy(col("u0").asc, col("x"), col("y"))))
      var j = 1
      while (j < k) {
        val d2 = minDistExpr(chosen.toArray, col("x"), col("y"))
        chosen += pick(withU
          .filter(d2 > 0) // never re-pick a chosen point
          .orderBy((col(s"u$j") / d2).asc, col("x"), col("y")))
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
    * running 4 independent Lloyd loops (up to 80 passes): one
    * `lloydSets` call, so each iteration is ONE map+combine job that
    * assigns every point in all still-running k's — the whole sweep
    * costs max-iterations jobs, not Σ per-k iterations. Each k's
    * update only reads its own centroids, so per-k centroids /
    * iteration counts / convergence flags are IDENTICAL to
    * independent runs (parity pinned in ScalaTest); a k that
    * converges drops out while the others continue. The 4 final
    * costs fuse into one last scan.
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
      val fits = lloydSets(sweepRows(pts), ks.map(k => Centroids.planar(first.take(k))),
        tol = 1e-3, maxIter = 8)
      // all 4 final quantized costs in ONE scan, summed as exact int64
      val costAggs = ks.zip(fits).map { case (k, f) =>
        sum(floor(minDistExpr(f.set.pairs, col("x"), col("y")) * 100).cast("long")).as(s"cost_$k")
      }
      val crow = pts.agg(costAggs.head, costAggs.tail: _*).head()
      val rows = ks.zip(fits).map { case (k, f) =>
        (k.toLong, f.iters.toLong, f.converged,
          math.floor(crow.getAs[Long](s"cost_$k") / 100.0 / 1000000 * 1000 + 0.5) / 1000)
      }
      import s.implicits._
      rows.toDF("k", "n_iters", "converged", "cost_m")
    }
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
    val fin = iterate(all, init, 3)
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

  /** Weighted Lloyd: centroid = Σw·x / Σw — the variant that fits
    * when points carry mass (pre-aggregated micro-clusters, sample
    * weights, dedup multiplicities). Weight = l_quantity here. Same
    * job shape as the unweighted loop (`iterate` with a weight column:
    * the sweep sums w·x, w·y and w), so the 100 TB posture is
    * unchanged. The oracle replays 3 weighted iterations in
    * generated SQL. Weighted-mean identity (k=1 ⇒ centroid =
    * global weighted mean) pinned in ScalaTest.
    */
  val kmeansWeighted: QueryDef = QueryDef.sql(
    "kmeans_weighted",
    weightedLloydCtes(K, 3) +
      "\nSELECT cid, round(x, 3) AS cx, round(y, 3) AS cy FROM c3 ORDER BY cid") { (s, d) =>
    val all = points(Tables.lineitem(s, d))
    val init = initCentroids(all)
    // weight = l_quantity = x
    centroidRows(s, iterate(all, init, 3, weight = col("x")))
  }

  /** Streaming k-means: centroids maintained across micro-batches by
    * count-weighted blending (the Sculley mini-batch rule with the
    * per-cluster history count as the learning-rate denominator —
    * MLlib's StreamingKMeans update with decay 1). Batch b is the rows
    * of `rows` (`sweepRows`, packed once) whose mask has bit b set,
    * blended in order, each one sweep over ONLY that batch's rows.
    * Returns the centroids and the points each has seen.
    */
  private[graft] def streamBlend(rows: DataFrame, init: Array[(Double, Double)],
      batches: Int): (Array[(Double, Double)], Array[Long]) = graft.Ckpt.scoped { sc =>
    val pts = sc.persist(pack(rows))
    val cs = init.clone()
    val counts = Array.fill(cs.length)(0L)
    (0 until batches).foreach { b =>
      val sums = sweep(pts, Seq(Centroids.planar(cs)), 1L << b).head
      cs.indices.foreach { c =>
        val Array(sx, sy, sw, n) = sums(c)
        val bn = n.toLong
        if (bn > 0) {
          val (bx, by) = (sx / sw, sy / sw)
          val tot = counts(c) + bn
          cs(c) = ((cs(c)._1 * counts(c) + bx * bn) / tot, (cs(c)._2 * counts(c) + by * bn) / tot)
          counts(c) = tot
        }
      }
    }
    (cs, counts)
  }

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

  /** Streaming k-means on the lineitem points: 3 deterministic md5
    * arrival slices blended in order by `streamBlend`. Determinism and
    * n_seen conservation are pinned in ScalaTest.
    */
  val kmeansStream: QueryDef = QueryDef.sql(
    "kmeans_stream", streamKmeansOracle(K, 3)) { (s, d) =>
    val all = points(Tables.lineitem(s, d))
    // 3 deterministic "arrival" slices by row hash (md5-derived so
    // the oracle replays the identical slices): batch b is mask bit b
    val batch = pmod(conv(substring(
      md5(concat_ws(",", col("l_orderkey"), col("l_linenumber"))), 1, 13), 16, 10).cast("long"), lit(3))
    val (cs, counts) = streamBlend(sweepRows(all, m = pow(lit(2), batch).cast("long")),
      initCentroids(all), batches = 3)
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
    // candidate weights: nearest-point population, one sweep
    val wts = sweep(pack(sweepRows(pts)), Seq(Centroids.planar(cs)), -1L).head.map(_(3))
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

  /** DuckDB replay of sphericalFit: list_dot_product accumulates in
    * the same left-to-right order as the codegen'd dot, the argmax
    * uses the identical (−dot, cid) ordering, and the per-dim member
    * means + renormalization mirror the sweep's Σv / n + l2norm. n is
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

  /** Spherical k-means (Dhillon & Modha 2001) on the embedding corpus
    * — COSINE clustering, the variant text/embedding pipelines use
    * where direction carries meaning and magnitude is nuisance:
    * vectors L2-normalized once, assignment = argmax dot (the sweep's
    * `Cosine` rule), centroid = the RE-NORMALIZED member mean (the
    * closed-form maximizer of Σ cos on the sphere, so the objective is
    * monotone by construction). Each iteration is ONE sweep job with
    * no shuffle, O(k·dim) per partition to the driver; the mean,
    * normalization and mean cosine are O(k·dim) driver arithmetic.
    * The oracle replays it; ScalaTest pins unit-norm centroids,
    * monotone mean-cosine, mass conservation, and determinism.
    */
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

  /** The nonzero embeddings as unit vectors `v`, divided by the
    * native `vec_div` (the transform() HOF is CodegenFallback and
    * would evict the projection from whole-stage codegen).
    */
  private[graft] def unitEmbeddings(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("raw"))
      .withColumn("nrm", sqrt(Similarity.dot(col("raw"), col("raw"))))
      .filter(col("nrm") > 0)
      .select(col("vec_id"), graft.functions.VectorFunctions.vec_div(col("raw"), col("nrm")).as("v"))

  /** `spherical` over the unit embeddings, from the first k by vec_id. */
  private[graft] def sphericalFit(s: SparkSession, d: String, k: Int, iters: Int)
      : (Array[Array[Double]], Array[Long], Array[Double], Seq[Double]) =
    graft.Ckpt.scoped { sc =>
      val pts = sc.persist(unitEmbeddings(s, d))
      val init = pts.orderBy(col("vec_id")).limit(k)
        .select("v").collect().map(r => l2norm(r.getSeq[Double](0).toArray))
      spherical(pts, init, iters)
    }

  /** Spherical Lloyd over the unit vectors `v` of `pts`, packed once:
    * one `Cosine` sweep per iteration, each centroid to its
    * re-normalized mean Σv/n.
    * Returns (unit centroids, sizes, per-cluster mean cosine Σv·c/n of
    * the FINAL assignment, per-iteration avg max-cosine, which
    * alternating maximization makes non-decreasing). An empty cluster
    * keeps its centroid and last mean cosine, with size 0.
    */
  private[graft] def spherical(pts: DataFrame, init: Array[Array[Double]], iters: Int)
      : (Array[Array[Double]], Array[Long], Array[Double], Seq[Double]) = graft.Ckpt.scoped { sc =>
    var cs = init
    val dim = cs.head.length
    val sizes = new Array[Long](cs.length)
    val cos = new Array[Double](cs.length)
    val rows = sc.persist(pack(vectorRows(pts, col("v"))))
    val traj = (1 to iters).map { _ =>
      val sums = sweep(rows, Seq(Centroids.of(cs, Cosine)), -1L).head
      cs = cs.indices.map { c =>
        val n = sums(c)(dim + 1)
        sizes(c) = n.toLong
        if (n == 0) cs(c)
        else {
          val sv = sums(c).take(dim)
          cos(c) = sv.indices.map(j => sv(j) * cs(c)(j)).sum / n
          l2norm(sv.map(_ / n))
        }
      }.toArray
      cs.indices.filter(sizes(_) > 0).map(c => cos(c) * sizes(c)).sum / sizes.sum
    }
    (cs, sizes, cos, traj)
  }

  val all: Seq[QueryDef] = Seq(
    kmeansAssign, kmeansStep, kmeansIter3, kmeansCost, kmeansLloyd,
    kmeansMllib, kmeansNd, kmeansMinibatch, kmeansBisecting,
    kmeansPp, kmeansElbow, kmeansSilhouette, kmeansWeighted,
    kmeansStream, clusterDbscan, kmeansParallel, kmeansFuzzy,
    kmeansSpherical)
}

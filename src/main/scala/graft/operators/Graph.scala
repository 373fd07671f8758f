package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables

/** Graph analytics over the trade graph implied by the star schema:
  * customer —orders⋈lineitem→ supplier, projected either to the
  * bipartite customer↔supplier graph (degree) or to the 25-node
  * nation↔nation trade graph (PageRank / triangles / BFS — the
  * bounded vertex set keeps DuckDB oracles exact while the Spark
  * implementations are generic edge-relation algorithms that scale
  * to any vertex count).
  *
  * Scale posture: every algorithm is expressed over an edges
  * DataFrame with equality joins only (no cartesian anywhere);
  * per-iteration state (ranks / frontiers) is O(|vertices|), and
  * iteration counts are fixed so plans don't grow unboundedly
  * (localCheckpoint breaks lineage every few rounds, same pattern as
  * Dedup.connectedComponents).
  */
object Graph {

  /** Once-per-corpus persisted edge artifact (a Warehouse artifact,
    * content-keyed on the four base tables it joins, so regenerating
    * them in place invalidates it): ~40 graph entries share these three edge
    * relations, and each used to re-derive the same orders⋈lineitem
    * join from the base tables — at 100 TB that's the full corpus
    * join paid ~40 times for an |edges|-sized result. One graph
    * "ingest" writes each projection to parquet; every query after
    * reads the slim edge table. A fresh session finds complete files
    * on disk and reuses them; Bench stages them in build_s.
    */
  private def stagedEdges(s: SparkSession, d: String, name: String)
      (build: => DataFrame): DataFrame =
    graft.sources.Warehouse.staged(s, d, s"edges_$name",
      Seq("lineitem.parquet", "orders.parquet",
        "customer.parquet", "supplier.parquet"))(build)

  /** Stage all three shared edge artifacts (Bench calls this before
    * the timed loop so the corpus joins land in build_s, not in the
    * first graph query that happens to run).
    */
  def stageEdgeArtifacts(s: SparkSession, d: String): Unit = {
    tradeEdges(s, d); repeatTradeEdges(s, d); nationEdges(s, d)
    copurchaseEdges(s, d); louvainLabelsArtifact(s, d)
  }

  /** Distinct customer→supplier trade edges (one orders⋈lineitem
    * shuffle, then distinct on the pair), persisted once per corpus.
    */
  def tradeEdges(s: SparkSession, d: String): DataFrame =
    stagedEdges(s, d, "trade") {
      Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
        .distinct()
    }

  /** Repeat-trade edges: customer↔supplier pairs with ≥2 distinct
    * orders — the SPARSE "significant relationship" projection
    * (average degree stays single-digit at every SF where the raw
    * bipartite graph densifies to avg degree 60+). Same shuffle
    * shape as tradeEdges with the distinct upgraded to a countDistinct;
    * persisted once per corpus.
    */
  def repeatTradeEdges(s: SparkSession, d: String): DataFrame =
    stagedEdges(s, d, "repeat") {
      Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
        .agg(countDistinct(col("l_orderkey")).as("n_orders"))
        .filter(col("n_orders") >= 2)
        .select(col("src"), col("dst"))
    }

  /** Directed nation-level trade edges: customer nation → supplier
    * nation, deduplicated. Nation keys are attached map-side via two
    * broadcast dimension joins before the distinct; persisted once
    * per corpus.
    */
  def nationEdges(s: SparkSession, d: String): DataFrame =
    stagedEdges(s, d, "nation") {
      val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val supp = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .distinct()
    }

  private val nationEdgesSql =
    """SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey""".stripMargin

  /** Degree distribution of the bipartite trade graph: distinct
    * suppliers per customer, then a histogram — output cardinality
    * is |distinct degrees|, independent of corpus size.
    */
  val graphDegree: QueryDef = QueryDef.sql(
    "graph_degree",
    """WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
      |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |     deg AS (SELECT src, count(*) AS degree FROM e GROUP BY src)
      |SELECT degree, count(*) AS n_customers
      |FROM deg GROUP BY degree ORDER BY degree""".stripMargin) { (s, d) =>
    tradeEdges(s, d)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("degree"))
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("degree"))
  }

  /** Generic PageRank over an edge relation: rank_{t+1}(v) =
    * (1-d)/N + d · Σ_{(u,v)∈E} rank_t(u)/outdeg(u). Vertices =
    * endpoints of E. Each iteration is one equality join + one
    * aggregate over O(|V|) state; lineage is cut every 3 rounds.
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame =
    graft.Ckpt.scoped { sc =>
      val e = sc.persist(edges.select(col("src"), col("dst")).distinct())
      val vertices = sc.persist(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
      val n = vertices.count().toDouble
      val outdeg = e.groupBy(col("src").as("od_node"))
        .agg(count(lit(1)).as("outdeg"))
      sc.keep(sc.iterate(vertices.withColumn("rank", lit(1.0 / n)), iters, 3) { (ranks, _) =>
        val contribs = e
          .join(ranks, col("src") === col("node"))
          .join(outdeg, col("src") === col("od_node"))
          .select(col("dst"), (col("rank") / col("outdeg")).as("contrib"))
          .groupBy(col("dst")).agg(sum(col("contrib")).as("inflow"))
        vertices
          .join(contribs, col("node") === col("dst"), "left_outer")
          .select(col("node"),
            (lit((1.0 - damping) / n) +
              lit(damping) * coalesce(col("inflow"), lit(0.0))).as("rank"))
      })
    }

  private val PrIters = 8

  /** The chained-CTE DuckDB oracle for a fixed iteration count —
    * same technique as the kmeans_iter3 oracle: pr0 … prN generated
    * by the same code that defines the semantics.
    */
  private def pageRankOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""pr$i AS (
         |  SELECT v.node,
         |         0.15 / (SELECT count(*) FROM v) +
         |         0.85 * coalesce(sum(p.r / od.outdeg), 0) AS r
         |  FROM v
         |  LEFT JOIN e ON e.dst = v.node
         |  LEFT JOIN pr${i - 1} p ON p.node = e.src
         |  LEFT JOIN od ON od.node = e.src
         |  GROUP BY v.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($nationEdgesSql),
       |v AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |od AS MATERIALIZED (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY src),
       |pr0 AS (SELECT node, 1.0 / (SELECT count(*) FROM v) AS r FROM v),
       |$steps
       |SELECT node, round(r, 8) AS rank FROM pr$PrIters ORDER BY node""".stripMargin
  }

  /** PageRank on the nation trade graph, $PrIters fixed iterations —
    * oracle is the generated chained-CTE replay of the exact same
    * update rule.
    */
  val graphPagerank: QueryDef = QueryDef.sql(
    "graph_pagerank", pageRankOracle(PrIters)) { (s, d) =>
    pageRank(nationEdges(s, d), PrIters)
      .select(col("node"), round(col("rank"), 8).as("rank"))
      .orderBy(col("node"))
  }

  private val PprSource = 0L
  private val PprIters = 8

  /** Personalized PageRank: the teleport lands on ONE source node
    * instead of uniformly — rank becomes "importance AS SEEN FROM
    * the source", the similarity-to-seed score that powers
    * related-item recommendation and local community detection
    * (vs graph_pagerank's global importance). Identical per-iteration
    * plan (one equality join + O(|V|) aggregate); only the teleport
    * constant differs, so the scale posture is graph_pagerank's. At
    * web scale PPR is run from many seeds at once by carrying a seed
    * column through the same joins (the graph_closeness multi-source
    * trick). Oracle = generated chained-CTE replay.
    */
  val graphPpr: QueryDef = QueryDef.sql(
    "graph_ppr", {
      val steps = (1 to PprIters).map { i =>
        s"""pr$i AS (
           |  SELECT v.node,
           |         CASE WHEN v.node = $PprSource THEN 0.15 ELSE 0 END +
           |         0.85 * coalesce(sum(p.r / od.outdeg), 0) AS r
           |  FROM v
           |  LEFT JOIN e ON e.dst = v.node
           |  LEFT JOIN pr${i - 1} p ON p.node = e.src
           |  LEFT JOIN od ON od.node = e.src
           |  GROUP BY v.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED ($nationEdgesSql),
         |v AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |od AS MATERIALIZED (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY src),
         |pr0 AS (SELECT node, CASE WHEN node = $PprSource THEN 1.0 ELSE 0 END AS r FROM v),
         |$steps
         |SELECT node, round(r, 8) AS rank FROM pr$PprIters ORDER BY node""".stripMargin
    }) { (s, d) =>
    val ranks = graft.Ckpt.scoped { sc =>
      val e = sc.persist(nationEdges(s, d).select(col("src"), col("dst")).distinct())
      val vertices = sc.persist(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
      val outdeg = e.groupBy(col("src").as("od_node"))
        .agg(count(lit(1)).as("outdeg"))
      val teleport = when(col("node") === PprSource, lit(0.15)).otherwise(lit(0.0))
      val init = vertices.withColumn("rank",
        when(col("node") === PprSource, lit(1.0)).otherwise(lit(0.0)))
      sc.keep(sc.iterate(init, PprIters, 3) { (ranks, _) =>
        val contribs = e
          .join(ranks, col("src") === col("node"))
          .join(outdeg, col("src") === col("od_node"))
          .select(col("dst"), (col("rank") / col("outdeg")).as("contrib"))
          .groupBy(col("dst")).agg(sum(col("contrib")).as("inflow"))
        vertices
          .join(contribs, col("node") === col("dst"), "left_outer")
          .select(col("node"),
            (teleport + lit(0.85) * coalesce(col("inflow"), lit(0.0))).as("rank"))
      })
    }
    ranks.select(col("node"), round(col("rank"), 8).as("rank"))
      .orderBy(col("node"))
  }

  /** Undirected nation co-trade edges with src < dst (each link once). */
  private[graft] def undirectedNationEdges(s: SparkSession, d: String): DataFrame = {
    val e = nationEdges(s, d)
    e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
  }

  private val undirectedSql =
    s"""SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |FROM ($nationEdgesSql)
       |WHERE src <> dst""".stripMargin

  /** Triangle count via two equality joins over the oriented (a<b)
    * edge list — the standard distributed formulation (each triangle
    * counted exactly once as a<b<c). At scale the orientation would
    * be by degree instead of id (cuts the skew of high-degree hubs);
    * id orientation keeps the oracle exact here.
    */
  val graphTriangles: QueryDef = QueryDef.sql(
    "graph_triangles",
    s"""WITH ue AS MATERIALIZED ($undirectedSql)
       |SELECT count(*) AS n_triangles
       |FROM ue e1 JOIN ue e2 ON e2.a = e1.b
       |JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin) { (s, d) =>
    val ue = graft.Ckpt.keep(undirectedNationEdges(s, d))
    val e1 = ue.select(col("a").as("x"), col("b").as("y"))
    val e2 = ue.select(col("a").as("y2"), col("b").as("z"))
    val e3 = ue.select(col("a").as("x3"), col("b").as("z3"))
    e1.join(e2, col("y") === col("y2"))
      .join(e3, col("x") === col("x3") && col("z") === col("z3"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  private val BfsIters = 4

  /** Breadth-first hop distance from a source vertex over an
    * undirected edge relation: the frontier relation carries
    * (node, hops), each round expands one equality join and keeps
    * the min hop per node — O(|V|) state per round.
    */
  def bfsHops(edges: DataFrame, source: Long, iters: Int): DataFrame =
    graft.Ckpt.scoped { sc =>
      val sym = sc.persist(edges.select(col("a"), col("b"))
        .union(edges.select(col("b").as("a"), col("a").as("b")))
        .distinct())
      val spark = edges.sparkSession
      import spark.implicits._
      sc.keep(sc.iterate(Seq((source, 0)).toDF("node", "hops"), iters, 3) { (hops, _) =>
        val expanded = hops
          .join(sym, col("node") === col("a"))
          .select(col("b").as("node"), (col("hops") + 1).as("hops"))
        hops.union(expanded)
          .groupBy(col("node")).agg(min(col("hops")).as("hops"))
      })
    }

  private def bfsOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""h$i AS (
         |  SELECT node, min(hops) AS hops FROM (
         |    SELECT node, hops FROM h${i - 1}
         |    UNION ALL
         |    SELECT sym.b AS node, h.hops + 1 AS hops
         |    FROM h${i - 1} h JOIN sym ON sym.a = h.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ue AS MATERIALIZED ($undirectedSql),
       |sym AS MATERIALIZED (SELECT a, b FROM ue UNION SELECT b, a FROM ue),
       |h0 AS (SELECT CAST(0 AS BIGINT) AS node, 0 AS hops),
       |$steps
       |SELECT node, hops FROM h$BfsIters ORDER BY node""".stripMargin
  }

  /** BFS hop distances from nation 0 over the undirected co-trade
    * graph ($BfsIters fixed rounds — beyond the graph's diameter);
    * oracle replays the identical frontier expansion as chained CTEs.
    */
  val graphBfs: QueryDef = QueryDef.sql(
    "graph_bfs", bfsOracle(BfsIters)) { (s, d) =>
    bfsHops(undirectedNationEdges(s, d), 0L, BfsIters)
      .select(col("node"), col("hops").cast("int").as("hops"))
      .orderBy(col("node"))
  }

  private val LpIters = 3

  /** Synchronous label propagation: each round every node adopts the
    * most frequent label among its neighbors (ties → smallest
    * label). Labels start as node ids; `iters` fixed synchronous
    * rounds keep the result deterministic and the oracle replayable.
    * Each round is one equality join over the symmetric edge
    * relation plus a (node, label) aggregate — O(|E|) shuffle and
    * O(|V|) state, the same scale envelope as pageRank.
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.Ckpt.scoped { sc =>
      val sym = sc.persist(edges.select(col("a"), col("b"))
        .union(edges.select(col("b").as("a"), col("a").as("b")))
        .distinct())
      var labels = sym.select(col("a").as("node"))
        .union(sym.select(col("b").as("node"))).distinct()
        .withColumn("label", col("node"))
      val w = Window.partitionBy(col("nb_node"))
        .orderBy(col("c").desc, col("label"))
      for (i <- 1 to iters) {
        labels = sym
          .join(labels.withColumnRenamed("node", "l_node"), col("l_node") === col("b"))
          .groupBy(col("a").as("nb_node"), col("label"))
          .agg(count(lit(1)).as("c"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("nb_node").as("node"), col("label"))
      }
      sc.keep(labels)
    }
  }

  private def labelPropOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""l$i AS (
         |  SELECT node, label FROM (
         |    SELECT s.a AS node, l.label, count(*) AS c,
         |           row_number() OVER (PARTITION BY s.a
         |             ORDER BY count(*) DESC, l.label) AS rk
         |    FROM sym s JOIN l${i - 1} l ON l.node = s.b
         |    GROUP BY s.a, l.label)
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ue AS MATERIALIZED ($undirectedSql),
       |sym AS MATERIALIZED (SELECT a, b FROM ue UNION SELECT b, a FROM ue),
       |l0 AS (SELECT node, node AS label FROM
       |       (SELECT a AS node FROM sym UNION SELECT b FROM sym)),
       |$steps
       |SELECT node, label AS community FROM l$LpIters ORDER BY node""".stripMargin
  }

  /** Community detection by label propagation on the nation co-trade
    * graph ($LpIters fixed synchronous rounds); the oracle replays
    * the identical adopt-the-modal-neighbor-label rule as chained
    * CTEs (same technique as the PageRank / BFS oracles).
    */
  val graphLabelprop: QueryDef = QueryDef.sql(
    "graph_labelprop", labelPropOracle(LpIters)) { (s, d) =>
    labelPropagation(undirectedNationEdges(s, d), LpIters)
      .select(col("node"), col("label").as("community"))
      .orderBy(col("node"))
  }

  /** Link-prediction scores: neighbor-set Jaccard similarity for
    * every connected node pair (a<b) of the co-trade graph —
    * |N(a)∩N(b)| from the two-hop wedge join, |N(a)∪N(b)| by
    * inclusion-exclusion with the degree relation. All equality
    * joins; the wedge join is the triangle-count shape, so the same
    * hub-orientation remedy applies at scale. The degree relation is
    * VERTEX-sized, so it carries no broadcast hint — AQE broadcasts
    * it when small and shuffle-joins when |V| grows past the
    * threshold (an unconditional hint here would be the corpus-sized
    * broadcast mistake).
    */
  val graphJaccard: QueryDef = QueryDef.sql(
    "graph_jaccard",
    s"""WITH ue AS MATERIALIZED ($undirectedSql),
       |sym AS MATERIALIZED (SELECT a, b FROM ue UNION SELECT b, a FROM ue),
       |deg AS (SELECT a AS node, count(*) AS d FROM sym GROUP BY a),
       |common AS (
       |  SELECT s1.a AS u, s2.a AS v, count(*) AS c
       |  FROM sym s1 JOIN sym s2 ON s1.b = s2.b AND s1.a < s2.a
       |  GROUP BY 1, 2),
       |linked AS (SELECT a, b FROM ue)
       |SELECT l.a, l.b,
       |  floor(c.c * 10000.0 / (da.d + db.d - c.c) + 0.5) / 10000 AS jaccard
       |FROM linked l
       |JOIN common c ON c.u = l.a AND c.v = l.b
       |JOIN deg da ON da.node = l.a
       |JOIN deg db ON db.node = l.b
       |ORDER BY jaccard DESC, l.a, l.b LIMIT 20""".stripMargin) { (s, d) =>
    val ue = graft.Ckpt.keep(undirectedNationEdges(s, d))
    val sym = graft.Ckpt.keep(ue.select(col("a"), col("b"))
      .union(ue.select(col("b").as("a"), col("a").as("b")))
      .distinct())
    val deg = sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("d"))
    val s1 = sym.select(col("a").as("u"), col("b").as("w"))
    val s2 = sym.select(col("a").as("v"), col("b").as("w2"))
    val common = s1.join(s2, col("w") === col("w2") && col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("c"))
    ue.join(common, col("a") === col("u") && col("b") === col("v"))
      .join(deg.withColumnRenamed("node", "n1")
        .withColumnRenamed("d", "da"), col("a") === col("n1"))
      .join(deg.withColumnRenamed("node", "n2")
        .withColumnRenamed("d", "db"), col("b") === col("n2"))
      .select(col("a"), col("b"),
        (floor(col("c") * 10000.0 / (col("da") + col("db") - col("c")) + 0.5)
          / 10000).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(20)
  }

  /** Closeness centrality by multi-source BFS: the frontier relation
    * carries (src, node, hops) for ALL sources at once — the same
    * fixed-round expansion as graphBfs but seeded with every vertex,
    * so state is O(|V|·reachable) and each round is still one
    * equality join + one min-aggregate. closeness(v) =
    * (reached−1) / Σ hops. The oracle replays the identical
    * multi-source expansion as chained CTEs.
    */
  val graphCloseness: QueryDef = {
    val iters = BfsIters
    val steps = (1 to iters).map { i =>
      s"""h$i AS (
         |  SELECT src, node, min(hops) AS hops FROM (
         |    SELECT src, node, hops FROM h${i - 1}
         |    UNION ALL
         |    SELECT h.src, sym.b AS node, h.hops + 1 AS hops
         |    FROM h${i - 1} h JOIN sym ON sym.a = h.node)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val oracle =
      s"""WITH ue AS MATERIALIZED ($undirectedSql),
         |sym AS MATERIALIZED (SELECT a, b FROM ue UNION SELECT b, a FROM ue),
         |v AS MATERIALIZED (SELECT a AS node FROM sym UNION SELECT b FROM sym),
         |h0 AS (SELECT node AS src, node, 0 AS hops FROM v),
         |$steps
         |SELECT src AS node,
         |  floor((count(*) - 1) * 10000.0 / sum(hops) + 0.5) / 10000 AS closeness,
         |  count(*) - 1 AS n_reached
         |FROM h$iters GROUP BY src HAVING sum(hops) > 0 ORDER BY src""".stripMargin
    QueryDef.sql("graph_closeness", oracle) { (s, d) =>
      val ue = undirectedNationEdges(s, d)
      // hops is referenced twice in its own next-round plan (the
      // union arm and the expansion join), so the lazy tree doubles
      // per round — checkpoint the O(|V|·reachable) relation every
      // round to keep the plan flat and the store bounded.
      val hops = graft.Ckpt.scoped { sc =>
        val sym = sc.persist(ue.select(col("a"), col("b"))
          .union(ue.select(col("b").as("a"), col("a").as("b")))
          .distinct())
        val vertices = sym.select(col("a").as("node"))
          .union(sym.select(col("b").as("node"))).distinct()
        val init = vertices.select(col("node").as("src"), col("node"),
          lit(0).as("hops"))
        sc.keep(sc.iterate(init, iters, 1) { (hops, _) =>
          val expanded = hops
            .join(sym, col("node") === col("a"))
            .select(col("src"), col("b").as("node"), (col("hops") + 1).as("hops"))
          hops.unionAll(expanded)
            .groupBy(col("src"), col("node")).agg(min(col("hops")).as("hops"))
        })
      }
      hops.groupBy(col("src"))
        .agg(count(lit(1)).as("n"), sum(col("hops")).as("sum_hops"))
        .filter(col("sum_hops") > 0)
        .select(col("src").as("node"),
          (floor((col("n") - 1) * 10000.0 / col("sum_hops") + 0.5) / 10000)
            .as("closeness"),
          (col("n") - 1).as("n_reached"))
        .orderBy(col("node"))
    }
  }

  private val KcoreK = 2
  private val KcoreRounds = 4

  /** k-core decomposition by iterative peeling: each round drops
    * nodes whose degree within the surviving subgraph is < k, for a
    * fixed number of rounds (monotone — once stable, further rounds
    * are no-ops, so a fixed count ≥ the peel depth is exact). Each
    * round is a degree aggregate over the alive-restricted edge set
    * (two semi-joins) — O(|E|) work, O(|V|) state, the same
    * envelope as the other iterative graph operators.
    *
    * `alive` feeds BOTH semi-joins of the next round, so without a
    * materialization the lazy plan doubles per round (2^rounds
    * copies of the base subtree by the end — this was 11.7 s in the
    * r03 bench). The O(|V|)-row frontier is localCheckpointed each
    * round instead: the plan stays flat and each round runs once.
    */
  val graphKcore: QueryDef = {
    val steps = (1 to KcoreRounds).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT s.a AS node, count(*) AS c
         |    FROM sym s
         |    JOIN a${i - 1} x ON x.node = s.a
         |    JOIN a${i - 1} y ON y.node = s.b
         |    GROUP BY s.a)
         |  WHERE c >= $KcoreK)""".stripMargin
    }.mkString(",\n")
    val oracle =
      s"""WITH ue AS MATERIALIZED ($undirectedSql),
         |sym AS MATERIALIZED (SELECT a, b FROM ue UNION SELECT b, a FROM ue),
         |a0 AS (SELECT a AS node FROM sym UNION SELECT b FROM sym),
         |$steps
         |SELECT s.a AS node, count(*) AS core_degree
         |FROM sym s
         |JOIN a$KcoreRounds x ON x.node = s.a
         |JOIN a$KcoreRounds y ON y.node = s.b
         |GROUP BY s.a ORDER BY s.a""".stripMargin
    QueryDef.sql("graph_kcore", oracle) { (s, d) =>
      val ue = undirectedNationEdges(s, d)
      graft.Ckpt.scoped { sc =>
        val sym = sc.persist(ue.select(col("a"), col("b"))
          .union(ue.select(col("b").as("a"), col("a").as("b")))
          .distinct())
        def core(alive: DataFrame) = sym
          .join(alive.withColumnRenamed("node", "na"), col("na") === col("a"), "left_semi")
          .join(alive.withColumnRenamed("node", "nb"), col("nb") === col("b"), "left_semi")
          .groupBy(col("a").as("node"))
        val init = sym.select(col("a").as("node"))
          .union(sym.select(col("b").as("node"))).distinct()
        val alive = sc.iterate(init, KcoreRounds, 1) { (alive, _) =>
          core(alive).agg(count(lit(1)).as("c"))
            .filter(col("c") >= KcoreK)
            .select(col("node"))
        }
        sc.keep(core(alive).agg(count(lit(1)).as("core_degree"))
          .orderBy(col("node")))
      }
    }
  }

  /** Undirected nation trade edges weighted by total traded revenue
    * (one orders⋈lineitem shuffle + two broadcast dimension joins,
    * then a pair aggregate).
    */
  def weightedNationEdges(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_extendedprice")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(
        least(col("c_nationkey"), col("s_nationkey")).cast("long").as("a"),
        greatest(col("c_nationkey"), col("s_nationkey")).cast("long").as("b"),
        col("l_extendedprice"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      // quantize-before-sum: each price becomes exact cents (a long)
      // BEFORE aggregation, so the sum is integer arithmetic —
      // order-independent and engine-independent. round(sum(double))
      // was the one remaining partition-order-dependent float sum on
      // an oracle-compared path: a half-ulp near a .005 boundary
      // could flip both the printed weight and the Borůvka argmin.
      .agg((sum(floor(col("l_extendedprice") * 100 + lit(0.5))).cast("double")
        / 100.0).as("w"))
  }

  /** Minimum spanning tree by Borůvka's algorithm — THE distributed
    * MST (each round is pure dataflow: per-component minimum
    * outgoing edge via a struct-min aggregate, then component merge
    * by connected components over the chosen edges; components at
    * least halve per round, so ⌈log₂|V|⌉ rounds bound any graph).
    * The struct-min orders by (w, a, b, ca, cb) — a TOTAL order, so
    * choices are deterministic and (the classic argument) cycle-free
    * even with duplicate weights. Per-round state is O(|V|) labels +
    * O(components) chosen edges, checkpointed so the plan stays
    * flat; the component merge reuses Dedup.connectedComponents
    * (size-adaptive through Regime: driver union-find while the
    * collected edges fit the budget, distributed pointer jumping
    * above). Kruskal-recomputed edge-set equality is test-pinned.
    */
  /** graph_mst's oracle: Borůvka replayed as FIXED rounds (extra
    * rounds no-op once components exhaust — ⌈log₂ 25⌉ bounds the
    * nation graph) — per round the per-component (w, a, b, ca, cb)
    * struct-min pick, then the merge-graph relabel as min-label
    * propagation run past the worst-case diameter (the same min-id
    * labels the engine's union-find assigns).
    */
  private def mstOracle(rounds: Int, labelIters: Int): String = {
    def roundCtes(r: Int): String = {
      val labels = (1 to labelIters).map { k =>
        s"""ml${k}_$r AS MATERIALIZED (
           |  SELECT m.id, least(m.lbl, coalesce(min(n.lbl), m.lbl)) AS lbl
           |  FROM ml${k - 1}_$r m LEFT JOIN mg_$r g ON g.u = m.id
           |  LEFT JOIN ml${k - 1}_$r n ON n.id = g.v
           |  GROUP BY m.id, m.lbl)""".stripMargin
      }.mkString(",\n")
      s"""e2_$r AS (
         |  SELECT we.a, we.b, we.w, x.comp AS ca, y.comp AS cb
         |  FROM we JOIN comp_${r - 1} x ON x.id = we.a
         |  JOIN comp_${r - 1} y ON y.id = we.b
         |  WHERE x.comp <> y.comp),
         |chosen_$r AS MATERIALIZED (
         |  SELECT DISTINCT a, b, w, ca, cb FROM (
         |    SELECT a, b, w, ca, cb,
         |      row_number() OVER (PARTITION BY c ORDER BY w, a, b, ca, cb) AS rn
         |    FROM (SELECT ca AS c, a, b, w, ca, cb FROM e2_$r
         |          UNION ALL SELECT cb AS c, a, b, w, ca, cb FROM e2_$r))
         |  WHERE rn = 1),
         |mg_$r AS (SELECT ca AS u, cb AS v FROM chosen_$r
         |          UNION SELECT cb AS u, ca AS v FROM chosen_$r),
         |ml0_$r AS (SELECT id, id AS lbl FROM (
         |  SELECT DISTINCT ca AS id FROM chosen_$r
         |  UNION SELECT DISTINCT cb AS id FROM chosen_$r)),
         |$labels,
         |comp_$r AS MATERIALIZED (
         |  SELECT c.id, coalesce(m.lbl, c.comp) AS comp
         |  FROM comp_${r - 1} c LEFT JOIN ml${labelIters}_$r m ON m.id = c.comp)""".stripMargin
    }
    val body = (1 to rounds).map(roundCtes).mkString(",\n")
    val union = (1 to rounds)
      .map(r => s"SELECT a, b, w FROM chosen_$r").mkString(" UNION ALL ")
    s"""WITH we AS MATERIALIZED (
       |  SELECT CAST(least(c_nationkey, s_nationkey) AS BIGINT) AS a,
       |         CAST(greatest(c_nationkey, s_nationkey) AS BIGINT) AS b,
       |         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS w
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE c_nationkey <> s_nationkey
       |  GROUP BY 1, 2),
       |comp_0 AS (
       |  SELECT id, id AS comp FROM (
       |    SELECT DISTINCT a AS id FROM we UNION SELECT DISTINCT b AS id FROM we)),
       |$body
       |SELECT a, b, w FROM ($union) ORDER BY w, a, b""".stripMargin
  }

  val graphMst: QueryDef = QueryDef.sql(
    "graph_mst", mstOracle(5, 25)) { (s, d) =>
    graft.Ckpt.scoped { sc =>
      val we = sc.persist(weightedNationEdges(s, d))
      var comp = sc.checkpoint(we.select(col("a").as("id")).union(we.select(col("b").as("id")))
        .distinct().withColumn("comp", col("id")))
      var mst = Option.empty[DataFrame]
      var done = false
      var rounds = 0
      while (!done && rounds < 34) { // ⌈log₂ maxVertices⌉ safety bound
        val e2 = we
          .join(comp.select(col("id").as("a2"), col("comp").as("ca")), col("a") === col("a2"))
          .join(comp.select(col("id").as("b2"), col("comp").as("cb")), col("b") === col("b2"))
          .filter(col("ca") =!= col("cb"))
          .select(col("a"), col("b"), col("w"), col("ca"), col("cb"))
        val pick = struct(col("w"), col("a"), col("b"), col("ca"), col("cb")).as("e")
        val cand = e2.select(col("ca").as("c"), pick)
          .unionAll(e2.select(col("cb").as("c"), pick))
        val chosen = sc.checkpoint(cand.groupBy(col("c")).agg(min(col("e")).as("e"))
          .select(col("e.a").as("a"), col("e.b").as("b"), col("e.w").as("w"),
            col("e.ca").as("ca"), col("e.cb").as("cb"))
          .distinct())
        if (chosen.head(1).isEmpty) done = true
        else {
          val edges = chosen.select("a", "b", "w")
          mst = Some(mst.fold(sc.checkpoint(edges))(m => sc.roll(m.unionAll(edges), m)))
          val cc = sc.adopt(Dedup.connectedComponents(
            chosen.select(col("ca").as("id1"), col("cb").as("id2"))))
          val mapping = cc.select(col("id").as("comp0"), col("label").as("newc"))
          comp = sc.roll(
            comp.join(mapping, col("comp") === col("comp0"), "left")
              .select(col("id"), coalesce(col("newc"), col("comp")).as("comp")),
            comp)
          sc.free(cc)
          rounds += 1
        }
        sc.free(chosen)
      }
      mst.map(sc.keep).getOrElse(we.select("a", "b", "w").limit(0))
        .orderBy(col("w"), col("a"), col("b"))
    }
  }

  private val SsspIters = 6

  /** Bounded-hop Bellman–Ford: `iters` synchronous relax rounds over
    * the symmetric weighted edge relation — each round one equality
    * join (frontier ⋈ edges) + a per-node min aggregate, O(|E|)
    * shuffle and O(|V|) state, lineage cut every 3 rounds. Fixed
    * rounds make the result "shortest path using ≤ iters hops" —
    * deterministic and exactly replayable by the chained-CTE oracle
    * (full convergence = iters ≥ |V|−1; at 6 the 25-node trade
    * graph is converged in practice and both engines agree by
    * construction either way).
    */
  def ssspDists(edges: DataFrame, source: Long, iters: Int): DataFrame =
    graft.Ckpt.scoped { sc =>
      val sym = sc.persist(edges.select(col("a"), col("b"), col("cost"))
        .union(edges.select(col("b").as("a"), col("a").as("b"), col("cost"))))
      val spark = edges.sparkSession
      import spark.implicits._
      sc.keep(sc.iterate(Seq((source, 0.0)).toDF("node", "dist"), iters, 3) { (dist, _) =>
        val relaxed = dist.join(sym, col("node") === col("a"))
          .select(col("b").as("node"), (col("dist") + col("cost")).as("dist"))
        dist.union(relaxed)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      })
    }

  private def ssspOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""d$i AS (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT sym.b AS node, d.dist + sym.cost AS dist
         |    FROM d${i - 1} d JOIN sym ON sym.a = d.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH we AS MATERIALIZED (
       |  SELECT CAST(least(c_nationkey, s_nationkey) AS BIGINT) AS a,
       |         CAST(greatest(c_nationkey, s_nationkey) AS BIGINT) AS b,
       |         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS w
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE c_nationkey <> s_nationkey
       |  GROUP BY 1, 2),
       |sym AS MATERIALIZED (
       |  SELECT a, b, 1000000000.0 / w AS cost FROM we
       |  UNION ALL
       |  SELECT b, a, 1000000000.0 / w FROM we),
       |d0 AS (SELECT CAST(0 AS BIGINT) AS node, 0.0 AS dist),
       |$steps
       |SELECT node, round(dist, 6) AS dist FROM d$iters ORDER BY node""".stripMargin
  }

  /** Weighted single-source shortest paths from nation 0 where hop
    * cost is inverse trade intensity (1e9 / edge revenue — heavier
    * trade = closer): $SsspIters Bellman–Ford rounds; the oracle
    * replays the identical relaxation as chained CTEs. Costs stay
    * hash-matchable because the only cross-engine float surface is
    * the cent-quantized edge-revenue sum (integer cents summed, then
    * one division — order-independent by construction) —
    * every later op (division, path addition, min) is identical
    * IEEE arithmetic on identical inputs.
    */
  val graphSssp: QueryDef = QueryDef.sql(
    "graph_sssp", ssspOracle(SsspIters)) { (s, d) =>
    val edges = weightedNationEdges(s, d)
      .withColumn("cost", lit(1000000000.0) / col("w"))
    ssspDists(edges, 0L, SsspIters)
      .select(col("node"), round(col("dist"), 6).as("dist"))
      .orderBy(col("node"))
  }

  private val HitsIters = 4

  /** The chained-CTE DuckDB oracle for HITS — same generated-replay
    * technique as pageRankOracle: ar/a/hr/h CTE quadruple per
    * iteration, L1 normalization as a scalar subquery. Every step is
    * MATERIALIZED: each a/h CTE references its raw CTE twice (the
    * relation + the normalization scalar), so un-materialized
    * inlining doubles the plan per half-step — exponential planning
    * by iteration 4 (observed: the inlined form never finished).
    */
  private def hitsOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (
         |  SELECT v.node, coalesce(sum(h.h), 0) AS raw
         |  FROM v LEFT JOIN e ON e.dst = v.node
         |         LEFT JOIN h${i - 1} h ON h.node = e.src
         |  GROUP BY v.node),
         |a$i AS MATERIALIZED (SELECT node, raw / (SELECT sum(raw) FROM ar$i) AS a FROM ar$i),
         |hr$i AS MATERIALIZED (
         |  SELECT v.node, coalesce(sum(a.a), 0) AS raw
         |  FROM v LEFT JOIN e ON e.src = v.node
         |         LEFT JOIN a$i a ON a.node = e.dst
         |  GROUP BY v.node),
         |h$i AS MATERIALIZED (SELECT node, raw / (SELECT sum(raw) FROM hr$i) AS h FROM hr$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($nationEdgesSql),
       |v AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |h0 AS (SELECT node, 1.0 AS h FROM v),
       |$steps
       |SELECT v.node, round(h.h, 8) AS hub, round(a.a, 8) AS auth
       |FROM v JOIN h$iters h ON h.node = v.node
       |       JOIN a$iters a ON a.node = v.node
       |ORDER BY v.node""".stripMargin
  }

  /** HITS hubs & authorities on the nation trade graph (Kleinberg
    * 1999), $HitsIters fixed synchronous iterations with L1
    * normalization — authorities aggregate hub mass over in-edges,
    * hubs aggregate authority mass over out-edges, each an O(|E|)
    * equality join + O(|V|) aggregate per half-step; the
    * normalization total rides in as a broadcast 1-row aggregate (no
    * driver action inside the loop), lineage cut every 2 rounds.
    * Generic edge-relation formulation — same plan shape at any
    * vertex count; oracle is the generated chained-CTE replay.
    */
  val graphHits: QueryDef = QueryDef.sql(
    "graph_hits", hitsOracle(HitsIters)) { (s, d) =>
    graft.Ckpt.scoped { sc =>
      val e = sc.checkpoint(nationEdges(s, d))
      val nodes = sc.checkpoint(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
      var hub = nodes.withColumn("h", lit(1.0))
      var auth = hub
      var gen = Seq.empty[DataFrame]
      for (i <- 1 to HitsIters) {
        val araw = nodes.join(
            e.join(hub.select(col("node").as("hn"), col("h")), col("src") === col("hn"))
              .groupBy(col("dst").as("an")).agg(sum(col("h")).as("raw")),
            col("node") === col("an"), "left_outer")
          .select(col("node"), coalesce(col("raw"), lit(0.0)).as("raw"))
        val atot = araw.agg(sum(col("raw")).as("t"))
        auth = araw.crossJoin(broadcast(atot))
          .select(col("node"), (col("raw") / col("t")).as("a"))
        val hraw = nodes.join(
            e.join(auth.select(col("node").as("an2"), col("a")), col("dst") === col("an2"))
              .groupBy(col("src").as("hn2")).agg(sum(col("a")).as("raw")),
            col("node") === col("hn2"), "left_outer")
          .select(col("node"), coalesce(col("raw"), lit(0.0)).as("raw"))
        val htot = hraw.agg(sum(col("raw")).as("t"))
        hub = hraw.crossJoin(broadcast(htot))
          .select(col("node"), (col("raw") / col("t")).as("h"))
        if (i % 2 == 0 || i == HitsIters) {
          // materialize BOTH new states before freeing EITHER old one:
          // auth's lazy plan runs through the previous hub checkpoint,
          // so a hub-roll-then-auth-roll order would free blocks the
          // auth materialization still needs.
          val next = Seq(hub, auth).map(sc.checkpoint(_))
          gen.foreach(sc.free)
          gen = next
          hub = next(0); auth = next(1)
        }
      }
      sc.keep(hub).join(sc.keep(auth).select(col("node").as("anode"), col("a")),
          col("node") === col("anode"))
        .select(col("node"), round(col("h"), 8).as("hub"),
          round(col("a"), 8).as("auth"))
        .orderBy(col("node"))
    }
  }

  /** Connected components of the thresholded co-purchase part graph
    * (parts linked when bought together in ≥3 distinct orders — at
    * sf0.01 a sparse 56-component graph). Reuses the size-adaptive
    * component machinery the dedup family's survivor election runs on
    * (Dedup.connectedComponents): driver union-find below the edge
    * bound, distributed min-label propagation with pointer jumping
    * (O(log diameter) rounds) above — so the same query scales from
    * the local test graph to a corpus-scale similarity graph. Edge
    * building is one orderkey shuffle with per-basket fan-out
    * (O(orders·basket²), never parts²); iteration state is O(|V|).
    * Component label = minimum part key, so output is deterministic.
    * Oracle: recursive-CTE min-reachability (UNION dedups, so the
    * closure terminates on cycles).
    */
  val graphCc: QueryDef = QueryDef.sql(
    "graph_cc",
    """WITH RECURSIVE
      |o AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pairs AS (
      |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
      |  FROM o a JOIN o b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 3),
      |e AS (SELECT p1 AS s, p2 AS t FROM pairs
      |      UNION SELECT p2, p1 FROM pairs),
      |r(n, l) AS (
      |  SELECT s, s FROM (SELECT DISTINCT s FROM e)
      |  UNION
      |  SELECT e.t, r.l FROM r JOIN e ON r.n = e.s),
      |lbl AS (SELECT n, min(l) AS comp FROM r GROUP BY n)
      |SELECT comp, count(*) AS n_parts
      |FROM lbl GROUP BY comp ORDER BY comp""".stripMargin) { (s, d) =>
    val items = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val pairs = items
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("id1"))
      .join(items.select(col("l_orderkey").as("ok2"), col("l_partkey").as("id2")),
        col("ok") === col("ok2") && col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 3)
      .select(col("id1"), col("id2"))
    Dedup.connectedComponents(pairs)
      .groupBy(col("label").as("comp"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy(col("comp"))
  }

  /** Degree assortativity of the bipartite customer↔supplier trade
    * graph: Pearson correlation, ACROSS EDGES, of the endpoint
    * degrees (do high-degree customers trade with high-degree
    * suppliers?) — the network-science mixing diagnostic. One edge
    * dedup shuffle + two O(|V|) degree aggregates joined back edge-
    * side; corr is a single algebraic aggregate (the profile_corr
    * parity). The nation graph is complete (corr undefined there),
    * so this runs on the sparse bipartite graph.
    */
  val graphAssortativity: QueryDef = QueryDef.sql(
    "graph_assortativity",
    """WITH e AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |od AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
      |id AS (SELECT dst, count(*) AS deg FROM e GROUP BY 1)
      |SELECT round(corr(od.deg, id.deg), 6) AS assortativity,
      |  count(*) AS n_edges,
      |  round(avg(od.deg), 4) AS avg_src_deg,
      |  round(avg(id.deg), 4) AS avg_dst_deg
      |FROM e JOIN od ON e.src = od.src JOIN id ON e.dst = id.dst""".stripMargin) { (s, d) =>
    val e = tradeEdges(s, d)
    val od = e.groupBy(col("src").as("od_src")).agg(count(lit(1)).as("sdeg"))
    val id = e.groupBy(col("dst").as("id_dst")).agg(count(lit(1)).as("ddeg"))
    e.join(od, col("src") === col("od_src"))
      .join(id, col("dst") === col("id_dst"))
      .agg(round(corr(col("sdeg"), col("ddeg")), 6).as("assortativity"),
        count(lit(1)).as("n_edges"),
        round(avg(col("sdeg")), 4).as("avg_src_deg"),
        round(avg(col("ddeg")), 4).as("avg_dst_deg"))
  }

  /** Newman modularity of the connected-component partition of the
    * co-purchase graph — per-community contribution
    * m_c/m − (d_c/2m)², the partition-quality score community
    * detection optimizes (here evaluated on the component partition,
    * where it measures balance: no cross-component edges exist, so
    * Σ m_c = m and Q = 1 − Σ(d_c/2m)²). Composes graph_cc's
    * component machinery with two O(|V|)/O(|E|) aggregates; the
    * totals ride in as a broadcast 1-row aggregate. (Synchronous
    * label propagation is NOT the substrate here: on the many tiny
    * components of this graph the 2-node label ping-pong leaves
    * mostly singletons — the component partition is the honest
    * community structure.)
    */
  val graphModularity: QueryDef = QueryDef.sql(
    "graph_modularity",
    """WITH RECURSIVE
      |o AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |cp AS MATERIALIZED (
      |  SELECT a.l_partkey AS a, b.l_partkey AS b
      |  FROM o a JOIN o b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 3),
      |e AS MATERIALIZED (SELECT a AS s, b AS t FROM cp
      |                   UNION SELECT b, a FROM cp),
      |r(n, l) AS (
      |  SELECT s, s FROM (SELECT DISTINCT s FROM e)
      |  UNION
      |  SELECT e.t, r.l FROM r JOIN e ON r.n = e.s),
      |lab AS MATERIALIZED (SELECT n AS node, min(l) AS community FROM r GROUP BY n),
      |m AS (SELECT count(*) AS m FROM cp),
      |w AS (SELECT la.community, count(*) AS m_c
      |  FROM cp JOIN lab la ON la.node = cp.a JOIN lab lb ON lb.node = cp.b
      |  WHERE la.community = lb.community GROUP BY 1),
      |deg AS (SELECT s AS node, count(*) AS d FROM e GROUP BY 1),
      |dc AS (SELECT l.community, sum(d.d) AS d_c, count(*) AS n_nodes
      |  FROM lab l JOIN deg d ON d.node = l.node GROUP BY 1)
      |SELECT dc.community, n_nodes, coalesce(w.m_c, 0) AS m_c,
      |  CAST(d_c AS BIGINT) AS d_c,
      |  round(coalesce(w.m_c, 0) / CAST(m.m AS DOUBLE)
      |    - (d_c / (2.0 * m.m)) * (d_c / (2.0 * m.m)), 6) AS q_contrib
      |FROM dc LEFT JOIN w ON dc.community = w.community, m
      |ORDER BY dc.community""".stripMargin) { (s, d) =>
    val items = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val cp = graft.Ckpt.keep(items
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("id1"))
      .join(items.select(col("l_orderkey").as("ok2"), col("l_partkey").as("id2")),
        col("ok") === col("ok2") && col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("nn"))
      .filter(col("nn") >= 3)
      .select(col("id1").as("a"), col("id2").as("b")))
    val lab = graft.operators.Dedup.connectedComponents(
        cp.select(col("a").as("id1"), col("b").as("id2")))
      .select(col("id").as("node"), col("label").as("community"))
    val m = cp.agg(count(lit(1)).as("m"))
    val w = cp
      .join(lab.select(col("node").as("na"), col("community").as("ca")),
        col("a") === col("na"))
      .join(lab.select(col("node").as("nb"), col("community").as("cb")),
        col("b") === col("nb"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("w_comm")).agg(count(lit(1)).as("m_c"))
    val deg = cp.select(col("a").as("s")).unionAll(cp.select(col("b")))
      .groupBy(col("s")).agg(count(lit(1)).as("deg"))
    val dc = lab.join(deg, col("node") === col("s"))
      .groupBy(col("community"))
      .agg(sum(col("deg")).as("d_c"), count(lit(1)).as("n_nodes"))
    dc.join(w, col("community") === col("w_comm"), "left_outer")
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"),
        coalesce(col("m_c"), lit(0L)).as("m_c"), col("d_c"),
        round(coalesce(col("m_c"), lit(0L)) / col("m").cast("double")
          - (col("d_c") / (lit(2.0) * col("m"))) * (col("d_c") / (lit(2.0) * col("m"))), 6)
          .as("q_contrib"))
      .orderBy(col("community"))
  }

  /** Local clustering coefficient per node: cc(v) = 2·T(v) /
    * (deg(v)·(deg(v)−1)) where T(v) counts triangles through v.
    * Wedges come from joining the symmetrized neighbor relation with
    * itself on the center (x < y kills mirror duplicates), then a
    * semi-join-shaped equality join against the undirected edge set
    * closes each wedge — three equality joins over O(|E|) relations,
    * no cartesian; per-node state is O(|V|).
    */
  val graphClusteringCoeff: QueryDef = QueryDef.sql(
    "graph_clustering_coeff",
    s"""WITH ue AS MATERIALIZED ($undirectedSql),
       |sym AS (SELECT a AS c, b AS n FROM ue UNION ALL SELECT b, a FROM ue),
       |deg AS (SELECT c AS node, count(*) AS degree FROM sym GROUP BY c),
       |tri AS (
       |  SELECT s1.c AS node, count(*) AS triangles
       |  FROM sym s1 JOIN sym s2 ON s2.c = s1.c AND s1.n < s2.n
       |  JOIN ue e ON e.a = s1.n AND e.b = s2.n
       |  GROUP BY s1.c)
       |SELECT d.node, d.degree, coalesce(t.triangles, 0) AS triangles,
       |  round(CASE WHEN d.degree < 2 THEN 0.0
       |    ELSE 2.0 * coalesce(t.triangles, 0) / (d.degree * (d.degree - 1.0))
       |    END, 6) AS coeff
       |FROM deg d LEFT JOIN tri t ON t.node = d.node
       |ORDER BY d.node""".stripMargin) { (s, d) =>
    val ue = graft.Ckpt.keep(undirectedNationEdges(s, d))
    val sym = ue.select(col("a").as("c"), col("b").as("n"))
      .unionAll(ue.select(col("b").as("c"), col("a").as("n")))
    val deg = sym.groupBy(col("c").as("node")).agg(count(lit(1)).as("degree"))
    val tri = sym.select(col("c"), col("n").as("x"))
      .join(sym.select(col("c").as("c2"), col("n").as("y")),
        col("c") === col("c2") && col("x") < col("y"))
      .join(ue, col("a") === col("x") && col("b") === col("y"))
      .groupBy(col("c").as("t_node")).agg(count(lit(1)).as("triangles"))
    deg.join(tri, col("node") === col("t_node"), "left_outer")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        round(when(col("degree") < 2, lit(0.0))
          .otherwise(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
            (col("degree") * (col("degree") - lit(1.0)))), 6).as("coeff"))
      .orderBy(col("node"))
  }

  /** Strict 2-hop reach per node: |{w : w ∈ N(N(v)), w ≠ v,
    * w ∉ N(v)}| — the friend-of-friend audience a recommendation
    * pass would fan out to. One self-join of the symmetrized
    * neighbor relation plus a left-anti join against direct edges;
    * distinct lands on O(|V|²) worst case but is bounded by real
    * reachability, and every join is an equality join on node ids.
    */
  val graph2hop: QueryDef = QueryDef.sql(
    "graph_2hop",
    s"""WITH ue AS MATERIALIZED ($undirectedSql),
       |sym AS (SELECT a AS c, b AS n FROM ue UNION ALL SELECT b, a FROM ue),
       |hop2 AS (
       |  SELECT DISTINCT s1.c AS v, s2.n AS w
       |  FROM sym s1 JOIN sym s2 ON s2.c = s1.n
       |  WHERE s2.n <> s1.c),
       |strict AS (
       |  SELECT h.v, h.w FROM hop2 h
       |  WHERE NOT EXISTS (SELECT 1 FROM sym s WHERE s.c = h.v AND s.n = h.w))
       |SELECT d.c AS node, count(DISTINCT d.n) AS degree,
       |  coalesce(r.n2, 0) AS reach2
       |FROM sym d LEFT JOIN
       |  (SELECT v, count(*) AS n2 FROM strict GROUP BY v) r ON r.v = d.c
       |GROUP BY d.c, r.n2 ORDER BY d.c""".stripMargin) { (s, d) =>
    val ue = graft.Ckpt.keep(undirectedNationEdges(s, d))
    val sym = ue.select(col("a").as("c"), col("b").as("n"))
      .unionAll(ue.select(col("b").as("c"), col("a").as("n")))
    val hop2 = sym.select(col("c").as("v"), col("n").as("mid"))
      .join(sym.select(col("c").as("mid2"), col("n").as("w")),
        col("mid") === col("mid2"))
      .filter(col("w") =!= col("v"))
      .select(col("v"), col("w")).distinct()
    val strict = hop2.join(sym.select(col("c").as("sv"), col("n").as("sw")),
        col("v") === col("sv") && col("w") === col("sw"), "left_anti")
    val reach = strict.groupBy(col("v")).agg(count(lit(1)).as("n2"))
    sym.groupBy(col("c").as("node"))
      .agg(countDistinct(col("n")).as("degree"))
      .join(reach, col("node") === col("v"), "left_outer")
      .select(col("node"), col("degree"), coalesce(col("n2"), lit(0L)).as("reach2"))
      .orderBy(col("node"))
  }

  /** Weighted one-mode projection of the bipartite customer↔supplier
    * graph onto suppliers: edge (s1, s2) weighted by the number of
    * shared customers — the co-occurrence graph recommender and
    * community pipelines start from. One equality self-join on the
    * customer key (the s1 < s2 orientation halves the pairs and kills
    * mirrors), so the shuffle carries Σ_c deg(c)² pairs — bounded by
    * per-customer supplier counts, never suppliers². At 100 TB the
    * standard guard is capping/salting the few huge-degree customers
    * (they contribute quadratically); top-20 by (weight, s1, s2)
    * keeps the output bounded and the cut deterministic.
    */
  val graphBipartite: QueryDef = QueryDef.sql(
    "graph_bipartite",
    """WITH e AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |p AS (
      |  SELECT e1.s AS s1, e2.s AS s2, count(*) AS shared
      |  FROM e e1 JOIN e e2 ON e1.c = e2.c AND e1.s < e2.s
      |  GROUP BY 1, 2)
      |SELECT s1, s2, shared FROM p
      |ORDER BY shared DESC, s1, s2 LIMIT 20""".stripMargin) { (s, d) =>
    val e = tradeEdges(s, d) // (src = customer, dst = supplier), distinct
    val e1 = e.select(col("src").as("c1"), col("dst").as("s1"))
    val e2 = e.select(col("src").as("c2"), col("dst").as("s2"))
    e1.join(e2, col("c1") === col("c2") && col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("shared"))
      .orderBy(col("shared").desc, col("s1"), col("s2"))
      .limit(20)
  }

  /** Deterministic random walks over the nation graph — the sampling
    * primitive node2vec/DeepWalk embeddings train on. One walk starts
    * at every node; at step i the next hop is the neighbor minimizing
    * md5(i:cur:neighbor) — a hash-derived "uniform" choice that every
    * run, every partitioning, and every engine reproduces exactly
    * (rand() would be none of those). Each step is one equality join
    * frontier⋈neighbors plus a min-struct aggregate keyed by the
    * walk — O(walks · avg-degree) shuffle per step, state O(walks);
    * walk count and length are the knobs, never the corpus. The
    * oracle replays the identical argmin-hash chain.
    */
  val graphWalks: QueryDef = QueryDef.sql(
    "graph_walks", {
      // NOTE: generated lines must never START with '|' — this SQL is
      // embedded in an outer stripMargin which would re-strip them.
      val steps = (1 to 3).map { i =>
        val prev = if (i == 1) "cur" else s"s${i - 1}"
        val w = if (i == 1) "w0" else s"w${i - 1}"
        s"""p$i AS (
           |  SELECT w.*, s.n,
           |    row_number() OVER (PARTITION BY w.start
           |      ORDER BY md5(concat('$i', ':', CAST(w.$prev AS VARCHAR),
           |                   ':', CAST(s.n AS VARCHAR))), s.n) AS rn
           |  FROM $w w JOIN sym s ON s.c = w.$prev),
           |w$i AS (SELECT * EXCLUDE (n, rn), n AS s$i FROM p$i WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH ue AS MATERIALIZED ($undirectedSql),
         |sym AS (SELECT a AS c, b AS n FROM ue UNION ALL SELECT b, a FROM ue),
         |w0 AS (SELECT DISTINCT c AS start, c AS cur FROM sym),
         |""".stripMargin + steps +
        "\nSELECT start, s1, s2, s3 FROM w3 ORDER BY start"
    }) { (s, d) =>
    val ue = graft.Ckpt.keep(undirectedNationEdges(s, d))
    val sym = ue.select(col("a").as("c"), col("b").as("n"))
      .unionAll(ue.select(col("b").as("c"), col("a").as("n")))
    var walk = sym.select(col("c").as("start")).distinct()
      .withColumn("cur", col("start"))
    for (i <- 1 to 3) {
      val keyCols = walk.columns.filter(_ != "cur")
      val prev = col("cur")
      val h = md5(concat_ws(":", lit(i.toString),
        prev.cast("string"), col("n").cast("string")))
      walk = walk.join(sym, prev === col("c"))
        .groupBy((keyCols :+ "cur").map(col).toIndexedSeq: _*)
        .agg(min(struct(h.as("h"), col("n").as("n"))).as("pick"))
        .select((keyCols.map(col) :+ col("pick.n").as(s"s$i")).toIndexedSeq: _*)
        .withColumn("cur", col(s"s$i"))
    }
    walk.select(col("start"), col("s1"), col("s2"), col("s3"))
      .orderBy(col("start"))
  }

  /** node2vec-style SECOND-ORDER biased random walks (Grover &
    * Leskovec, KDD 2016) — the walk generator behind the most widely
    * deployed graph-embedding recipe, upgrading graph_walks' uniform
    * chain with the return/in-out bias: from cur (arrived from prev),
    * candidate n weighs 1/p if n = prev (return), 1 if n is adjacent
    * to prev (stay in the neighborhood), 1/q otherwise (venture out).
    * p = 1/4, q = 1/2 here → integer weight classes {4, 1, 2}.
    *
    * Sampling is EXACT and deterministic with no RNG state: each
    * candidate is replicated `wclass` times (a 4-row broadcast
    * replica dimension filtered k < wclass — discrete weighted
    * sampling by enumeration), and the walk takes the candidate
    * owning the argmin md5(step:start:cur:cand:k) — each replica is
    * equally likely under the hash ordering, so P(cand) ∝ wclass,
    * and every run / partitioning / engine replays the same walks
    * (the DuckDB oracle replays the identical chain). Per step: one
    * equality join to the symmetric edge list, one membership
    * left-join against the undirected edge set for the distance-1
    * test, one small non-equi broadcast join for replicas, one
    * argmin aggregate — O(|V|·deg·4) rows a step, never corpus-sized;
    * walk count and length are the knobs.
    */
  val graphNode2vec: QueryDef = QueryDef.sql(
    "graph_node2vec", {
      // NOTE: generated lines must never START with '|' — outer
      // stripMargin would re-strip them (graph_walks convention).
      val steps = (2 to 3).map { i =>
        val prev = if (i == 2) "start" else s"s${i - 2}"
        val cur = s"s${i - 1}"
        val carried = ("start" +: (1 until i).map(j => s"s$j")).map(c => s"w.$c")
          .mkString(", ")
        s"""p$i AS (
           |  SELECT $carried, s.n,
           |    row_number() OVER (PARTITION BY w.start
           |      ORDER BY md5(concat('$i', ':', CAST(w.start AS VARCHAR),
           |                   ':', CAST(w.$cur AS VARCHAR),
           |                   ':', CAST(s.n AS VARCHAR),
           |                   ':', CAST(r.k AS VARCHAR))), s.n) AS rn
           |  FROM w${i - 1} w
           |  JOIN sym s ON s.c = w.$cur
           |  LEFT JOIN ue e ON e.a = least(w.$prev, s.n)
           |    AND e.b = greatest(w.$prev, s.n)
           |  JOIN reps r ON r.k < (CASE WHEN s.n = w.$prev THEN 4
           |                             WHEN e.a IS NOT NULL THEN 1
           |                             ELSE 2 END)),
           |w$i AS (SELECT * EXCLUDE (n, rn), n AS s$i FROM p$i WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH ue AS MATERIALIZED ($undirectedSql),
         |sym AS (SELECT a AS c, b AS n FROM ue UNION ALL SELECT b, a FROM ue),
         |reps AS (SELECT unnest(generate_series(0, 3)) AS k),
         |w0 AS (SELECT DISTINCT c AS start FROM sym),
         |p1 AS (
         |  SELECT w.start, s.n,
         |    row_number() OVER (PARTITION BY w.start
         |      ORDER BY md5(concat('1', ':', CAST(w.start AS VARCHAR),
         |                   ':', CAST(s.n AS VARCHAR))), s.n) AS rn
         |  FROM w0 w JOIN sym s ON s.c = w.start),
         |w1 AS (SELECT start, n AS s1 FROM p1 WHERE rn = 1),
         |""".stripMargin + steps +
        "\nSELECT start, s1, s2, s3 FROM w3 ORDER BY start"
    }) { (s, d) =>
    val ue = graft.Ckpt.keep(undirectedNationEdges(s, d))
    val sym = ue.select(col("a").as("c"), col("b").as("n"))
      .unionAll(ue.select(col("b").as("c"), col("a").as("n")))
    // step 1: uniform argmin-hash (no prev yet)
    var walk = sym.select(col("c").as("start")).distinct()
      .join(sym, col("start") === col("c"))
      .groupBy(col("start"))
      .agg(min(struct(
        md5(concat_ws(":", lit("1"), col("start").cast("string"),
          col("n").cast("string"))).as("h"),
        col("n").as("n"))).as("pick"))
      .select(col("start"), col("pick.n").as("s1"))
    val reps = s.range(4).select(col("id").as("k"))
    for (i <- 2 to 3) {
      val prevC = if (i == 2) col("start") else col(s"s${i - 2}")
      val curC = col(s"s${i - 1}")
      val keyCols = walk.columns.toIndexedSeq
      walk = walk.join(sym, curC === col("c"))
        .join(ue.select(col("a").as("ea"), col("b").as("eb")),
          least(prevC, col("n")) === col("ea") &&
            greatest(prevC, col("n")) === col("eb"), "left")
        .withColumn("wclass",
          when(col("n") === prevC, lit(4L))
            .when(col("ea").isNotNull, lit(1L))
            .otherwise(lit(2L)))
        .join(broadcast(reps), col("k") < col("wclass"))
        .groupBy(keyCols.map(col): _*)
        .agg(min(struct(
          md5(concat_ws(":", lit(i.toString), col("start").cast("string"),
            curC.cast("string"), col("n").cast("string"),
            col("k").cast("string"))).as("h"),
          col("n").as("n"))).as("pick"))
        .select(keyCols.map(col) :+ col("pick.n").as(s"s$i"): _*)
    }
    walk.select(col("start"), col("s1"), col("s2"), col("s3"))
      .orderBy(col("start"))
  }

  /** Directed reciprocity — the share of directed edges whose
    * reverse edge also exists (do nations that sell to X also buy
    * from X?): one equality self-join of the deduped directed edge
    * set against its swapped self, two counts, one ratio. Self-loops
    * excluded (trivially reciprocal). O(|E|) work, O(1) output.
    */
  val graphReciprocity: QueryDef = QueryDef.sql(
    "graph_reciprocity",
    s"""WITH e AS MATERIALIZED (
       |  SELECT src, dst FROM ($nationEdgesSql) WHERE src <> dst)
       |SELECT count(*) AS n_edges,
       |  (SELECT count(*) FROM e a JOIN e b
       |   ON b.src = a.dst AND b.dst = a.src) AS n_reciprocal,
       |  floor((SELECT count(*) FROM e a JOIN e b
       |         ON b.src = a.dst AND b.dst = a.src) * 1.0 / count(*)
       |        * 1000000 + 0.5) / 1000000 AS reciprocity
       |FROM e""".stripMargin) { (s, d) =>
    graft.Ckpt.scoped { sc =>
      val e = sc.persist(nationEdges(s, d).filter(col("src") =!= col("dst")))
      val rec = e.as("a")
        .join(e.as("b"),
          col("b.src") === col("a.dst") && col("b.dst") === col("a.src"))
        .count()
      val n = e.count()
      import s.implicits._
      Seq((n, rec, math.floor(rec * 1.0 / n * 1000000 + 0.5) / 1000000))
        .toDF("n_edges", "n_reciprocal", "reciprocity")
    }
  }

  private val SccRounds = 6

  /** Strongly connected components of the DIRECTED trade graph —
    * graph_cc's directed sibling (u and v in one SCC iff reachable
    * BOTH ways): fixed-round reachability closure (round = one
    * equality join frontier⋈edges + distinct, lineage cut every 2),
    * then scc_id(v) = min over the MUTUAL set {u : v→u ∧ u→v} — one
    * self-join of the closure on swapped endpoints. Rounds exceed
    * the graph's directed diameter (closure-reached pinned in
    * ScalaTest: one more round adds nothing). At scale the closure
    * relation is the bound — SCC there runs forward/backward
    * reachability from pivots instead (same join shape, sources
    * shrink to the pivot set); the bounded nation graph keeps the
    * oracle exact here.
    */
  val graphScc: QueryDef = QueryDef.sql(
    "graph_scc", {
      val rounds = (1 to SccRounds).map { i =>
        s"""r$i AS MATERIALIZED (
           |  SELECT DISTINCT a, b FROM (
           |    SELECT a, b FROM r${i - 1}
           |    UNION ALL
           |    SELECT r.a, e.dst AS b FROM r${i - 1} r JOIN e ON e.src = r.b))""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED ($nationEdgesSql),
         |v AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
         |r0 AS MATERIALIZED (SELECT n AS a, n AS b FROM v),
         |$rounds
         |SELECT f.a AS node, min(f.b) AS scc_id
         |FROM r$SccRounds f JOIN r$SccRounds g ON g.a = f.b AND g.b = f.a
         |GROUP BY f.a ORDER BY node""".stripMargin
    }) { (s, d) =>
    // reachClosure returns an already-checkpointed relation
    val closure = reachClosure(nationEdges(s, d), SccRounds)
    closure.as("f")
      .join(closure.as("g"),
        col("g.a") === col("f.b") && col("g.b") === col("f.a"))
      .groupBy(col("f.a").as("node"))
      .agg(min(col("f.b")).as("scc_id"))
      .orderBy(col("node"))
  }

  /** Fixed-round directed reachability closure over an edge relation:
    * pairs (a, b) with a path a→b of length ≤ rounds (plus a→a).
    */
  def reachClosure(edges: DataFrame, rounds: Int): DataFrame =
    graft.Ckpt.scoped { sc =>
      val e = sc.persist(edges.select(col("src"), col("dst")).distinct())
      val v = e.select(col("src").as("n"))
        .union(e.select(col("dst").as("n"))).distinct()
      sc.keep(sc.iterate(v.select(col("n").as("a"), col("n").as("b")), rounds, 2) { (reach, _) =>
        reach
          .unionAll(reach.join(e, col("b") === col("src"))
            .select(col("a"), col("dst").as("b")))
          .distinct()
      })
    }

  private val BrandesDepth = 4

  /** Exact betweenness centrality by Brandes' algorithm (2001) —
    * unweighted shortest-path dependency accumulation, every node a
    * source (the nation graph's diameter ≤ 4 = BrandesDepth, so the
    * BFS covers every shortest path). Forward phase: multi-source
    * BFS levels carrying per-(src, v) shortest-path COUNTS σ (sum
    * over predecessor frontier — one equality join + one aggregate
    * per level, the graph_closeness shape with σ instead of hops).
    * Backward phase: δ(v) = Σ_{w∈succ(v)} σ_v/σ_w · (1 + δ(w)),
    * one level at a time from the deepest — again equality joins
    * only; bc(v) = Σ_src δ_src(v)/2. State is O(|V|·sources) and at
    * 100 TB-scale graphs the standard move is SAMPLED sources
    * (k-sample Brandes, an unbiased estimator) — the per-source cost
    * and plan shape are identical, only the source relation shrinks.
    * σ values are exact int64; δ rounds at 4 decimals (floor
    * convention) to absorb float-summation order. Oracle replays the
    * identical level chain; Σ bc = Σ(pairwise-dist − 1) sanity is
    * pinned in ScalaTest.
    */
  val graphBetweenness: QueryDef = QueryDef.sql(
    "graph_betweenness", {
      val fwd = (1 to BrandesDepth).map { i =>
        val p = i - 1
        s"""l$i AS MATERIALIZED (
           |  SELECT f.src, s.n AS v, sum(f.sigma) AS sigma
           |  FROM l$p f JOIN sym s ON s.c = f.v
           |  WHERE NOT EXISTS (SELECT 1 FROM vis$p t
           |                    WHERE t.src = f.src AND t.v = s.n)
           |  GROUP BY f.src, s.n),
           |vis$i AS MATERIALIZED (
           |  SELECT * FROM vis$p UNION ALL SELECT src, v FROM l$i)""".stripMargin
      }.mkString(",\n")
      val bwd = (BrandesDepth - 1 to 1 by -1).map { i =>
        val q = i + 1
        s"""cn$i AS (
           |  SELECT a.src, a.v,
           |    sum(CAST(a.sigma AS DOUBLE) / b.sigma * (1 + d.delta)) AS delta
           |  FROM l$i a JOIN sym s ON s.c = a.v
           |  JOIN l$q b ON b.src = a.src AND b.v = s.n
           |  JOIN d$q d ON d.src = b.src AND d.v = b.v
           |  GROUP BY a.src, a.v),
           |d$i AS MATERIALIZED (
           |  SELECT a.src, a.v, coalesce(c.delta, 0) AS delta
           |  FROM l$i a LEFT JOIN cn$i c ON c.src = a.src AND c.v = a.v)""".stripMargin
      }.mkString(",\n")
      val unions = (1 to BrandesDepth).map(i => s"SELECT v, delta FROM d$i")
        .mkString(" UNION ALL ")
      s"""WITH ue AS MATERIALIZED ($undirectedSql),
         |sym AS (SELECT a AS c, b AS n FROM ue UNION ALL SELECT b, a FROM ue),
         |nodes AS (SELECT DISTINCT c FROM sym),
         |l0 AS MATERIALIZED (
         |  SELECT c AS src, c AS v, CAST(1 AS BIGINT) AS sigma FROM nodes),
         |vis0 AS MATERIALIZED (SELECT src, v FROM l0),
         |""".stripMargin + fwd + ",\n" +
        s"d$BrandesDepth AS MATERIALIZED (SELECT src, v, CAST(0 AS DOUBLE) AS delta FROM l$BrandesDepth),\n" +
        bwd +
        s"""
           |SELECT v AS node,
           |  floor(sum(delta) / 2 * 10000 + 0.5) / 10000 AS bc
           |FROM ($unions) GROUP BY v ORDER BY v""".stripMargin
    }) { (s, d) =>
    graft.Ckpt.scoped { sc =>
      val ue = sc.persist(undirectedNationEdges(s, d))
      val sym = sc.persist(ue.select(col("a").as("c"), col("b").as("n"))
        .unionAll(ue.select(col("b").as("c"), col("a").as("n"))))
      val nodes = sym.select(col("c")).distinct()
      // forward: lv(i) = (src, v, sigma) at BFS depth i
      val lv = new Array[DataFrame](BrandesDepth + 1)
      lv(0) = sc.persist(nodes.select(col("c").as("src"), col("c").as("v"),
        lit(1L).as("sigma")))
      var visited = sc.persist(lv(0).select(col("src"), col("v")))
      for (i <- 1 to BrandesDepth) {
        val f = lv(i - 1).select(col("src"), col("v").as("fv"), col("sigma"))
        val cand = f.join(sym, col("fv") === col("c"))
          .groupBy(col("src"), col("n").as("v"))
          .agg(sum(col("sigma")).as("sigma"))
        // every level is held: the backward phase reads them all
        lv(i) = sc.checkpoint(cand.join(visited, Seq("src", "v"), "left_anti"))
        visited = sc.roll(visited.unionAll(lv(i).select(col("src"), col("v"))), visited)
      }
      sc.free(visited)
      // backward: dl(i) = (src, v, delta) over exactly lv(i)'s rows
      val dl = new Array[DataFrame](BrandesDepth + 1)
      dl(BrandesDepth) = lv(BrandesDepth)
        .select(col("src"), col("v"), lit(0.0).as("delta"))
      for (i <- BrandesDepth - 1 to 1 by -1) {
        val a = lv(i).select(col("src"), col("v"), col("sigma"))
        val b = lv(i + 1).select(col("src").as("bs"), col("v").as("bv"),
          col("sigma").as("bsigma"))
        val dn = dl(i + 1).select(col("src").as("ds"), col("v").as("dv"),
          col("delta").as("dnext"))
        val contrib = a.join(sym, col("v") === col("c"))
          .join(b, col("src") === col("bs") && col("n") === col("bv"))
          .join(dn, col("src") === col("ds") && col("n") === col("dv"))
          .groupBy(col("src"), col("v"))
          .agg(sum(col("sigma").cast("double") / col("bsigma") *
            (lit(1.0) + col("dnext"))).as("delta"))
        dl(i) = sc.checkpoint(a.select(col("src"), col("v"))
          .join(contrib, Seq("src", "v"), "left_outer")
          .select(col("src"), col("v"),
            coalesce(col("delta"), lit(0.0)).as("delta")))
      }
      sc.keep((1 to BrandesDepth).map(i => dl(i).select(col("v"), col("delta")))
        .reduce(_ unionAll _)
        .groupBy(col("v").as("node"))
        .agg((floor(sum(col("delta")) / 2 * 10000 + 0.5) / 10000).as("bc"))
        .orderBy(col("node")))
    }
  }

  /** Louvain community detection, level 1 (Blondel et al. 2008) —
    * MODULARITY-OPTIMIZING communities, the quality-guided upgrade
    * over plain label propagation (graph_labelprop spreads labels
    * with no objective; graph_modularity only SCORES a given
    * partition): every node starts alone, then 6 synchronous
    * local-move rounds send each node to the neighboring community
    * with the best modularity gain ΔQ ∝ k_in(c∖i) −
    * k_i·tot(c∖i)/2m (self-contribution removed; stay is a
    * candidate; argmax ties break to the smallest community id, so
    * rounds are deterministic under any partitioning). Synchronous
    * moves famously oscillate (two linked singletons adopt each
    * other's label forever), so rounds alternate a direction
    * restriction — odd rounds only move toward smaller community
    * ids, even rounds larger — making every round swap-free while
    * keeping both directions reachable. Each round is
    * pure dataflow: ONE O(|E|) edges⋈labels join + (node, community)
    * aggregate for k_in, an O(|V|) community-degree aggregate for
    * tot (2m is a 1-row broadcast), and a struct-max argmax — no
    * driver loop state beyond the round counter, labels
    * checkpointed per round. Output: per-community size/degree/
    * internal-edge/modularity-contribution rows (graph_modularity's
    * readout over the learned partition). Rows-only (the argmax
    * fixpoint is SQL-inexpressible); pinned in ScalaTest: exact
    * partition validity, determinism, and Q(louvain) beats both the
    * singleton start and the labelprop baseline on the same graph.
    */
  /** Shared CTE prefix replaying the co-purchase edge build and the 6
    * Louvain local-move rounds (louvainLabels): k_in / tot / gain are
    * all integer-derived doubles evaluated in the Scala expression
    * order, the direction-alternating move restriction is the same
    * per-round predicate, and the argmax tie-break is
    * (gain DESC, cand ASC). Emits cp(a, b), deg(src, k), lb6(node, c).
    */
  private def louvainCtes(rounds: Int): String = {
    val chain = (1 to rounds).map { r =>
      val dir = if (r % 2 == 1) "c.cand <= l.c" else "c.cand >= l.c"
      s"""kin$r AS (
         |  SELECT e.src AS i, l.c AS cand, CAST(count(*) AS DOUBLE) AS k_in
         |  FROM ledges e JOIN lb${r - 1} l ON l.node = e.dst GROUP BY 1, 2),
         |tot$r AS (
         |  SELECT l.c AS tc, sum(deg.k) AS tot
         |  FROM lb${r - 1} l JOIN deg ON deg.src = l.node GROUP BY 1),
         |cand$r AS (
         |  SELECT i, cand, max(k_in) AS k_in FROM (
         |    SELECT i, cand, k_in FROM kin$r
         |    UNION ALL
         |    SELECT node AS i, c AS cand, 0.0 AS k_in FROM lb${r - 1})
         |  GROUP BY 1, 2),
         |sc$r AS (
         |  SELECT c.i, c.cand,
         |    c.k_in - dg.k * (t.tot -
         |      CASE WHEN c.cand = l.c THEN dg.k ELSE 0.0 END) / (SELECT m2 FROM m2t) AS gain
         |  FROM cand$r c
         |  JOIN lb${r - 1} l ON l.node = c.i
         |  JOIN deg dg ON dg.src = c.i
         |  JOIN tot$r t ON t.tc = c.cand
         |  WHERE $dir),
         |lb$r AS MATERIALIZED (
         |  SELECT i AS node, cand AS c FROM (
         |    SELECT i, cand,
         |      row_number() OVER (PARTITION BY i ORDER BY gain DESC, cand) AS rn
         |    FROM sc$r) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH o AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |cp AS MATERIALIZED (
       |  SELECT CAST(a.l_partkey AS BIGINT) AS a, CAST(b.l_partkey AS BIGINT) AS b
       |  FROM o a JOIN o b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |ledges AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM cp UNION ALL SELECT b, a FROM cp),
       |deg AS MATERIALIZED (
       |  SELECT src, CAST(count(*) AS DOUBLE) AS k FROM ledges GROUP BY 1),
       |m2t AS (SELECT sum(k) AS m2 FROM deg),
       |lb0 AS (SELECT src AS node, src AS c FROM deg),
       |$chain""".stripMargin
  }

  private val louvainOracle: String =
    s"""${louvainCtes(6)},
       |mm AS (SELECT count(*) AS m FROM cp),
       |w AS (
       |  SELECT la.c AS w_comm, count(*) AS m_c
       |  FROM cp
       |  JOIN lb6 la ON la.node = cp.a
       |  JOIN lb6 lb ON lb.node = cp.b
       |  WHERE la.c = lb.c GROUP BY 1),
       |deg2 AS (
       |  SELECT s, CAST(count(*) AS DOUBLE) AS k FROM (
       |    SELECT a AS s FROM cp UNION ALL SELECT b FROM cp) GROUP BY 1),
       |dc AS (
       |  SELECT l.c AS community, CAST(sum(d.k) AS BIGINT) AS d_c,
       |    count(*) AS n_nodes
       |  FROM lb6 l JOIN deg2 d ON d.s = l.node GROUP BY 1)
       |SELECT dc.community, n_nodes, coalesce(w.m_c, 0) AS m_c, d_c,
       |  round(coalesce(w.m_c, 0) / CAST(mm.m AS DOUBLE)
       |    - (d_c / (2.0 * mm.m)) * (d_c / (2.0 * mm.m)), 6) AS q_contrib
       |FROM dc LEFT JOIN w ON dc.community = w.w_comm, mm
       |ORDER BY dc.community""".stripMargin

  val graphLouvain: QueryDef = QueryDef.sql(
    "graph_louvain", louvainOracle) { (s, d) =>
    // labels computed IN-QUERY (r9 advice): the entry named for the
    // algorithm must time the 6-round local-move loop, not a readout
    // of a staged answer. The edge relation stays a staged ingest
    // artifact (an input projection); graph_conductance, which scores
    // a GIVEN partition, keeps reading the staged labels.
    louvainReadout(s, copurchaseEdges(s, d))
  }

  /** The ≥3-co-occurrence part co-purchase edge set, staged once per
    * corpus under the Warehouse contract (one lineitem distinct +
    * self-join; graph_louvain and graph_conductance both read it).
    */
  def copurchaseEdges(s: SparkSession, d: String): DataFrame =
    stagedEdges(s, d, "copurchase") {
      val items = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      items
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("id1"))
        .join(items.select(col("l_orderkey").as("ok2"), col("l_partkey").as("id2")),
          col("ok") === col("ok2") && col("id1") < col("id2"))
        .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("nn"))
        .filter(col("nn") >= 3)
        .select(col("id1").cast("long").as("a"), col("id2").cast("long").as("b"))
    }

  /** The level-1 Louvain partition of the co-purchase graph, staged
    * once per corpus. Consumed by graph_conductance ONLY (r9 advice
    * reclassification): conductance scores a GIVEN partition — the
    * partition is its input, like the edge relations, so reading the
    * staged artifact is the ingest contract and conductance's bench
    * time measures the two O(|E|) cut/volume aggregates it is named
    * for. graph_louvain recomputes the same labels in-query (the
    * algorithm IS that entry's workload); the artifact build time is
    * reported in Bench build_s. Labels are a plain (node BIGINT,
    * c BIGINT) relation — parquet-exact, identical to the in-query
    * loop's output, so both entries' oracle hashes agree.
    */
  def louvainLabelsArtifact(s: SparkSession, d: String): DataFrame =
    stagedEdges(s, d, "louvain_labels") {
      graft.Ckpt.scoped(sc => louvainLabels(s, sc.checkpoint(copurchaseEdges(s, d))))
    }

  /** Louvain level-1 local moves + modularity readout over an
    * undirected (a, b) edge set. Factored so the ScalaTest can run
    * the same pass on a planted two-clique graph.
    */
  def louvainReadout(s: SparkSession, cp: DataFrame): DataFrame = {
    val labels = louvainLabels(s, cp)
    louvainModularity(cp, labels)
  }

  /** Louvain level-1 label assignment over an undirected (a, b) edge
    * set — the local-move loop of louvainReadout, exposed so
    * graph_conductance can score the same partition.
    */
  def louvainLabels(s: SparkSession, cp: DataFrame): DataFrame = graft.Ckpt.scoped { sc =>
    val edges = sc.checkpoint(cp.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(cp.select(col("b").as("src"), col("a").as("dst")))) // symmetric, unit weights
    val deg = sc.checkpoint(
      edges.groupBy(col("src")).agg(count(lit(1)).cast("double").as("k")))
    val m2 = deg.agg(sum(col("k")).as("m2")) // 2m, single row
    val init = deg.select(col("src").as("node"), col("src").as("c"))
    sc.keep(sc.iterate(init, 6, 1) { (labels, round) =>
      // k_in: weight from each node into each neighboring community
      val kin = edges
        .join(labels.select(col("node").as("dn"), col("c").as("dc")),
          col("dst") === col("dn"))
        .groupBy(col("src").as("i"), col("dc").as("cand"))
        .agg(count(lit(1)).cast("double").as("k_in"))
      // tot: community degree totals under the current labels
      val tot = labels
        .join(deg, col("node") === col("src"))
        .groupBy(col("c").as("tc")).agg(sum(col("k")).as("tot"))
      // candidates = neighboring communities ∪ the node's own.
      // SYNCHRONOUS-SWAP GUARD: plain synchronous local moves
      // oscillate (two linked singletons each adopt the other's
      // label forever), so rounds alternate a direction restriction
      // — odd rounds only move toward SMALLER community ids, even
      // rounds larger. Every round's moves then point one way in id
      // space, so no swap cycle can form, while both directions stay
      // reachable across rounds. Staying put is always allowed.
      val own = labels.select(col("node").as("i"), col("c").as("cand"),
        lit(0.0).as("k_in"))
      val dirOk =
        if (round % 2 == 1) col("cand") <= col("ci") else col("cand") >= col("ci")
      val cands = kin.unionByName(own)
        .groupBy(col("i"), col("cand")).agg(max(col("k_in")).as("k_in"))
      val scored = cands
        .join(labels.select(col("node").as("i2"), col("c").as("ci")),
          col("i") === col("i2"))
        .join(deg.select(col("src").as("i3"), col("k").as("ki")),
          col("i") === col("i3"))
        .join(tot, col("cand") === col("tc"))
        .crossJoin(broadcast(m2))
        .filter(dirOk)
        .select(col("i"), col("cand"),
          (col("k_in") - col("ki") *
            (col("tot") - when(col("cand") === col("ci"), col("ki"))
              .otherwise(lit(0.0))) / col("m2")).as("gain"))
      scored
        .groupBy(col("i"))
        .agg(max(struct(col("gain"), (-col("cand")).as("nc"))).as("best"))
        .select(col("i").as("node"), (-col("best.nc")).as("c"))
    })
  }

  /** Per-community modularity readout over given labels. */
  def louvainModularity(cp: DataFrame, labels: DataFrame): DataFrame = {
    val deg = cp.select(col("a").as("src")).unionAll(cp.select(col("b")))
      .groupBy(col("src")).agg(count(lit(1)).cast("double").as("k"))
    val m = cp.agg(count(lit(1)).as("m"))
    val w = cp
      .join(labels.select(col("node").as("na"), col("c").as("ca")), col("a") === col("na"))
      .join(labels.select(col("node").as("nb"), col("c").as("cb")), col("b") === col("nb"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("w_comm")).agg(count(lit(1)).as("m_c"))
    val dc = labels.join(deg, col("node") === col("src"))
      .groupBy(col("c").as("community"))
      .agg(sum(col("k")).cast("long").as("d_c"), count(lit(1)).as("n_nodes"))
    dc.join(w, col("community") === col("w_comm"), "left_outer")
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"),
        coalesce(col("m_c"), lit(0L)).as("m_c"), col("d_c"),
        round(coalesce(col("m_c"), lit(0L)) / col("m").cast("double")
          - (col("d_c") / (lit(2.0) * col("m"))) * (col("d_c") / (lit(2.0) * col("m"))), 6)
          .as("q_contrib"))
      .orderBy(col("community"))
  }

  /** Community CONDUCTANCE φ(C) = cut(C) / min(vol(C), 2m−vol(C)) —
    * the cut-quality score that audits a partition from the other
    * side of modularity (modularity rewards internal density;
    * conductance exposes communities that leak: a low-φ community
    * has few boundary edges relative to its volume; Leskovec's NCP
    * machinery). Scores the Louvain partition on the co-purchase
    * graph: cut and volume are two O(|E|) equality-join aggregates
    * over the label relation, min/ratio per community — no extra
    * corpus work beyond the labels themselves. Rows-only (labels
    * come from the Louvain fixpoint); φ∈[0,1], the planted
    * two-clique φ = 1/21 exactly, and isolated-community φ = 0
    * pinned in ScalaTest.
    */
  private val conductanceOracle: String =
    s"""${louvainCtes(6)},
       |tagged AS MATERIALIZED (
       |  SELECT la.c AS ca, lb.c AS cb
       |  FROM cp JOIN lb6 la ON la.node = cp.a JOIN lb6 lb ON lb.node = cp.b),
       |m2c AS (SELECT count(*) * 2.0 AS m2 FROM tagged),
       |vol AS (
       |  SELECT c, CAST(count(*) AS DOUBLE) AS vol FROM (
       |    SELECT ca AS c FROM tagged UNION ALL SELECT cb FROM tagged) GROUP BY 1),
       |cut AS (
       |  SELECT c, CAST(count(*) AS DOUBLE) AS cut FROM (
       |    SELECT ca AS c FROM tagged WHERE ca <> cb
       |    UNION ALL SELECT cb FROM tagged WHERE ca <> cb) GROUP BY 1)
       |SELECT vol.c AS community, CAST(vol AS BIGINT) AS volume,
       |  CAST(coalesce(cut.cut, 0.0) AS BIGINT) AS cut_edges,
       |  CASE WHEN least(vol, (SELECT m2 FROM m2c) - vol) = 0 THEN 0.0
       |       ELSE floor(coalesce(cut.cut, 0.0)
       |         / least(vol, (SELECT m2 FROM m2c) - vol) * 10000 + 0.5) / 10000
       |  END AS phi
       |FROM vol LEFT JOIN cut ON cut.c = vol.c
       |ORDER BY community""".stripMargin

  val graphConductance: QueryDef = QueryDef.sql(
    "graph_conductance", conductanceOracle) { (s, d) =>
    // same staged co-purchase edges + Louvain partition as
    // graph_louvain: conductance itself is two O(|E|) aggregates
    conductance(s, copurchaseEdges(s, d), louvainLabelsArtifact(s, d))
  }

  /** φ per community over an undirected (a,b) edge set and (node, c)
    * labels — factored for the planted-graph ScalaTest.
    */
  def conductance(s: SparkSession, cp: DataFrame, labels: DataFrame): DataFrame = {
    val la = labels.select(col("node").as("na"), col("c").as("ca"))
    val lb = labels.select(col("node").as("nb"), col("c").as("cb"))
    val tagged = graft.Ckpt.keep(cp
      .join(la, col("a") === col("na"))
      .join(lb, col("b") === col("nb"))
      .select(col("ca"), col("cb")))
    val m2 = tagged.count() * 2.0 // 2m (each edge contributes 2 volume)
    // volume per community: degree mass = edge endpoints in C
    val vol = tagged.select(col("ca").as("c")).unionAll(tagged.select(col("cb")))
      .groupBy(col("c")).agg(count(lit(1)).cast("double").as("vol"))
    // cut per community: edges with exactly one endpoint inside
    val cut = tagged.filter(col("ca") =!= col("cb"))
      .select(explode(array(col("ca"), col("cb"))).as("c"))
      .groupBy(col("c")).agg(count(lit(1)).cast("double").as("cut"))
    vol.join(cut, Seq("c"), "left_outer")
      .select(col("c").as("community"), col("vol").cast("long").as("volume"),
        coalesce(col("cut"), lit(0.0)).cast("long").as("cut_edges"),
        when(least(col("vol"), lit(m2) - col("vol")) === 0, 0.0)
          .otherwise(floor(coalesce(col("cut"), lit(0.0))
            / least(col("vol"), lit(m2) - col("vol")) * 10000 + 0.5) / 10000)
          .as("phi"))
      .orderBy(col("community"))
  }

  private val SimIters = 3
  private val SimC = 0.8

  /** SIMRANK (Jeh & Widom 2002) — structural similarity from link
    * topology alone: "two nations trade alike if their buyers trade
    * alike", s(a,b) = C/(|In(a)||In(b)|)·Σ s(i,j) over in-neighbor
    * pairs, s(a,a)=1. The pairwise state is O(|V|²) BY DESIGN — like
    * graph_pagerank this runs on the bounded ENTITY graph (the
    * nation aggregate), never the raw corpus: each iteration is one
    * (pairs ⋈ in-edges ⋈ in-edges) equality join + one aggregate
    * over the 625-row pair relation. At web scale SimRank deploys
    * via random-surfer-pair sampling or low-rank factorization; the
    * exact iteration here IS the oracle semantics (generated
    * chained-CTE replay, pagerank's technique). Readout: top
    * distinct pairs by similarity.
    */
  val graphSimrank: QueryDef = QueryDef.sql(
    "graph_simrank", {
      val steps = (1 to SimIters).map { i =>
        s"""s$i AS (
           |  SELECT p.a, p.b,
           |    CASE WHEN p.a = p.b THEN 1.0
           |         ELSE coalesce($SimC * agg.t / (ia.ind * ib.ind), 0.0) END AS s
           |  FROM pairs p
           |  LEFT JOIN ind ia ON ia.node = p.a
           |  LEFT JOIN ind ib ON ib.node = p.b
           |  LEFT JOIN (
           |    SELECT ea.dst AS a, eb.dst AS b, sum(sp.s) AS t
           |    FROM e ea, e eb, s${i - 1} sp
           |    WHERE sp.a = ea.src AND sp.b = eb.src
           |    GROUP BY 1, 2) agg ON agg.a = p.a AND agg.b = p.b)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED ($nationEdgesSql),
         |v AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |ind AS MATERIALIZED (SELECT dst AS node, CAST(count(*) AS DOUBLE) AS ind
         |       FROM e GROUP BY 1),
         |pairs AS MATERIALIZED (SELECT a.node AS a, b.node AS b FROM v a, v b),
         |s0 AS (SELECT a, b, CASE WHEN a = b THEN 1.0 ELSE 0.0 END AS s
         |       FROM pairs),
         |$steps
         |SELECT a, b, round(s, 6) AS simrank
         |FROM s$SimIters
         |WHERE a < b AND round(s, 6) > 0
         |ORDER BY simrank DESC, a, b LIMIT 20""".stripMargin
    }) { (s, d) =>
    graft.Ckpt.scoped { sc =>
      val e = sc.checkpoint(nationEdges(s, d))
      val v = e.select(col("src").as("node"))
        .union(e.select(col("dst"))).distinct()
      val ind = e.groupBy(col("dst").as("node"))
        .agg(count(lit(1)).cast("double").as("ind"))
      // O(|V|²) pair frame over the bounded entity graph (25 nodes)
      val pairs = v.toDF("a").crossJoin(v.toDF("b"))
      val init = pairs.withColumn("s",
        when(col("a") === col("b"), 1.0).otherwise(0.0))
      val sim = sc.keep(sc.iterate(init, SimIters, 1) { (sim, _) =>
        val agg = sim.toDF("sa", "sb", "sv")
          .join(e.toDF("ia", "a2"), col("sa") === col("ia"))
          .join(e.toDF("jb", "b2"), col("sb") === col("jb"))
          .groupBy(col("a2"), col("b2")).agg(sum(col("sv")).as("t"))
        pairs
          .join(broadcast(ind.toDF("na", "inda")), col("a") === col("na"), "left_outer")
          .join(broadcast(ind.toDF("nb", "indb")), col("b") === col("nb"), "left_outer")
          .join(agg, col("a") === col("a2") && col("b") === col("b2"), "left_outer")
          .select(col("a"), col("b"),
            when(col("a") === col("b"), 1.0)
              .otherwise(coalesce(
                lit(SimC) * col("t") / (col("inda") * col("indb")), lit(0.0)))
              .as("s"))
      })
      sim.filter(col("a") < col("b") && round(col("s"), 6) > 0)
        .select(col("a"), col("b"), round(col("s"), 6).as("simrank"))
        .orderBy(col("simrank").desc, col("a"), col("b"))
        .limit(20)
    }
  }

  /** Eccentricity / diameter / radius — the graph's "how far can a
    * hop-bounded traversal need to go" audit (BFS-round sizing,
    * message-passing depth budgets, cache-radius planning all read
    * this): ecc(v) = max hops to any REACHED node from the same
    * multi-source BFS relation graph_closeness expands (fixed rounds
    * ≥ diameter, one equality join + min-aggregate per round);
    * diameter = max ecc, radius = min ecc, and each node is flagged
    * peripheral (ecc == diameter) or central (ecc == radius). The
    * summary is a single-row aggregate over the O(|V|) ecc relation,
    * broadcast back via cross join — no unpartitioned window. Oracle
    * replays the identical expansion as chained CTEs.
    */
  val graphEccentricity: QueryDef = {
    val iters = BfsIters
    val steps = (1 to iters).map { i =>
      s"""h$i AS (
         |  SELECT src, node, min(hops) AS hops FROM (
         |    SELECT src, node, hops FROM h${i - 1}
         |    UNION ALL
         |    SELECT h.src, sym.b AS node, h.hops + 1 AS hops
         |    FROM h${i - 1} h JOIN sym ON sym.a = h.node)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val oracle =
      s"""WITH ue AS MATERIALIZED ($undirectedSql),
         |sym AS MATERIALIZED (SELECT a, b FROM ue UNION SELECT b, a FROM ue),
         |v AS MATERIALIZED (SELECT a AS node FROM sym UNION SELECT b FROM sym),
         |h0 AS (SELECT node AS src, node, 0 AS hops FROM v),
         |$steps,
         |ecc AS (SELECT src AS node, max(hops) AS ecc FROM h$iters GROUP BY src)
         |SELECT node, ecc,
         |  CAST(ecc = (SELECT max(ecc) FROM ecc) AS BOOLEAN) AS is_peripheral,
         |  CAST(ecc = (SELECT min(ecc) FROM ecc) AS BOOLEAN) AS is_central
         |FROM ecc ORDER BY node""".stripMargin
    QueryDef.sql("graph_eccentricity", oracle) { (s, d) =>
      graft.Ckpt.scoped { sc =>
        val ue = undirectedNationEdges(s, d)
        val sym = sc.persist(ue.select(col("a"), col("b"))
          .union(ue.select(col("b").as("a"), col("a").as("b")))
          .distinct())
        val vertices = sym.select(col("a").as("node"))
          .union(sym.select(col("b").as("node"))).distinct()
        val init = vertices.select(col("node").as("src"), col("node"),
          lit(0).as("hops"))
        val hops = sc.iterate(init, iters, 1) { (hops, _) =>
          val expanded = hops
            .join(sym, col("node") === col("a"))
            .select(col("src"), col("b").as("node"), (col("hops") + 1).as("hops"))
          hops.unionAll(expanded)
            .groupBy(col("src"), col("node")).agg(min(col("hops")).as("hops"))
        }
        val ecc = hops.groupBy(col("src").as("node"))
          .agg(max(col("hops")).as("ecc"))
        val summary = ecc.agg(max(col("ecc")).as("diameter"),
          min(col("ecc")).as("radius"))
        sc.keep(ecc.crossJoin(broadcast(summary))
          .select(col("node"), col("ecc"),
            (col("ecc") === col("diameter")).as("is_peripheral"),
            (col("ecc") === col("radius")).as("is_central"))
          .orderBy(col("node")))
      }
    }
  }

  /** Harmonic centrality — closeness's disconnected-graph-safe twin
    * (Boldi & Vigna 2014: unreached nodes contribute 0 instead of
    * poisoning the Σhops denominator, so it ranks sensibly across
    * components): harm(v) = Σ_{u reached, u≠v} 1/d(v,u) over the
    * SAME multi-source BFS relation graph_closeness expands — zero
    * new shuffle shape. Exactness: hops ≤ $BfsIters = 4, so each
    * reciprocal is scaled by lcm(1..4) = 12 and summed as exact
    * int64 (12 div hops ∈ {12,6,4,3}); ONE final division by
    * 12·(|V|−1) normalizes to [0,1] — engine-identical, no
    * float-summation-order exposure.
    */
  val graphHarmonic: QueryDef = {
    val iters = BfsIters
    val steps = (1 to iters).map { i =>
      s"""h$i AS (
         |  SELECT src, node, min(hops) AS hops FROM (
         |    SELECT src, node, hops FROM h${i - 1}
         |    UNION ALL
         |    SELECT h.src, sym.b AS node, h.hops + 1 AS hops
         |    FROM h${i - 1} h JOIN sym ON sym.a = h.node)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val oracle =
      s"""WITH ue AS MATERIALIZED ($undirectedSql),
         |sym AS MATERIALIZED (SELECT a, b FROM ue UNION SELECT b, a FROM ue),
         |v AS MATERIALIZED (SELECT a AS node FROM sym UNION SELECT b FROM sym),
         |nv AS (SELECT count(*) AS n_v FROM v),
         |h0 AS (SELECT node AS src, node, 0 AS hops FROM v),
         |$steps,
         |acc AS (SELECT src AS node,
         |          sum(CASE WHEN hops > 0 THEN 12 // hops ELSE 0 END) AS h12,
         |          sum(CASE WHEN hops > 0 THEN 1 ELSE 0 END) AS n_reached
         |        FROM h$iters GROUP BY src)
         |SELECT node,
         |  floor(CAST(h12 AS DOUBLE) / 12 / (nv.n_v - 1) * 10000 + 0.5) / 10000
         |    AS harmonic,
         |  CAST(n_reached AS BIGINT) AS n_reached
         |FROM acc, nv ORDER BY node""".stripMargin
    QueryDef.sql("graph_harmonic", oracle) { (s, d) =>
      graft.Ckpt.scoped { sc =>
        val ue = undirectedNationEdges(s, d)
        val sym = sc.persist(ue.select(col("a"), col("b"))
          .union(ue.select(col("b").as("a"), col("a").as("b")))
          .distinct())
        val vertices = sym.select(col("a").as("node"))
          .union(sym.select(col("b").as("node"))).distinct()
        val init = vertices.select(col("node").as("src"), col("node"),
          lit(0).as("hops"))
        val hops = sc.iterate(init, iters, 1) { (hops, _) =>
          val expanded = hops
            .join(sym, col("node") === col("a"))
            .select(col("src"), col("b").as("node"), (col("hops") + 1).as("hops"))
          hops.unionAll(expanded)
            .groupBy(col("src"), col("node")).agg(min(col("hops")).as("hops"))
        }
        val nv = sc.checkpoint(vertices.agg(count(lit(1)).as("n_v")))
        sc.keep(hops.groupBy(col("src").as("node"))
          .agg(
            sum(when(col("hops") > 0, expr("12 div hops")).otherwise(0L)).as("h12"),
            sum(when(col("hops") > 0, 1L).otherwise(0L)).as("n_reached"))
          .crossJoin(broadcast(nv))
          .select(col("node"),
            (floor(col("h12").cast("double") / 12 / (col("n_v") - 1) * 10000
              + 0.5) / 10000).as("harmonic"),
            col("n_reached").cast("long").as("n_reached"))
          .orderBy(col("node")))
      }
    }
  }

  private val KtrussK = 4
  private val KtrussRounds = 3

  /** k-truss decomposition (k = $KtrussK): the TRIANGLE-grounded
    * cohesive subgraph — every surviving edge must sit in ≥ k−2
    * triangles among surviving edges (Cohen 2008). Stricter than
    * graph_kcore's degree peeling (a star has high degree, zero
    * triangles: k-core keeps it, k-truss shreds it), so it's the
    * community-core extractor. Iterative EDGE peeling, fixed rounds
    * (monotone — once stable, extra rounds are no-ops): each round
    * counts common neighbors per edge via two equality joins over
    * the surviving symmetric relation — Σ deg² shuffle, the
    * graph_triangles envelope; the frontier is the O(|E|) edge set,
    * localCheckpointed so the lazy plan stays flat. At 100 TB the
    * orientation trick (count from the lower-degree endpoint) caps
    * hub skew; id orientation keeps the oracle exact here. Oracle
    * replays the identical peel as chained CTEs.
    */
  val graphKtruss: QueryDef = {
    val support = KtrussK - 2
    val steps = (1 to KtrussRounds).map { i =>
      s"""sym${i - 1} AS MATERIALIZED (
         |  SELECT a, b FROM e${i - 1} UNION SELECT b, a FROM e${i - 1}),
         |e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${i - 1} e
         |  JOIN sym${i - 1} s1 ON s1.a = e.a
         |  JOIN sym${i - 1} s2 ON s2.a = e.b AND s2.b = s1.b
         |  GROUP BY e.a, e.b HAVING count(*) >= $support)""".stripMargin
    }.mkString(",\n")
    val oracle =
      s"""WITH ue AS MATERIALIZED ($undirectedSql),
         |e0 AS (SELECT a, b FROM ue),
         |$steps,
         |symf AS (SELECT a, b FROM e$KtrussRounds
         |         UNION SELECT b, a FROM e$KtrussRounds)
         |SELECT e.a, e.b, count(*) AS support
         |FROM e$KtrussRounds e
         |JOIN symf s1 ON s1.a = e.a
         |JOIN symf s2 ON s2.a = e.b AND s2.b = s1.b
         |GROUP BY e.a, e.b ORDER BY e.a, e.b""".stripMargin
    QueryDef.sql("graph_ktruss", oracle) { (s, d) =>
      def symOf(e: DataFrame): DataFrame =
        e.select(col("a"), col("b"))
          .union(e.select(col("b").as("a"), col("a").as("b")))
          .distinct()
      def supportOf(e: DataFrame): DataFrame = {
        val sym = symOf(e)
        e.join(sym.select(col("a").as("s1a"), col("b").as("c1")),
            col("s1a") === col("a"))
          .join(sym.select(col("a").as("s2a"), col("b").as("c2")),
            col("s2a") === col("b") && col("c2") === col("c1"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
      }
      graft.Ckpt.scoped { sc =>
        val edges = sc.iterate(sc.checkpoint(undirectedNationEdges(s, d)), KtrussRounds, 1) {
          (edges, _) => supportOf(edges)
            .filter(col("support") >= support)
            .select(col("a"), col("b"))
        }
        supportOf(sc.keep(edges)).orderBy(col("a"), col("b"))
      }
    }
  }

  private val MisRounds = 4

  /** Maximal independent set by Luby's algorithm (Luby 1986) — THE
    * parallel symmetry-breaking primitive (distributed coloring,
    * scheduling, and correlation-clustering pivots all reduce to
    * it): each round every still-active node draws a priority and
    * joins the MIS iff it beats every active neighbor; winners and
    * their neighborhoods retire. Priorities are md5(round:node) —
    * hash-derived like graph_walks' choices, so every run,
    * partitioning, and engine replays the identical set (rand()
    * is none of those). Expected O(log |V|) rounds; $MisRounds fixed
    * rounds here with set-completion pinned in ScalaTest. Each round
    * is one equality join + a min-aggregate over the active-
    * restricted symmetric relation (O(|E|) shuffle, O(|V|) state,
    * the label-propagation envelope); the active frontier is
    * localCheckpointed so the lazy plan stays flat. Oracle replays
    * the identical rounds as chained CTEs; independence (no MIS
    * edge) and maximality (every non-MIS node has a MIS neighbor)
    * are the pinned invariants.
    */
  val graphMis: QueryDef = {
    val steps = (1 to MisRounds).map { i =>
      s"""p$i AS (SELECT node,
         |  md5(concat('$i', ':', CAST(node AS VARCHAR))) AS pri
         |  FROM a${i - 1}),
         |n$i AS (SELECT p1.node, min(p2.pri) AS nmin
         |  FROM sym s JOIN p$i p1 ON p1.node = s.a JOIN p$i p2 ON p2.node = s.b
         |  GROUP BY p1.node),
         |w$i AS (SELECT p.node FROM p$i p LEFT JOIN n$i n ON n.node = p.node
         |  WHERE n.nmin IS NULL OR p.pri < n.nmin),
         |r$i AS (SELECT DISTINCT s.b AS node
         |  FROM sym s JOIN w$i w ON w.node = s.a),
         |a$i AS (SELECT node FROM a${i - 1}
         |  EXCEPT (SELECT node FROM w$i UNION SELECT node FROM r$i))""".stripMargin
    }.mkString(",\n")
    val misUnion = (1 to MisRounds)
      .map(i => s"SELECT node, $i AS mis_round FROM w$i").mkString(" UNION ALL ")
    val oracle =
      s"""WITH ue AS MATERIALIZED ($undirectedSql),
         |sym AS MATERIALIZED (SELECT a, b FROM ue UNION SELECT b, a FROM ue),
         |v AS MATERIALIZED (SELECT a AS node FROM sym UNION SELECT b FROM sym),
         |a0 AS (SELECT node FROM v),
         |$steps,
         |mis AS ($misUnion)
         |SELECT v.node, mis.mis_round IS NOT NULL AS in_mis,
         |  CAST(mis.mis_round AS BIGINT) AS mis_round
         |FROM v LEFT JOIN mis ON mis.node = v.node
         |ORDER BY v.node""".stripMargin
    QueryDef.sql("graph_mis", oracle) { (s, d) =>
      graft.Ckpt.scoped { sc =>
        val ue = undirectedNationEdges(s, d)
        val sym = sc.persist(ue.select(col("a"), col("b"))
          .union(ue.select(col("b").as("a"), col("a").as("b")))
          .distinct())
        val vertices = sc.keep(sym.select(col("a").as("node"))
          .union(sym.select(col("b").as("node"))).distinct())
        var active = vertices
        var mis = Seq.empty[DataFrame]
        for (i <- 1 to MisRounds) {
          val p = active.withColumn("pri",
            md5(concat_ws(":", lit(i.toString), col("node").cast("string"))))
          val p2 = p.select(col("node").as("bnode"), col("pri").as("bpri"))
          val nmin = sym
            .join(p.select(col("node").as("anode"), col("pri").as("apri")),
              col("anode") === col("a"))
            .join(p2, col("bnode") === col("b"))
            .groupBy(col("anode").as("nnode")).agg(min(col("bpri")).as("nmin"))
          val winners = sc.keep(p.join(nmin, col("node") === col("nnode"), "left_outer")
            .filter(col("nmin").isNull || col("pri") < col("nmin"))
            .select(col("node")))
          mis :+= winners.withColumn("mis_round", lit(i.toLong))
          val retired = winners
            .unionAll(sym.join(winners.withColumnRenamed("node", "wn"),
              col("wn") === col("a"), "left_semi").select(col("b").as("node")))
            .distinct()
          active = sc.roll(
            active.join(retired.withColumnRenamed("node", "rn"),
              col("rn") === col("node"), "left_anti"), active)
        }
        vertices.join(mis.reduce(_ unionAll _).withColumnRenamed("node", "mn"),
            col("mn") === col("node"), "left_outer")
          .select(col("node"), col("mis_round").isNotNull.as("in_mis"),
            col("mis_round"))
          .orderBy(col("node"))
      }
    }
  }

  /** The interval-overlap conflict graph: orders of the SAME customer
    * whose 7-day processing windows overlap — conflicting jobs that
    * need distinct slots. Built with one equality join on custkey
    * (per-key fan-out bounded by a customer's order count inside two
    * weeks — a TEMPORAL density, so |E| grows linearly with the
    * corpus at every SF instead of densifying).
    */
  def intervalConflictEdges(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_custkey").as("ck"), col("o_orderkey").as("k"),
        col("o_orderdate").as("dt"))
    o.join(o.select(col("ck").as("ck2"), col("k").as("k2"), col("dt").as("dt2")),
        col("ck") === col("ck2") && col("k") < col("k2")
          && abs(datediff(col("dt"), col("dt2"))) <= 7)
      .select(col("k").as("a"), col("k2").as("b"))
  }

  /** Distributed greedy graph coloring by the Jones–Plassmann
    * algorithm (Jones & Plassmann 1993) over the order-interval
    * conflict graph — the parallel answer to "assign non-conflicting
    * slots" (overlapping jobs, register allocation, channel
    * assignment): every node gets a static md5 priority; each round,
    * nodes whose priority beats every still-UNCOLORED neighbor pick
    * the SMALLEST color absent from their already-colored
    * neighborhood (minimal excludant, computed with codegen'd
    * higher-order functions: first element of 0..|set| not in the
    * collected color set), then leave the active set. Rounds =
    * longest priority-decreasing path, expected O(log n) on random
    * priorities (vs the sequential greedy's inherently serial Δ+1
    * sweep); each round is two equality joins over O(|E|) + O(|V|)
    * state, lineage cut per round — the graph_mis machinery with
    * winner-only retirement and a color choice. The smallest-free
    * rule bounds colors by Δ+1 unconditionally.
    *
    * Substrate choice is measured, not guessed: JP's wave width is
    * Σ 1/(deg_active(v)+1), so on the DENSE bipartite trade graph
    * (avg degree ~60 at sf0.01) waves shrink to ~25 nodes and the
    * 64-round cap cut the coloring off partial (858/1600 nodes) —
    * and a bipartite graph is 2-colorable anyway, trivializing the
    * mex. The interval graph keeps conflicts local (per customer,
    * per fortnight), drains in a handful of waves at any SF, and is
    * THE textbook coloring application. One materialization per
    * round: `newly` checkpoints eagerly, the loop counter decrements
    * by the free post-checkpoint winner count instead of re-counting
    * the shrinking active set.
    *
    * Rows-only (rounds are data-dependent); ScalaTest pins proper-
    * coloring by edge recount, totality, the defining greedy
    * property (a node colored c has all of 0..c−1 in its
    * neighborhood), the Δ+1 bound, and rerun determinism.
    */
  /** graph_coloring's oracle: Jones–Plassmann replayed as FIXED
    * rounds (the engine's 64-round cap; rounds after exhaustion
    * no-op on an empty active set) — md5-hex priorities compare as
    * the same ASCII strings in both engines, winners beat every
    * still-active neighbor, and each winner takes the minimal
    * excludant of its colored neighborhood.
    */
  private def coloringOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      val p = r - 1
      s"""nbx_$r AS (
         |  SELECT e.a AS node, max(act.pri) AS nmax
         |  FROM sym e JOIN act_$p act ON act.node = e.b GROUP BY e.a),
         |win_$r AS (
         |  SELECT a.node FROM act_$p a LEFT JOIN nbx_$r m ON m.node = a.node
         |  WHERE m.nmax IS NULL OR a.pri > m.nmax),
         |wcs_$r AS (
         |  SELECT w.node,
         |    coalesce(list(DISTINCT c.color)
         |      FILTER (WHERE c.color IS NOT NULL), []) AS cs
         |  FROM win_$r w
         |  LEFT JOIN sym e ON e.a = w.node
         |  LEFT JOIN col_$p c ON c.node = e.b
         |  GROUP BY w.node),
         |newly_$r AS MATERIALIZED (
         |  SELECT node, CAST(i AS INT) AS color FROM (
         |    SELECT w.node, t.i,
         |      row_number() OVER (PARTITION BY w.node ORDER BY t.i) AS rn
         |    FROM wcs_$r w, UNNEST(generate_series(0, len(w.cs))) AS t(i)
         |    WHERE NOT list_contains(w.cs, CAST(t.i AS INT))) WHERE rn = 1),
         |col_$r AS MATERIALIZED (
         |  SELECT node, color FROM col_$p
         |  UNION ALL SELECT node, color FROM newly_$r),
         |act_$r AS MATERIALIZED (
         |  SELECT a.node, a.pri FROM act_$p a
         |  LEFT JOIN newly_$r n ON n.node = a.node WHERE n.node IS NULL)""".stripMargin
    }.mkString(",\n")
    s"""WITH o AS (
       |  SELECT o_custkey AS ck, o_orderkey AS k, o_orderdate AS dt
       |  FROM orders),
       |ed AS (
       |  SELECT CAST(a.k AS VARCHAR) AS a, CAST(b.k AS VARCHAR) AS b
       |  FROM o a JOIN o b ON a.ck = b.ck AND a.k < b.k
       |    AND abs(datediff('day', a.dt, b.dt)) <= 7),
       |sym AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT a, b FROM ed UNION ALL SELECT b AS a, a AS b FROM ed)),
       |act_0 AS MATERIALIZED (
       |  SELECT node, md5(node) AS pri FROM (SELECT DISTINCT a AS node FROM sym)),
       |col_0 AS (SELECT CAST(NULL AS VARCHAR) AS node, CAST(NULL AS INT) AS color
       |          WHERE false),
       |$steps
       |SELECT CAST(node AS BIGINT) AS o_orderkey, color
       |FROM col_$rounds ORDER BY o_orderkey""".stripMargin
  }

  val graphColoring: QueryDef = QueryDef.sql(
    "graph_coloring", coloringOracle(64)) { (s, d) =>
    graft.Ckpt.scoped { sc =>
      import s.implicits._
      val ed = intervalConflictEdges(s, d)
        .select(col("a").cast("string").as("a"), col("b").cast("string").as("b"))
      val sym = sc.persist(ed.union(ed.select(col("b").as("a"), col("a").as("b")))
        .distinct())
      var active = sc.checkpoint(sym.select(col("a").as("node")).distinct()
        .withColumn("pri", md5(col("node"))))
      var colored = Seq.empty[(String, Int)].toDF("node", "color")
      // the checkpoints colored's union tree reads: this round's `newly`
      // frames since its last checkpoint, and that checkpoint
      val absorbed = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var remaining = active.count()
      var round = 0
      while (remaining > 0 && round < 64) {
        round += 1
        // highest active-neighbor priority per node
        val nbrMax = sym
          .join(active.select(col("node").as("bn"), col("pri").as("bpri")),
            col("bn") === col("b"))
          .groupBy(col("a").as("nnode")).agg(max(col("bpri")).as("nmax"))
        val winners = active
          .join(nbrMax, col("node") === col("nnode"), "left_outer")
          .filter(col("nmax").isNull || col("pri") > col("nmax"))
          .select(col("node"))
        // smallest color not used by any already-colored neighbor
        val nbrColors = sym
          .join(colored.select(col("node").as("cn"), col("color").as("bc")),
            col("cn") === col("b"))
          .select(col("a").as("wn"), col("bc"))
        val newly = sc.checkpoint(winners
          .join(nbrColors, col("wn") === col("node"), "left_outer")
          .groupBy(col("node")).agg(collect_set(col("bc")).as("cs"))
          .withColumn("color",
            element_at(filter(sequence(lit(0), size(col("cs"))),
              i => !array_contains(col("cs"), i)), 1))
          .select(col("node"), col("color")))
        remaining -= newly.count()
        colored = colored.unionAll(newly)
        absorbed += newly
        active = sc.roll(
          active.join(newly.select(col("node").as("dn")),
            col("dn") === col("node"), "left_anti"), active)
        if (round % 4 == 0) {
          colored = sc.checkpoint(colored)
          absorbed.foreach(sc.free); absorbed.clear(); absorbed += colored
        }
      }
      // cap exhaustion must be an explicit failure, never a silently
      // PARTIAL coloring that downstream reads as proper (the dense
      // bipartite graph once drained only 858/1600 nodes in 64 rounds)
      require(remaining == 0,
        s"graph_coloring: $remaining node(s) uncolored after $round rounds — " +
          "the conflict graph is too dense for the round cap; raise it or " +
          "sparsify the edge projection")
      absorbed.foreach(sc.keep(_))
      colored
        .select(col("node").cast("long").as("o_orderkey"), col("color"))
        .orderBy(col("o_orderkey"))
    }
  }

  private val MatchRounds = 8

  /** Maximal matching by the distributed "handshake" (locally-minimum
    * edge) algorithm — Israeli–Itai (1986) symmetry breaking with
    * hash-derived edge weights, the pairing primitive behind
    * coarsening (multilevel partitioners), one-to-one assignment, and
    * Borůvka-style contraction: each round every active edge draws
    * priority md5(round:a:b) (hash-derived like graph_mis — every
    * run/partitioning/engine replays identically); an edge joins the
    * matching iff it is the MINIMUM-priority edge at BOTH endpoints,
    * then matched endpoints retire with all their incident edges. The
    * both-endpoints-minimum test needs NO edge-adjacency (deg²) join:
    * two O(|E|) per-side min aggregates + two equality joins back —
    * on the bipartite customer↔supplier trade graph the sides are
    * disjoint namespaces, so per-column groupBys are exact. A
    * constant expected fraction of edges clears per round; $MatchRounds
    * fixed rounds (drain-to-empty pinned in ScalaTest), O(|E|)
    * shuffle per round, matched set grows append-only,
    * localCheckpoint cuts lineage per round.
    *
    * Oracle: chained-CTE replay of the identical $MatchRounds rounds
    * (DuckDB md5 produces the same lowercase hex). ScalaTest pins
    * matching validity (no shared endpoints), maximality (no active
    * edge survives), subset-of-edges, and rerun determinism.
    */
  val graphMatching: QueryDef = {
    val steps = (1 to MatchRounds).map { i =>
      s"""p$i AS MATERIALIZED (SELECT a, b,
         |  md5(concat('$i', ':', CAST(a AS VARCHAR), ':', CAST(b AS VARCHAR))) AS pri
         |  FROM e${i - 1}),
         |w$i AS MATERIALIZED (SELECT p.a, p.b FROM p$i p
         |  JOIN (SELECT a, min(pri) AS m FROM p$i GROUP BY a) x
         |    ON x.a = p.a AND x.m = p.pri
         |  JOIN (SELECT b, min(pri) AS m FROM p$i GROUP BY b) y
         |    ON y.b = p.b AND y.m = p.pri),
         |e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
         |  WHERE a NOT IN (SELECT a FROM w$i)
         |    AND b NOT IN (SELECT b FROM w$i))""".stripMargin
    }.mkString(",\n")
    val matchUnion = (1 to MatchRounds)
      .map(i => s"SELECT a, b, $i AS match_round FROM w$i").mkString(" UNION ALL ")
    val oracle =
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey AS a, l_suppkey AS b
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |$steps,
         |m AS ($matchUnion)
         |SELECT a AS custkey, b AS suppkey, CAST(match_round AS BIGINT) AS match_round
         |FROM m ORDER BY custkey""".stripMargin
    QueryDef.sql("graph_matching", oracle) { (s, d) =>
      graft.Ckpt.scoped { sc =>
        var active = sc.checkpoint(tradeEdges(s, d)
          .select(col("src").as("a"), col("dst").as("b")))
        var matched = Seq.empty[DataFrame]
        for (i <- 1 to MatchRounds) {
          val p = active.withColumn("pri",
            md5(concat_ws(":", lit(i.toString),
              col("a").cast("string"), col("b").cast("string"))))
          val na = p.groupBy(col("a").as("xa")).agg(min(col("pri")).as("xm"))
          val nb = p.groupBy(col("b").as("yb")).agg(min(col("pri")).as("ym"))
          val w = sc.keep(p
            .join(na, col("xa") === col("a") && col("xm") === col("pri"))
            .join(nb, col("yb") === col("b") && col("ym") === col("pri"))
            .select(col("a"), col("b")))
          matched :+= w.withColumn("match_round", lit(i.toLong))
          active = sc.roll(active
            .join(w.select(col("a").as("wa")).distinct(),
              col("wa") === col("a"), "left_anti")
            .join(w.select(col("b").as("wb")).distinct(),
              col("wb") === col("b"), "left_anti"), active)
        }
        matched.reduce(_ unionAll _)
          .select(col("a").as("custkey"), col("b").as("suppkey"),
            col("match_round"))
          .orderBy(col("custkey"))
      }
    }
  }

  private val AnfK = 32     // FM bitmasks per node (rel. err ~0.78/√k)
  private val AnfRounds = 8 // ≥ bipartite trade-graph effective diameter

  /** graph_anf's oracle: replay the Flajolet–Martin register init
    * (md5-hex hash → lowest-set-bit via exact bit_count math), the h
    * rounds of neighbor bit_or merging, and the per-h estimate with
    * the engine's exact-integer R and micro-quantized node sums —
    * the whole ANF curve hash-matches.
    */
  private def anfOracle(rounds: Int): String = {
    val states = (1 to rounds).map { h =>
      s"""s$h AS MATERIALIZED (
         |  SELECT node, j, bit_or(m) AS m FROM (
         |    SELECT e.v AS node, s.j, s.m
         |    FROM edges2 e JOIN s${h - 1} s ON s.node = e.u
         |    UNION ALL SELECT node, j, m FROM s${h - 1})
         |  GROUP BY node, j)""".stripMargin
    }.mkString(",\n")
    val ests = (0 to rounds).map { h =>
      s"""est$h AS (
         |  SELECT $h AS h,
         |    CAST(sum(CAST(round(pow(2.0, r) / 0.77351 * 1000000.0, 0)
         |      AS BIGINT)) AS DOUBLE) / 1000000.0 AS est
         |  FROM (SELECT node,
         |          CAST(sum(bit_count(xor(m, m + 1)) - 1) AS DOUBLE) / 32 AS r
         |        FROM s$h GROUP BY node))""".stripMargin
    }.mkString(",\n")
    val union = (0 to rounds).map(h => s"SELECT h, est FROM est$h")
      .mkString(" UNION ALL ")
    s"""WITH te AS (
       |  SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges2 AS MATERIALIZED (
       |  SELECT src * 2 AS u, dst * 2 + 1 AS v FROM te
       |  UNION ALL SELECT dst * 2 + 1 AS u, src * 2 AS v FROM te),
       |s0 AS MATERIALIZED (
       |  SELECT node, j, (CAST(1 AS BIGINT) << (bit_count(xor(h, h - 1)) - 1)) AS m
       |  FROM (
       |    SELECT node, j,
       |      CAST(concat('0x', substring(md5(concat_ws(',', node, j)), 1, 13))
       |        AS BIGINT) AS h
       |    FROM (SELECT DISTINCT u AS node FROM edges2),
       |         UNNEST(generate_series(0, 31)) AS t(j))),
       |$states,
       |$ests
       |SELECT CAST(e.h AS INTEGER) AS h,
       |  floor(e.est * 100 + 0.5) / 100 AS est_pairs,
       |  floor(e.est / p.est * 10000 + 0.5) / 10000 AS pct_of_plateau
       |FROM ($union) e CROSS JOIN est$rounds p
       |ORDER BY h""".stripMargin
  }

  /** Approximate neighborhood function N(h) + effective diameter via
    * ANF (Palmer et al. KDD 2002; the HyperANF/HADI lineage Boldi et
    * al. WWW 2011 scaled to billions of nodes) — the ONLY way to ask
    * "how many pairs are within h hops" on a graph where exact
    * all-pairs BFS (graph_eccentricity's 25-node luxury) is
    * impossible: each node carries k=32 Flajolet–Martin bitmasks
    * (bit p set with prob 2^-(p+1), from xxhash64 — deterministic);
    * one round of register merging along edges makes mask(x) cover
    * exactly the ≤h-hop ball, because bitwise-OR is the union of the
    * underlying node sets. Spark shape: masks are 32 LONG COLUMNS
    * and the merge is the built-in codegen'd bit_or aggregate — no
    * UDAF, no array state; the edge cache is hash(v)-partitioned so
    * the per-round partial bit_or collapses to each partition's own
    * nodes before the merge exchange (≈8-10× fewer exchanged bytes
    * than a scan-ordered cache), lineage cut every round.
    * Ball-size estimate per node = 2^R/0.77351, R = mean lowest-zero
    * -bit position; N(h) = Σ nodes' estimates (one tiny agg per h).
    * Runs on the namespaced undirected bipartite customer↔supplier
    * graph. Output: (h, est reachable pairs, share of the h=max
    * plateau). Rows-only; ScalaTest pins exact determinism (hashes +
    * OR are order-free), monotone N(h), estimate-vs-exact (driver
    * BFS closure at sf0.001) within FM tolerance, and N(0) ≈ n.
    */
  val graphAnf: QueryDef = QueryDef.sql("graph_anf", anfOracle(AnfRounds)) { (s, d) =>
    graft.Ckpt.scoped { sc =>
      import s.implicits._
      val e = tradeEdges(s, d)
      // disjoint node namespace: customer 2k, supplier 2k+1
      val und = e.select((col("src") * 2).as("u"), (col("dst") * 2 + 1).as("v"))
      // REPARTITION BY v (the merge key): the r9 cache was scan-ordered,
      // so every partition of the per-round msgs relation saw ~ALL nodes
      // and the partial bit_or collapsed nothing — the merge exchange
      // carried ~16k groups × 33 longs × 32 partitions ≈ 40 MB/round
      // (120 MB/suite at sf0.1, the #3 shuffler). v-clustered partitions
      // reduce the partial output to each partition's own ~n/32 nodes,
      // an 8-10× smaller exchange for one 10 MB edge repartition.
      // Explicit partition count — a bare repartition(col) lets AQE
      // coalesce this ~10 MB relation to ONE partition (advisory 64 MB)
      // and serialize every round. (The zero-exchange alternative —
      // self-loop edges + broadcast state + alias-preserved partitioning
      // — was measured 2-3× SLOWER per round here: it fuses the probe
      // and both 33-column agg phases into one whole-stage method that
      // the JIT refuses, so every round ran interpreted. Two smaller
      // stages + a tiny exchange win; don't re-fuse this.)
      val edges = sc.persist(und.union(und.select(col("v").as("u"), col("u").as("v")))
        .repartition(s.sparkContext.defaultParallelism, col("v")))
      val mcols = (0 until AnfK).map(j => s"m$j")
      // init: one geometric bit per (node, mask): lowest set bit of a
      // 52-bit md5-derived hash — p with prob 2^-(p+1). md5 (not
      // xxhash64) so the DuckDB oracle replays identical hex, and the
      // bit position comes from EXACT integer ops (bit_count(h⊕(h−1))−1
      // — the log2-on-a-power-of-two cast, which both engines would
      // have to get ulp-identically right, is gone).
      def geoBit(j: Int): Column = {
        val h = conv(substring(md5(concat_ws(",", col("node"), lit(j))), 1, 13),
          16, 10).cast("long")
        call_function("shiftleft", lit(1L),
          bit_count(h.bitwiseXOR(h - 1)) - 1)
      }
      var state = sc.checkpoint(edges.select(col("u").as("node")).distinct()
        .select(col("node") +: (0 until AnfK).map(j => geoBit(j).as(s"m$j")): _*))
      // size-adaptive broadcast of the O(n)×33-long state (~264 B/row):
      // the checkpointed state scans with UNKNOWN size, so the planner
      // would pick a sort-merge join and re-shuffle the edge cache by u
      // — destroying the v-clustering the repartition above bought
      // (measured: 106 MB suite shuffle via SMJ vs ~30 MB broadcast).
      // Below the bound the join is map-side and v-clustering survives
      // into the partial agg; above it the shuffled join is the
      // fallback (same result — bit_or is order-free).
      // Regime estimate: nodes × the (node, 32 masks) UnsafeRow, ×2
      // because the broadcast is rebuilt every round while the previous
      // round's copy is still held
      val bcState = Regime.fits(s, "graph_anf.state",
        state.count() * Regime.rowBytes(AnfK + 1) * 2)
      // ball-size estimate: R = mean lowest-ZERO-bit position (exact
      // integer sum ÷ k), est = 2^R/φ. Per-node estimates quantize to
      // exact micro longs BEFORE the node sum so the estimate is
      // partition-order invariant and engine-exact (Round-7 rule).
      val lowestZero = mcols.map { m =>
        // m ⊕ (m+1) sets all bits through the lowest ZERO bit of m
        bit_count(col(m).bitwiseXOR(col(m) + 1)) - 1
      }.reduce(_ + _).cast("double") / AnfK
      def nh(st: DataFrame): Double =
        st.select(sum(round(pow(lit(2.0), lowestZero) / lit(0.77351)
            * lit(1000000.0), 0).cast("long")).as("n"))
          .as[Long].collect()(0) / 1e6
      val curve = scala.collection.mutable.ArrayBuffer(nh(state))
      for (h <- 1 to AnfRounds) {
        // union(state) is load-bearing for CODEGEN, not just retention:
        // it breaks whole-stage fusion between the broadcast probe and
        // the 33-column aggregate. The fused exchange-free alternative
        // generated one method the JIT refused (every round ran
        // interpreted, 2-3× slower) — keep the branches split.
        val msgs = edges.join(if (bcState) broadcast(state) else state,
            col("u") === col("node"))
          .select(col("v").as("node") +: mcols.map(col): _*)
        state = sc.roll(msgs.union(state)
          .groupBy(col("node"))
          .agg(bit_or(col(mcols.head)).as(mcols.head),
            mcols.tail.map(m => bit_or(col(m)).as(m)): _*),
          // checkpoint EVERY round, not every 3: the per-round N(h)
          // aggregate below forces a full evaluation anyway, so an
          // uncheckpointed round would be recomputed by the next one
          // (1+2+3 round-executions between cuts ≈ 2-3× wasted work);
          // the state is a slim O(n)×33-column relation. Rolling frees
          // the replaced generation.
          state)
        curve += nh(state)
      }
      val plateau = curve.last
      curve.toSeq.zipWithIndex.map { case (n, h) =>
        (h, math.floor(n * 100 + 0.5) / 100,
          math.floor(n / plateau * 10000 + 0.5) / 10000)
      }.toDF("h", "est_pairs", "pct_of_plateau").orderBy(col("h"))
    }
  }

  /** Full per-supplier butterfly counts over the repeat-trade
    * bipartite graph — shared by the query (top-20 projection) and
    * the ScalaTest brute-force recount.
    */
  private[graft] def butterflyCounts(s: SparkSession, d: String): DataFrame = {
    val e = repeatTradeEdges(s, d) // sparse (cust, supp), distinct
    // wedge-pair counts: suppliers s1<s2 with `shared` common customers.
    // Work = Σ_c deg(c)² on the REPEAT graph (single-digit avg degree at
    // every SF); the join is an equality hash join on the customer key.
    val w = e.select(col("src").as("c1"), col("dst").as("s1"))
      .join(e.select(col("src").as("c2"), col("dst").as("s2")),
        col("c1") === col("c2") && col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
      // C(shared,2) butterflies per supplier pair — computed
      // ARITHMETICALLY from the wedge count; 4-tuples never materialize
      .withColumn("bf", expr("shared * (shared - 1) div 2"))
    w.select(col("s1").as("supplier"), col("bf"))
      .unionAll(w.select(col("s2").as("supplier"), col("bf")))
      .groupBy(col("supplier"))
      .agg(sum(col("bf")).as("n_butterflies"), count(lit(1)).as("n_partners"))
  }

  /** Butterfly (bipartite 4-cycle) counting — the standard cohesion
    * motif for bipartite graphs (Sanei-Mehri et al., KDD 2018): a
    * butterfly is (c1,c2,s1,s2) with all four trade edges present.
    * For each supplier pair the count is C(shared_customers, 2), so
    * one wedge join + one integer expression yields exact counts with
    * no 4-tuple enumeration; per-supplier totals are one more
    * |pairs|-sized aggregate. Runs on the sparse repeat-trade
    * projection (≥2 distinct orders per edge) so wedge work stays
    * Σ deg² of a bounded-degree graph at any SF. All-integer output →
    * engine-exact hash match.
    */
  val graphButterflies: QueryDef = QueryDef.sql(
    "graph_butterflies",
    """WITH e AS MATERIALIZED (
      |  SELECT o_custkey AS c, l_suppkey AS s
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2 HAVING count(DISTINCT l_orderkey) >= 2),
      |w AS (
      |  SELECT e1.s AS s1, e2.s AS s2, count(*) AS shared
      |  FROM e e1 JOIN e e2 ON e1.c = e2.c AND e1.s < e2.s
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |b AS (SELECT s1, s2, shared * (shared - 1) // 2 AS bf FROM w),
      |per AS (
      |  SELECT supplier, CAST(sum(bf) AS BIGINT) AS n_butterflies,
      |         count(*) AS n_partners
      |  FROM (SELECT s1 AS supplier, bf FROM b
      |        UNION ALL SELECT s2, bf FROM b)
      |  GROUP BY supplier)
      |SELECT supplier, n_butterflies, n_partners
      |FROM per ORDER BY n_butterflies DESC, supplier LIMIT 20""".stripMargin) { (s, d) =>
    butterflyCounts(s, d)
      .orderBy(col("n_butterflies").desc, col("supplier"))
      .limit(20)
  }

  private val FastRpDims = 8
  private val FastRpWeights = Seq(0.0, 1.0, 1.0, 2.0) // per hop 0..3

  /** FastRP node embeddings (Chen et al. 2019; the DeepWalk-family
    * method that needs NO walk sampling and NO factorization): start
    * from a hash-derived random sign matrix R (node v, dim j →
    * ±1/√d via xxhash64 — reproducible at any partitioning), then
    * E = Σ_k w_k · Â^k R where Â is the degree-normalized adjacency.
    * Each hop is ONE O(|E|·d) message join + a group-mean — identical
    * shuffle shape to PageRank with d=8 value columns; nothing ever
    * materializes per node-PAIR, so the method scales where
    * walk-and-factorize (NetMF) cannot. Runs on the namespaced
    * undirected bipartite trade graph (customer 2k ↔ supplier 2k+1).
    * Shared helper so the spec can replay hops in the driver from
    * the collected hop-0 matrix.
    */
  private[graft] def fastRpEmbeddings(s: SparkSession, d: String): DataFrame = {
    val e = tradeEdges(s, d)
    val und = e.select((col("src") * 2).as("u"), (col("dst") * 2 + 1).as("v"))
    val edges = und.union(und.select(col("v").as("u"), col("u").as("v")))
    val dims = 0 until FastRpDims
    def ecol(j: Int) = s"e$j"
    // hop-0: sparse random projection row per node, ±1/√d signs —
    // md5 parity (not xxhash64) so the DuckDB oracle replays the
    // sign matrix identically
    val init = graft.Ckpt.keep(edges.select(col("u").as("node")).distinct()
      .select(col("node") +: dims.map(j =>
        (when(conv(substring(md5(concat_ws(",", col("node"), lit(j))),
            1, 13), 16, 10).cast("long") % 2 === 0, 1.0).otherwise(-1.0) /
          math.sqrt(FastRpDims)).as(ecol(j))): _*))
      // materialized ONCE: the hop join would otherwise re-evaluate
      // the 8 md5 columns per EDGE row post-join (~2.4M MessageDigest
      // calls per hop at sf0.1 — xxhash64 tolerated that, md5 doesn't)
    var x = init
    var acc = init.select(col("node") +:
      dims.map(j => (col(ecol(j)) * FastRpWeights.head).as(ecol(j))): _*)
    for (k <- 1 to 3) {
      // per-hop values quantize to exact pico longs BEFORE the mean
      // and the mean re-quantizes (Round-7 rule): every hop's floats
      // are then partition-order invariant and replay in the oracle;
      // the 1e-12 grid sits far below the 6-dp output rounding
      val msgs = edges.join(x, col("u") === col("node"))
        .select(col("v").as("node") +: dims.map(j =>
          floor(col(ecol(j)) * lit(1000000000000.0) + lit(0.5))
            .cast("long").as(ecol(j))): _*)
      def qMean(j: Int) =
        (floor(sum(col(ecol(j))).cast("double") / count(lit(1)) + lit(0.5))
          .cast("long").cast("double") / lit(1000000000000.0)).as(ecol(j))
      // every hop's checkpoint is the result's: acc's lazy tree joins them all
      x = graft.Ckpt.keep(msgs.groupBy(col("node"))
        .agg(qMean(0), dims.tail.map(qMean): _*))
      val w = FastRpWeights(k)
      acc = acc.join(x.select(col("node") +: dims.map(j =>
          col(ecol(j)).as(s"h$j")): _*), Seq("node"))
        .select(col("node") +: dims.map(j =>
          (col(ecol(j)) + col(s"h$j") * w).as(ecol(j))): _*)
    }
    acc
  }

  /** graph_fastrp's oracle: the md5-parity sign matrix, three
    * quantized-mean propagation hops, and the weighted hop
    * accumulation replayed with the engine's exact float order.
    */
  private def fastrpOracle: String = {
    val dims = 0 until FastRpDims
    def sgn(j: Int): String =
      s"(CASE WHEN CAST(concat('0x', substring(md5(concat_ws(',', node, '$j')), " +
        s"1, 13)) AS BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END / sqrt($FastRpDims.0))"
    val x0cols = dims.map(j => s"${sgn(j)} AS e$j").mkString(",\n    ")
    val hops = (1 to 3).map { k =>
      val mcols = dims.map(j =>
        s"CAST(floor(x.e$j * 1000000000000.0 + 0.5) AS BIGINT) AS m$j")
        .mkString(",\n      ")
      val qcols = dims.map(j =>
        s"CAST(floor(CAST(sum(m$j) AS DOUBLE) / count(*) + 0.5) AS BIGINT)" +
          s" / 1000000000000.0 AS e$j").mkString(",\n    ")
      s"""x$k AS MATERIALIZED (
         |  SELECT node,
         |    $qcols
         |  FROM (SELECT e.v AS node,
         |      $mcols
         |    FROM edges2 e JOIN x${k - 1} x ON x.node = e.u)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    val accCols = dims.map { j =>
      val terms = (0 to 3)
        .map(k => s"x$k.e$j * ${FastRpWeights(k)}").mkString(" + ")
      s"$terms AS e$j"
    }.mkString(",\n    ")
    val l2 = dims.map(j => s"e$j * e$j").mkString(" + ")
    s"""WITH te AS (
       |  SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges2 AS MATERIALIZED (
       |  SELECT src * 2 AS u, dst * 2 + 1 AS v FROM te
       |  UNION ALL SELECT dst * 2 + 1 AS u, src * 2 AS v FROM te),
       |x0 AS MATERIALIZED (
       |  SELECT node,
       |    $x0cols
       |  FROM (SELECT DISTINCT u AS node FROM edges2)),
       |$hops,
       |acc AS (
       |  SELECT x0.node,
       |    $accCols
       |  FROM x0 JOIN x1 ON x1.node = x0.node
       |  JOIN x2 ON x2.node = x0.node JOIN x3 ON x3.node = x0.node)
       |SELECT node, round(sqrt($l2), 6) AS l2_norm,
       |  round(e0, 6) AS e0, round(e1, 6) AS e1
       |FROM acc ORDER BY node LIMIT 50""".stripMargin
  }

  /** FastRP embedding summary per node: L2 norm + leading dims,
    * deterministic under any partitioning (md5 sign init, quantized
    * mean propagation — the DuckDB oracle replays all three hops);
    * ScalaTest additionally replays the hop recursion in the driver
    * and pins edge-vs-non-edge cosine homophily.
    */
  val graphFastrp: QueryDef = QueryDef.sql("graph_fastrp", fastrpOracle) { (s, d) =>
    val dims = 0 until FastRpDims
    fastRpEmbeddings(s, d)
      .select(col("node"),
        round(sqrt(dims.map(j => col(s"e$j") * col(s"e$j")).reduce(_ + _)), 6)
          .as("l2_norm"),
        round(col("e0"), 6).as("e0"), round(col("e1"), 6).as("e1"))
      .orderBy(col("node")).limit(50)
  }

  /** Power-law tail fit of the supplier degree distribution —
    * Clauset–Shalizi–Newman continuous MLE α = 1 + n/Σ ln(d/(dmin−½))
    * with σ = (α−1)/√n: the statistic that decides whether the graph
    * needs skew handling (a heavy power-law tail ⇒ hub-salting /
    * AQE skew joins; graph_assortativity says who hubs attach to,
    * this says how heavy the hubs are). One degree aggregate + one
    * O(1)-row summary aggregate — the ANALYZE posture; only the two
    * final doubles are rounded.
    */
  val graphPowerlaw: QueryDef = QueryDef.sql(
    "graph_powerlaw",
    """WITH e AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |deg AS (SELECT s, count(*) AS d FROM e GROUP BY s),
      |tail AS (SELECT d FROM deg WHERE d >= 5)
      |SELECT CAST(count(*) AS BIGINT) AS n_tail, 5 AS d_min,
      |  CAST(max(d) AS BIGINT) AS d_max,
      |  round(1.0 + count(*) / sum(ln(d / 4.5)), 4) AS alpha_mle,
      |  round((count(*) / sum(ln(d / 4.5))) / sqrt(count(*)), 4) AS sigma
      |FROM tail""".stripMargin) { (s, d) =>
    val deg = tradeEdges(s, d).groupBy(col("dst"))
      .agg(count(lit(1)).as("d"))
      .filter(col("d") >= 5)
    deg.agg(
      count(lit(1)).as("n_tail"),
      lit(5).as("d_min"),
      max(col("d")).as("d_max"),
      round(lit(1.0) + count(lit(1)) / sum(log(col("d") / 4.5)), 4).as("alpha_mle"),
      round((count(lit(1)) / sum(log(col("d") / 4.5))) / sqrt(count(lit(1))), 4)
        .as("sigma"))
  }

  private val LandmarkCount = 4
  private val LandmarkRounds = 6

  /** Landmark distance table: multi-source BFS from the L
    * highest-degree suppliers (deterministic (degree, id) pick) over
    * the namespaced undirected REPEAT-trade graph (the sparse
    * projection — the dense raw bipartite graph made each BFS round
    * shuffle ~30 MB × 8 at sf0.1 for no semantic gain) — L distance
    * columns relaxed together, one O(|E|·L) join + group-min per
    * round. Shared with the spec's exact-BFS audit.
    */
  private[graft] def landmarkDistances(s: SparkSession, d: String)
      : (DataFrame, Array[Long]) = graft.Ckpt.scoped { sc =>
    val e = repeatTradeEdges(s, d)
    val und = e.select((col("src") * 2).as("u"), (col("dst") * 2 + 1).as("v"))
    val edges = sc.persist(und.union(und.select(col("v").as("u"), col("u").as("v"))))
    val landmarks = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .filter(col("u") % 2 === 1) // suppliers: hubs of the bipartite graph
      .orderBy(col("deg").desc, col("u"))
      .limit(LandmarkCount)
      .select("u").collect().map(_.getLong(0))
    val dcols = landmarks.indices.map(i => s"d$i")
    val init = edges.select(col("u").as("node")).distinct()
      .select(col("node") +: landmarks.zipWithIndex.map { case (l, i) =>
        when(col("node") === l, 0).otherwise(lit(null).cast("int")).as(s"d$i")
      }: _*)
    val state = sc.iterate(init, LandmarkRounds, 3) { (state, _) =>
      val msgs = edges.join(state, col("u") === col("node"))
        .select(col("v").as("node") +: dcols.map(c => (col(c) + 1).as(c)): _*)
      msgs.union(state)
        .groupBy(col("node"))
        .agg(min(col(dcols.head)).as(dcols.head),
          dcols.tail.map(c => min(col(c)).as(c)): _*)
    }
    (sc.keep(state), landmarks)
  }

  /** Generated DuckDB replay of landmarkDistances + the md5 panel:
    * repeat-trade edges, namespaced bipartite graph, the (deg, id)
    * landmark pick, $LandmarkRounds min-relax rounds as chained CTEs
    * (NULL = unreached; min and + propagate NULLs identically in
    * both engines), then the same least(du+dv) estimate over the
    * md5-ordered 5×4 panel.
    */
  private def landmarkOracle: String = {
    val L = LandmarkCount; val R = LandmarkRounds
    val dcols = (0 until L).map(i => s"d$i")
    val rounds = (1 to R).map { r =>
      val p = r - 1
      val mins = dcols.map(c => s"min($c) AS $c").mkString(", ")
      val plus = dcols.map(c => s"s.$c + 1 AS $c").mkString(", ")
      val sel = dcols.mkString(", ")
      s"""s$r AS MATERIALIZED (
         |  SELECT node, $mins FROM (
         |    SELECT node, $sel FROM s$p
         |    UNION ALL
         |    SELECT e.v AS node, $plus FROM s$p s JOIN edges e ON e.u = s.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    val inits = (0 until L).map(i =>
      s"CASE WHEN node = (SELECT u FROM lm WHERE i = $i) THEN 0 END AS d$i")
      .mkString(",\n    ")
    val est = (0 until L).map(i => s"du.d$i + dv.d$i").mkString("least(", ", ", ")")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT o_custkey AS src, l_suppkey AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2 HAVING count(DISTINCT l_orderkey) >= 2),
       |und AS (SELECT src * 2 AS u, dst * 2 + 1 AS v FROM e0),
       |edges AS MATERIALIZED (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
       |lm AS (SELECT u, row_number() OVER (ORDER BY deg DESC, u) - 1 AS i
       |       FROM (SELECT u, count(*) AS deg FROM edges WHERE u % 2 = 1 GROUP BY u)
       |       ORDER BY deg DESC, u LIMIT $L),
       |s0 AS (
       |  SELECT node,
       |    $inits
       |  FROM (SELECT DISTINCT u AS node FROM edges)),
       |$rounds,
       |cu AS (SELECT node AS cu FROM s$R WHERE node % 2 = 0
       |       ORDER BY md5(concat(node, ':1')) LIMIT 5),
       |sv AS (SELECT node AS sv FROM s$R WHERE node % 2 = 1
       |       ORDER BY md5(concat(node, ':2')) LIMIT 4)
       |SELECT cu.cu AS u, sv.sv AS v, CAST($est AS INTEGER) AS est_dist
       |FROM cu CROSS JOIN sv
       |JOIN s$R du ON du.node = cu.cu
       |JOIN s$R dv ON dv.node = sv.sv
       |ORDER BY u, v""".stripMargin
  }

  /** Landmark distance oracle (Potamias et al. CIKM 2009 — the
    * web-scale answer to "how far apart are u and v" when per-query
    * BFS is unaffordable): precompute distances to L = 4 hub
    * landmarks (one multi-source BFS, L columns relaxed together);
    * estimate d̂(u,v) = min_l d(u,l) + d(l,v) — an upper bound by the
    * triangle inequality, exact whenever a landmark lies on a
    * shortest path. Query = two id-key joins against the O(n·L)
    * distance table, NO per-query traversal. Output: estimates for a
    * deterministic hash-picked panel of customer–supplier pairs.
    * Rows-only; ScalaTest pins the upper-bound property against
    * exact driver BFS and exactness through landmarks.
    */
  val graphLandmarkDist: QueryDef = QueryDef.sql(
    "graph_landmark_dist", landmarkOracle) { (s, d) =>
    val (state, _) = landmarkDistances(s, d)
    val dcols = (0 until LandmarkCount).map(i => s"d$i")
    // deterministic query panel: 5 hash-picked customers × 4
    // hash-picked suppliers = 20 pairs (both sides are tiny literal
    // relations, so the cross join is 20 rows, not a plan smell).
    // md5 (not xxhash64) so the DuckDB oracle replays the pick —
    // both engines emit identical lowercase hex (graph_mis parity).
    val custs = state.filter(col("node") % 2 === 0)
      .orderBy(md5(concat_ws(":", col("node"), lit(1))))
      .limit(5).select(col("node").as("cu"))
    val supps = state.filter(col("node") % 2 === 1)
      .orderBy(md5(concat_ws(":", col("node"), lit(2))))
      .limit(4).select(col("node").as("sv"))
    val pairs = custs.crossJoin(supps)
    val uDist = state.select(col("node").as("cu") +:
      dcols.map(c => col(c).as(s"u_$c")): _*)
    val vDist = state.select(col("node").as("sv") +:
      dcols.map(c => col(c).as(s"v_$c")): _*)
    val est = dcols.map(c => col(s"u_$c") + col(s"v_$c"))
      .reduce((a, b) => least(a, b))
    pairs.join(uDist, Seq("cu")).join(vDist, Seq("sv"))
      .select(col("cu").as("u"), col("sv").as("v"),
        est.cast("int").as("est_dist"))
      .orderBy(col("u"), col("v"))
  }

  /** Strong-tie nation graph: each nation keeps its top-6 trade
    * partners by order volume ((count, partner) tie-break), the
    * union of kept directions is the undirected edge set. The RAW
    * nation graph saturates to a complete graph as SF grows (every
    * pair eventually trades once), which leaves link prediction
    * nothing to predict; the top-k projection stays sparse at ANY
    * corpus size. Shared with graph_adamic_adar's oracle and spec.
    */
  private val strongTieSql =
    """ds AS (
      |  SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  WHERE c_nationkey <> s_nationkey
      |  GROUP BY 1, 2),
      |und AS (
      |  SELECT least(src, dst) AS a, greatest(src, dst) AS b, sum(w) AS w
      |  FROM ds GROUP BY 1, 2),
      |ranked AS (
      |  SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY w DESC, b)
      |    AS ra, row_number() OVER (PARTITION BY b ORDER BY w DESC, a) AS rb
      |  FROM und),
      |ue AS (SELECT a, b FROM ranked WHERE ra <= 6 OR rb <= 6)""".stripMargin

  private[graft] def strongTieEdges(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val und = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(least(col("c_nationkey"), col("s_nationkey")).as("a"),
        greatest(col("c_nationkey"), col("s_nationkey")).as("b"))
      .agg(count(lit(1)).as("w"))
    val wa = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a")).orderBy(col("w").desc, col("b"))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b")).orderBy(col("w").desc, col("a"))
    und.withColumn("ra", row_number().over(wa))
      .withColumn("rb", row_number().over(wb))
      .filter(col("ra") <= 6 || col("rb") <= 6)
      .select(col("a"), col("b"))
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003) — THE
    * common-neighbor baseline every link-prediction paper benchmarks
    * against: score NON-adjacent pairs by Σ_z 1/ln(deg z) over their
    * common neighbors (rare shared neighbors count more than hubs —
    * the refinement over raw common-neighbor counting; graph_jaccard
    * normalizes differently and scores only EXISTING edges). Runs on
    * the sparse strong-tie projection (the raw entity graph
    * completes itself at scale and leaves nothing to predict). One
    * wedge self-join (Σ deg², degree ≤ ~12 by construction) + a
    * degree join on the shared-neighbor key + a left-anti join
    * against the edge set; floor-rounded before the top-20 cut so
    * the ordering is engine-stable.
    */
  val graphAdamicAdar: QueryDef = QueryDef.sql(
    "graph_adamic_adar",
    s"""WITH $strongTieSql,
       |sym AS MATERIALIZED (SELECT a, b FROM ue UNION SELECT b, a FROM ue),
       |deg AS (SELECT a AS node, count(*) AS d FROM sym GROUP BY a),
       |wedge AS (
       |  SELECT s1.a AS u, s2.a AS v, s1.b AS z
       |  FROM sym s1 JOIN sym s2 ON s1.b = s2.b AND s1.a < s2.a),
       |score AS (
       |  SELECT w.u, w.v,
       |    floor(sum(1.0 / ln(dg.d)) * 10000 + 0.5) / 10000 AS aa,
       |    count(*) AS n_common
       |  FROM wedge w JOIN deg dg ON dg.node = w.z
       |  WHERE dg.d > 1
       |  GROUP BY w.u, w.v),
       |nonedge AS (
       |  SELECT s.u, s.v, s.aa, s.n_common FROM score s
       |  WHERE NOT EXISTS (SELECT 1 FROM sym e WHERE e.a = s.u AND e.b = s.v))
       |SELECT u, v, aa, n_common
       |FROM nonedge ORDER BY aa DESC, u, v LIMIT 20""".stripMargin) { (s, d) =>
    val ue = strongTieEdges(s, d)
    val sym = graft.Ckpt.keep(ue.select(col("a"), col("b"))
      .union(ue.select(col("b").as("a"), col("a").as("b")))
      .distinct())
    val deg = sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("d"))
    val wedge = sym.select(col("a").as("u"), col("b").as("z"))
      .join(sym.select(col("a").as("v"), col("b").as("z2")),
        col("z") === col("z2") && col("u") < col("v"))
      .select(col("u"), col("v"), col("z"))
    val score = wedge.join(deg.withColumnRenamed("node", "z"), Seq("z"))
      .filter(col("d") > 1)
      .groupBy(col("u"), col("v"))
      .agg((floor(sum(lit(1.0) / log(col("d"))) * 10000 + 0.5) / 10000).as("aa"),
        count(lit(1)).as("n_common"))
    score.join(sym.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
      .orderBy(col("aa").desc, col("u"), col("v"))
      .limit(20)
  }

  val all: Seq[QueryDef] = Seq(
    graphAnf, graphButterflies, graphFastrp, graphPowerlaw,
    graphLandmarkDist, graphAdamicAdar,
    graphDegree, graphPagerank, graphTriangles, graphBfs, graphLabelprop,
    graphJaccard, graphCloseness, graphKcore, graphMst, graphSssp, graphCc,
    graphHits, graphAssortativity, graphModularity, graphClusteringCoeff,
    graph2hop, graphBipartite, graphWalks, graphNode2vec, graphBetweenness, graphPpr,
    graphScc, graphReciprocity, graphLouvain, graphConductance,
    graphSimrank, graphEccentricity, graphHarmonic, graphKtruss, graphMis,
    graphColoring, graphMatching)
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryDef
import graft.sources.Tables

/** Third slice of the analytic surface: correlated LATERAL top-N,
  * ordered string aggregation, deterministic mode, and a persisted
  * HyperLogLog sketch table (the pre-aggregated distinct-count layout
  * a 100 TB warehouse actually stores).
  */
object RelationalMore {

  /** Correlated LATERAL top-N: each probe-side row drives its own
    * ranked subquery. Catalyst decorrelates the LIMIT-per-key into a
    * window rank over one shuffle of the matching orders — no
    * nested-loop re-execution per customer (plan-locked). The
    * window-function spelling of the same shape is
    * `q_top_per_key_agg`; this entry is the SQL-surface lateral.
    */
  val qLateralTopk: QueryDef = QueryDef.sql(
    "q_lateral_topk",
    """SELECT c_custkey, o_orderkey, o_totalprice
      |FROM customer,
      |  LATERAL (SELECT o_orderkey, o_totalprice FROM orders
      |           WHERE o_custkey = c_custkey
      |           ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
      |WHERE c_nationkey = 1
      |ORDER BY c_custkey, o_orderkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_lat_v")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_lat_v")
    s.sql(
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM graft_customer_lat_v,
        |  LATERAL (SELECT o_orderkey, o_totalprice FROM graft_orders_lat_v
        |           WHERE o_custkey = c_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
        |WHERE c_nationkey = 1
        |ORDER BY c_custkey, o_orderkey""".stripMargin)
  }

  /** Ordered string aggregation (LISTAGG). `collect_list` order is
    * whatever the shuffle delivered, so determinism comes from
    * `array_sort` before the join — same contract as DuckDB's
    * `string_agg(... ORDER BY ...)`.
    */
  val qStringAgg: QueryDef = QueryDef.sql(
    "q_string_agg",
    """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
    Tables.nation(s, d)
      .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
      .orderBy(col("r_name"))
  }

  /** Deterministic mode per group: the built-in `mode()` breaks ties
    * arbitrarily, so the engine spells it count + rank with an
    * explicit value tie-break — reproducible on any cluster layout.
    */
  val qMode: QueryDef = QueryDef.sql(
    "q_mode",
    """WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS n
      |           FROM orders GROUP BY 1, 2)
      |SELECT o_orderstatus, o_orderpriority AS mode_priority, n
      |FROM (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
      |                                   ORDER BY n DESC, o_orderpriority) AS rk
      |      FROM c)
      |WHERE rk = 1 ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    val c = Tables.orders(s, d)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("n").desc, col("o_orderpriority"))
    c.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"), col("n"))
      .orderBy(col("o_orderstatus"))
  }

  // hash of the source dir so different SFs coexist in the warehouse
  private def sketchTableDir(s: SparkSession, d: String): org.apache.hadoop.fs.Path = {
    val h = Integer.toHexString(d.hashCode)
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir")),
      s"graft_hll_$h")
  }

  /** Builds (once) the per-month HLL sketch table over orders:
    * one 2^12-register Datasketches HLL per (month) of o_custkey.
    * At 100 TB this is the ingest-time artifact — kilobytes per
    * partition — that answers any distinct-count rollup without
    * rescanning the fact table.
    */
  def hllSketchTable(s: SparkSession, d: String): DataFrame = synchronized {
    val dir = sketchTableDir(s, d)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))) {
      Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(hll_sketch_agg(col("o_custkey"), lit(12)).as("sk"),
          count(lit(1)).as("n_orders"))
        .write.mode("overwrite").parquet(dir.toString)
    }
    s.read.parquet(dir.toString)
  }

  /** Distinct customers per quarter answered from the STORED sketch
    * table alone: `hll_union_agg` merges the month sketches (sketch
    * merge is associative — the property that makes the layout
    * re-aggregable to any coarser grain). The fact table is never
    * touched at query time. Estimate-vs-exact bound asserted in
    * ScalaTest; the estimate itself is sketch-impl-defined, hence
    * rows-only.
    */
  val qHllPartitioned: QueryDef = QueryDef.rowsOnly("q_hll_partitioned") { (s, d) =>
    hllSketchTable(s, d)
      .groupBy(date_trunc("quarter", col("month")).as("quarter"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_customers"),
        sum(col("n_orders")).as("n_orders"))
      .orderBy(col("quarter"))
  }

  /** Per-key top-k via the NATIVE TopKPerKey operator (custom logical
    * node + planner strategy + partial/final physical execs,
    * sql/graft/topk.scala): bounded k-row buffers per key instead of
    * the window formulation's full partition sort — the shuffle
    * carries O(keys·k) partial winners, never the corpus, and no Sort
    * node exists anywhere below the presentation ORDER BY
    * (plan-locked). Oracle is the row_number() spelling with the same
    * total ordering.
    */
  val qNativeTopk: QueryDef = QueryDef.sql(
    "q_native_topk",
    """WITH r AS (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders)
      |SELECT o_orderpriority, o_orderkey, o_totalprice
      |FROM r WHERE rk <= 3
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin) { (s, d) =>
    val df = Tables.orders(s, d)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
    org.apache.spark.sql.graft.TopKOps.topKPerKey(df,
        keys = Seq(col("o_orderpriority")),
        order = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
        k = 3)
      .orderBy(col("o_orderpriority"), col("o_orderkey"))
  }

  /** The WINDOW spelling of per-key top-k, rewritten into the native
    * TopKPerKey operator by the conf-gated InferTopKFromWindow
    * optimizer rule — users keep writing `row_number() <= k` and the
    * engine substitutes the bounded-buffer plan. The flag is scoped
    * to this query (set → eager localCheckpoint executes the
    * rewritten plan → restore), so no other audited plan changes;
    * the rewrite itself is plan-locked in ScalaTest.
    */
  val qTopkRewrite: QueryDef = QueryDef.sql(
    "q_topk_rewrite",
    """WITH r AS (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders)
      |SELECT o_custkey, o_orderkey, o_totalprice FROM r WHERE rk <= 2
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.graft.InferTopKFromWindow
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val prev = s.conf.getOption(InferTopKFromWindow.Flag)
    s.conf.set(InferTopKFromWindow.Flag, "true")
    try {
      // kept: executes under the flag, NOW
      graft.Ckpt.keep(Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2).drop("rk")
        .orderBy(col("o_custkey"), col("o_orderkey")))
    } finally prev match {
      case Some(v) => s.conf.set(InferTopKFromWindow.Flag, v)
      case None => s.conf.set(InferTopKFromWindow.Flag, "false")
    }
  }

  /** Distribution-position windows: percent_rank and cume_dist of
    * each customer's account balance within its market segment — one
    * segment shuffle, identical tie semantics on both engines
    * (PERCENT_RANK = (rank-1)/(n-1), CUME_DIST = peers≤/n). Rounding
    * via floor(x·1e4+0.5)/1e4 (see ts_interp).
    */
  val qPercentRank: QueryDef = QueryDef.sql(
    "q_percent_rank",
    """SELECT c_mktsegment, c_custkey,
      |  floor(percent_rank() OVER w * 10000 + 0.5) / 10000 AS pct_rank,
      |  floor(cume_dist() OVER w * 10000 + 0.5) / 10000 AS cume
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
      |ORDER BY c_mktsegment, c_custkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal"))
    Tables.customer(s, d)
      .select(col("c_mktsegment"), col("c_custkey"),
        (floor(percent_rank().over(w) * 10000 + 0.5) / 10000).as("pct_rank"),
        (floor(cume_dist().over(w) * 10000 + 0.5) / 10000).as("cume"))
      .orderBy(col("c_mktsegment"), col("c_custkey"))
  }

  /** Native recursive CTE (Spark 4's WITH RECURSIVE → UnionLoopExec):
    * walk every nation up a synthetic binary-tree hierarchy
    * (parent(k) = (k-1) div 2, root 0) accumulating depth and the
    * key path — the org-chart/BOM traversal pattern. Each recursion
    * level is one distributed step over the frontier; termination is
    * the frontier emptying (cur > 0), ≤ ⌈log₂ 25⌉ levels. The same
    * recursive SQL runs on DuckDB as the oracle.
    */
  val qRecursiveChain: QueryDef = {
    def sql(intDiv: String, str: String) =
      s"""WITH RECURSIVE up AS (
         |  SELECT n_nationkey AS node, n_nationkey AS cur,
         |         CAST(n_nationkey AS $str) AS path, 0 AS depth
         |  FROM nation
         |  UNION ALL
         |  SELECT node, CAST((cur - 1) $intDiv 2 AS INT),
         |         path || '>' || CAST(CAST((cur - 1) $intDiv 2 AS INT) AS $str),
         |         depth + 1
         |  FROM up WHERE cur > 0)
         |SELECT node, path AS root_path, depth
         |FROM up WHERE cur = 0 ORDER BY node""".stripMargin
    QueryDef.sql("q_recursive_chain", sql("//", "VARCHAR")) { (s, d) =>
      Tables.nation(s, d).createOrReplaceTempView("nation")
      s.sql(sql("div", "STRING"))
    }
  }

  /** Native melt: a wide per-flag aggregate unpivoted to long form
    * via Dataset.unpivot (Spark's built-in Expand-based melt — one
    * pass, no union of selects). DuckDB's UNPIVOT is the oracle.
    */
  val qUnpivot: QueryDef = QueryDef.sql(
    "q_unpivot",
    """WITH wide AS (
      |  SELECT l_returnflag,
      |    round(sum(l_quantity), 2) AS sum_qty,
      |    round(sum(l_extendedprice), 2) AS sum_price,
      |    round(sum(l_discount), 2) AS sum_disc
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, measure, val
      |FROM wide UNPIVOT (val FOR measure IN (sum_qty, sum_price, sum_disc))
      |ORDER BY l_returnflag, measure""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        round(sum(col("l_discount")), 2).as("sum_disc"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "measure", "val")
      .orderBy(col("l_returnflag"), col("measure"))
  }

  /** Winsorized (robust) statistics per return flag: exact
    * interpolated p05/p95 per group (scan 1), values clipped to the
    * band and re-averaged (scan 2 against the broadcast 3-row
    * boundary relation). Boundary doubles are cross-engine-safe for
    * the same reason as profile_equidepth; the clip means differ
    * from raw means exactly where the tails are heavy.
    */
  val qWinsorized: QueryDef = QueryDef.sql(
    "q_winsorized",
    """WITH b AS (
      |  SELECT l_returnflag AS flag,
      |    quantile_cont(l_extendedprice, 0.05) AS p05,
      |    quantile_cont(l_extendedprice, 0.95) AS p95
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag,
      |  floor(avg(l_extendedprice) * 100 + 0.5) / 100 AS raw_mean,
      |  floor(avg(CASE WHEN l_extendedprice < p05 THEN p05
      |                 WHEN l_extendedprice > p95 THEN p95
      |                 ELSE l_extendedprice END) * 100 + 0.5) / 100 AS wins_mean,
      |  floor(p05 * 100 + 0.5) / 100 AS p05,
      |  floor(p95 * 100 + 0.5) / 100 AS p95
      |FROM lineitem JOIN b ON b.flag = l_returnflag
      |GROUP BY l_returnflag, p05, p95
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val bounds = li.groupBy(col("l_returnflag").as("flag"))
      .agg(expr("percentile(l_extendedprice, 0.05D)").as("p05"),
        expr("percentile(l_extendedprice, 0.95D)").as("p95"))
    li.join(broadcast(bounds), col("l_returnflag") === col("flag"))
      .groupBy(col("l_returnflag"), col("p05"), col("p95"))
      .agg(
        (floor(avg(col("l_extendedprice")) * 100 + 0.5) / 100).as("raw_mean"),
        (floor(avg(
          when(col("l_extendedprice") < col("p05"), col("p05"))
            .when(col("l_extendedprice") > col("p95"), col("p95"))
            .otherwise(col("l_extendedprice"))) * 100 + 0.5) / 100).as("wins_mean"))
      .select(col("l_returnflag"), col("raw_mean"), col("wins_mean"),
        (floor(col("p05") * 100 + 0.5) / 100).as("p05"),
        (floor(col("p95") * 100 + 0.5) / 100).as("p95"))
      .orderBy(col("l_returnflag"))
  }

  /** Two-phase exact distinct: COUNT(DISTINCT user) per hot key
    * rewritten as groupBy(key, user) → groupBy(key). Catalyst's
    * single-pass plan pays an Expand (row multiplication) and lands
    * every row of a hot key in one reducer; the two-phase shape
    * spreads phase 1 across (key, user) — the cardinality itself —
    * and phase 2 reduces pre-deduped rows. Plan-locked Expand-free.
    */
  val qTwophaseDistinct: QueryDef = QueryDef.sql(
    "q_twophase_distinct",
    """SELECT event_type, count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id")).agg(lit(1))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("event_type"))
  }

  /** Contingency table through the DataFrame stat API
    * (df.stat.crosstab = one groupBy over both keys + a driver-side
    * pivot of the BOUNDED distinct-value grid): event types ×
    * weekday. Column names follow crosstab's `col1_col2` + value
    * convention; the oracle builds the identical wide shape.
    */
  val qCrosstab: QueryDef = QueryDef.sql(
    "q_crosstab",
    """SELECT event_type AS event_type_dow,
      |  count(CASE WHEN dayofweek(ts) = 0 THEN 1 END) AS "0",
      |  count(CASE WHEN dayofweek(ts) = 1 THEN 1 END) AS "1",
      |  count(CASE WHEN dayofweek(ts) = 2 THEN 1 END) AS "2",
      |  count(CASE WHEN dayofweek(ts) = 3 THEN 1 END) AS "3",
      |  count(CASE WHEN dayofweek(ts) = 4 THEN 1 END) AS "4",
      |  count(CASE WHEN dayofweek(ts) = 5 THEN 1 END) AS "5",
      |  count(CASE WHEN dayofweek(ts) = 6 THEN 1 END) AS "6"
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"), (dayofweek(col("ts")) - 1).as("dow"))
      .stat.crosstab("event_type", "dow")
      .orderBy(col("event_type_dow"))
  }

  /** Rollup level introspection: grouping_id labels which columns
    * are aggregated away at each rollup level (same bitmask contract
    * as DuckDB's GROUPING) — how a consumer distinguishes subtotal
    * rows from data rows without sentinel-null guessing.
    */
  val qGroupingId: QueryDef = QueryDef.sql(
    "q_grouping_id",
    """SELECT l_returnflag, l_linestatus,
      |  GROUPING(l_returnflag, l_linestatus) AS level_id,
      |  count(*) AS n, round(sum(l_quantity), 2) AS qty
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY level_id, l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("level_id"), count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("qty"))
      .select(col("l_returnflag"), col("l_linestatus"), col("level_id"),
        col("n"), col("qty"))
      .orderBy(col("level_id"), col("l_returnflag"), col("l_linestatus"))
  }

  /** Weighted sampling without replacement by sequential Poisson
    * (order) sampling, Ohlsson 1998: priority = u / w with a
    * DETERMINISTIC per-row uniform u (multiplicative hash of the
    * key), take the k smallest priorities. Inclusion probability is
    * ≈ proportional to weight, the sample is reproducible across
    * runs AND engines (pure integer-arithmetic u, no transcendental
    * whose last ulp could differ), and the plan is a TakeOrdered —
    * O(k) state per partition, no full sort, no shuffle of the
    * corpus. The rejected alternative (Efraimidis–Spirakis
    * u^(1/w)) needs pow/ln, whose libm-vs-JVM rounding could flip
    * near-tie selections between the engines.
    */
  val qWeightedSample: QueryDef = QueryDef.sql(
    "q_weighted_sample",
    """WITH w AS (
      |  SELECT o_orderkey, o_totalprice,
      |    ((o_orderkey * 2654435761) % 1000000007) / 1000000007.0 AS u
      |  FROM orders)
      |SELECT o_orderkey, o_totalprice,
      |  round(u / o_totalprice * 1000000, 6) AS priority
      |FROM w
      |ORDER BY u / o_totalprice, o_orderkey
      |LIMIT 100""".stripMargin) { (s, d) =>
    val w = Tables.orders(s, d).select(
      col("o_orderkey"), col("o_totalprice"),
      (((col("o_orderkey") * lit(2654435761L)) % lit(1000000007L))
        / lit(1000000007.0)).as("u"))
    w.select(col("o_orderkey"), col("o_totalprice"),
        round(col("u") / col("o_totalprice") * 1000000, 6).as("priority"),
        (col("u") / col("o_totalprice")).as("p_raw"))
      .orderBy(col("p_raw"), col("o_orderkey"))
      .limit(100)
      .drop("p_raw")
  }

  /** Equi-width histogram over l_extendedprice (8 bins spanning the
    * observed range): the one-scan profile complement to
    * profile_equidepth's exact quantiles. The [min,max] bounds come
    * from a 1-row aggregate broadcast into the binning scan (no
    * second shuffle); binning itself is a codegen'd arithmetic
    * expression, so the whole query is scan + O(bins) aggregate at
    * any corpus size.
    */
  val qHistogramEquiwidth: QueryDef = QueryDef.sql(
    "q_histogram_equiwidth",
    """WITH m AS (SELECT min(l_extendedprice) AS v0, max(l_extendedprice) AS v1
      |           FROM lineitem)
      |SELECT CAST(least(7, greatest(0,
      |         floor((l_extendedprice - v0) * 8 / (v1 - v0)))) AS INT) AS bin,
      |  count(*) AS n, round(sum(l_extendedprice), 2) AS total
      |FROM lineitem, m
      |GROUP BY 1 ORDER BY bin""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d).select(col("l_extendedprice"))
    val m = li.agg(min(col("l_extendedprice")).as("v0"),
      max(col("l_extendedprice")).as("v1"))
    li.crossJoin(broadcast(m))
      .select(least(lit(7), greatest(lit(0),
        floor((col("l_extendedprice") - col("v0")) * 8 / (col("v1") - col("v0")))))
        .cast("int").as("bin"), col("l_extendedprice"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("total"))
      .orderBy(col("bin"))
  }

  /** Growth accounting — the SaaS lifecycle decomposition: each
    * month's active customers classified as NEW (first month ever),
    * RETAINED (also active the previous month), or RESURRECTED
    * (returning after a gap). One (month, customer) dedup shuffle,
    * one per-customer lag window over the deduped O(customers·months)
    * relation, O(months) output. new+retained+resurrected == active
    * by construction (every active row lands in exactly one class —
    * test-pinned).
    */
  val qGrowthAccounting: QueryDef = QueryDef.sql(
    "q_growth_accounting",
    """WITH mu AS (
      |  SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
      |    o_custkey
      |  FROM orders),
      |f AS (SELECT o_custkey, min(mo) AS first_mo FROM mu GROUP BY 1),
      |lagged AS (
      |  SELECT mu.o_custkey, mo, first_mo,
      |    lag(mo) OVER (PARTITION BY mu.o_custkey ORDER BY mo) AS prev_mo
      |  FROM mu JOIN f ON mu.o_custkey = f.o_custkey)
      |SELECT mo,
      |  count(*) FILTER (mo = first_mo) AS new_c,
      |  count(*) FILTER (mo <> first_mo AND prev_mo = mo - INTERVAL 1 MONTH)
      |    AS retained,
      |  count(*) FILTER (mo <> first_mo AND prev_mo < mo - INTERVAL 1 MONTH)
      |    AS resurrected,
      |  count(*) AS active
      |FROM lagged GROUP BY mo ORDER BY mo""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val mu = Tables.orders(s, d)
      .select(date_trunc("month", col("o_orderdate")).cast("date").as("mo"),
        col("o_custkey")).distinct()
    val f = mu.groupBy(col("o_custkey").as("fc")).agg(min(col("mo")).as("first_mo"))
    val lagged = mu.join(f, col("o_custkey") === col("fc"))
      .withColumn("prev_mo",
        lag(col("mo"), 1).over(Window.partitionBy(col("o_custkey")).orderBy(col("mo"))))
    lagged.groupBy(col("mo"))
      .agg(
        count(when(col("mo") === col("first_mo"), 1)).as("new_c"),
        count(when(col("mo") =!= col("first_mo") &&
          col("prev_mo") === add_months(col("mo"), -1), 1)).as("retained"),
        count(when(col("mo") =!= col("first_mo") &&
          col("prev_mo") < add_months(col("mo"), -1), 1)).as("resurrected"),
        count(lit(1)).as("active"))
      .orderBy(col("mo"))
  }

  /** Incremental materialized-view maintenance: the per-month order
    * summary is STORED as re-aggregable partials (count + unrounded
    * sum), and a refresh folds only the DELTA partition (orderdate ≥
    * the cutoff) into it — the old fact rows are never rescanned.
    * This is the algebra every incremental warehouse view relies on:
    * count/sum partials merge associatively, so
    * merge(MV, agg(delta)) == agg(full), which is exactly what the
    * oracle (a plain full-recompute GROUP BY) proves. At 100 TB the
    * delta scan is partition-pruned to the new files and the merge
    * shuffles O(months), not O(rows). The stored MV builds once per
    * process (a parquet table under java.io.tmpdir, keyed by data
    * dir); the refresh plan reads it back like any other source.
    */
  private val mvCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  val qIncrementalAgg: QueryDef = QueryDef.sql(
    "q_incremental_agg",
    """SELECT strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m') AS mo,
      |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val cutoff = "1998-01-01"
    val mvPath = mvCache.computeIfAbsent(d, { dir =>
      val p = java.nio.file.Files
        .createTempDirectory("graft_mv_monthly").toString
      Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit(cutoff))
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mo"))
        .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("total"))
        .write.mode("overwrite").parquet(p)
      p
    })
    val delta = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit(cutoff))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mo"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("total"))
    s.read.parquet(mvPath).unionAll(delta)
      .groupBy(col("mo"))
      .agg(sum(col("n_orders")).as("n_orders"),
        round(sum(col("total")), 2).as("total"))
      .orderBy(col("mo"))
  }

  /** Exact-decimal money aggregation — the financial-reporting
    * contract double arithmetic can't give: every price is cast to
    * DECIMAL(18,2) at the scan and summed in exact scaled-integer
    * arithmetic (Spark's Decimal sum, DuckDB's HUGEINT-backed
    * decimal), so the totals carry NO float summation-order noise —
    * any partitioning, any engine, the same cents. Emitted as
    * strings ("…X.XX") because the exact textual value IS the
    * deliverable; one scan, O(priorities) output.
    */
  val qDecimalAgg: QueryDef = QueryDef.sql(
    "q_decimal_agg",
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
      |    AS VARCHAR) AS total_exact
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("decimal(18,2)").cast("string").as("total_exact"))
      .orderBy(col("o_orderpriority"))
  }

  /** Nested-data computation via HIGHER-ORDER FUNCTIONS — the
    * Spark-first way to work denormalized: lineitems nest into a
    * per-order array<struct> once (one shuffle), and the per-order
    * metrics run INSIDE the array with codegen'd lambda expressions
    * (size, aggregate() fold for the item-revenue total) — no
    * re-explode, no UDF, no second shuffle. This is the document
    * model every nested-parquet/JSON warehouse stores, computed the
    * way Catalyst wants it. Oracle = the equivalent flat SQL: the
    * nest/compute/unnest roundtrip must lose nothing.
    */
  val qNestedHof: QueryDef = QueryDef.sql(
    "q_nested_hof",
    """WITH li AS (
      |  SELECT l_orderkey, count(*) AS ni,
      |    sum(l_quantity * l_extendedprice) AS tot
      |  FROM lineitem GROUP BY 1)
      |SELECT o_orderpriority, count(*) AS n_orders,
      |  round(avg(ni), 2) AS avg_items,
      |  round(sum(tot), 2) AS total_item_rev
      |FROM li JOIN orders ON o_orderkey = l_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val nested = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(collect_list(struct(col("l_quantity").as("q"),
        col("l_extendedprice").as("p"))).as("items"))
    val perOrder = nested.select(
      col("l_orderkey"),
      size(col("items")).as("ni"),
      aggregate(col("items"), lit(0.0),
        (acc, x) => acc + x.getField("q") * x.getField("p")).as("tot"))
    perOrder
      .join(Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(avg(col("ni")), 2).as("avg_items"),
        round(sum(col("tot")), 2).as("total_item_rev"))
      .orderBy(col("o_orderpriority"))
  }

  /** 2-D skyline (Pareto frontier): parts no other part dominates on
    * (price ↓, size ↑). The naive spelling is an O(n²) dominance
    * self-join; the scalable exact plan exploits the 2-D structure —
    * after one groupBy(price) the frontier test is a running max of
    * size over strictly-cheaper prices, i.e. ONE aggregate shuffle
    * plus ONE window over the |distinct prices| relation, then a hash
    * join back to the fact. Dominated iff a strictly cheaper part has
    * size ≥ mine, or a same-price part has size > mine.
    */
  val qSkyline: QueryDef = QueryDef.sql(
    "q_skyline",
    """SELECT p_partkey, p_retailprice, p_size
      |FROM part a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part b
      |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
      |    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    val part = Tables.part(s, d)
    val perPrice = part.groupBy(col("p_retailprice").as("price"))
      .agg(max(col("p_size")).as("price_max"))
    val w = Window.orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perPrice
      .withColumn("cheaper_max", max(col("price_max")).over(w))
    part
      .join(frontier, col("p_retailprice") === col("price"))
      .filter((col("cheaper_max").isNull || col("cheaper_max") < col("p_size")) &&
        col("p_size") === col("price_max"))
      .select("p_partkey", "p_retailprice", "p_size")
      .orderBy(col("p_partkey"))
  }

  /** Relational division — "customers who ordered in EVERY priority
    * class": per-key distinct count equal to the universe size. The
    * universe cardinality joins in as a broadcast single-row aggregate
    * (never a driver collect), so the whole query is two aggregates +
    * one broadcast — the division pattern that survives any fact-table
    * scale.
    */
  val qDivision: QueryDef = QueryDef.sql(
    "q_division",
    """SELECT o_custkey, count(DISTINCT o_orderpriority) AS n_priorities
      |FROM orders GROUP BY o_custkey
      |HAVING count(DISTINCT o_orderpriority) =
      |  (SELECT count(DISTINCT o_orderpriority) FROM orders)
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val orders = Tables.orders(s, d)
    val universe = orders.agg(
      countDistinct(col("o_orderpriority")).as("n_total"))
    orders
      .groupBy(col("o_custkey"))
      .agg(countDistinct(col("o_orderpriority")).as("n_priorities"))
      .crossJoin(broadcast(universe))
      .filter(col("n_priorities") === col("n_total"))
      .select("o_custkey", "n_priorities")
      .orderBy(col("o_custkey"))
  }

  /** GLOBAL consecutive ranks without a single-partition sort — the
    * scale answer to `row_number() OVER (ORDER BY …)`, whose naive
    * plan funnels the corpus through one partition. Two-phase range
    * enumeration (the distributed prefix-sum shape, same machinery
    * as events_concurrency): rows band by a coarse range key (price
    * band), per-band counts make an O(bands) relation whose running
    * total yields each band's global OFFSET (window over bands
    * only); the within-band rank is a window PARTITIONED by band
    * (parallel, band-sized partitions); global rank = offset +
    * local rank, exact because the band key is a prefix of the
    * total order. Probed output (top-100 + every 1000th rank) keeps
    * the result bounded while forcing every rank to be computed.
    * Oracle spells the same ranks with the naive global window.
    */
  val qGlobalRank: QueryDef = QueryDef.sql(
    "q_global_rank",
    """WITH r AS (
      |  SELECT l_orderkey, l_linenumber, l_extendedprice,
      |    row_number() OVER (ORDER BY l_extendedprice DESC,
      |      l_orderkey, l_linenumber) AS global_rank
      |  FROM lineitem)
      |SELECT global_rank, l_orderkey, l_linenumber,
      |  round(l_extendedprice, 2) AS price
      |FROM r WHERE global_rank <= 100 OR global_rank % 1000 = 0
      |ORDER BY global_rank""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      // coarse range key DESCENDING so band order follows rank order
      .withColumn("band", -floor(col("l_extendedprice") / 1000).cast("long"))
    val counts = li.groupBy(col("band")).agg(count(lit(1)).as("n"))
    val wBands = Window.orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("offset", coalesce(sum(col("n")).over(wBands), lit(0L)))
      .select(col("band").as("ob"), col("offset"))
    val wLocal = Window.partitionBy(col("band"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    li.join(broadcast(offsets), col("band") === col("ob"))
      .withColumn("global_rank", col("offset") + row_number().over(wLocal))
      .filter(col("global_rank") <= 100 || col("global_rank") % 1000 === 0)
      .select(col("global_rank"), col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice"), 2).as("price"))
      .orderBy(col("global_rank"))
  }

  /** GINI COEFFICIENT of order revenue — the inequality readout
    * behind every "top X% of customers drive Y%" claim
    * (q_movers/events_pareto give the curve; Gini is its scalar):
    * G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) over the ascending-rank
    * values. The global rank comes from the banded TWO-PHASE exact
    * rank (q_global_rank's machinery — integer bands of the cent
    * value, per-band offsets, partitioned local row_number; a bare
    * global window would single-partition the corpus), and every
    * sum is exact integer (cents, rank·cents as decimal(38,0) so the
    * formula survives any corpus size) with ONE final cast to double
    * — partition- and engine-identical. Oracle replays with a plain
    * window (oracle-side scale doesn't matter) and the identical
    * final expression.
    */
  val qGini: QueryDef = QueryDef.sql(
    "q_gini",
    """WITH w AS (
      |  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
      |         o_orderkey
      |  FROM orders),
      |r AS (SELECT cents,
      |        row_number() OVER (ORDER BY cents, o_orderkey) AS i
      |      FROM w),
      |agg AS (SELECT count(*) AS n, sum(cents) AS s, sum(i * cents) AS t
      |        FROM r)
      |SELECT n, round(CAST(s AS DOUBLE) / n / 100, 4) AS mean_price,
      |  round(CAST(2 * t - (n + 1) * s AS DOUBLE)
      |        / CAST(n AS DOUBLE) / CAST(s AS DOUBLE), 6) AS gini
      |FROM agg""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.DecimalType
    val w = Tables.orders(s, d).select(
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
      col("o_orderkey"))
      .withColumn("band", expr("cents div 100000"))
    val counts = w.groupBy(col("band")).agg(count(lit(1)).as("bn"))
    val wBands = Window.orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("offset", coalesce(sum(col("bn")).over(wBands), lit(0L)))
      .select(col("band").as("ob"), col("offset"))
    val wLocal = Window.partitionBy(col("band"))
      .orderBy(col("cents"), col("o_orderkey"))
    w.join(broadcast(offsets), col("band") === col("ob"))
      .withColumn("i", col("offset") + row_number().over(wLocal))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).cast(DecimalType(38, 0)).as("s"),
        sum((col("i") * col("cents")).cast(DecimalType(38, 0))).as("t"))
      .select(col("n"),
        round(col("s").cast("double") / col("n") / lit(100), 4).as("mean_price"),
        round((lit(2) * col("t") - (col("n") + 1) * col("s")).cast("double")
          / col("n").cast("double") / col("s").cast("double"), 6).as("gini"))
  }

  /** Approximate query processing (BlinkDB shape): estimate the
    * corpus revenue total from a DETERMINISTIC 1% hash sample
    * (xxhash64(orderkey, linenumber) % 100 — reproducible, and at
    * 100 TB the sample would live as a maintained 1% sample TABLE so
    * the scan itself is 1%; here the filter stands in for it) with a
    * CLT 95% interval from the same single aggregate: the estimator
    * is N̄·n_s·x̄_s with variance N̄²·n_s·s² (N̄ = 100 the inverse
    * sampling rate), so mean, s², and the blow-up all come from one
    * partial-agg pass over the sample. Rows-only (the estimate is
    * sample-dependent by design); ScalaTest pins CI coverage of the
    * exact total and the deterministic replay.
    */
  val qSampleEstimate: QueryDef = QueryDef.sql(
    "q_sample_estimate",
    """WITH sample AS (
      |  SELECT CAST(round(l_extendedprice * 100.0, 0) AS BIGINT) AS c
      |  FROM lineitem
      |  WHERE CAST(concat('0x', substring(
      |      md5(concat_ws(',', l_orderkey, l_linenumber)), 1, 13)) AS BIGINT)
      |    % 100 = 0)
      |SELECT count(*) AS n_sample,
      |  round(CAST(sum(c) AS DOUBLE) / 100.0 * 100, 2) AS estimate,
      |  round(CAST(sum(c) AS DOUBLE) / 100.0 * 100
      |    - 196.0 * sqrt(CAST(sum(c * c) AS DOUBLE) / 10000.0 * 0.99), 2)
      |    AS ci_lo,
      |  round(CAST(sum(c) AS DOUBLE) / 100.0 * 100
      |    + 196.0 * sqrt(CAST(sum(c * c) AS DOUBLE) / 10000.0 * 0.99), 2)
      |    AS ci_hi
      |FROM sample""".stripMargin) { (s, d) =>
    val rate = 100L
    // md5-derived sampling (not xxhash64) + exact cent sums: the
    // Bernoulli pick and both moments replay engine-identically in
    // DuckDB. The second moment sums in decimal(38,0) so it stays
    // exact at any SF (cents² ~1e14 per row would crowd a long).
    val h = conv(substring(md5(concat_ws(",",
      col("l_orderkey"), col("l_linenumber"))), 1, 13), 16, 10).cast("long")
    val sample = Tables.lineitem(s, d)
      .filter(pmod(h, lit(rate)) === 0)
      .select(round(col("l_extendedprice") * 100.0, 0).cast("long").as("c"))
    // Var(R·Σ Zᵢxᵢ) = R²·Σx²·(1/R)(1−1/R) ≈ R²·(1−1/R)·Σ_sample x²:
    // the Bernoulli-thinned TOTAL varies with the second moment Σx²,
    // NOT n·σ² (the count itself is random; with a large mean, Σx²
    // dominates σ² and the naive CI is several times too narrow)
    sample.agg(
        count(lit(1)).as("n_sample"),
        sum(col("c")).as("sc"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("sc2"))
      .select(col("n_sample"),
        round(col("sc").cast("double") / 100.0 * rate, 2).as("estimate"),
        round(col("sc").cast("double") / 100.0 * rate -
          lit(1.96 * rate) * sqrt(col("sc2").cast("double") / 10000.0
            * lit(1.0 - 1.0 / rate)), 2).as("ci_lo"),
        round(col("sc").cast("double") / 100.0 * rate +
          lit(1.96 * rate) * sqrt(col("sc2").cast("double") / 10000.0
            * lit(1.0 - 1.0 / rate)), 2).as("ci_hi"))
  }

  /** Join-size estimation by KEYSPACE sampling (the end-biased /
    * correlated-sampling family, Vengerov et al. VLDB 2015) — the
    * cardinality statistic a cost-based optimizer needs BEFORE
    * running a join: |A ⋈ B| = Σ_k f_A(k)·f_B(k), estimated by
    * keeping only keys with hash(k) mod R = 0 on BOTH sides (the
    * same keys survive on both — that coordination is what makes
    * frequency PRODUCTS estimable where independent row sampling
    * fails) and blowing the sampled inner product up by R. Work:
    * two filtered scans + per-key counts + one join on the 1/R
    * keyspace. Estimates both a PK-FK join and a skewed self-join
    * (Σf² — where uniform-key assumptions break). Rows-only;
    * ScalaTest pins both against exact inner products.
    */
  val qJoinSizeEstimate: QueryDef = QueryDef.sql(
    "q_join_size_estimate", {
      def sc(table: String, key: String) =
        s"""SELECT $key AS k, count(*) AS c FROM $table
           |    WHERE CAST(concat('0x', substring(md5(concat_ws(',', $key)), 1, 13))
           |      AS BIGINT) % 16 = 0 GROUP BY 1""".stripMargin
      s"""WITH sl AS (${sc("lineitem", "l_orderkey")}),
         |so AS (${sc("orders", "o_orderkey")}),
         |sp AS (${sc("lineitem", "l_partkey")}),
         |e1 AS (
         |  SELECT 'lineitem*orders/orderkey' AS "join",
         |    count(*) AS n_sampled_keys,
         |    CAST(coalesce(sum(a.c * b.c), 0) * 16 AS BIGINT) AS est_rows
         |  FROM sl a JOIN so b USING (k)),
         |e2 AS (
         |  SELECT 'lineitem*lineitem/partkey' AS "join",
         |    count(*) AS n_sampled_keys,
         |    CAST(coalesce(sum(a.c * b.c), 0) * 16 AS BIGINT) AS est_rows
         |  FROM sp a JOIN sp b USING (k))
         |SELECT * FROM e1 UNION ALL SELECT * FROM e2 ORDER BY "join"""".stripMargin
    }) { (s, d) =>
    val r = 16L
    // md5-derived key sampling (not xxhash64) so the end-biased
    // sample — and therefore the exact-integer estimate — replays
    // identically in DuckDB.
    def sampledCounts(df: DataFrame, key: String): DataFrame =
      df.select(col(key).as("k"))
        .filter(pmod(conv(substring(md5(concat_ws(",", col("k"))), 1, 13),
          16, 10).cast("long"), lit(r)) === 0)
        .groupBy(col("k")).agg(count(lit(1)).as("c"))
    def estimate(a: DataFrame, b: DataFrame): (Long, Long) = {
      val j = a.withColumnRenamed("c", "ca")
        .join(b.withColumnRenamed("c", "cb"), Seq("k"))
        .agg(count(lit(1)).as("nk"),
          coalesce(sum(col("ca") * col("cb")), lit(0L)).as("ip"))
        .collect()(0)
      (j.getLong(0), j.getLong(1) * r)
    }
    val li = Tables.lineitem(s, d)
    val (nk1, est1) = estimate(
      sampledCounts(li, "l_orderkey"),
      sampledCounts(Tables.orders(s, d), "o_orderkey"))
    val selfCounts = sampledCounts(li, "l_partkey")
    val (nk2, est2) = estimate(selfCounts, selfCounts)
    import s.implicits._
    Seq(("lineitem*orders/orderkey", nk1, est1),
      ("lineitem*lineitem/partkey", nk2, est2))
      .toDF("join", "n_sampled_keys", "est_rows")
      .orderBy(col("join"))
  }

  val all: Seq[QueryDef] = Seq(
    qSampleEstimate, qJoinSizeEstimate,
    qLateralTopk, qStringAgg, qMode, qHllPartitioned, qNativeTopk,
    qTopkRewrite, qPercentRank, qRecursiveChain, qUnpivot, qWinsorized,
    qTwophaseDistinct, qCrosstab, qGroupingId, qWeightedSample,
    qHistogramEquiwidth, qGrowthAccounting, qIncrementalAgg, qDecimalAgg,
    qNestedHof, qSkyline, qDivision, qGlobalRank, qGini)
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryDef
import graft.sources.Tables

/** Time-series operators over the events table: dense-grid gap
  * filling, linear interpolation, exponentially-weighted moving
  * averages, and lag autocorrelation — the resample/smooth/diagnose
  * surface a metrics warehouse layers over raw event streams.
  *
  * Scale posture: the raw corpus is touched exactly once per
  * operator (the per-(type, hour/day) aggregate); every window pass
  * runs over the AGGREGATED relation, whose size is
  * |types| × |grid slots| — independent of event volume. The grid
  * itself is generated map-side (sequence + explode), never joined
  * against the corpus.
  */
object TimeSeries {

  private def hourlyCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))

  /** Dense hourly grid per event type with zero-filled gaps. The
    * grid is sequence(min_hour, max_hour) exploded from a single-row
    * bounds aggregate crossed with the distinct type set — O(slots),
    * map-side; the corpus contributes only the hourly aggregate.
    */
  val tsGapfill: QueryDef = QueryDef.sql(
    "ts_gapfill",
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |bounds AS (SELECT date_trunc('hour', min(ts)) AS lo,
      |                  date_trunc('hour', max(ts)) AS hi FROM events),
      |grid AS (SELECT t.event_type, g.h AS hour
      |         FROM (SELECT DISTINCT event_type FROM events) t
      |         CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      |                     FROM bounds) g)
      |SELECT g.event_type, g.hour, coalesce(h.n, 0) AS n
      |FROM grid g LEFT JOIN hourly h
      |  ON h.event_type = g.event_type AND h.hour = g.hour
      |ORDER BY g.event_type, g.hour""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val hours = ev
      .agg(date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("hour"))
    val grid = ev.select(col("event_type")).distinct().crossJoin(hours)
    grid.join(hourlyCounts(s, d).withColumnRenamed("event_type", "h_type")
          .withColumnRenamed("hour", "h_hour"),
        col("event_type") === col("h_type") && col("hour") === col("h_hour"),
        "left_outer")
      .select(col("event_type"), col("hour"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Linear interpolation of the hourly average purchase value over
    * the dense grid: previous/next known points come from
    * ignore-nulls window endpoints over the O(slots) grid relation;
    * the interpolated value is the exact linear blend by hour
    * distance. Identical formulation on both engines.
    */
  val tsInterp: QueryDef = QueryDef.sql(
    "ts_interp",
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour, round(avg(value), 6) AS v
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |bounds AS (SELECT date_trunc('hour', min(ts)) AS lo,
      |                  date_trunc('hour', max(ts)) AS hi FROM events),
      |grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds),
      |joined AS (SELECT g.hour, h.v FROM grid g LEFT JOIN hourly h ON h.hour = g.hour),
      |marked AS (
      |  SELECT hour, v,
      |    last_value(v IGNORE NULLS) OVER (ORDER BY hour
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
      |    last_value(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS) OVER (ORDER BY hour
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_h,
      |    first_value(v IGNORE NULLS) OVER (ORDER BY hour
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
      |    first_value(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS) OVER (ORDER BY hour
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_h
      |  FROM joined)
      |SELECT hour,
      |  floor((CASE WHEN v IS NOT NULL THEN v
      |       WHEN prev_v IS NULL THEN next_v
      |       WHEN next_v IS NULL THEN prev_v
      |       ELSE prev_v + (next_v - prev_v) *
      |            date_diff('hour', prev_h, hour) / date_diff('hour', prev_h, next_h) END)
      |        * 10000 + 0.5) / 10000
      |    AS v_interp,
      |  (v IS NULL) AS filled
      |FROM marked ORDER BY hour""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val hourly = ev.filter(col("event_type") === "purchase")
      .groupBy(date_trunc("hour", col("ts")).as("h_hour"))
      .agg(round(avg(col("value")), 6).as("v"))
    val grid = ev
      .agg(date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("hour"))
    val joined = grid.join(hourly, col("hour") === col("h_hour"), "left_outer")
      .select(col("hour"), col("v"))
    val wPrev = Window.orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.orderBy(col("hour"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val hourAt = (c: Column) => when(col("v").isNotNull, c)
    val marked = joined
      .withColumn("prev_v", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("prev_h", last(hourAt(col("hour")), ignoreNulls = true).over(wPrev))
      .withColumn("next_v", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("next_h", first(hourAt(col("hour")), ignoreNulls = true).over(wNext))
    val hourDiff = (a: Column, b: Column) =>
      (unix_timestamp(a) - unix_timestamp(b)) / lit(3600L)
    // floor(x·1e4 + 0.5)/1e4 on both engines — Spark's round() goes
    // through BigDecimal.valueOf (shortest-decimal) and rounds exact
    // .xxxx5 ties differently from DuckDB's binary-value rounding;
    // this formulation is the same double ops on both, bit-identical.
    marked.select(
        col("hour"),
        (floor((
          when(col("v").isNotNull, col("v"))
            .when(col("prev_v").isNull, col("next_v"))
            .when(col("next_v").isNull, col("prev_v"))
            .otherwise(col("prev_v") + (col("next_v") - col("prev_v")) *
              hourDiff(col("hour"), col("prev_h")) /
              hourDiff(col("next_h"), col("prev_h")))) * 10000 + 0.5) / 10000)
          .as("v_interp"),
        col("v").isNull.as("filled"))
      .orderBy(col("hour"))
  }

  /** EWMA (α = 0.2, pandas adjust=False semantics: y₀ = x₀,
    * yₜ = αxₜ + (1-α)yₜ₋₁) over per-type daily totals. The recursion
    * is re-expressed as one closed-form cumulative window sum —
    * yₜ = (1-α)ᵗ · Σᵢ xᵢ·cᵢ/(1-α)ⁱ — so no sequential driver loop
    * exists; the window runs over the O(types × days) aggregate.
    */
  val tsEwma: QueryDef = QueryDef.sql(
    "ts_ewma",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |         round(sum(value), 6) AS x
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT event_type, day, x,
      |         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM daily),
      |scaled AS (
      |  SELECT event_type, day, rn,
      |         x * (CASE WHEN rn = 1 THEN 1.0 ELSE 0.2 END) / power(0.8, rn) AS s
      |  FROM idx)
      |SELECT event_type, day,
      |  round(power(0.8, rn) * sum(s) OVER (PARTITION BY event_type ORDER BY rn
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 3) AS ewma
      |FROM scaled ORDER BY event_type, day""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(round(sum(col("value")), 6).as("x"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("rn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("s",
        col("x") * when(col("rn") === 1, 1.0).otherwise(0.2) / pow(lit(0.8), col("rn")))
      .select(col("event_type"), col("day"),
        round(pow(lit(0.8), col("rn")) * sum(col("s")).over(wCum), 3).as("ewma"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Lag-1 autocorrelation of daily event counts per type — sample
    * correlation of (xₜ, xₜ₋₁) pairs from one lag window over the
    * O(types × days) daily aggregate.
    */
  val tsAutocorr: QueryDef = QueryDef.sql(
    "ts_autocorr",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |lagged AS (
      |  SELECT event_type, n,
      |         lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
      |  FROM daily)
      |SELECT event_type, round(corr(n, prev_n), 4) AS lag1_autocorr,
      |       count(prev_n) AS n_pairs
      |FROM lagged GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .groupBy(col("event_type"))
      .agg(round(corr(col("n"), col("prev_n")), 4).as("lag1_autocorr"),
        count(col("prev_n")).as("n_pairs"))
      .orderBy(col("event_type"))
  }

  /** CUSUM changepoint detection per event type: standardize the
    * daily counts (z = (x - μ)/σ with per-type μ/σ), accumulate
    * S_t = Σz, and report the day of the largest |S| — the classic
    * single-changepoint estimate. Every window runs over the
    * O(types × days) daily aggregate; ties break to the earliest
    * day. Rounding is floor(x·1e4+0.5)/1e4 on both engines (see
    * tsInterp).
    */
  val tsCusum: QueryDef = QueryDef.sql(
    "ts_cusum",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type, avg(n) AS mu, stddev(n) AS sigma, count(*) AS n_days
      |  FROM daily GROUP BY event_type),
      |cusum AS (
      |  SELECT d.event_type, d.day, s.n_days,
      |    sum((d.n - s.mu) / s.sigma) OVER (PARTITION BY d.event_type ORDER BY d.day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_t
      |  FROM daily d JOIN stats s ON s.event_type = d.event_type),
      |ranked AS (
      |  SELECT event_type, day, s_t, n_days,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY abs(s_t) DESC, day) AS rk
      |  FROM cusum)
      |SELECT event_type, day AS changepoint_day,
      |  floor(abs(s_t) * 10000 + 0.5) / 10000 AS max_abs_cusum, n_days
      |FROM ranked WHERE rk = 1 ORDER BY event_type""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val wType = Window.partitionBy(col("event_type"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wRank = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("s_t")).desc, col("day"))
    daily
      .withColumn("mu", avg(col("n")).over(wType))
      .withColumn("sigma", stddev(col("n")).over(wType))
      .withColumn("n_days", count(lit(1)).over(wType))
      .withColumn("s_t", sum((col("n") - col("mu")) / col("sigma")).over(wCum))
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("day").as("changepoint_day"),
        (floor(abs(col("s_t")) * 10000 + 0.5) / 10000).as("max_abs_cusum"),
        col("n_days"))
      .orderBy(col("event_type"))
  }

  /** Day-of-week seasonal profile per event type: average daily
    * count per weekday and its ratio to the type's overall daily
    * average. DuckDB's dow is Sunday=0; Spark's dayofweek is
    * Sunday=1, so the Spark side shifts by one. Aggregate-only —
    * corpus touched once.
    */
  val tsSeasonal: QueryDef = QueryDef.sql(
    "ts_seasonal",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |by_dow AS (
      |  SELECT event_type, dayofweek(day) AS dow, avg(n) AS dow_avg
      |  FROM daily GROUP BY 1, 2),
      |overall AS (SELECT event_type, avg(n) AS all_avg FROM daily GROUP BY 1)
      |SELECT b.event_type, b.dow,
      |  floor(b.dow_avg * 10000 + 0.5) / 10000 AS avg_daily_n,
      |  floor(b.dow_avg / o.all_avg * 10000 + 0.5) / 10000 AS seasonal_ratio
      |FROM by_dow b JOIN overall o ON o.event_type = b.event_type
      |ORDER BY b.event_type, b.dow""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val byDow = daily
      .groupBy(col("event_type"), (dayofweek(col("day")) - 1).as("dow"))
      .agg(avg(col("n")).as("dow_avg"))
    val overall = daily.groupBy(col("event_type").as("o_type"))
      .agg(avg(col("n")).as("all_avg"))
    byDow.join(broadcast(overall), col("event_type") === col("o_type"))
      .select(col("event_type"), col("dow"),
        (floor(col("dow_avg") * 10000 + 0.5) / 10000).as("avg_daily_n"),
        (floor(col("dow_avg") / col("all_avg") * 10000 + 0.5) / 10000).as("seasonal_ratio"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** Seasonal-naive forecast with backtest: predict each day of the
    * final week as the mean of all SAME-WEEKDAY days before the
    * holdout, then score MAE per event type. Train/score split is a
    * date literal derived from the data's max day (train = everything
    * except the last 7 days). Aggregate-only — one corpus pass for
    * daily counts, everything else over O(types × days).
    */
  val tsForecast: QueryDef = QueryDef.sql(
    "ts_forecast",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |cutoff AS (SELECT max(day) - INTERVAL 7 DAY AS cut FROM daily),
      |train AS (SELECT d.* FROM daily d, cutoff WHERE d.day <= cut),
      |test AS  (SELECT d.* FROM daily d, cutoff WHERE d.day > cut),
      |model AS (
      |  SELECT event_type, dayofweek(day) AS dow, avg(n) AS pred
      |  FROM train GROUP BY 1, 2)
      |SELECT t.event_type,
      |  floor(avg(abs(t.n - m.pred)) * 10000 + 0.5) / 10000 AS mae,
      |  count(*) AS n_days
      |FROM test t JOIN model m
      |  ON m.event_type = t.event_type AND m.dow = dayofweek(t.day)
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val daily = graft.Ckpt.keep(Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n")))
    val cutoff = daily.agg((max(col("day")) - expr("INTERVAL 7 DAY")).as("cut"))
    val withCut = daily.crossJoin(broadcast(cutoff)) // single-row literal
    val train = withCut.filter(col("day") <= col("cut"))
    val test = withCut.filter(col("day") > col("cut"))
    val model = train
      .groupBy(col("event_type").as("m_type"),
        (dayofweek(col("day")) - 1).as("dow"))
      .agg(avg(col("n")).as("pred"))
    test.join(model,
        col("event_type") === col("m_type") &&
          (dayofweek(col("day")) - 1) === col("dow"))
      .groupBy(col("event_type"))
      .agg((floor(avg(abs(col("n") - col("pred"))) * 10000 + 0.5) / 10000).as("mae"),
        count(lit(1)).as("n_days"))
      .orderBy(col("event_type"))
  }

  /** Conversion-latency distribution: per user, minutes from first
    * view to first purchase (converters only); p50/p90 and count via
    * exact interpolated percentiles over the O(users) per-user
    * relation — one user shuffle total.
    */
  val tsTimeToConvert: QueryDef = QueryDef.sql(
    "ts_time_to_convert",
    """WITH per_user AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
      |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_buy
      |  FROM events GROUP BY 1),
      |lat AS (
      |  SELECT date_diff('second', first_view, first_buy) / 60.0 AS mins
      |  FROM per_user
      |  WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
      |    AND first_buy >= first_view)
      |SELECT count(*) AS n_converters,
      |  floor(quantile_cont(mins, 0.5) * 100 + 0.5) / 100 AS p50_mins,
      |  floor(quantile_cont(mins, 0.9) * 100 + 0.5) / 100 AS p90_mins
      |FROM lat""".stripMargin) { (s, d) =>
    val perUser = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts"))).as("first_view"),
        min(when(col("event_type") === "purchase", col("ts"))).as("first_buy"))
    perUser
      .filter(col("first_view").isNotNull && col("first_buy").isNotNull &&
        col("first_buy") >= col("first_view"))
      .select(((unix_timestamp(col("first_buy")) -
        unix_timestamp(col("first_view"))) / 60.0).as("mins"))
      .agg(count(lit(1)).as("n_converters"),
        (floor(expr("percentile(mins, 0.5D)") * 100 + 0.5) / 100).as("p50_mins"),
        (floor(expr("percentile(mins, 0.9D)") * 100 + 0.5) / 100).as("p90_mins"))
  }

  /** Gap-episode monitoring (uptime/SLA shape): contiguous runs of
    * empty hours per type found by gaps-and-islands over the dense
    * grid — episode starts flagged by lag, episode ids by cumulative
    * sum, then per-type episode stats. Every window runs over the
    * O(types × slots) grid; types with no gaps drop out.
    */
  val tsGapEpisodes: QueryDef = QueryDef.sql(
    "ts_gap_episodes",
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |bounds AS (SELECT date_trunc('hour', min(ts)) AS lo,
      |                  date_trunc('hour', max(ts)) AS hi FROM events),
      |grid AS (SELECT t.event_type, g.h AS hour
      |         FROM (SELECT DISTINCT event_type FROM events) t
      |         CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      |                     FROM bounds) g),
      |filled AS (
      |  SELECT g.event_type, g.hour, coalesce(h.n, 0) AS n
      |  FROM grid g LEFT JOIN hourly h
      |    ON h.event_type = g.event_type AND h.hour = g.hour),
      |flagged AS (
      |  SELECT event_type, hour, n = 0 AS is_gap,
      |    CASE WHEN n = 0 AND coalesce(NOT (lag(n = 0) OVER w), TRUE)
      |         THEN 1 ELSE 0 END AS episode_start
      |  FROM filled WINDOW w AS (PARTITION BY event_type ORDER BY hour)),
      |numbered AS (
      |  SELECT event_type, is_gap,
      |    sum(episode_start) OVER (PARTITION BY event_type ORDER BY hour
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
      |  FROM flagged),
      |episodes AS (
      |  SELECT event_type, gid, count(*) AS len
      |  FROM numbered WHERE is_gap GROUP BY 1, 2)
      |SELECT event_type, count(*) AS n_episodes,
      |  max(len) AS longest_gap_hours,
      |  CAST(sum(len) AS BIGINT) AS total_gap_hours
      |FROM episodes GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val filled = tsGapfill.fn(s, d) // dense grid, zero-filled
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled
      .withColumn("is_gap", col("n") === 0)
      .withColumn("episode_start",
        when(col("is_gap") &&
          coalesce(!lag(col("n") === 0, 1).over(w), lit(true)), 1).otherwise(0))
      .withColumn("gid", sum(col("episode_start")).over(wCum))
      .filter(col("is_gap"))
      .groupBy(col("event_type"), col("gid"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_episodes"),
        max(col("len")).as("longest_gap_hours"),
        sum(col("len")).as("total_gap_hours"))
      .orderBy(col("event_type"))
  }

  /** Brown's double exponential smoothing (linear-trend Holt via two
    * cascaded EWMAs): s1 = EWMA(x), s2 = EWMA(s1), level = 2s1 − s2,
    * trend = α/(1−α)·(s1 − s2), one-step forecast = level + trend.
    * Both recursions use ts_ewma's closed form — yₜ = (1−α)ᵗ·Σ
    * xᵢ·cᵢ/(1−α)ⁱ as a cumulative window sum — so NO sequential pass
    * exists anywhere: two window passes over the O(types × days)
    * daily aggregate, same partitioning, one exchange. The oracle
    * replays the identical cascade.
    */
  val tsHolt: QueryDef = QueryDef.sql(
    "ts_holt",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |         round(sum(value), 6) AS x
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT event_type, day, x,
      |         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM daily),
      |s1 AS (
      |  SELECT event_type, day, rn,
      |    power(0.8, rn) * sum(x * (CASE WHEN rn = 1 THEN 1.0 ELSE 0.2 END)
      |          / power(0.8, rn)) OVER (PARTITION BY event_type ORDER BY rn
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1
      |  FROM idx),
      |s2 AS (
      |  SELECT event_type, day, rn, s1,
      |    power(0.8, rn) * sum(s1 * (CASE WHEN rn = 1 THEN 1.0 ELSE 0.2 END)
      |          / power(0.8, rn)) OVER (PARTITION BY event_type ORDER BY rn
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s2
      |  FROM s1)
      |SELECT event_type, day, round(s1, 3) AS s1, round(s2, 3) AS s2,
      |  round(2 * s1 - s2, 3) AS level,
      |  round(0.25 * (s1 - s2), 3) AS trend,
      |  round((2 * s1 - s2) + 0.25 * (s1 - s2), 3) AS forecast
      |FROM s2 ORDER BY event_type, day""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(round(sum(col("value")), 6).as("x"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("rn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def ewmaOf(c: Column): Column =
      pow(lit(0.8), col("rn")) * sum(
        c * when(col("rn") === 1, 1.0).otherwise(0.2) / pow(lit(0.8), col("rn"))
      ).over(wCum)
    daily
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("s1", ewmaOf(col("x")))
      .withColumn("s2", ewmaOf(col("s1")))
      .select(col("event_type"), col("day"),
        round(col("s1"), 3).as("s1"), round(col("s2"), 3).as("s2"),
        round(lit(2) * col("s1") - col("s2"), 3).as("level"),
        round(lit(0.25) * (col("s1") - col("s2")), 3).as("trend"),
        round((lit(2) * col("s1") - col("s2"))
          + lit(0.25) * (col("s1") - col("s2")), 3).as("forecast"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Classical additive decomposition x = trend + seasonal +
    * residual: trend is a centered 7-day moving average (defined
    * only where the full 7-row frame exists), the seasonal component
    * is the per-weekday mean of the detrended series re-centered to
    * sum to zero across the week, residual is what remains. Two
    * window passes + one 7×|types|-row broadcast join, all over the
    * O(types × days) daily aggregate — the corpus is touched once.
    * Weekday convention matched to DuckDB as in ts_seasonal.
    */
  val tsDecompose: QueryDef = QueryDef.sql(
    "ts_decompose",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |         count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |ma AS (
      |  SELECT event_type, day, n, dayofweek(day) AS dow,
      |    CASE WHEN count(*) OVER w = 7 THEN avg(n) OVER w END AS trend
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |seas AS (
      |  SELECT event_type, dow, avg(n - trend) AS seasonal_raw
      |  FROM ma WHERE trend IS NOT NULL GROUP BY 1, 2),
      |seas2 AS (
      |  SELECT event_type, dow, seasonal_raw
      |    - avg(seasonal_raw) OVER (PARTITION BY event_type) AS seasonal
      |  FROM seas)
      |SELECT m.event_type, m.day, m.n, round(m.trend, 4) AS trend,
      |  round(s.seasonal, 4) AS seasonal,
      |  round(m.n - m.trend - s.seasonal, 4) AS residual
      |FROM ma m LEFT JOIN seas2 s
      |  ON s.event_type = m.event_type AND s.dow = m.dow
      |ORDER BY m.event_type, m.day""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val ma = daily
      .withColumn("dow", dayofweek(col("day")) - 1)
      .withColumn("trend",
        when(count(lit(1)).over(w) === 7, avg(col("n")).over(w)))
    val seas = ma.filter(col("trend").isNotNull)
      .groupBy(col("event_type").as("s_type"), col("dow").as("s_dow"))
      .agg(avg(col("n") - col("trend")).as("seasonal_raw"))
    val wType = Window.partitionBy(col("s_type"))
    val seas2 = seas.withColumn("seasonal",
      col("seasonal_raw") - avg(col("seasonal_raw")).over(wType))
    ma.join(broadcast(seas2),
        col("event_type") === col("s_type") && col("dow") === col("s_dow"),
        "left")
      .select(col("event_type"), col("day"), col("n"),
        round(col("trend"), 4).as("trend"),
        round(col("seasonal"), 4).as("seasonal"),
        round(col("n") - col("trend") - col("seasonal"), 4).as("residual"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Seasonal/trend STRENGTH diagnostics (Hyndman & Athanasopoulos,
    * fpp3 §4.3; the wang-smith-hyndman feature space): from the
    * ts_decompose components, F_T = max(0, 1 − Var(R)/Var(T+R)) and
    * F_S = max(0, 1 − Var(R)/Var(S+R)) — the [0,1] scores a
    * forecasting pipeline uses to ROUTE series (strong seasonality →
    * seasonal model; weak trend → level-only) and a monitoring
    * pipeline uses to rank thousands of series by "how structured".
    * Same classical decomposition as ts_decompose (7-day centered MA
    * trend, mean-centered weekday seasonal), then ONE variance
    * aggregate per type over the O(types×days) component relation.
    */
  val tsSeasonalStrength: QueryDef = QueryDef.sql(
    "ts_seasonal_strength",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |         count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |ma AS (
      |  SELECT event_type, day, n, dayofweek(day) AS dow,
      |    CASE WHEN count(*) OVER w = 7 THEN avg(n) OVER w END AS trend
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |seas AS (
      |  SELECT event_type, dow, avg(n - trend) AS seasonal_raw
      |  FROM ma WHERE trend IS NOT NULL GROUP BY 1, 2),
      |seas2 AS (
      |  SELECT event_type, dow, seasonal_raw
      |    - avg(seasonal_raw) OVER (PARTITION BY event_type) AS seasonal
      |  FROM seas),
      |comp AS (
      |  SELECT m.event_type,
      |    m.n - m.trend - s.seasonal AS r,
      |    m.n - s.seasonal AS deseas,
      |    m.n - m.trend AS detr
      |  FROM ma m JOIN seas2 s
      |    ON s.event_type = m.event_type AND s.dow = m.dow
      |  WHERE m.trend IS NOT NULL)
      |SELECT event_type, count(*) AS n_days,
      |  floor(greatest(0, 1 - var_samp(r) / var_samp(deseas)) * 10000 + 0.5) / 10000
      |    AS f_trend,
      |  floor(greatest(0, 1 - var_samp(r) / var_samp(detr)) * 10000 + 0.5) / 10000
      |    AS f_seasonal
      |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val ma = daily
      .withColumn("dow", dayofweek(col("day")) - 1)
      .withColumn("trend",
        when(count(lit(1)).over(w) === 7, avg(col("n")).over(w)))
    val seas = ma.filter(col("trend").isNotNull)
      .groupBy(col("event_type").as("s_type"), col("dow").as("s_dow"))
      .agg(avg(col("n") - col("trend")).as("seasonal_raw"))
    val wType = Window.partitionBy(col("s_type"))
    val seas2 = seas.withColumn("seasonal",
      col("seasonal_raw") - avg(col("seasonal_raw")).over(wType))
    ma.filter(col("trend").isNotNull)
      .join(broadcast(seas2),
        col("event_type") === col("s_type") && col("dow") === col("s_dow"))
      .select(col("event_type"),
        (col("n") - col("trend") - col("seasonal")).as("r"),
        (col("n") - col("seasonal")).as("deseas"),
        (col("n") - col("trend")).as("detr"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        (floor(greatest(lit(0),
          lit(1) - var_samp(col("r")) / var_samp(col("deseas"))) * 10000 + 0.5)
          / 10000).as("f_trend"),
        (floor(greatest(lit(0),
          lit(1) - var_samp(col("r")) / var_samp(col("detr"))) * 10000 + 0.5)
          / 10000).as("f_seasonal"))
      .orderBy(col("event_type"))
  }

  /** HIERARCHICAL forecast reconciliation (Hyndman et al. 2011
    * lineage, the "forecast proportions" top-down variant): per-type
    * daily forecasts and the direct total forecast generically
    * DISAGREE when the base forecaster is nonlinear — here
    * same-weekday MEDIANS over the train window (a mean would make
    * bottom-up ≡ direct by linearity and hide the problem). For each
    * holdout day: the direct total forecast, the bottom-up sum of
    * per-type forecasts, and the reconciliation ratio that scales
    * the per-type forecasts to cohere with the total (Σ reconciled =
    * direct, exactly — pinned). Everything runs over the
    * O(types×days) daily aggregate: one corpus pass, then bounded
    * joins; medians are over ≤ |train days| values per group.
    */
  val tsReconcile: QueryDef = QueryDef.sql(
    "ts_reconcile",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |         count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |cutoff AS (SELECT max(day) - INTERVAL 7 DAY AS cut FROM daily),
      |train AS (SELECT d.* FROM daily d, cutoff WHERE d.day <= cut),
      |test AS  (SELECT d.* FROM daily d, cutoff WHERE d.day > cut),
      |bottom AS (
      |  SELECT event_type, dayofweek(day) AS dow, quantile_cont(n, 0.5) AS fc
      |  FROM train GROUP BY 1, 2),
      |tot_train AS (SELECT day, sum(n) AS n FROM train GROUP BY 1),
      |direct AS (
      |  SELECT dayofweek(day) AS dow, quantile_cont(n, 0.5) AS fc
      |  FROM tot_train GROUP BY 1),
      |tot_test AS (
      |  SELECT day, CAST(sum(n) AS BIGINT) AS actual_total
      |  FROM test GROUP BY 1),
      |bu AS (
      |  SELECT t.day, sum(b.fc) AS fc_bu
      |  FROM test t JOIN bottom b
      |    ON b.event_type = t.event_type AND b.dow = dayofweek(t.day)
      |  GROUP BY 1)
      |SELECT tt.day, tt.actual_total,
      |  floor(d.fc * 10000 + 0.5) / 10000 AS fc_direct,
      |  floor(bu.fc_bu * 10000 + 0.5) / 10000 AS fc_bottom_up,
      |  floor(d.fc / bu.fc_bu * 10000 + 0.5) / 10000 AS recon_ratio
      |FROM tot_test tt
      |JOIN direct d ON d.dow = dayofweek(tt.day)
      |JOIN bu ON bu.day = tt.day
      |ORDER BY tt.day""".stripMargin) { (s, d) =>
    val daily = graft.Ckpt.keep(Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n")))
    val cutoff = daily.agg((max(col("day")) - expr("INTERVAL 7 DAY")).as("cut"))
    val withCut = daily.crossJoin(broadcast(cutoff))
    val train = withCut.filter(col("day") <= col("cut"))
    val test = withCut.filter(col("day") > col("cut"))
    val bottom = train
      .groupBy(col("event_type").as("b_type"),
        (dayofweek(col("day")) - 1).as("b_dow"))
      .agg(expr("percentile(n, 0.5D)").as("fc"))
    val totTrain = train.groupBy(col("day")).agg(sum(col("n")).as("n"))
    val direct = totTrain
      .groupBy((dayofweek(col("day")) - 1).as("d_dow"))
      .agg(expr("percentile(n, 0.5D)").as("fc_d"))
    val totTest = test.groupBy(col("day")).agg(sum(col("n")).as("actual_total"))
    val bu = test.join(broadcast(bottom),
        col("event_type") === col("b_type") &&
          (dayofweek(col("day")) - 1) === col("b_dow"))
      .groupBy(col("day").as("bu_day")).agg(sum(col("fc")).as("fc_bu"))
    totTest
      .join(broadcast(direct), (dayofweek(col("day")) - 1) === col("d_dow"))
      .join(broadcast(bu), col("day") === col("bu_day"))
      .select(col("day"), col("actual_total"),
        (floor(col("fc_d") * 10000 + 0.5) / 10000).as("fc_direct"),
        (floor(col("fc_bu") * 10000 + 0.5) / 10000).as("fc_bottom_up"),
        (floor(col("fc_d") / col("fc_bu") * 10000 + 0.5) / 10000).as("recon_ratio"))
      .orderBy(col("day"))
  }

  /** Rolling-baseline anomaly scan: each hour scored against its
    * TRAILING 24-hour window (mean/stddev over ROWS 24 PRECEDING..1
    * PRECEDING — the hour never baselines itself), flagging
    * |z| ≥ 3 with a full window only. The streaming-friendly
    * complement to events_anomaly's whole-period baseline: a level
    * shift re-baselines within a day instead of polluting the global
    * stats. Windows run over the O(types·hours) hourly aggregate,
    * never the corpus; frame order is the unique hour sequence, so
    * both engines accumulate identically.
    */
  val tsRollingStats: QueryDef = QueryDef.sql(
    "ts_rolling_stats",
    """WITH h AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, hour, n,
      |    avg(n) OVER w AS roll_avg, stddev_samp(n) OVER w AS roll_std,
      |    count(*) OVER w AS n_window
      |  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hour
      |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, hour, n, round(roll_avg, 4) AS roll_avg,
      |  round((n - roll_avg) / roll_std, 3) AS roll_z
      |FROM r
      |WHERE n_window = 24 AND roll_std > 0
      |  AND abs((n - roll_avg) / roll_std) >= 3
      |ORDER BY event_type, hour""".stripMargin) { (s, d) =>
    val h = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(-24, -1)
    h.withColumn("roll_avg", avg(col("n")).over(w))
      .withColumn("roll_std", stddev_samp(col("n")).over(w))
      .withColumn("n_window", count(lit(1)).over(w))
      .withColumn("raw", (col("n") - col("roll_avg")) / col("roll_std"))
      .filter(col("n_window") === 24 && col("roll_std") > 0 && abs(col("raw")) >= 3)
      .select(col("event_type"), col("hour"), col("n"),
        round(col("roll_avg"), 4).as("roll_avg"),
        round(col("raw"), 3).as("roll_z"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Detect-and-repair: hours whose count is a global z-score
    * anomaly (|z| ≥ 3, events_anomaly's rule) are REPLACED by the
    * midpoint of the nearest non-anomalous neighbors (ignore-nulls
    * window endpoints, ts_interp's machinery) — the cleaning pass a
    * metrics pipeline runs before feeding models that can't tolerate
    * spikes. Emits only the repaired rows (original + repaired
    * value). Everything windows over the O(types·hours) aggregate.
    */
  val tsRepair: QueryDef = QueryDef.sql(
    "ts_repair",
    """WITH h AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |z AS (
      |  SELECT event_type, hour, n,
      |    (n - avg(n) OVER (PARTITION BY event_type))
      |      / stddev_samp(n) OVER (PARTITION BY event_type) AS zs
      |  FROM h),
      |fl AS (SELECT event_type, hour, n, abs(zs) >= 3 AS bad FROM z),
      |rep AS (
      |  SELECT event_type, hour, n, bad,
      |    last_value(CASE WHEN NOT bad THEN n END IGNORE NULLS) OVER
      |      (PARTITION BY event_type ORDER BY hour
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_good,
      |    first_value(CASE WHEN NOT bad THEN n END IGNORE NULLS) OVER
      |      (PARTITION BY event_type ORDER BY hour
      |       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_good
      |  FROM fl)
      |SELECT event_type, hour, n,
      |  CASE WHEN prev_good IS NOT NULL AND next_good IS NOT NULL
      |         THEN floor((prev_good + next_good) / 2.0 * 10000 + 0.5) / 10000
      |       ELSE CAST(coalesce(prev_good, next_good, n) AS DOUBLE) END AS repaired
      |FROM rep WHERE bad ORDER BY event_type, hour""".stripMargin) { (s, d) =>
    val h = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val wp = Window.partitionBy(col("event_type"))
    val fl = h
      .withColumn("zs",
        (col("n") - avg(col("n")).over(wp)) / stddev_samp(col("n")).over(wp))
      .withColumn("bad", abs(col("zs")) >= 3)
    val before = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val after = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(1, Window.unboundedFollowing)
    fl
      .withColumn("prev_good",
        last(when(!col("bad"), col("n")), ignoreNulls = true).over(before))
      .withColumn("next_good",
        first(when(!col("bad"), col("n")), ignoreNulls = true).over(after))
      .filter(col("bad"))
      .select(col("event_type"), col("hour"), col("n"),
        when(col("prev_good").isNotNull && col("next_good").isNotNull,
          floor((col("prev_good") + col("next_good")) / 2.0 * 10000 + 0.5) / 10000)
          .otherwise(coalesce(col("prev_good"), col("next_good"), col("n"))
            .cast("double")).as("repaired"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Hourly OHLC bars over purchase values — the candlestick
    * resample a metrics store serves. Open/close are picked by
    * row_number over (ts, event_id) inside each hour (deterministic
    * under timestamp ties); high/low/volume/total are plain
    * aggregates. One corpus scan into the hour aggregate; the window
    * runs per-hour over corpus rows but partitioned by hour, so at
    * scale each partition's state is one hour of one stream — the
    * shuffle key (hour) is the same for the window and the final
    * aggregate, one exchange total.
    */
  val tsOhlc: QueryDef = QueryDef.sql(
    "ts_ohlc",
    """WITH p AS (
      |  SELECT date_trunc('hour', ts) AS hour, ts, event_id, value,
      |    row_number() OVER (PARTITION BY date_trunc('hour', ts)
      |      ORDER BY ts, event_id) AS rn_a,
      |    row_number() OVER (PARTITION BY date_trunc('hour', ts)
      |      ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM events WHERE event_type = 'purchase')
      |SELECT hour,
      |  round(max(CASE WHEN rn_a = 1 THEN value END), 4) AS open,
      |  round(max(value), 4) AS high,
      |  round(min(value), 4) AS low,
      |  round(max(CASE WHEN rn_d = 1 THEN value END), 4) AS close,
      |  count(*) AS volume
      |FROM p GROUP BY hour ORDER BY hour""".stripMargin) { (s, d) =>
    val p = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .withColumn("hour", date_trunc("hour", col("ts")))
    val wAsc = Window.partitionBy(col("hour")).orderBy(col("ts"), col("event_id"))
    val wDesc = Window.partitionBy(col("hour"))
      .orderBy(col("ts").desc, col("event_id").desc)
    p.withColumn("rn_a", row_number().over(wAsc))
      .withColumn("rn_d", row_number().over(wDesc))
      .groupBy(col("hour"))
      .agg(
        round(max(when(col("rn_a") === 1, col("value"))), 4).as("open"),
        round(max(col("value")), 4).as("high"),
        round(min(col("value")), 4).as("low"),
        round(max(when(col("rn_d") === 1, col("value"))), 4).as("close"),
        count(lit(1)).as("volume"))
      .orderBy(col("hour"))
  }

  /** Inter-arrival diagnostics per event type: lag the per-type
    * event sequence (ordered by ts, event_id) and report mean /
    * max / median gap seconds. The lag window and the aggregate
    * share the event_type shuffle key; output is O(|types|).
    */
  val tsInterEvent: QueryDef = QueryDef.sql(
    "ts_inter_event",
    """WITH g AS (
      |  SELECT event_type,
      |    date_diff('second',
      |      lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id),
      |      ts) AS gap_s
      |  FROM events)
      |SELECT event_type, count(gap_s) AS n_gaps,
      |  round(avg(gap_s), 4) AS avg_gap_s,
      |  max(gap_s) AS max_gap_s,
      |  round(median(gap_s), 4) AS median_gap_s
      |FROM g WHERE gap_s IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("gap_s",
        (unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w)))
          .cast("long"))
      .filter(col("gap_s").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(col("gap_s")).as("n_gaps"),
        round(avg(col("gap_s")), 4).as("avg_gap_s"),
        max(col("gap_s")).as("max_gap_s"),
        round(expr("percentile(gap_s, 0.5)"), 4).as("median_gap_s"))
      .orderBy(col("event_type"))
  }

  /** Theil–Sen robust trend estimate per event type: the MEDIAN of
    * all pairwise slopes (y_j − y_i)/(days between) over the daily
    * count series — a single outlier day that would drag a
    * least-squares slope (ts_forecast's regr_slope) arbitrarily far
    * moves this estimator not at all until 29% of days are corrupt.
    * The O(days²) pair join runs on the O(types·days) DAILY AGGREGATE
    * (30 days → 435 pairs/type; at any corpus scale the aggregate
    * stays calendar-bounded, so the quadratic is in days, never
    * rows). Exact median via percentile ↔ quantile_cont (the
    * q_median parity); slopes are exact-int differences divided by
    * exact day counts, so both engines rank identical doubles.
    */
  val tsTheilsen: QueryDef = QueryDef.sql(
    "ts_theilsen",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |         count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.event_type,
      |    CAST(b.n - a.n AS DOUBLE) / date_diff('day', a.day, b.day) AS slope
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.day < b.day)
      |SELECT event_type, count(*) AS n_pairs,
      |  round(quantile_cont(slope, 0.5), 6) AS trend_per_day
      |FROM pairs GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val a = daily.select(col("event_type"), col("day").as("d1"), col("n").as("y1"))
    val b = daily.select(col("event_type").as("et2"), col("day").as("d2"), col("n").as("y2"))
    a.join(b, col("event_type") === col("et2") && col("d1") < col("d2"))
      .select(col("event_type"),
        ((col("y2") - col("y1")).cast("double") / datediff(col("d2"), col("d1")))
          .as("slope"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        round(expr("percentile(slope, 0.5)"), 6).as("trend_per_day"))
      .orderBy(col("event_type"))
  }

  /** Single change-point detection per series (CUSUM argmax): the
    * split day t* maximizing |T·Sₜ − t·S_T| over the daily count
    * series — the scaled CUSUM statistic kept in EXACT int64 (counts
    * × day-index products, no float drift), so the argmax and its
    * statistic hash-match across engines. All windows run over the
    * O(types × days) daily aggregate; the corpus contributes one
    * groupBy. Tie-break: earliest day.
    */
  val tsChangepoint: QueryDef = QueryDef.sql(
    "ts_changepoint",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |         count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, day, n,
      |    CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day
      |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
      |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS s_total,
      |    count(*) OVER (PARTITION BY event_type) AS n_days
      |  FROM daily),
      |scored AS (
      |  SELECT event_type, day,
      |         abs(n_days * cum - t * s_total) AS stat,
      |         row_number() OVER (PARTITION BY event_type
      |           ORDER BY abs(n_days * cum - t * s_total) DESC, day) AS rn
      |  FROM w WHERE t < n_days)
      |SELECT event_type, day AS change_day, stat
      |FROM scored WHERE rn = 1 ORDER BY event_type""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val whole = Window.partitionBy(col("event_type"))
    val w = daily
      .withColumn("cum", sum(col("n")).over(
        byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("t", row_number().over(byDay))
      .withColumn("s_total", sum(col("n")).over(whole))
      .withColumn("n_days", count(lit(1)).over(whole))
      .filter(col("t") < col("n_days"))
      .withColumn("stat",
        abs(col("n_days") * col("cum") - col("t") * col("s_total")))
    w.withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("stat").desc, col("day"))))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("day").as("change_day"), col("stat"))
      .orderBy(col("event_type"))
  }

  /** LTTB (largest-triangle-three-buckets, Steinarsson 2013) indices
    * for one series: always keep the endpoints, and from each of
    * target−2 interior buckets keep the point maximizing the
    * triangle area with the previously KEPT point and the next
    * bucket's centroid — the downsampling that preserves visual
    * shape (peaks/valleys) where per-bucket averaging flattens it.
    * Ties break to the earliest point.
    */
  private[operators] def lttbSelect(
      xs: Array[Double], ys: Array[Double], target: Int): Array[Int] = {
    val n = xs.length
    if (n <= target || target < 3) return Array.range(0, n)
    val buckets = target - 2
    def bound(i: Int): Int =
      1 + math.round(i.toDouble * (n - 2) / buckets).toInt
    val picked = scala.collection.mutable.ArrayBuffer(0)
    var prev = 0
    for (b <- 0 until buckets) {
      val lo = bound(b)
      val hi = math.min(bound(b + 1), n - 1)
      val (nl, nh) =
        if (b + 1 < buckets) (bound(b + 1), math.min(bound(b + 2), n - 1))
        else (n - 1, n)
      val ax = xs.slice(nl, nh).sum / (nh - nl)
      val ay = ys.slice(nl, nh).sum / (nh - nl)
      var best = lo
      var bestArea = -1.0
      for (i <- lo until hi) {
        val area = math.abs(
          (xs(prev) - ax) * (ys(i) - ys(prev)) -
            (xs(prev) - xs(i)) * (ay - ys(prev)))
        if (area > bestArea) { bestArea = area; best = i }
      }
      picked += best
      prev = best
    }
    picked += (n - 1)
    picked.toArray
  }

  /** Generated DuckDB replay of the LTTB pick chain: the pick for
    * bucket b is a row_number()=1 argmax over that bucket's rows,
    * seeded by the previous bucket's pick — 8 chained CTEs, one per
    * interior bucket. Every area is computed from integer-valued
    * doubles (day ordinals and counts) with the exact expression
    * order of lttbSelect, so the float values are engine-identical
    * and the (area DESC, index ASC) tie-break replays the "strictly
    * greater keeps first" rule. Series with ≤ 10 points pass through
    * whole, matching the Scala early-out.
    */
  private def lttbOracle(target: Int): String = {
    val buckets = target - 2
    def bound(i: String, nc: String = "n") =
      s"1 + CAST(floor(($i) * ($nc - 2) / $buckets.0 + 0.5) AS BIGINT)"
    val chain = (0 until buckets).map { b =>
      val lo = bound(b.toString, "d.n")
      val hi = s"least(${bound((b + 1).toString, "d.n")}, d.n - 1)"
      val (nl, nh) =
        if (b + 1 < buckets)
          (bound((b + 1).toString), s"least(${bound((b + 2).toString)}, n - 1)")
        else ("n - 1", "n")
      s"""nb$b AS ( -- next-bucket centroid per type
         |  SELECT event_type, sum(x) / count(*) AS ax, sum(y) / count(*) AS ay
         |  FROM dd WHERE t >= $nl AND t < $nh GROUP BY event_type),
         |pk${b + 1} AS (
         |  SELECT event_type, t AS prev FROM (
         |    SELECT d.event_type, d.t,
         |      row_number() OVER (PARTITION BY d.event_type ORDER BY
         |        abs((px.x - c.ax) * (d.y - px.y) - (px.x - d.x) * (c.ay - px.y)) DESC,
         |        d.t) AS rn
         |    FROM dd d
         |    JOIN pk$b p ON p.event_type = d.event_type
         |    JOIN dd px ON px.event_type = d.event_type AND px.t = p.prev
         |    JOIN nb$b c ON c.event_type = d.event_type
         |    WHERE d.t >= $lo AND d.t < $hi)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH daily AS (
       |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day0,
       |         count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |dd AS MATERIALIZED (
       |  SELECT event_type, CAST(day0 AS VARCHAR) AS day,
       |    CAST(day0 - DATE '1970-01-01' AS DOUBLE) AS x,
       |    CAST(cnt AS DOUBLE) AS y, cnt,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day0) - 1 AS t,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM daily),
       |dd_big AS (SELECT * FROM dd WHERE n > $target),
       |pk0 AS (SELECT DISTINCT event_type, CAST(0 AS BIGINT) AS prev FROM dd_big),
       |$chain,
       |sel AS (SELECT DISTINCT event_type, t FROM (
       |  ${(0 to buckets).map(b => s"SELECT event_type, prev AS t FROM pk$b").mkString(" UNION ALL ")}
       |  UNION ALL SELECT event_type, n - 1 AS t FROM dd_big WHERE t = 0))
       |SELECT d.event_type, d.day, d.cnt AS n
       |FROM dd_big d JOIN sel s ON s.event_type = d.event_type AND s.t = d.t
       |UNION ALL
       |SELECT event_type, day, cnt AS n FROM dd WHERE n <= $target
       |ORDER BY event_type, day""".stripMargin
  }

  /** Downsample each daily series to ≤10 visually-representative
    * points via LTTB — what a dashboard renders when the raw series
    * is too dense to plot. The sequential pass is inherent to LTTB
    * (each pick depends on the previous), but it runs per-series
    * over the O(days) DAILY AGGREGATE inside flatMapGroups — the
    * corpus contributes one groupBy, series state is O(days), and
    * parallelism comes from the series key shuffle. Every triangle
    * area is integer-derived (day ordinal × count), so the floats —
    * and therefore the picks — are engine-exact, and the chained-CTE
    * oracle replays the pick sequence hash-identically.
    */
  val tsLttb: QueryDef = QueryDef.sql("ts_lttb", lttbOracle(10)) { (s, d) =>
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("day").cast("string").as("day"),
        unix_date(col("day")).cast("double").as("x"),
        col("n"))
      .as[(String, String, Double, Long)]
    daily.groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        val pts = it.toArray.sortBy(_._2)
        val idx = lttbSelect(pts.map(_._3), pts.map(_._4.toDouble), 10)
        idx.iterator.map(i => (k, pts(i)._2, pts(i)._4))
      }
      .toDF("event_type", "day", "n")
      .orderBy(col("event_type"), col("day"))
  }

  /** ts_dtw's oracle: per-type daily means from exact micro-unit
    * sums, z-normalized with the engine's driver spelling (ascending
    * fold sums), then the Sakoe–Chiba DP replayed as a nested
    * list_reduce — the outer fold carries the previous DP row as a
    * LIST accumulator, the inner fold builds the current row cell by
    * cell (cur[j] needs cur[j−1], so it is itself a fold).
    */
  private def dtwOracle(band: Int): String = {
    val inf = "CAST('Infinity' AS DOUBLE)"
    s"""WITH daily AS (
       |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
       |    CAST(sum(CAST(round(value * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
       |      / 1000000.0 / count(*) AS v
       |  FROM events GROUP BY 1, 2),
       |ser AS (
       |  SELECT event_type, list(v ORDER BY day) AS vs,
       |    CAST(count(*) AS DOUBLE) AS n
       |  FROM daily GROUP BY 1),
       |zn AS (
       |  SELECT event_type, vs, n,
       |    list_reduce(vs, (a, x) -> a + x) / n AS mean FROM ser),
       |zs AS MATERIALIZED (
       |  SELECT event_type,
       |    CASE WHEN sd > 0 THEN list_transform(vs, x -> (x - mean) / sd)
       |         ELSE list_transform(vs, x -> 0.0::DOUBLE) END AS z
       |  FROM (SELECT event_type, vs, mean, n,
       |          sqrt(list_reduce(list_transform(vs, x -> (x - mean) * (x - mean)),
       |            (a, x) -> a + x) / n) AS sd
       |        FROM zn)),
       |pairs AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b,
       |    a.z AS xs, b.z AS ys, len(a.z) AS nn, len(b.z) AS mm,
       |    greatest($band, abs(len(a.z) - len(b.z))) AS w
       |  FROM zs a JOIN zs b ON a.event_type < b.event_type),
       |dp AS (
       |  SELECT type_a, type_b, mm,
       |    list_reduce(
       |      list_prepend(
       |        list_prepend(0.0::DOUBLE,
       |          list_transform(generate_series(1, CAST(mm AS INT)), j -> $inf)),
       |        list_transform(generate_series(1, CAST(nn AS INT)),
       |          i -> [CAST(i AS DOUBLE)])),
       |      (a, ix) -> list_reduce(
       |        list_prepend([$inf],
       |          list_transform(generate_series(1, CAST(mm AS INT)),
       |            j -> [CAST(j AS DOUBLE)])),
       |        (b, jx) -> list_append(b,
       |          CASE WHEN jx[1] < greatest(1, ix[1] - w)
       |                 OR jx[1] > least(CAST(mm AS DOUBLE), ix[1] + w)
       |            THEN $inf
       |            ELSE (xs[CAST(ix[1] AS INT)] - ys[CAST(jx[1] AS INT)])
       |                 * (xs[CAST(ix[1] AS INT)] - ys[CAST(jx[1] AS INT)])
       |                 + least(a[CAST(jx[1] AS INT) + 1], b[len(b)],
       |                         a[CAST(jx[1] AS INT)])
       |          END))) AS f
       |  FROM pairs)
       |SELECT type_a, type_b,
       |  floor(sqrt(f[CAST(mm AS INT) + 1]) * 10000 + 0.5) / 10000 AS dtw
       |FROM dp ORDER BY type_a, type_b""".stripMargin
  }

  /** Sakoe–Chiba banded dynamic-time-warping distance (the classic
    * elastic series-similarity measure) between every pair of
    * event-type daily-mean series. The sequential DP is confined to
    * per-PAIR work on the tiny daily aggregates (|days| per series,
    * band b=7 ⇒ O(|days|·b) cells — never the raw event stream);
    * the corpus-sized stage is only the daily groupBy. Series are
    * z-normalized (DTW convention) so the distance measures shape,
    * not level. Pairs are built by broadcasting the O(#types)
    * aggregated series array; at 1000s of series the same plan
    * shards the pair grid over the cluster since each pair's inputs
    * are two small arrays. Daily means come from exact micro-unit
    * integer sums (the Round-7 quantize-before-float-sums rule), so
    * the z-scores — and therefore the whole DP — are engine-exact;
    * the DuckDB oracle replays the banded DP as a nested list_reduce
    * (LIST accumulators, the Round-7 struct-corruption workaround).
    * Identity/symmetry/Euclidean-upper-bound stay pinned in
    * ScalaTest.
    */
  val tsDtw: QueryDef = QueryDef.sql("ts_dtw", dtwOracle(7)) { (s, d) =>
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg((sum(round(col("value") * lit(1000000.0), 0).cast("long"))
        .cast("double") / lit(1000000.0) / count(lit(1))).as("v"))
      .as[(String, java.sql.Date, Double)]
    val series: Array[(String, Array[Double])] = daily.collect()
      .groupBy(_._1).toArray
      .map { case (k, rows) =>
        val vs = rows.sortBy(_._2.getTime).map(_._3)
        val n = vs.length
        val mean = vs.sum / n
        val sd = math.sqrt(vs.map(x => (x - mean) * (x - mean)).sum / n)
        (k, vs.map(x => if (sd > 0) (x - mean) / sd else 0.0))
      }
      .sortBy(_._1)
    val pairs = for {
      i <- series.indices
      j <- (i + 1) until series.length
    } yield (series(i)._1, series(j)._1, series(i)._2, series(j)._2)
    val band = 7
    s.sparkContext.parallelize(pairs.toSeq, math.max(1, pairs.length / 4))
      .map { case (a, b, xs, ys) =>
        (a, b, math.floor(dtwBanded(xs, ys, band) * 10000 + 0.5) / 10000)
      }
      .toDF("type_a", "type_b", "dtw")
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Banded DTW DP: cost = Σ (xi−yj)² along the optimal monotone
    * path, cells restricted to |i−j| ≤ band (plus the slope needed
    * when lengths differ). Returns √cost.
    */
  private[graft] def dtwBanded(xs: Array[Double], ys: Array[Double], band: Int): Double = {
    val n = xs.length; val m = ys.length
    if (n == 0 || m == 0) return Double.PositiveInfinity
    val w = math.max(band, math.abs(n - m)) // feasibility widening
    val INF = Double.PositiveInfinity
    var prev = Array.fill(m + 1)(INF)
    var cur = Array.fill(m + 1)(INF)
    prev(0) = 0.0
    for (i <- 1 to n) {
      java.util.Arrays.fill(cur, INF)
      val lo = math.max(1, i - w); val hi = math.min(m, i + w)
      for (j <- lo to hi) {
        val c = (xs(i - 1) - ys(j - 1)) * (xs(i - 1) - ys(j - 1))
        cur(j) = c + math.min(prev(j), math.min(cur(j - 1), prev(j - 1)))
      }
      val t = prev; prev = cur; cur = t
    }
    math.sqrt(prev(m))
  }

  /** Dominant-cycle detection via the DFT periodogram: per event
    * type, spectral power of the zero-filled mean-centered daily
    * count series at candidate periods 2..14 days, reporting the
    * top-3 periods by power. The corpus-sized stage is the daily
    * aggregate; the grid is generated map-side (ts_gapfill
    * machinery), the ×13 period probe is a map-side explode over the
    * O(types·days) relation, and the trig reduction is ONE
    * (type, period) aggregate — at any SF the post-aggregate work is
    * |types|·|periods|. Rows-only by design (Σcos/Σsin are
    * summation-order-sensitive floats); planted-cycle recovery
    * (period-7 signal → argmax 7), power non-negativity, and rank
    * ordering pinned in ScalaTest.
    */
  /** Shared dense-grid CTE prefix (daily counts, zero-filled calendar
    * grid, t = days since 2020-01-01) — the ar2/periodogram input.
    * Declared BEFORE its first use: object vals initialize in
    * declaration order.
    */
  private val denseGridSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |         count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
      |grid AS (
      |  SELECT event_type, CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM (SELECT DISTINCT event_type FROM daily), b),
      |dense AS (
      |  SELECT g.event_type AS key,
      |    CAST(g.day - DATE '2020-01-01' AS BIGINT) AS t,
      |    CAST(coalesce(d.cnt, 0) AS BIGINT) AS x
      |  FROM grid g LEFT JOIN daily d
      |    ON d.event_type = g.event_type AND d.day = g.day)""".stripMargin

  val tsPeriodogram: QueryDef = QueryDef.sql(
    "ts_periodogram",
    s"""$denseGridSql,
       |${periodogramSqlBody(2 to 14, 3)}
       |SELECT key AS event_type, rank, period, power FROM spec
       |ORDER BY event_type, rank""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    val bounds = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val types = daily.select(col("event_type")).distinct()
    val grid = types.crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val dense = grid.join(daily, Seq("event_type", "day"), "left_outer")
      .select(col("event_type").as("key"),
        datediff(col("day"), to_date(lit("2020-01-01"))).cast("long").as("t"),
        coalesce(col("n"), lit(0.0)).as("x"))
    periodogramTopK(dense, 2 to 14, 3)
      .withColumnRenamed("key", "event_type")
      .orderBy(col("event_type"), col("rank"))
  }

  /** Periodogram core over a (key, t, x) series: top-k candidate
    * periods per key by spectral power. Shared by ts_periodogram and
    * the planted-cycle ScalaTest.
    */
  def periodogramTopK(series: DataFrame, periods: Seq[Int], k: Int): DataFrame = {
    val wKey = Window.partitionBy(col("key"))
    // EXACT sufficient statistics: centering is scaled by the series
    // length (x̃·d = x·d − Σx, integer algebra for count series) and
    // the trig regressors quantize to micro-units, so Σcos/Σsin
    // accumulate as exact decimals — engine- and partition-identical
    // — and the single power expression divides the scales back out.
    val centered = series
      .withColumn("dn", count(lit(1)).over(wKey))
      .withColumn("sn", sum(col("x")).over(wKey))
      .withColumn("xd", col("x") * col("dn") - col("sn"))
    val probes = centered.select(col("key"), col("t"), col("xd"), col("dn"),
      explode(lit(periods.toArray)).as("p"))
    val angle = lit(2.0 * math.Pi) * (col("t") % col("p")).cast("double") / col("p")
    val c6 = round(cos(angle) * 1e6).cast("decimal(19,0)")
    val s6 = round(sin(angle) * 1e6).cast("decimal(19,0)")
    val spec = probes
      .withColumn("cterm", col("xd").cast("decimal(19,0)") * c6)
      .withColumn("sterm", col("xd").cast("decimal(19,0)") * s6)
      .groupBy(col("key"), col("p"))
      .agg(sum(col("cterm")).as("sc"), sum(col("sterm")).as("ss"),
        first(col("dn")).as("dd"))
      .select(col("key"), col("p"),
        ((col("sc").cast("double") * col("sc").cast("double")
          + col("ss").cast("double") * col("ss").cast("double"))
          / 1e12 / col("dd") / col("dd") / col("dd")).as("power"))
    val wRank = Window.partitionBy(col("key"))
      .orderBy(col("power").desc, col("p"))
    spec.withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("key"), col("rank"), col("p").as("period"),
        (floor(col("power") * 10000 + 0.5) / 10000).as("power"))
  }

  /** SQL body replaying periodogramTopK over a dense CTE named
    * `dense(key, t, x)` — emits `spec(key, rank, period, power)`.
    * Shared by the ts_periodogram and ts_spectral_entropy oracles.
    */
  private def periodogramSqlBody(periods: Seq[Int], k: Int): String =
    s"""cent AS (
       |  SELECT key, t, x,
       |    count(*) OVER (PARTITION BY key) AS dn,
       |    sum(x) OVER (PARTITION BY key) AS sn
       |  FROM dense),
       |probes AS (
       |  SELECT key, t, x * dn - sn AS xd, dn, p
       |  FROM cent CROSS JOIN (SELECT unnest(ARRAY[${periods.mkString(",")}]) AS p)),
       |terms AS (
       |  SELECT key, p, dn,
       |    CAST(xd AS HUGEINT) *
       |      CAST(round(cos((2 * pi()) * (t % p) / p) * 1e6) AS HUGEINT) AS cterm,
       |    CAST(xd AS HUGEINT) *
       |      CAST(round(sin((2 * pi()) * (t % p) / p) * 1e6) AS HUGEINT) AS sterm
       |  FROM probes),
       |pw AS (
       |  SELECT key, p,
       |    (CAST(sum(cterm) AS DOUBLE) * CAST(sum(cterm) AS DOUBLE)
       |     + CAST(sum(sterm) AS DOUBLE) * CAST(sum(sterm) AS DOUBLE))
       |      / 1e12 / any_value(dn) / any_value(dn) / any_value(dn) AS power
       |  FROM terms GROUP BY key, p),
       |spec AS (
       |  SELECT key, rank, p AS period,
       |    floor(power * 10000 + 0.5) / 10000 AS power
       |  FROM (SELECT key, p, power,
       |          row_number() OVER (PARTITION BY key
       |            ORDER BY power DESC, p) AS rank
       |        FROM pw)
       |  WHERE rank <= $k)""".stripMargin


  /** Spectral entropy per event type — the single-number REGULARITY
    * score on top of the periodogram (which reports candidate
    * periods but not how concentrated the spectrum is): normalize
    * the spectral powers over the probed periods to a distribution
    * and take Shannon entropy / log2(K) ∈ [0, 1] — near 0 = one
    * dominant cycle (schedulable, forecastable), near 1 = flat
    * spectrum (noise; don't bother fitting seasonal models). Same
    * O(types × days × |periods|) map-side probe explode and O(types
    * × K) aggregate as ts_periodogram; the entropy fold is a window
    * over the K-row per-type spectrum. Rows-only (libm trig differs
    * across engines in the last ulp); direct-replay equality, range,
    * and dominant-period consistency with ts_periodogram pinned.
    */
  val tsSpectralEntropy: QueryDef = QueryDef.sql(
    "ts_spectral_entropy", {
      val periods = 2 to 14
      s"""$denseGridSql,
         |${periodogramSqlBody(periods, periods.size)},
         |sh AS (SELECT key, period, power,
         |         power / sum(power) OVER (PARTITION BY key) AS share
         |       FROM spec),
         |dom AS (SELECT key, period AS dominant_period FROM (
         |  SELECT key, period,
         |    row_number() OVER (PARTITION BY key ORDER BY power DESC, period) AS rn
         |  FROM spec) WHERE rn = 1),
         |ent AS (SELECT key,
         |  floor(sum(CASE WHEN share > 0 THEN -share * log2(share)
         |                 ELSE 0.0 END) / log2(${periods.size}.0) * 10000 + 0.5)
         |    / 10000 AS spectral_entropy
         |  FROM sh GROUP BY key)
         |SELECT d.key AS event_type, d.dominant_period, e.spectral_entropy
         |FROM dom d JOIN ent e ON e.key = d.key
         |ORDER BY event_type""".stripMargin
    }) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    val bounds = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val types = daily.select(col("event_type")).distinct()
    val grid = types.crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val dense = grid.join(daily, Seq("event_type", "day"), "left_outer")
      .select(col("event_type").as("key"),
        datediff(col("day"), to_date(lit("2020-01-01"))).cast("long").as("t"),
        coalesce(col("n"), lit(0.0)).as("x"))
    val periods = 2 to 14
    val spec = periodogramTopK(dense, periods, periods.size)
    val wKey = Window.partitionBy(col("key"))
    spec
      .withColumn("tot", sum(col("power")).over(wKey))
      .withColumn("share", col("power") / col("tot"))
      .groupBy(col("key").as("event_type"))
      .agg(
        // tie-break equal powers toward the smaller period — the same
        // (power DESC, p ASC) order periodogramTopK ranks by
        max_by(col("period"), struct(col("power"), -col("period")))
          .as("dominant_period"),
        (floor(sum(when(col("share") > 0,
            -col("share") * log2(col("share"))).otherwise(0.0))
          / log2(lit(periods.size.toDouble)) * 10000 + 0.5) / 10000)
          .as("spectral_entropy"))
      .orderBy(col("event_type"))
  }

  /** Mann–Kendall trend test per event type — the NONPARAMETRIC
    * "is this metric actually trending" gate (ts_forecast's linear
    * slope and ts_theilsen's median slope both report A trend; MK
    * says whether to believe it, monotone-robust, no normality
    * assumption): S = Σ_{i<j} sign(x_j − x_i), tie-corrected
    * variance Var·18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5), z with the
    * continuity correction (S∓1)/√Var. Exact-statistics posture:
    * ONE corpus pass to the O(types×days) daily aggregate, the
    * i<j pair join runs on that calendar-bounded relation (days²
    * per type, independent of event volume), and S / the variance
    * numerator stay exact int64 until a single final divide+sqrt —
    * partition- and engine-identical. Oracle replays the identical
    * integer arithmetic.
    */
  val tsMannKendall: QueryDef = QueryDef.sql(
    "ts_mann_kendall",
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT x.event_type,
      |    sum(CASE WHEN y.n > x.n THEN 1 WHEN y.n < x.n THEN -1 ELSE 0 END) AS s
      |  FROM daily x JOIN daily y
      |    ON y.event_type = x.event_type AND y.day > x.day
      |  GROUP BY 1),
      |nd AS (SELECT event_type, count(*) AS n FROM daily GROUP BY 1),
      |ties AS (
      |  SELECT event_type,
      |    sum(t * (t - 1) * (2 * t + 5)) AS tie_term
      |  FROM (SELECT event_type, n, count(*) AS t FROM daily GROUP BY 1, 2)
      |  GROUP BY 1),
      |v AS (
      |  SELECT nd.event_type, nd.n, s.s,
      |    nd.n * (nd.n - 1) * (2 * nd.n + 5) - ties.tie_term AS var18
      |  FROM nd JOIN s ON s.event_type = nd.event_type
      |  JOIN ties ON ties.event_type = nd.event_type)
      |SELECT event_type, CAST(n AS BIGINT) AS n_days, CAST(s AS BIGINT) AS s,
      |  CAST(var18 AS BIGINT) AS var18,
      |  round(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1)
      |               / sqrt(CAST(var18 AS DOUBLE) / 18)
      |             WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1)
      |               / sqrt(CAST(var18 AS DOUBLE) / 18)
      |             ELSE 0.0 END, 4) AS z
      |FROM v ORDER BY event_type""".stripMargin) { (s, d) =>
    val daily = graft.Ckpt.keep(Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n")))
    val y = daily.select(col("event_type").as("yt"), col("day").as("yday"),
      col("n").as("yn"))
    val sRel = daily.join(y,
        col("yt") === col("event_type") && col("yday") > col("day"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("yn") > col("n"), 1L)
        .when(col("yn") < col("n"), -1L).otherwise(0L)).as("s"))
    val nd = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val ties = daily.groupBy(col("event_type"), col("n").as("v"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
        .as("tie_term"))
    val zExpr = {
      val varD = (col("var18").cast("double") / 18)
      when(col("s") > 0, (col("s").cast("double") - 1) / sqrt(varD))
        .when(col("s") < 0, (col("s").cast("double") + 1) / sqrt(varD))
        .otherwise(0.0)
    }
    nd.join(sRel, Seq("event_type")).join(ties, Seq("event_type"))
      .withColumn("var18",
        col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) - col("tie_term"))
      .select(col("event_type"), col("n").cast("long").as("n_days"),
        col("s").cast("long").as("s"), col("var18").cast("long").as("var18"),
        round(zExpr, 4).as("z"))
      .orderBy(col("event_type"))
  }

  /** AR(2) autoregressive forecaster per event type — the
    * model-based upgrade over the straight-line trend (ts_forecast:
    * regr_slope can't bend) and the smoothing-only Holt (ts_holt has
    * no lag structure): x_t = φ₀ + φ₁x_{t−1} + φ₂x_{t−2} fit by
    * least squares on the zero-filled daily counts. The distributed
    * stage is ONE per-type aggregate of the 10 OLS sufficient stats
    * (+ the two newest values for the forecast) over the lagged
    * daily relation — O(types) rows to the driver, each solved as a
    * 3×3 normal-equation system (mining_ols machinery); forecast =
    * φ₀ + φ₁x_T + φ₂x_{T−1}. At 1M keys the same aggregate shape
    * holds (the solve could move into the plan; the stats never
    * grow). Rows-only (float sums); planted-AR(2) coefficient
    * recovery and forecast arithmetic pinned in ScalaTest.
    */
  /** Generated DuckDB replay of ar2Fit: the daily counts are
    * integer-valued, so all ten moments sum EXACTLY in doubles in
    * both engines, and the Cramer solve + sse/forecast algebra is
    * spelled with the Scala side's exact term order.
    */
  private val ar2Oracle: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |         CAST(count(*) AS DOUBLE) AS cnt
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
      |grid AS (
      |  SELECT event_type, CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM (SELECT DISTINCT event_type FROM daily), b),
      |dense AS (
      |  SELECT g.event_type AS key,
      |    CAST(g.day - DATE '2020-01-01' AS BIGINT) AS t,
      |    coalesce(d.cnt, 0) AS x
      |  FROM grid g LEFT JOIN daily d
      |    ON d.event_type = g.event_type AND d.day = g.day),
      |lagged AS (
      |  SELECT key, t, x,
      |    lag(x, 1) OVER (PARTITION BY key ORDER BY t) AS x1,
      |    lag(x, 2) OVER (PARTITION BY key ORDER BY t) AS x2
      |  FROM dense),
      |flt AS (SELECT * FROM lagged WHERE x2 IS NOT NULL),
      |m AS (
      |  SELECT key, CAST(count(*) AS DOUBLE) AS n,
      |    sum(x1) AS s1, sum(x2) AS s2, sum(x) AS sy,
      |    sum(x1*x1) AS s11, sum(x1*x2) AS s12, sum(x2*x2) AS s22,
      |    sum(x1*x) AS s1y, sum(x2*x) AS s2y, sum(x*x) AS syy,
      |    max_by(x, t) AS x_last, max_by(x1, t) AS x_prev
      |  FROM flt GROUP BY key),
      |det AS (
      |  SELECT key,
      |    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      |      s2 * (s1 * s12 - s11 * s2) AS det,
      |    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) +
      |      s2 * (s1y * s12 - s11 * s2y) AS d0,
      |    n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
      |      s2 * (s1 * s2y - s1y * s2) AS d1,
      |    n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
      |      sy * (s1 * s12 - s11 * s2) AS d2,
      |    n, s1, s2, s11, s12, s22, sy, s1y, s2y, syy, x_last, x_prev
      |  FROM m),
      |fit AS (
      |  SELECT key, d0 / det AS b0, d1 / det AS b1, d2 / det AS b2, * FROM det),
      |res AS (
      |  SELECT key, b0, b1, b2,
      |    syy - 2.0 * (b0 * sy + b1 * s1y + b2 * s2y) +
      |      (b0 * (n * b0 + s1 * b1 + s2 * b2) +
      |       b1 * (s1 * b0 + s11 * b1 + s12 * b2) +
      |       b2 * (s2 * b0 + s12 * b1 + s22 * b2)) AS sse,
      |    syy - sy * sy / n AS sst,
      |    b0 + b1 * x_last + b2 * x_prev AS forecast
      |  FROM fit)
      |SELECT key, round(b0, 4) AS phi0, round(b1, 4) AS phi1,
      |  round(b2, 4) AS phi2,
      |  round(CASE WHEN sst = 0 THEN 0.0 ELSE 1.0 - sse / sst END, 4) AS r2,
      |  round(forecast, 4) AS forecast
      |FROM res ORDER BY key""".stripMargin

  val tsAr2: QueryDef = QueryDef.sql("ts_ar2", ar2Oracle) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    val bounds = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val types = daily.select(col("event_type")).distinct()
    val grid = types.crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val dense = grid.join(daily, Seq("event_type", "day"), "left_outer")
      .select(col("event_type").as("key"),
        datediff(col("day"), to_date(lit("2020-01-01"))).cast("long").as("t"),
        coalesce(col("n"), lit(0.0)).as("x"))
    ar2Fit(s, dense).orderBy(col("key"))
  }

  /** TIME-weighted average value per event type — the correct mean
    * for step-function metrics (a price that held for six hours must
    * outweigh one that held a minute; the row-weighted avg —
    * q1-style — silently assumes uniform spacing). Each event's
    * value is weighted by its HOLD duration (epoch-second gap to the
    * type's next event via ONE lead window on the type exchange; the
    * final, open-ended observation drops out). All arithmetic is
    * EXACT until the last division: values in int64 micro-units,
    * weights in whole seconds, Σ(value·dur) in DECIMAL(38,0) — so
    * the result is partition-invariant and engine-identical by
    * construction (the events_cuped lesson, applied from the start).
    * Output also carries the plain avg so the bias is visible.
    */
  val tsTwa: QueryDef = QueryDef.sql(
    "ts_twa",
    """WITH o AS (
      |  SELECT event_type, value, epoch_us(ts) AS tus,
      |    lead(epoch_us(ts)) OVER (PARTITION BY event_type
      |      ORDER BY epoch_us(ts), event_id) AS nxt
      |  FROM events),
      |w AS (
      |  SELECT event_type,
      |    CAST(floor(value * 1000000.0) AS BIGINT) AS vm,
      |    (nxt - tus) // 1000000 AS dur
      |  FROM o WHERE nxt IS NOT NULL),
      |a AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(CAST(vm AS DECIMAL(38,0)) * dur) AS DOUBLE) * 1e-6 AS wsum,
      |    CAST(sum(dur) AS DOUBLE) AS dsum,
      |    CAST(sum(vm) AS DOUBLE) * 1e-6 AS vsum
      |  FROM w GROUP BY 1)
      |SELECT event_type, n,
      |  floor(wsum / dsum * 10000 + 0.5) / 10000 AS time_weighted_avg,
      |  floor(vsum / n * 10000 + 0.5) / 10000 AS row_avg
      |FROM a ORDER BY event_type""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("tus"), col("event_id"))
    val o = Tables.events(s, d)
      .select(col("event_type"), col("value"), col("event_id"),
        unix_micros(col("ts")).as("tus"))
      .withColumn("nxt", lead(col("tus"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("event_type"),
        floor(col("value") * 1000000.0).cast("long").as("vm"),
        ((col("nxt") - col("tus")) / 1000000).cast("long").as("dur"))
    o.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(col("vm").cast("decimal(38,0)") * col("dur")).cast("double") * 1e-6)
          .as("wsum"),
        sum(col("dur")).cast("double").as("dsum"),
        (sum(col("vm")).cast("double") * 1e-6).as("vsum"))
      .select(col("event_type"), col("n"),
        (floor(col("wsum") / col("dsum") * 10000 + 0.5) / 10000)
          .as("time_weighted_avg"),
        (floor(col("vsum") / col("n") * 10000 + 0.5) / 10000).as("row_avg"))
      .orderBy(col("event_type"))
  }

  /** Lagged CROSS-correlation between the click and purchase daily
    * series — the lead/lag diagnostic ("which signal moves first,
    * and by how much?") that autocorrelation (ts_autocorr) can't
    * answer: corr(click_t, purchase_{t+ℓ}) for ℓ ∈ −7..7, with the
    * peak lag reported per the corr/lag ordering. The two series
    * join on shifted day keys (equality join on the O(days) DAILY
    * aggregates — the ×15 lag probe is a map-side explode of one
    * side, never a corpus operation); corr is Spark/DuckDB's
    * identical Pearson over int counts. Positive peak lag = clicks
    * lead purchases by ℓ days.
    */
  val tsXcorr: QueryDef = QueryDef.sql(
    "ts_xcorr",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    count(*) AS n
      |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2),
      |a AS (SELECT day, n AS x FROM daily WHERE event_type = 'click'),
      |b AS (SELECT day, n AS y FROM daily WHERE event_type = 'purchase'),
      |probes AS (
      |  SELECT a.day, a.x, g.lag FROM a
      |  CROSS JOIN (SELECT unnest(generate_series(-7, 7)) AS lag) g),
      |paired AS (
      |  SELECT p.lag, p.x, b.y
      |  FROM probes p JOIN b ON b.day = p.day + to_days(CAST(p.lag AS INT)))
      |SELECT lag, count(*) AS n_pairs,
      |  round(corr(x, y), 4) AS xcorr
      |FROM paired GROUP BY 1 ORDER BY lag""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val a = daily.filter(col("event_type") === "click")
      .select(col("day"), col("n").as("x"))
    val b = daily.filter(col("event_type") === "purchase")
      .select(col("day").as("bday"), col("n").as("y"))
    a.select(col("day"), col("x"),
        explode(lit((-7 to 7).toArray)).as("lag"))
      .join(b, col("bday") === date_add(col("day"), col("lag")))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"), round(corr(col("x"), col("y")), 4).as("xcorr"))
      .orderBy(col("lag"))
  }

  /** AR(2) fit core over a (key, t, x) series — see ts_ar2. */
  def ar2Fit(s: SparkSession, series: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("t"))
    val lagged = series
      .withColumn("x1", lag(col("x"), 1).over(w))
      .withColumn("x2", lag(col("x"), 2).over(w))
      .filter(col("x2").isNotNull)
    val stats = lagged.groupBy(col("key")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x1")).as("s1"), sum(col("x2")).as("s2"), sum(col("x")).as("sy"),
      sum(col("x1") * col("x1")).as("s11"), sum(col("x1") * col("x2")).as("s12"),
      sum(col("x2") * col("x2")).as("s22"), sum(col("x1") * col("x")).as("s1y"),
      sum(col("x2") * col("x")).as("s2y"), sum(col("x") * col("x")).as("syy"),
      max(struct(col("t"), col("x"))).getField("x").as("x_last"),
      max(struct(col("t"), col("x1"))).getField("x1").as("x_prev"))
    val rows = stats.collect().map { r =>
      val key = r.getString(0)
      val Seq(n, s1, s2, sy, s11, s12, s22, s1y, s2y, syy) =
        (1 to 10).map(r.getDouble)
      // Cramer's rule (Linkage.cramer3) instead of an LU solve: the
      // moments are exact (integer-valued inputs sum exactly in
      // doubles), so the explicit determinant expressions land on
      // engine-identical betas the DuckDB oracle replays verbatim.
      val (b0, b1, b2) =
        Linkage.cramer3(n, s1, s2, s11, s12, s22, sy, s1y, s2y)
      val sse = syy - 2.0 * (b0 * sy + b1 * s1y + b2 * s2y) +
        (b0 * (n * b0 + s1 * b1 + s2 * b2) +
          b1 * (s1 * b0 + s11 * b1 + s12 * b2) +
          b2 * (s2 * b0 + s12 * b1 + s22 * b2))
      val sst = syy - sy * sy / n
      val r2 = if (sst == 0) 0.0 else 1.0 - sse / sst
      val forecast = b0 + b1 * r.getDouble(11) + b2 * r.getDouble(12)
      def r4(v: Double): Double =
        BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (key, r4(b0), r4(b1), r4(b2), r4(r2), r4(forecast))
    }
    import s.implicits._
    rows.toSeq.toDF("key", "phi0", "phi1", "phi2", "r2", "forecast")
  }

  // Kalman local-level noise parameters (shared by the driver gain
  // loop and, as literals, by the oracle's recursive CTE).
  private val KalQ = 0.01
  private val KalR = 1.0

  /** Time-varying Kalman gain/normalizer sequence for the local-level
    * model, p0 = 1: k_t = (p+q)/(p+q+r), p ← r·k_t, c_t = Π(1−k_i).
    * The recursion is DATA-INDEPENDENT (it never sees an
    * observation), so the O(days) scalar loop runs on the driver —
    * bounded by the calendar, not the corpus — and broadcast-joins
    * by day index. Expression order mirrors the oracle's recursive
    * CTE literally, so the doubles are bit-identical.
    */
  private def kalmanGains(n: Int): Seq[(Int, Double, Double)] = {
    var p = 1.0
    var c = 1.0
    (1 to n).map { rn =>
      val k = (p + KalQ) / (p + KalQ + KalR)
      p = KalR * k
      c = c * (1 - k)
      (rn, k, c)
    }
  }

  /** KALMAN FILTER (local level): the optimal recursive smoother
    * l_t = l_{t-1} + k_t·(x_t − l_{t-1}) over the daily count series
    * per event type — unlike ts_ewma's fixed α, the gain k_t starts
    * high (trust the data while the level estimate is uncertain) and
    * converges to the steady-state signal-to-noise optimum, which is
    * why Kalman initialization doesn't suffer EWMA's warm-up bias.
    * Distributed form: the time-varying linear recursion has the
    * closed form l_t = c_t · Σ_{j≤t} (k_j/c_j)·x_j with
    * c_t = Π_{i≤t}(1−k_i), so the corpus cost is ONE daily aggregate
    * + one cumulative-sum window over the O(types×days) relation;
    * the gain sequence itself is data-independent (computed driver-
    * side, broadcast). c_t decays geometrically toward the
    * steady-state rate, so for multi-year horizons a production
    * deployment renormalizes per segment (chunk the series and chain
    * segment boundaries) — same O(aggregate) cost. Oracle replays
    * the identical gain recursion via a recursive CTE and the same
    * windowed closed form.
    */
  val tsKalman: QueryDef = QueryDef.sql(
    "ts_kalman",
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |         CAST(count(*) AS DOUBLE) AS x
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT event_type, day, x,
      |         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM daily),
      |gains(rn, k, p, c) AS (
      |  SELECT 1,
      |         (1.0 + 0.01) / (1.0 + 0.01 + 1.0),
      |         1.0 * ((1.0 + 0.01) / (1.0 + 0.01 + 1.0)),
      |         1 - (1.0 + 0.01) / (1.0 + 0.01 + 1.0)
      |  UNION ALL
      |  SELECT rn + 1,
      |         (p + 0.01) / (p + 0.01 + 1.0),
      |         1.0 * ((p + 0.01) / (p + 0.01 + 1.0)),
      |         c * (1 - (p + 0.01) / (p + 0.01 + 1.0))
      |  FROM gains WHERE rn < (SELECT max(rn) FROM idx))
      |SELECT i.event_type, i.day, CAST(i.x AS BIGINT) AS n,
      |       round(g.k, 6) AS gain,
      |       round(g.c * sum(g.k / g.c * i.x) OVER (
      |         PARTITION BY i.event_type ORDER BY i.rn
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 3) AS level
      |FROM idx i JOIN gains g ON g.rn = i.rn
      |ORDER BY event_type, day""".stripMargin) { (s, d) =>
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("x"))
    // max series length: one tiny two-stage aggregate, O(1) to driver
    val nDays = daily.groupBy(col("event_type")).count()
      .agg(max("count")).head().getLong(0).toInt
    val gains = kalmanGains(nDays).toDF("rn", "k", "c")
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("rn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("rn", row_number().over(wOrd))
      .join(broadcast(gains), "rn")
      .withColumn("level",
        col("c") * sum(col("k") / col("c") * col("x")).over(wCum))
      .select(col("event_type"), col("day"), col("x").cast("long").as("n"),
        round(col("k"), 6).as("gain"), round(col("level"), 3).as("level"))
      .orderBy(col("event_type"), col("day"))
  }

  /** ROLLING-ORIGIN BACKTEST — the honest evaluation ts_forecast
    * itself can't provide: for each of the last 5 days (folds), fit
    * the linear trend ONLY on strictly earlier days and score the
    * held-out day, then report per-type MAPE. This is how a forecast
    * op earns trust in production (a model evaluated on its own
    * training window always looks good). Exact-statistics pattern:
    * per (type, cutoff), the OLS fit reduces to 5 integer sums
    * (m, Σx, Σy, Σxy, Σx²) over the O(types×days) daily aggregate —
    * exact in int64 regardless of partitioning — and the prediction
    * is ONE shared float expression
    * ŷ = [(ΣyΣx² − ΣxΣxy) + (mΣxy − ΣxΣy)·x₀] / (mΣx² − (Σx)²),
    * spelled identically in the oracle. The ×5 fold probe is a
    * map-side explode over the aggregate, never corpus work.
    */
  val tsBacktest: QueryDef = QueryDef.sql(
    "ts_backtest",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |         count(*) AS y
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT event_type, day, y,
      |         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM daily),
      |folds AS (
      |  SELECT event_type, max(rn) - k.k AS cutoff
      |  FROM idx CROSS JOIN (VALUES (0),(1),(2),(3),(4)) k(k)
      |  GROUP BY event_type, k.k),
      |fit AS (
      |  SELECT f.event_type, f.cutoff,
      |    count(*) AS m, sum(i.rn) AS sx, sum(i.y) AS sy,
      |    sum(i.rn * i.y) AS sxy, sum(i.rn * i.rn) AS sxx
      |  FROM folds f JOIN idx i
      |    ON i.event_type = f.event_type AND i.rn < f.cutoff
      |  GROUP BY 1, 2),
      |pred AS (
      |  SELECT t.event_type, t.cutoff, a.y,
      |    CAST((t.sy * t.sxx - t.sx * t.sxy)
      |         + (t.m * t.sxy - t.sx * t.sy) * t.cutoff AS DOUBLE)
      |      / (t.m * t.sxx - t.sx * t.sx) AS yhat
      |  FROM fit t JOIN idx a
      |    ON a.event_type = t.event_type AND a.rn = t.cutoff)
      |SELECT event_type, count(*) AS n_folds,
      |  round(avg(abs(yhat - y) / y), 6) AS mape
      |FROM pred GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    val idx = daily.withColumn("rn", row_number().over(
      Window.partitionBy(col("event_type")).orderBy(col("day"))))
    val folds = idx.groupBy(col("event_type")).agg(max(col("rn")).as("rmax"))
      .withColumn("k", explode(sequence(lit(0), lit(4))))
      .select(col("event_type").as("f_type"),
        (col("rmax") - col("k")).cast("long").as("cutoff"))
    val fit = idx
      .join(broadcast(folds),
        col("event_type") === col("f_type") && col("rn") < col("cutoff"))
      .groupBy(col("event_type"), col("cutoff"))
      .agg(count(lit(1)).as("m"), sum(col("rn")).as("sx"),
        sum(col("y")).as("sy"), sum(col("rn") * col("y")).as("sxy"),
        sum(col("rn") * col("rn")).as("sxx"))
    val actual = idx.select(col("event_type").as("a_type"),
      col("rn").cast("long").as("a_rn"), col("y"))
    fit
      .join(broadcast(actual),
        col("a_type") === col("event_type") && col("a_rn") === col("cutoff"))
      .withColumn("yhat",
        ((col("sy") * col("sxx") - col("sx") * col("sxy"))
          + (col("m") * col("sxy") - col("sx") * col("sy")) * col("cutoff"))
          .cast("double")
          / (col("m") * col("sxx") - col("sx") * col("sx")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_folds"),
        round(avg(abs(col("yhat") - col("y")) / col("y")), 6).as("mape"))
      .orderBy(col("event_type"))
  }

  /** Holt-Winters additive seasonal smoothing (hourly counts, period
    * 24) — the seasonal upgrade over ts_holt (level+trend only) and
    * ts_decompose (descriptive, no update rule): level and trend via
    * the closed-form double-EWMA prefix sum (α = 0.2) on the
    * DESEASONALIZED series, seasonal state via the γ-EWMA (γ = 0.3)
    * of the level residuals — and because the seasonal recurrence
    * seas_t = γ·d_t + (1−γ)·seas_{t−24} only ever references its own
    * hour-of-day slot, it is an ordinary EWMA WITHIN each
    * (type, hod) lane: both recurrences collapse to cumulative-sum
    * window functions, no sequential pass anywhere. Initial indices
    * seas₀ = lane mean − series mean come from the same O(types ×
    * hours) dense-grid relation (window avgs, zero extra scans).
    * Every window partitions by type (or type × hod) over the
    * bounded TIME GRID — O(days·24) rows per lane regardless of
    * corpus size; the closed form's pow(decay, rn) rescaling is
    * exact to ~2000 steps (double range), past which a production
    * run would chunk the series. Identical formulation both engines.
    */
  val tsHoltWinters: QueryDef = QueryDef.sql(
    "ts_holt_winters",
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |bounds AS (SELECT date_trunc('hour', min(ts)) AS lo,
      |                  date_trunc('hour', max(ts)) AS hi FROM events),
      |grid AS (SELECT t.event_type, g.h AS hour
      |         FROM (SELECT DISTINCT event_type FROM events) t
      |         CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      |                     FROM bounds) g),
      |dense AS (
      |  SELECT g.event_type, g.hour, hour(g.hour) AS hod,
      |         CAST(coalesce(h.n, 0) AS DOUBLE) AS x
      |  FROM grid g LEFT JOIN hourly h
      |    ON h.event_type = g.event_type AND h.hour = g.hour),
      |seas0 AS (
      |  SELECT event_type, hour, hod, x,
      |    avg(x) OVER (PARTITION BY event_type, hod)
      |      - avg(x) OVER (PARTITION BY event_type) AS s0,
      |    row_number() OVER (PARTITION BY event_type ORDER BY hour) AS rn,
      |    row_number() OVER (PARTITION BY event_type, hod ORDER BY hour) AS rnl
      |  FROM dense),
      |l1 AS (
      |  SELECT *,
      |    power(0.8, rn) * sum((x - s0) * (CASE WHEN rn = 1 THEN 1.0 ELSE 0.2 END)
      |      / power(0.8, rn)) OVER (PARTITION BY event_type ORDER BY rn
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1
      |  FROM seas0),
      |l2 AS (
      |  SELECT *,
      |    power(0.8, rn) * sum(s1 * (CASE WHEN rn = 1 THEN 1.0 ELSE 0.2 END)
      |      / power(0.8, rn)) OVER (PARTITION BY event_type ORDER BY rn
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s2
      |  FROM l1),
      |lev AS (SELECT *, 2 * s1 - s2 AS level FROM l2),
      |sea AS (
      |  SELECT *,
      |    power(0.7, rnl) * s0
      |      + power(0.7, rnl) * sum(0.3 * (x - level) / power(0.7, rnl))
      |        OVER (PARTITION BY event_type, hod ORDER BY rnl
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seas
      |  FROM lev)
      |SELECT event_type, hour, CAST(x AS BIGINT) AS n,
      |  round(level, 3) + 0 AS level,
      |  round(0.25 * (s1 - s2), 3) + 0 AS trend,
      |  round(seas, 3) + 0 AS seas,
      |  round(level + seas, 3) + 0 AS fitted
      |FROM sea ORDER BY event_type, hour""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val hourly = ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h_hour"))
      .agg(count(lit(1)).as("hn"))
      .withColumnRenamed("event_type", "h_type")
    val hours = ev
      .agg(date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("hour"))
    val dense = ev.select(col("event_type")).distinct().crossJoin(hours)
      .join(hourly,
        col("event_type") === col("h_type") && col("hour") === col("h_hour"),
        "left_outer")
      .select(col("event_type"), col("hour"), hour(col("hour")).as("hod"),
        coalesce(col("hn"), lit(0L)).cast("double").as("x"))
    val wLane = Window.partitionBy(col("event_type"), col("hod"))
    val wType = Window.partitionBy(col("event_type"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    val wLaneOrd = Window.partitionBy(col("event_type"), col("hod")).orderBy(col("hour"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("rn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLaneCum = Window.partitionBy(col("event_type"), col("hod")).orderBy(col("rnl"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def ewmaOf(c: Column): Column =
      pow(lit(0.8), col("rn")) * sum(
        c * when(col("rn") === 1, 1.0).otherwise(0.2) / pow(lit(0.8), col("rn"))
      ).over(wCum)
    dense
      .withColumn("s0", avg(col("x")).over(wLane) - avg(col("x")).over(wType))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("rnl", row_number().over(wLaneOrd))
      .withColumn("s1", ewmaOf(col("x") - col("s0")))
      .withColumn("s2", ewmaOf(col("s1")))
      .withColumn("level", lit(2) * col("s1") - col("s2"))
      .withColumn("seas",
        pow(lit(0.7), col("rnl")) * col("s0")
          + pow(lit(0.7), col("rnl")) * sum(
            lit(0.3) * (col("x") - col("level")) / pow(lit(0.7), col("rnl"))
          ).over(wLaneCum))
      .select(col("event_type"), col("hour"), col("x").cast("long").as("n"),
        // + 0.0 folds IEEE −0.0 to +0.0 so both engines print one zero
        (round(col("level"), 3) + lit(0.0)).as("level"),
        (round(lit(0.25) * (col("s1") - col("s2")), 3) + lit(0.0)).as("trend"),
        (round(col("seas"), 3) + lit(0.0)).as("seas"),
        (round(col("level") + col("seas"), 3) + lit(0.0)).as("fitted"))
      .orderBy(col("event_type"), col("hour"))
  }

  // ---- generalized ESD (Rosner 1983) ---------------------------------

  /** Regularized incomplete beta I_x(a,b) by the Numerical-Recipes
    * continued fraction (Lentz), driver-side only — feeds the exact
    * Student-t quantiles the ESD critical values need.
    */
  private[graft] def regIncBeta(a: Double, b: Double, x: Double): Double = {
    if (x <= 0.0) return 0.0
    if (x >= 1.0) return 1.0
    def lnGamma(z: Double): Double = { // Lanczos g=7, n=9
      val c = Array(0.99999999999980993, 676.5203681218851, -1259.1392167224028,
        771.32342877765313, -176.61502916214059, 12.507343278686905,
        -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
      if (z < 0.5) math.log(math.Pi / math.sin(math.Pi * z)) - lnGamma(1.0 - z)
      else {
        val zz = z - 1.0
        val base = zz + 7.5
        var s = c(0)
        var i = 1
        while (i < 9) { s += c(i) / (zz + i); i += 1 }
        0.5 * math.log(2 * math.Pi) + (zz + 0.5) * math.log(base) - base + math.log(s)
      }
    }
    def betacf(aa: Double, bb: Double, xx: Double): Double = {
      val fpmin = 1e-300
      val qab = aa + bb; val qap = aa + 1.0; val qam = aa - 1.0
      var c = 1.0
      var dd = 1.0 - qab * xx / qap
      if (math.abs(dd) < fpmin) dd = fpmin
      dd = 1.0 / dd
      var h = dd
      var m = 1
      while (m <= 200) {
        val m2 = 2 * m
        var numer = m * (bb - m) * xx / ((qam + m2) * (aa + m2))
        dd = 1.0 + numer * dd; if (math.abs(dd) < fpmin) dd = fpmin
        c = 1.0 + numer / c; if (math.abs(c) < fpmin) c = fpmin
        dd = 1.0 / dd
        h *= dd * c
        numer = -(aa + m) * (qab + m) * xx / ((aa + m2) * (qap + m2))
        dd = 1.0 + numer * dd; if (math.abs(dd) < fpmin) dd = fpmin
        c = 1.0 + numer / c; if (math.abs(c) < fpmin) c = fpmin
        dd = 1.0 / dd
        val del = dd * c
        h *= del
        if (math.abs(del - 1.0) < 1e-12) return h
        m += 1
      }
      h
    }
    val front = math.exp(lnGamma(a + b) - lnGamma(a) - lnGamma(b)
      + a * math.log(x) + b * math.log(1.0 - x))
    if (x < (a + 1.0) / (a + b + 2.0)) front * betacf(a, b, x) / a
    else 1.0 - math.exp(lnGamma(a + b) - lnGamma(a) - lnGamma(b)
      + b * math.log(1.0 - x) + a * math.log(x)) * betacf(b, a, 1.0 - x) / b
  }

  /** Upper-tail Student-t quantile by bisection on the exact CDF
    * F(t) = 1 − ½·I_{ν/(ν+t²)}(ν/2, ½); p ∈ (0.5, 1), ν ≥ 1.
    */
  private[graft] def tQuantile(p: Double, nu: Double): Double = {
    def cdf(t: Double): Double =
      if (t >= 0) 1.0 - 0.5 * regIncBeta(nu / 2.0, 0.5, nu / (nu + t * t))
      else 0.5 * regIncBeta(nu / 2.0, 0.5, nu / (nu + t * t))
    var lo = 0.0; var hi = 1e3
    var i = 0
    while (i < 200) { val mid = (lo + hi) / 2; if (cdf(mid) < p) lo = mid else hi = mid; i += 1 }
    (lo + hi) / 2
  }

  val EsdK = 5
  val EsdAlpha = 0.05

  /** Generalized extreme studentized deviate test (Rosner 1983) on
    * the DAILY event-count series — "are the k most extreme days
    * statistically anomalous?", with exact multiple-testing-safe
    * critical values (the test behind Twitter's S-H-ESD anomaly
    * alerting). The corpus collapses to O(days) in ONE aggregate;
    * the k-round strip-the-max loop and the Student-t critical
    * values λᵢ = (n−i)·t / √((n−i−1+t²)(n−i+1)) are driver-side
    * O(k·days) arithmetic on that bounded relation — the same
    * closed-form-driver-solve posture as ts_kalman/ts_ar2, so no
    * corpus-sized window or second scan exists. ESD's decision rule
    * is deliberately non-greedy: outliers = all ranks ≤ the LAST i
    * with Rᵢ > λᵢ (masking-proof). Rows-only (float R/λ); ScalaTest
    * pins R₁ against a direct replay, λ monotone decreasing, the
    * decision-rule shape, and determinism.
    */
  val tsEsd: QueryDef = QueryDef.rowsOnly("ts_esd") { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1).toDouble))
      .sortBy(_._1)
    val n = daily.length
    val k = math.min(EsdK, math.max(n - 2, 0))
    var remaining = daily.toVector
    val rounds = (1 to k).map { i =>
      val m = remaining.map(_._2).sum / remaining.size
      val sd = math.sqrt(
        remaining.map(x => (x._2 - m) * (x._2 - m)).sum / (remaining.size - 1))
      val cand = remaining.maxBy(x => (math.abs(x._2 - m), x._1))
      val r = if (sd == 0) 0.0 else math.abs(cand._2 - m) / sd
      val ni = n - i + 1 // size of the set R_i was computed over
      val pq = 1.0 - EsdAlpha / (2.0 * ni)
      val t = tQuantile(pq, (ni - 2).toDouble)
      val lam = (ni - 1) * t / math.sqrt((ni - 2 + t * t) * ni.toDouble)
      remaining = remaining.filterNot(_ == cand)
      (i, cand._1, cand._2.toLong, r, lam)
    }
    val lastSig = rounds.filter { case (_, _, _, r, lam) => r > lam }
      .map(_._1).sorted.lastOption.getOrElse(0)
    import s.implicits._
    rounds.map { case (i, day, v, r, lam) =>
      (i, day, v,
        BigDecimal(r).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(lam).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        i <= lastSig)
    }.toDF("rank", "day", "n_events", "r_stat", "lambda", "is_outlier")
      .orderBy(col("rank"))
  }

  /** SAX symbolization (Lin et al. 2003) of each event type's daily
    * count series — the symbolic-aggregate approximation behind
    * motif/discord discovery and whole-series indexing: z-normalize
    * the series, average it into 8 PAA buckets, and cut each bucket
    * mean against the Gaussian quartile breakpoints (±0.6745, 0) into
    * a 4-letter alphabet; two series with the same word are
    * distributionally similar regardless of absolute volume. ONE
    * corpus pass to the O(types×days) daily aggregate; everything
    * downstream (windows, PAA groupBy) runs on that bounded relation
    * sharing the event_type exchange. All sufficient statistics
    * (Σn, Σn², per-bucket sums/counts) stay exact int64; floats enter
    * once in a single shared z expression — identical IEEE evaluation
    * order in Spark and DuckDB, rounded to 6dp before the symbol cut
    * so both engines bucket identical values. Constant series (σ=0)
    * are excluded by an exact integer variance guard.
    */
  val tsSax: QueryDef = QueryDef.sql(
    "ts_sax",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |         count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, n,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
      |    count(*) OVER (PARTITION BY event_type) AS d,
      |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS s,
      |    CAST(sum(n * n) OVER (PARTITION BY event_type) AS BIGINT) AS ss
      |  FROM daily),
      |paa AS (
      |  SELECT event_type, d, s, ss,
      |         CAST(floor(((t - 1) * 8.0) / d) AS BIGINT) AS bucket,
      |         CAST(sum(n) AS BIGINT) AS bs, count(*) AS bc
      |  FROM st GROUP BY 1, 2, 3, 4, 5),
      |z AS (
      |  SELECT event_type, d, bucket,
      |    round((CAST(bs AS DOUBLE) / bc - CAST(s AS DOUBLE) / d)
      |      / sqrt((CAST(ss AS DOUBLE) * d - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
      |             / (CAST(d AS DOUBLE) * d)), 6) AS zz
      |  FROM paa WHERE ss * d > s * s),
      |sym AS (
      |  SELECT event_type, d, bucket,
      |    CASE WHEN zz < -0.6745 THEN 'a' WHEN zz < 0.0 THEN 'b'
      |         WHEN zz < 0.6745 THEN 'c' ELSE 'd' END AS sg
      |  FROM z)
      |SELECT event_type, CAST(d AS BIGINT) AS n_days,
      |       string_agg(sg, '' ORDER BY bucket) AS sax_word
      |FROM sym GROUP BY 1, 2 ORDER BY event_type""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val whole = Window.partitionBy(col("event_type"))
    val st = daily
      .withColumn("t", row_number().over(byDay))
      .withColumn("d", count(lit(1)).over(whole))
      .withColumn("s", sum(col("n")).over(whole).cast("long"))
      .withColumn("ss", sum(col("n") * col("n")).over(whole).cast("long"))
    val paa = st
      .withColumn("bucket",
        floor(((col("t") - 1) * lit(8.0)) / col("d")).cast("long"))
      .groupBy(col("event_type"), col("d"), col("s"), col("ss"), col("bucket"))
      .agg(sum(col("n")).cast("long").as("bs"), count(lit(1)).as("bc"))
    val z = paa
      .filter(col("ss") * col("d") > col("s") * col("s"))
      .withColumn("zz",
        round((col("bs").cast("double") / col("bc")
            - col("s").cast("double") / col("d"))
          / sqrt((col("ss").cast("double") * col("d")
              - col("s").cast("double") * col("s").cast("double"))
            / (col("d").cast("double") * col("d"))), 6))
    val sym = z.withColumn("sg",
      when(col("zz") < -0.6745, "a").when(col("zz") < 0.0, "b")
        .when(col("zz") < 0.6745, "c").otherwise("d"))
    sym.groupBy(col("event_type"), col("d").cast("long").as("n_days"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("bucket"), col("sg")))),
          e => e.getField("sg")), "").as("sax_word"))
      .orderBy(col("event_type"))
  }

  private val MotifW = 24   // subsequence length (hours)
  private val MotifPaa = 6  // PAA segments per SAX word
  private val MotifSeg = MotifW / MotifPaa

  /** Time-series motif discovery via SAX collision bucketing (Chiu,
    * Keogh, Lonardi KDD 2003 — probabilistic motif discovery; the
    * LSH pattern of dedup_minhash applied to subsequences): find
    * recurring 24-hour shapes in each event type's hourly series.
    * Pipeline: hourly aggregate (the only corpus-sized work) →
    * sliding w=24 subsequences from a window collect over the
    * O(hours) relation → per-subsequence z-normalization + 6-segment
    * PAA + quartile-breakpoint SAX word, ALL as codegen'd
    * higher-order array expressions (aggregate/transform/slice —
    * no UDF) → candidate pairs ONLY within (type, word) collision
    * buckets via equality self-join (candidate work Σ|bucket|²,
    * never windows²; word length/alphabet tune bucket granularity
    * at scale) → exact z-normalized Euclidean distance per candidate
    * (zip_with + aggregate) with trivial-match exclusion (overlap
    * < w apart) → top-3 motif pairs per type from a window over the
    * candidate relation. Rows-only (float distances); ScalaTest
    * pins bucket validity (pair words match), exact distance replay
    * driver-side, non-overlap, within-bucket minimality of rank 1,
    * and determinism (fixed array orders end-to-end).
    */
  /** Shared subsequence relation for ts_motif / ts_discord:
    * (event_type, t, word, zs) — sliding w=24 z-normalized hourly
    * subsequences with their SAX words, O(hours) rows.
    */
  private[graft] def saxSubs(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).cast("double").as("n"))
    val byHour = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    hourly
      .withColumn("t", row_number().over(byHour))
      .withColumn("xs",
        collect_list(col("n")).over(byHour.rowsBetween(0, MotifW - 1)))
      .filter(size(col("xs")) === MotifW)
      .withColumn("mu", expr(s"aggregate(xs, 0D, (a, x) -> a + x) / $MotifW"))
      .withColumn("sd", expr(
        s"sqrt(aggregate(xs, 0D, (a, x) -> a + (x - mu) * (x - mu)) / $MotifW)"))
      .filter(col("sd") > 0)
      .withColumn("zs", expr("transform(xs, x -> (x - mu) / sd)"))
      .withColumn("word", expr(
        s"""array_join(transform(sequence(0, ${MotifPaa - 1}), j ->
           |  CASE WHEN aggregate(slice(zs, j * $MotifSeg + 1, $MotifSeg),
           |              0D, (a, x) -> a + x) / $MotifSeg < -0.6745 THEN 'a'
           |       WHEN aggregate(slice(zs, j * $MotifSeg + 1, $MotifSeg),
           |              0D, (a, x) -> a + x) / $MotifSeg < 0.0 THEN 'b'
           |       WHEN aggregate(slice(zs, j * $MotifSeg + 1, $MotifSeg),
           |              0D, (a, x) -> a + x) / $MotifSeg < 0.6745 THEN 'c'
           |       ELSE 'd' END), '')""".stripMargin))
      .select(col("event_type"), col("t"), col("word"), col("zs"))
  }

  /** DuckDB replay of the motif search. Every float derives from
    * exact integer hourly counts through the identical operation
    * order (list folds seed left-to-right like Spark's aggregate), so
    * z-vectors, SAX words, and pair distances are engine-identical —
    * including the UNROUNDED rank ordering.
    */
  private val motifOracle: String = {
    val w = MotifW; val segLen = MotifSeg
    val segCase = (0 until MotifPaa).map { j =>
      val segMean =
        s"list_reduce(list_slice(zs, ${j * segLen + 1}, ${j * segLen + segLen}), (a, x) -> a + x) / $segLen"
      s"""CASE WHEN $segMean < -0.6745 THEN 'a'
         |     WHEN $segMean < 0.0 THEN 'b'
         |     WHEN $segMean < 0.6745 THEN 'c'
         |     ELSE 'd' END""".stripMargin
    }.mkString("concat(", ",\n    ", ")")
    s"""WITH hourly AS (
       |  SELECT event_type, date_trunc('hour', ts) AS hour,
       |         CAST(count(*) AS DOUBLE) AS n
       |  FROM events GROUP BY 1, 2),
       |ser AS (SELECT event_type, list(n ORDER BY hour) AS xs
       |        FROM hourly GROUP BY 1),
       |sub0 AS (
       |  SELECT event_type, t, list_slice(xs, t, t + ${w - 1}) AS w
       |  FROM ser, UNNEST(generate_series(1, len(xs) - ${w - 1})) AS u(t)),
       |m1 AS (SELECT event_type, t, w,
       |         list_reduce(w, (a, x) -> a + x) / $w AS mu FROM sub0),
       |m2 AS (SELECT event_type, t, w, mu,
       |         sqrt(list_reduce(list_transform(w, x -> (x - mu) * (x - mu)),
       |           (a, x) -> a + x) / $w) AS sd
       |       FROM m1),
       |zs0 AS (SELECT event_type, t,
       |          list_transform(w, x -> (x - mu) / sd) AS zs
       |        FROM m2 WHERE sd > 0),
       |wd AS (SELECT event_type, t, zs,
       |  $segCase AS word FROM zs0),
       |p AS (
       |  SELECT a.event_type, a.word, a.t AS t1, b.t AS t2,
       |    sqrt(list_reduce(list_transform(list_zip(a.zs, b.zs),
       |      q -> (q[1] - q[2]) * (q[1] - q[2])), (x, y) -> x + y)) AS dist
       |  FROM wd a JOIN wd b ON b.event_type = a.event_type
       |    AND b.word = a.word AND a.t + $w <= b.t),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY event_type
       |             ORDER BY dist, t1, t2) AS rank FROM p)
       |SELECT event_type, CAST(rank AS INTEGER) AS rank,
       |  CAST(t1 AS INTEGER) AS t1, CAST(t2 AS INTEGER) AS t2,
       |  word AS sax_word, floor(dist * 10000 + 0.5) / 10000 AS dist
       |FROM ranked WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin
  }

  val tsMotif: QueryDef = QueryDef.sql("ts_motif", motifOracle) { (s, d) =>
    val sub = saxSubs(s, d)
    val a = sub.select(col("event_type"), col("word"),
      col("t").as("t1"), col("zs").as("za"))
    val b = sub.select(col("event_type").as("et2"), col("word").as("w2"),
      col("t").as("t2"), col("zs").as("zb"))
    val cand = a.join(b,
        col("event_type") === col("et2") && col("word") === col("w2")
          && col("t1") + MotifW <= col("t2"))
      .withColumn("dist", sqrt(expr(
        "aggregate(zip_with(za, zb, (x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x)")))
    val ranked = cand
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("dist"), col("t1"), col("t2"))))
      .filter(col("rank") <= 3)
    ranked.select(col("event_type"), col("rank"), col("t1"), col("t2"),
        col("word").as("sax_word"),
        (floor(col("dist") * 10000 + lit(0.5)) / 10000).as("dist"))
      .orderBy(col("event_type"), col("rank"))
  }

  private val DiscordCands = 8

  /** Time-series discord discovery — HOT SAX (Keogh, Lin, Fu ICDM
    * 2005): the subsequence FARTHEST from its nearest neighbor, i.e.
    * the most anomalous 24-hour shape per event type (the
    * subsequence-level counterpart of the pointwise detectors
    * events_anomaly / ts_esd: a discord can be anomalous while every
    * individual point is normal). Exact discord needs all-pairs NN;
    * HOT SAX's insight is that discords live in RARE SAX buckets, so
    * restrict the outer loop to the 8 rarest-bucket subsequences per
    * type and compute their EXACT nearest neighbor against all
    * non-overlapping same-type subsequences — O(cands·n) distance
    * work instead of O(n²), on the already-O(hours) subsequence
    * relation (shared with ts_motif). Distances are the same
    * codegen'd zip_with/aggregate expressions; NN = min over a
    * (dist, t) struct (deterministic tie-break). Output: top-2
    * discords per type with their bucket size, NN index and NN
    * distance. Reported discords are exact NN distances; the
    * restriction to rare buckets is the documented HOT SAX heuristic
    * for the outer candidate set. Rows-only; ScalaTest pins exact
    * driver NN replay, candidate-set membership (rarest buckets),
    * rank ordering, and determinism.
    */
  /** DuckDB replay of HOT SAX: the motif oracle's subsequence/word
    * CTEs, the rarest-bucket candidate pick ((bsz, word, t) order),
    * exact NN distances over the non-overlapping same-type
    * subsequences, and the (dist, t) struct-min as a window pick.
    */
  private val discordOracle: String = {
    // reuse the motif prefix up to `wd` by regenerating it
    val prefixEnd = motifOracle.indexOf(",\n|p AS (".replace("|", ""))
    val prefix = motifOracle.substring(0, prefixEnd)
    s"""$prefix,
       |rare AS (SELECT event_type, word, count(*) AS bsz
       |         FROM wd GROUP BY 1, 2),
       |cands AS (
       |  SELECT * FROM (
       |    SELECT wd.event_type AS cet, wd.t AS ct, wd.word AS cword,
       |      wd.zs AS czs, rare.bsz,
       |      row_number() OVER (PARTITION BY wd.event_type
       |        ORDER BY rare.bsz, wd.word, wd.t) AS rn
       |    FROM wd JOIN rare ON rare.event_type = wd.event_type
       |      AND rare.word = wd.word)
       |  WHERE rn <= $DiscordCands),
       |nnd AS (
       |  SELECT cet, ct, cword, bsz, t AS nn_t, dist AS nn_dist FROM (
       |    SELECT c.cet, c.ct, c.cword, c.bsz, s.t,
       |      sqrt(list_reduce(list_transform(list_zip(c.czs, s.zs),
       |        q -> (q[1] - q[2]) * (q[1] - q[2])), (x, y) -> x + y)) AS dist,
       |      row_number() OVER (PARTITION BY c.cet, c.ct
       |        ORDER BY sqrt(list_reduce(list_transform(list_zip(c.czs, s.zs),
       |          q -> (q[1] - q[2]) * (q[1] - q[2])), (x, y) -> x + y)), s.t) AS rn
       |    FROM cands c JOIN wd s ON s.event_type = c.cet
       |      AND abs(s.t - c.ct) >= $MotifW)
       |  WHERE rn = 1)
       |SELECT cet AS event_type, CAST(rank AS INTEGER) AS rank,
       |  CAST(ct AS INTEGER) AS t, cword AS sax_word, bsz AS bucket_size,
       |  CAST(nn_t AS INTEGER) AS nn_t,
       |  floor(nn_dist * 10000 + 0.5) / 10000 AS nn_dist
       |FROM (SELECT *, row_number() OVER (PARTITION BY cet
       |        ORDER BY nn_dist DESC, ct) AS rank FROM nnd)
       |WHERE rank <= 2 ORDER BY event_type, rank""".stripMargin
  }

  val tsDiscord: QueryDef = QueryDef.sql(
    "ts_discord", discordOracle) { (s, d) =>
    // O(hours) relation computed twice (candidates + NN probe) — a
    // persist would be unpersisted before the lazy result executes,
    // and the recompute is one small window pass
    val sub = saxSubs(s, d)
    locally {
      val rare = sub.groupBy(col("event_type"), col("word"))
        .agg(count(lit(1)).as("bsz"))
      val cands = sub.join(rare, Seq("event_type", "word"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("bsz"), col("word"), col("t"))))
        .filter(col("rn") <= DiscordCands)
        .select(col("event_type").as("cet"), col("t").as("ct"),
          col("word").as("cword"), col("zs").as("czs"), col("bsz"))
      val nn = cands
        .join(sub, col("cet") === col("event_type")
          && abs(col("t") - col("ct")) >= MotifW)
        .withColumn("dist", sqrt(expr(
          "aggregate(zip_with(czs, zs, (x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x)")))
        .groupBy(col("cet"), col("ct"), col("cword"), col("bsz"))
        .agg(min(struct(col("dist"), col("t"))).as("nn"))
        .select(col("cet"), col("ct"), col("cword"), col("bsz"),
          col("nn.t").as("nn_t"), col("nn.dist").as("nn_dist"))
      nn.withColumn("rank", row_number().over(
          Window.partitionBy(col("cet"))
            .orderBy(col("nn_dist").desc, col("ct"))))
        .filter(col("rank") <= 2)
        .select(col("cet").as("event_type"), col("rank"), col("ct").as("t"),
          col("cword").as("sax_word"), col("bsz").as("bucket_size"),
          col("nn_t"),
          (floor(col("nn_dist") * 10000 + lit(0.5)) / 10000).as("nn_dist"))
        .orderBy(col("event_type"), col("rank"))
    }
  }

  /** Croston's method (1972) for INTERMITTENT demand — the forecast
    * for series that are mostly zeros (per-part weekly order
    * quantity: ~30 demand weeks out of ~100), where plain EWMA/Holt
    * bias toward zero right after each demand spike. Croston tracks
    * two EWMAs over the demand POINTS only: size ẑ (α=0.1, init =
    * first size) and inter-demand interval q̂ in weeks (init = first
    * gap); the demand-rate forecast is ẑ/q̂ per week.
    *
    * Scale shape: one (part, week) corpus aggregate, a row_number +
    * lag window over the O(parts × demand-weeks) relation (bounded
    * per-part groups), then ONE final group aggregate — the EWMA
    * final value needs no per-step recursion because
    * ẑ_n = β^n Σ zᵢ·(i=1 ? 1 : α)/β^i (β = 1−α), a plain partial-agg
    * sum. Matches the ts_ewma power-scaling identity; rounded to 4
    * decimals so hash-compare survives group-sum ordering noise.
    */
  val tsCroston: QueryDef = QueryDef.sql(
    "ts_croston",
    """WITH dem AS (
      |  SELECT l_partkey AS part,
      |         CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
      |         round(sum(l_quantity), 6) AS z
      |  FROM lineitem GROUP BY 1, 2),
      |idx AS (
      |  SELECT part, z,
      |    row_number() OVER (PARTITION BY part ORDER BY week) AS rn,
      |    datediff('day', lag(week) OVER (PARTITION BY part ORDER BY week),
      |             week) // 7 AS gap
      |  FROM dem),
      |terms AS (
      |  SELECT part, rn,
      |    z * (CASE WHEN rn = 1 THEN 1.0 ELSE 0.1 END) / power(0.9, rn) AS sz,
      |    CASE WHEN rn >= 2 THEN
      |      gap * (CASE WHEN rn = 2 THEN 1.0 ELSE 0.1 END) / power(0.9, rn - 1)
      |    END AS sq
      |  FROM idx),
      |agg AS (
      |  SELECT part, max(rn) AS n_demands,
      |    power(0.9, max(rn)) * sum(sz) AS z_hat,
      |    power(0.9, max(rn) - 1) * sum(sq) AS q_hat
      |  FROM terms GROUP BY part HAVING max(rn) >= 2)
      |SELECT part, CAST(n_demands AS INT) AS n_demands,
      |  round(z_hat, 4) AS z_hat, round(q_hat, 4) AS q_hat,
      |  round(z_hat / q_hat, 4) AS demand_rate
      |FROM agg ORDER BY part""".stripMargin) { (s, d) =>
    val dem = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("part"),
        date_trunc("week", col("l_shipdate")).cast("date").as("week"))
      .agg(round(sum(col("l_quantity")), 6).as("z"))
    val w = Window.partitionBy(col("part")).orderBy(col("week"))
    val idx = dem
      .withColumn("rn", row_number().over(w))
      .withColumn("gap",
        expr("datediff(week, lag(week) over (partition by part order by week)) div 7"))
    val terms = idx.select(col("part"), col("rn"),
      (col("z") * when(col("rn") === 1, 1.0).otherwise(0.1) /
        pow(lit(0.9), col("rn"))).as("sz"),
      when(col("rn") >= 2,
        col("gap") * when(col("rn") === 2, 1.0).otherwise(0.1) /
          pow(lit(0.9), col("rn") - 1)).as("sq"))
    terms.groupBy(col("part"))
      .agg(max(col("rn")).as("n_demands"),
        (pow(lit(0.9), max(col("rn"))) * sum(col("sz"))).as("zh"),
        (pow(lit(0.9), max(col("rn")) - 1) * sum(col("sq"))).as("qh"))
      .filter(col("n_demands") >= 2)
      .select(col("part"), col("n_demands"),
        round(col("zh"), 4).as("z_hat"), round(col("qh"), 4).as("q_hat"),
        round(col("zh") / col("qh"), 4).as("demand_rate"))
      .orderBy(col("part"))
  }

  /** Kleinberg burst detection (KDD 2002, batched two-state form) —
    * WHEN is an event type running hot, as an optimal segmentation
    * rather than per-day thresholding (events_anomaly flags days
    * independently; bursts are coherent EPISODES): state q0 emits
    * Poisson(λ), state q1 Poisson(2λ), entering a burst costs
    * γ·ln T, and the min-cost state path is Viterbi. Same engine as
    * mining_hmm: the whole DP is ONE codegen'd `aggregate` lambda
    * over the per-type ordered daily-count array, carrying each
    * frontier path's burst-day and burst-entry counts so no
    * backpointer table exists. Per-type arrays are O(days) — the
    * corpus collapses to the daily aggregate first. Lower-state
    * tie-break ⇒ deterministic. Rows-only; ScalaTest replays the
    * min-cost recursion with backtracking.
    */
  /** DuckDB replay of the Kleinberg DP: the same two-state Viterbi
    * fold, expressed as list_reduce over struct elements (the init
    * state rides as a prepended sentinel — DuckDB's reduce seeds from
    * the first element). Emission costs derive from exact integer
    * daily counts; ln() ulp differences only matter at exact
    * state-cost ties.
    */
  private val burstOracle: String = {
    // LIST accumulator (a[1]=c0, a[2]=c1, a[3]=b0, a[4]=b1, a[5]=e0,
    // a[6]=e1, a[7]=i; x[1]=n): DuckDB 1.0's list_reduce corrupts
    // cross-field reads of STRUCT accumulators from the second step
    // on (fields see earlier fields' NEW values); list-valued state
    // folds correctly.
    val init = "[0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE]"
    s"""WITH daily AS (
       |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
       |         CAST(count(*) AS DOUBLE) AS n
       |  FROM events GROUP BY 1, 2),
       |ser AS (
       |  SELECT event_type, list(n ORDER BY day) AS ns,
       |    avg(n) AS lam0, CAST(count(*) AS DOUBLE) AS t
       |  FROM daily GROUP BY 1),
       |dp AS (
       |  SELECT event_type, t,
       |    list_reduce(
       |      list_prepend($init,
       |        list_transform(ns, v -> [v, 0.0::DOUBLE, 0.0::DOUBLE,
       |          0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE])),
       |      (a, x) -> [
       |        least(CASE WHEN a[7] = 0 THEN 0.0 ELSE a[1] END,
       |              CASE WHEN a[7] = 0 THEN CAST('Infinity' AS DOUBLE) ELSE a[2] END)
       |          - (x[1] * ln(lam0) - lam0),
       |        least(CASE WHEN a[7] = 0 THEN 0.0 ELSE a[1] END + ln(t),
       |              CASE WHEN a[7] = 0 THEN CAST('Infinity' AS DOUBLE) ELSE a[2] END)
       |          - (x[1] * ln(2 * lam0) - 2 * lam0),
       |        CASE WHEN a[7] = 0 OR a[1] <= a[2] THEN a[3] ELSE a[4] END,
       |        CASE WHEN a[7] = 0 OR a[1] + ln(t) <= a[2] THEN a[3] ELSE a[4] END + 1,
       |        CASE WHEN a[7] = 0 OR a[1] <= a[2] THEN a[5] ELSE a[6] END,
       |        CASE WHEN a[7] = 0 OR a[1] + ln(t) <= a[2] THEN a[5] + 1 ELSE a[6] END,
       |        a[7] + 1]) AS f
       |  FROM ser)
       |SELECT event_type, CAST(t AS INTEGER) AS n_days,
       |  CAST(CASE WHEN f[1] <= f[2] THEN f[3] ELSE f[4] END AS INTEGER)
       |    AS n_burst_days,
       |  CAST(CASE WHEN f[1] <= f[2] THEN f[5] ELSE f[6] END AS INTEGER)
       |    AS n_bursts,
       |  round(least(f[1], f[2]), 4) AS total_cost
       |FROM dp ORDER BY event_type""".stripMargin
  }

  val tsBurst: QueryDef = QueryDef.sql("ts_burst", burstOracle) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    val series = daily.groupBy(col("event_type"))
      .agg(expr("transform(array_sort(collect_list(struct(day, n))), x -> x.n)")
        .as("ns"),
        avg(col("n")).as("lam0"), count(lit(1)).cast("double").as("t"))
    // per-day emission costs: c_s(n) = −(n·ln λ_s − λ_s); γ·ln T to enter
    // the path starts in q0 BEFORE the first day (Kleinberg's
    // convention), so at i=0 only "previous cost 0 in q0" is a valid
    // frontier — the q1 side is +Inf until a transition pays ln T
    val dp =
      """aggregate(
        |  ns,
        |  named_struct('c0', 0D, 'c1', 0D, 'b0', 0, 'b1', 0,
        |               'e0', 0, 'e1', 0, 'i', 0),
        |  (a, n) -> named_struct(
        |    'c0', least(IF(a.i = 0, 0D, a.c0),
        |                IF(a.i = 0, CAST('Infinity' AS DOUBLE), a.c1))
        |            - (n * ln(lam0) - lam0),
        |    'c1', least(IF(a.i = 0, 0D, a.c0) + ln(t),
        |                IF(a.i = 0, CAST('Infinity' AS DOUBLE), a.c1))
        |            - (n * ln(2D * lam0) - 2D * lam0),
        |    'b0', IF(a.i = 0 OR a.c0 <= a.c1, a.b0, a.b1),
        |    'b1', IF(a.i = 0 OR a.c0 + ln(t) <= a.c1, a.b0, a.b1) + 1,
        |    'e0', IF(a.i = 0 OR a.c0 <= a.c1, a.e0, a.e1),
        |    'e1', IF(a.i = 0 OR a.c0 + ln(t) <= a.c1, a.e0 + 1, a.e1),
        |    'i', a.i + 1),
        |  a -> named_struct(
        |    'burst_days', IF(a.c0 <= a.c1, a.b0, a.b1),
        |    'bursts', IF(a.c0 <= a.c1, a.e0, a.e1),
        |    'cost', least(a.c0, a.c1)))""".stripMargin
    series.select(col("event_type"), col("t").cast("int").as("n_days"),
        expr(dp).as("v"))
      .select(col("event_type"), col("n_days"),
        col("v.burst_days").as("n_burst_days"),
        col("v.bursts").as("n_bursts"),
        round(col("v.cost"), 4).as("total_cost"))
      .orderBy(col("event_type"))
  }

  /** Centered 7-day rolling MEDIAN of daily counts per type — the
    * robust smoother (ts_ewma/ts_rolling_stats means follow outlier
    * days; the median ignores up to 3 of 7): exact interpolated
    * percentile as a WINDOW aggregate over the O(types×days) daily
    * relation, sharing the event_type exchange. Integer counts make
    * the interpolation engine-exact (percentile ↔ quantile_cont, the
    * q_median parity).
    */
  val tsRollingMedian: QueryDef = QueryDef.sql(
    "ts_rolling_median",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |         count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, day, n,
      |  round(quantile_cont(n, 0.5) OVER (PARTITION BY event_type ORDER BY day
      |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 2) AS med7
      |FROM daily ORDER BY event_type, day""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("day"), col("n"),
        round(expr("percentile(n, 0.5)").over(w), 2).as("med7"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Multi-changepoint detection by binary segmentation (Scott &
    * Knott 1974; the standard recursive extension of ts_cusum's
    * single split): find the max-|CUSUM| split of a segment, recurse
    * into both halves while the normalized statistic |S|/√len clears
    * the Brownian-bridge 95% bound (1.358) and segments keep ≥ 7
    * days, depth ≤ 3. The corpus collapses to the O(types×days)
    * daily aggregate in ONE pass; the recursion is driver arithmetic
    * over ≤ days points per type (the ts_esd closed-form-driver
    * posture — no per-split corpus work). Rows-only; ScalaTest pins
    * depth-1 agreement with ts_cusum's argmax, segment-partition
    * validity, and the significance rule.
    */
  /** The binary-segmentation recursion, shared with the spec's
    * planted-changepoint fixture: returns (split day, depth, |CUSUM|
    * statistic, accepted). Accepted splits recurse into both halves;
    * a depth-1 segment whose best candidate FAILS the significance/
    * interiority rule still emits that candidate with accepted=false
    * — a quiet series produces a checkable "best split rejected"
    * row instead of an empty (vacuously green) result.
    */
  private[graft] def binsegSplits(series: Array[(java.sql.Timestamp, Double)])
      : Seq[(java.sql.Timestamp, Int, Double, Boolean)] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(java.sql.Timestamp, Int, Double, Boolean)]
    def recurse(lo: Int, hi: Int, depth: Int): Unit = {
      val len = hi - lo
      if (depth <= 3 && len >= 14) {
        val xs = series.slice(lo, hi).map(_._2)
        val mu = xs.sum / len
        val sd = math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / (len - 1))
        if (sd > 0) {
          var s = 0.0
          var best = -1
          var bestAbs = 0.0
          for (i <- 0 until len - 1) { // a split AFTER the last point is no split
            s += (xs(i) - mu) / sd
            if (math.abs(s) > bestAbs) { bestAbs = math.abs(s); best = i }
          }
          val stat = bestAbs / math.sqrt(len.toDouble)
          if (best >= 6 && best < len - 7 && stat > 1.358) {
            out += ((series(lo + best)._1, depth,
              math.floor(stat * 1e4 + 0.5) / 1e4, true))
            recurse(lo, lo + best + 1, depth + 1)
            recurse(lo + best + 1, hi, depth + 1)
          } else if (depth == 1 && best >= 0) {
            out += ((series(lo + best)._1, depth,
              math.floor(stat * 1e4 + 0.5) / 1e4, false))
          }
        }
      }
    }
    recurse(0, series.length, 1)
    out.toSeq
  }

  /** DuckDB replay of the fixed-depth binary segmentation: per level
    * a segment table (event_type, lo, hi), per segment the exact mean
    * (integer sums), the sample sd, the ordered cumulative CUSUM (a
    * prefix window — deterministic accumulation order in both
    * engines), the first-max argmax, and the significance/interiority
    * gate; accepted splits seed the next level's two segments.
    */
  private val binsegOracle: String = {
    def level(n: Int): String = {
      s"""mu$n AS (
         |  SELECT s.event_type, s.lo, s.hi, avg(d.x) AS mu, count(*) AS len
         |  FROM seg$n s JOIN dd d ON d.event_type = s.event_type
         |    AND d.i >= s.lo AND d.i < s.hi
         |  GROUP BY 1, 2, 3),
         |sd$n AS (
         |  SELECT m.event_type, m.lo, m.hi, m.mu, m.len,
         |    sqrt(sum((d.x - m.mu) * (d.x - m.mu)) / (m.len - 1)) AS sd
         |  FROM mu$n m JOIN dd d ON d.event_type = m.event_type
         |    AND d.i >= m.lo AND d.i < m.hi
         |  WHERE m.len >= 14
         |  GROUP BY 1, 2, 3, 4, 5),
         |cs$n AS (
         |  SELECT x.event_type, x.lo, x.hi, x.len, d.i, d.day,
         |    sum((d.x - x.mu) / x.sd)
         |      OVER (PARTITION BY x.event_type, x.lo ORDER BY d.i) AS s
         |  FROM sd$n x JOIN dd d ON d.event_type = x.event_type
         |    AND d.i >= x.lo AND d.i < x.hi - 1
         |  WHERE x.sd > 0),
         |acc$n AS (
         |  SELECT *, (best >= 6 AND best < len - 7 AND stat > 1.358) AS acc
         |  FROM (
         |    SELECT event_type, lo, hi, len, day, i - lo AS best,
         |      abs(s) / sqrt(CAST(len AS DOUBLE)) AS stat,
         |      row_number() OVER (PARTITION BY event_type, lo
         |        ORDER BY abs(s) DESC, i) AS rn
         |    FROM cs$n) WHERE rn = 1)""".stripMargin
    }
    val segNext = (n: Int) =>
      s"""seg${n + 1} AS (
         |  SELECT event_type, lo, lo + best + 1 AS hi FROM acc$n WHERE acc
         |  UNION ALL
         |  SELECT event_type, lo + best + 1 AS lo, hi FROM acc$n WHERE acc)""".stripMargin
    s"""WITH dd AS (
       |  SELECT event_type, day, CAST(n AS DOUBLE) AS x,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS i
       |  FROM (SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
       |        FROM events GROUP BY 1, 2)),
       |seg1 AS (SELECT event_type, 0 AS lo, count(*) AS hi
       |         FROM dd GROUP BY event_type),
       |${level(1)},
       |${segNext(1)},
       |${level(2)},
       |${segNext(2)},
       |${level(3)}
       |SELECT event_type, day AS changepoint_day, depth,
       |  floor(stat * 1e4 + 0.5) / 1e4 AS norm_stat, acc AS accepted
       |FROM (
       |  SELECT event_type, day, CAST(1 AS INTEGER) AS depth, stat, acc
       |  FROM acc1
       |  UNION ALL
       |  SELECT event_type, day, CAST(2 AS INTEGER), stat, acc
       |  FROM acc2 WHERE acc
       |  UNION ALL
       |  SELECT event_type, day, CAST(3 AS INTEGER), stat, acc
       |  FROM acc3 WHERE acc)
       |ORDER BY event_type, changepoint_day""".stripMargin
  }

  val tsCpdBinseg: QueryDef = QueryDef.sql(
    "ts_cpd_binseg", binsegOracle) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
      .groupBy(_._1)
    val out = daily.toSeq.flatMap { case (tpe, rows) =>
      val series = rows.sortBy(_._2.getTime).map(t => (t._2, t._3.toDouble)).toArray
      binsegSplits(series).map(t => (tpe, t._1, t._2, t._3, t._4))
    }
    import s.implicits._
    out.toDF("event_type", "changepoint_day", "depth", "norm_stat", "accepted")
      .orderBy(col("event_type"), col("changepoint_day"))
  }

  /** Harmonic regression of the weekly cycle per type — fits
    * y = β₀ + β₁·sin(2πt/7) + β₂·cos(2πt/7) to daily counts, the
    * PARAMETRIC seasonal model (ts_seasonal tabulates the weekday
    * profile; this compresses it to amplitude+phase and an R², the
    * form forecasting systems extrapolate): the design matrix never
    * materializes — ONE aggregate per type collects the 9 normal-
    * equation moments (sin/cos are map-side expressions over the
    * O(types×days) daily relation), the 3×3 solve is driver
    * arithmetic (mining_ols's posture). Rows-only; ScalaTest replays
    * the OLS fit and pins the variance-decomposition identity.
    */
  /** DuckDB replay of the harmonic fit. The sin/cos regressors are
    * QUANTIZED to micro-units (round(·×1e6) as int64) so every
    * normal-equation moment is an exact integer sum in both engines
    * — a raw trig double would make the moments float sums whose
    * order noise leaks through the solve. A last-ulp libm difference
    * flips a quantized value only within 1e-10 of a rounding
    * boundary — measure-zero against the 1e-4/1e-6 output floors.
    */
  private val harmonicOracle: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(date_trunc('day', ts) AS DATE) - DATE '1992-01-01' AS t,
      |    count(*) AS y
      |  FROM events GROUP BY 1, 2),
      |q AS (
      |  SELECT event_type, y,
      |    CAST(round(sin(t * (2 * pi()) / 7) * 1e6) AS BIGINT) AS sn,
      |    CAST(round(cos(t * (2 * pi()) / 7) * 1e6) AS BIGINT) AS cs
      |  FROM daily),
      |m AS (
      |  SELECT event_type,
      |    CAST(count(*) AS DOUBLE) AS n,
      |    CAST(sum(sn) AS DOUBLE) / 1e6 AS s1,
      |    CAST(sum(cs) AS DOUBLE) / 1e6 AS s2,
      |    CAST(sum(sn * sn) AS DOUBLE) / 1e12 AS s11,
      |    CAST(sum(cs * cs) AS DOUBLE) / 1e12 AS s22,
      |    CAST(sum(sn * cs) AS DOUBLE) / 1e12 AS s12,
      |    CAST(sum(y) AS DOUBLE) AS sy,
      |    CAST(sum(y * sn) AS DOUBLE) / 1e6 AS s1y,
      |    CAST(sum(y * cs) AS DOUBLE) / 1e6 AS s2y,
      |    CAST(sum(y * y) AS DOUBLE) AS syy
      |  FROM q GROUP BY event_type),
      |det AS (
      |  SELECT event_type,
      |    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      |      s2 * (s1 * s12 - s11 * s2) AS det,
      |    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) +
      |      s2 * (s1y * s12 - s11 * s2y) AS d0,
      |    n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
      |      s2 * (s1 * s2y - s1y * s2) AS d1,
      |    n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
      |      sy * (s1 * s12 - s11 * s2) AS d2,
      |    n, s1, s2, s11, s12, s22, sy, s1y, s2y, syy
      |  FROM m),
      |fit AS (
      |  SELECT event_type, d0 / det AS b0, d1 / det AS b1, d2 / det AS b2, *
      |  FROM det),
      |res AS (
      |  SELECT event_type, b0, b1, b2,
      |    syy - 2 * (b0 * sy + b1 * s1y + b2 * s2y) +
      |      (b0 * (n * b0 + s1 * b1 + s2 * b2) +
      |       b1 * (s1 * b0 + s11 * b1 + s12 * b2) +
      |       b2 * (s2 * b0 + s12 * b1 + s22 * b2)) AS sse,
      |    syy - sy * sy / n AS sst
      |  FROM fit)
      |SELECT event_type,
      |  floor(b0 * 1e4 + 0.5) / 1e4 AS level,
      |  floor(sqrt(b1 * b1 + b2 * b2) * 1e4 + 0.5) / 1e4 AS amplitude,
      |  floor(atan2(b2, b1) * 1e4 + 0.5) / 1e4 AS phase,
      |  floor(CASE WHEN sst > 0 THEN greatest(0.0, 1.0 - sse / sst)
      |             ELSE 0.0 END * 1e6 + 0.5) / 1e6 AS r2
      |FROM res ORDER BY event_type""".stripMargin

  val tsHarmonic: QueryDef = QueryDef.sql("ts_harmonic", harmonicOracle) { (s, d) =>
    val twoPi = 2 * math.Pi
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("t", datediff(col("day"), to_date(lit("1992-01-01"))))
      // micro-unit quantized regressors: all moments sum as exact
      // int64, so the solve sees engine-identical inputs (see oracle)
      .withColumn("sn", round(sin(col("t") * twoPi / 7) * 1e6).cast("long"))
      .withColumn("cs", round(cos(col("t") * twoPi / 7) * 1e6).cast("long"))
    val m = daily.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("sn")).as("ss"), sum(col("cs")).as("sc"),
      sum(col("sn") * col("sn")).as("sss"), sum(col("cs") * col("cs")).as("scc"),
      sum(col("sn") * col("cs")).as("ssc"),
      sum(col("y")).as("sy"), sum(col("y") * col("sn")).as("sys"),
      sum(col("y") * col("cs")).as("syc"), sum(col("y") * col("y")).as("syy"))
      .collect()
    import s.implicits._
    m.map { r =>
      val n = r.getLong(1).toDouble
      val (s1, s2) = (r.getLong(2).toDouble / 1e6, r.getLong(3).toDouble / 1e6)
      val (s11, s22, s12) = (r.getLong(4).toDouble / 1e12,
        r.getLong(5).toDouble / 1e12, r.getLong(6).toDouble / 1e12)
      val sy = r.getLong(7).toDouble
      val (s1y, s2y) = (r.getLong(8).toDouble / 1e6, r.getLong(9).toDouble / 1e6)
      val syy = r.getLong(10).toDouble
      val (b0, b1, b2) =
        Linkage.cramer3(n, s1, s2, s11, s12, s22, sy, s1y, s2y)
      val sse = syy - 2 * (b0 * sy + b1 * s1y + b2 * s2y) +
        (b0 * (n * b0 + s1 * b1 + s2 * b2) +
          b1 * (s1 * b0 + s11 * b1 + s12 * b2) +
          b2 * (s2 * b0 + s12 * b1 + s22 * b2))
      val sst = syy - sy * sy / n
      val r2 = if (sst > 0) math.max(0.0, 1.0 - sse / sst) else 0.0
      val amp = math.sqrt(b1 * b1 + b2 * b2)
      val phase = math.atan2(b2, b1)
      (r.getString(0), math.floor(b0 * 1e4 + 0.5) / 1e4,
        math.floor(amp * 1e4 + 0.5) / 1e4,
        math.floor(phase * 1e4 + 0.5) / 1e4,
        math.floor(r2 * 1e6 + 0.5) / 1e6)
    }.toSeq.toDF("event_type", "level", "amplitude", "phase", "r2")
      .orderBy(col("event_type"))
  }

  /** Haar wavelet decomposition of each type's daily series — the
    * multi-RESOLUTION energy profile (ts_periodogram is frequency-
    * global; wavelets localize in time, so a 2-day spike and a
    * 2-month regime change land at different levels): series padded
    * to 2^L, per level the detail coefficients are
    * (even−odd)/√2 of the running smooth, energy per level is their
    * sum of squares. The corpus collapses to the daily aggregate
    * first; the transform is a codegen'd higher-order array
    * expression cascade per type (O(days) work, zero extra shuffle).
    * Rows-only; ScalaTest pins PARSEVAL exactly — Σx² equals total
    * coefficient energy — plus a driver replay per level.
    */
  /** DuckDB replay of the Haar cascade: the UNNORMALIZED pairwise
    * sums/differences are integers (counts), so each level's energy
    * is an exact integer sum divided once by 2^level — an exact
    * dyadic double in both engines (the /√2-per-level formulation
    * was float throughout and engine-divergent). Levels are rowwise
    * CTEs: group (even, odd) pairs by index half.
    */
  private val waveletOracle: String = {
    val levels = 5
    val chain = (1 to levels).map { k =>
      s"""l$k AS MATERIALIZED (
         |  SELECT event_type, j AS i, ev + ov AS v, ev - ov AS dv FROM (
         |    SELECT event_type, i // 2 AS j,
         |      max(CASE WHEN i % 2 = 0 THEN v END) AS ev,
         |      max(CASE WHEN i % 2 = 1 THEN v END) AS ov
         |    FROM l${k - 1} GROUP BY 1, 2)),
         |e$k AS (SELECT event_type,
         |  round(CAST(sum(dv * dv) AS DOUBLE) / ${1 << k}, 4) AS energy_l$k
         |  FROM l$k GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH daily AS (
       |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
       |         count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |st AS (
       |  SELECT event_type, CAST(n AS BIGINT) AS v,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS i,
       |    count(*) OVER (PARTITION BY event_type) AS len
       |  FROM daily),
       |pw AS (SELECT event_type, max(len) AS len,
       |         CAST(power(2, ceil(log2(CAST(max(len) AS DOUBLE)))) AS BIGINT) AS p2
       |       FROM st GROUP BY 1),
       |l0 AS MATERIALIZED (
       |  SELECT event_type, i, v FROM st
       |  UNION ALL
       |  SELECT event_type, CAST(unnest(range(len, p2)) AS BIGINT) AS i,
       |    CAST(0 AS BIGINT) AS v
       |  FROM pw WHERE p2 > len),
       |$chain,
       |sm AS (SELECT event_type,
       |  round(CAST(sum(v * v) AS DOUBLE) / ${1 << levels}, 4) AS energy_smooth
       |  FROM l$levels GROUP BY 1)
       |SELECT pw.event_type, CAST(len AS INTEGER) AS n_days,
       |  ${(1 to levels).map(k => s"energy_l$k").mkString(", ")}, energy_smooth
       |FROM pw
       |${(1 to levels).map(k => s"JOIN e$k ON e$k.event_type = pw.event_type").mkString("\n")}
       |JOIN sm ON sm.event_type = pw.event_type
       |ORDER BY pw.event_type""".stripMargin
  }

  val tsWavelet: QueryDef = QueryDef.sql("ts_wavelet", waveletOracle) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val series = daily.groupBy(col("event_type"))
      .agg(expr("transform(array_sort(collect_list(struct(day, n))), x -> x.n)")
        .as("xs"))
      // zero-pad to the next power of two so the cascade is regular
      .withColumn("len", size(col("xs")))
      .withColumn("pow2",
        expr("int(power(2, ceil(log2(double(len)))))"))
      .withColumn("xs", expr(
        "concat(xs, array_repeat(0L, pow2 - len))"))
    // one cascade level over UNNORMALIZED integer sums/differences:
    // smooth = even+odd, detail energy = Σ(even−odd)² — exact int64;
    // the 1/2^level Haar normalization is applied ONCE at the output
    // as an exact dyadic division, so every energy is engine-exact
    def level(in: String, smooth: String, energy: String): Seq[String] = Seq(
      s"""transform(sequence(0, size($in) div 2 - 1),
         |  i -> ($in[2*i] + $in[2*i+1])) AS $smooth""".stripMargin,
      s"""aggregate(transform(sequence(0, size($in) div 2 - 1),
         |  i -> ($in[2*i] - $in[2*i+1])),
         |  0L, (a, x) -> a + x * x) AS $energy""".stripMargin)
    var cur = series.select(col("event_type"), col("len"), col("xs").as("s0"))
    val levels = 5
    for (l <- 1 to levels)
      cur = cur.selectExpr(Seq("event_type", "len") ++
        (1 until l).map(j => s"e$j") ++
        level(s"s${l - 1}", s"s$l", s"e$l"): _*)
    cur.select(col("event_type") +: col("len").as("n_days") +:
        (1 to levels).map(l =>
          round(col(s"e$l").cast("double") / (1 << l), 4).as(s"energy_l$l")) :+
        round(expr(s"aggregate(s$levels, 0L, (a, x) -> a + x * x)")
          .cast("double") / (1 << levels), 4)
          .as("energy_smooth"): _*)
      .orderBy(col("event_type"))
  }

  /** Ljung–Box portmanteau whiteness test per type (Ljung & Box
    * 1978) — "is there ANY autocorrelation left", the joint test
    * over lags 1..10 that single-lag checks miss (ts_autocorr reads
    * lag 1 only): Q = n(n+2)·Σ r_k²/(n−k), compared to χ²₁₀. The
    * r_k come from ten lag columns over ONE per-type ordered window
    * pass on the O(types×days) daily relation (all lags share the
    * exchange); Q and the exact χ² tail (breeze regularized gamma)
    * are O(types) driver arithmetic. Rows-only; ScalaTest replays
    * the autocorrelations and the statistic from the collected
    * series.
    */
  /** Exact χ² upper tail for EVEN df: P(X > q) = e^{−q/2}·Σ_{j<df/2}
    * (q/2)^j/j!. Shared with the spec replay.
    */
  private[graft] def chiSqUpperEvenDf(q: Double, df: Int): Double = {
    val h = q / 2
    var term = 1.0
    var sum = 1.0
    for (j <- 1 until df / 2) { term *= h / j; sum += term }
    math.exp(-h) * sum
  }

  /** DuckDB replay of the Ljung–Box statistic. Centering is EXACT
    * integer algebra: x̃·d = n·d − s (d = #days, s = Σ counts), so
    * every lagged cross product sums as an exact DECIMAL — the d²
    * scaling cancels in r_k = s_k/s_0 and both engines divide the
    * identical exact values. The χ² tail is the closed even-df form
    * with the Scala accumulation order spelled term by term.
    */
  private val ljungBoxOracle: String = {
    val lags = 10
    val lagCols = (1 to lags)
      .map(k => s"lag(xcd, $k) OVER (PARTITION BY event_type ORDER BY day) AS l$k")
      .mkString(",\n    ")
    val sums = (1 to lags)
      .map(k => s"CAST(sum(xcd * l$k) AS DOUBLE) AS s$k").mkString(",\n    ")
    val rks = (1 to lags)
      .map(k => s"(s$k / s0) * (s$k / s0) / (cnt - $k)").mkString(" + ")
    s"""WITH daily AS (
       |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
       |         count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |tot AS (SELECT event_type, sum(n) AS s, count(*) AS d
       |        FROM daily GROUP BY 1),
       |c AS (SELECT daily.event_type, day,
       |        CAST(n * d - s AS HUGEINT) AS xcd
       |      FROM daily JOIN tot ON daily.event_type = tot.event_type),
       |lagged AS (
       |  SELECT event_type, xcd,
       |    $lagCols
       |  FROM c),
       |m AS (
       |  SELECT event_type, CAST(count(*) AS DOUBLE) AS cnt,
       |    CAST(sum(xcd * xcd) AS DOUBLE) AS s0,
       |    $sums
       |  FROM lagged GROUP BY event_type),
       |qs AS (
       |  SELECT event_type, CAST(cnt AS BIGINT) AS n_days,
       |    ($rks) * cnt * (cnt + 2) AS q
       |  FROM m),
       |ps AS (
       |  SELECT event_type, n_days, q, q / 2 AS h,
       |    (q / 2) AS t1,
       |    (q / 2) * ((q / 2) / 2) AS t2,
       |    (q / 2) * ((q / 2) / 2) * ((q / 2) / 3) AS t3,
       |    (q / 2) * ((q / 2) / 2) * ((q / 2) / 3) * ((q / 2) / 4) AS t4
       |  FROM qs),
       |fin AS (
       |  SELECT event_type, n_days, q,
       |    exp(-h) * ((((1 + t1) + t2) + t3) + t4) AS p
       |  FROM ps)
       |SELECT event_type, n_days,
       |  floor(q * 1e4 + 0.5) / 1e4 AS q_stat,
       |  floor(p * 1e6 + 0.5) / 1e6 AS p_value,
       |  p < 0.05 AS reject_white
       |FROM fin ORDER BY event_type""".stripMargin
  }

  val tsLjungBox: QueryDef = QueryDef.sql("ts_ljung_box", ljungBoxOracle) { (s, d) =>
    val lags = 10
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    // center FIRST, and EXACTLY: x̃·d = n·d − s is integer algebra, so
    // every lagged cross product sums exactly (the d² scale cancels
    // in r_k = s_k/s_0) — engine- and partition-identical, where the
    // earlier float centering left the sums order-sensitive
    val mus = daily.groupBy(col("event_type"))
      .agg(sum(col("n")).as("s"), count(lit(1)).as("d"))
    val centered = daily.join(broadcast(mus), "event_type")
      .withColumn("xcd", (col("n") * col("d") - col("s")).cast("decimal(38,0)"))
    val lagged = (1 to lags).foldLeft(centered) { (df, k) =>
      df.withColumn(s"l$k", lag(col("xcd"), k).over(w))
    }
    // per type: n, Σx̃² and the ten lagged cross products (sum skips
    // null lag products, so each s_k is exactly Σ_{t>k}) — one
    // aggregate, everything partial-agg
    val aggCols = Seq(count(lit(1)).as("cnt"),
      sum(col("xcd") * col("xcd")).as("s0")) ++
      (1 to lags).map(k => sum(col("xcd") * col(s"l$k")).as(s"s$k"))
    val rows = lagged.groupBy(col("event_type"))
      .agg(aggCols.head, aggCols.tail: _*).collect()
    import s.implicits._
    rows.map { r =>
      val tpe = r.getString(0)
      val cnt = r.getLong(1).toDouble
      val s2 = r.getDecimal(2).doubleValue() // Σ(x̃·d)², exact
      val q = (1 to lags).map { k =>
        val rk = r.getDecimal(2 + k).doubleValue() / s2
        rk * rk / (cnt - k)
      }.sum * cnt * (cnt + 2)
      // χ² upper tail for EVEN df has the closed form
      // e^{−q/2}·Σ_{j<df/2} (q/2)^j / j! — no special functions
      val p = chiSqUpperEvenDf(q, lags)
      (tpe, cnt.toLong, math.floor(q * 1e4 + 0.5) / 1e4,
        math.floor(p * 1e6 + 0.5) / 1e6, p < 0.05)
    }.toSeq.toDF("event_type", "n_days", "q_stat", "p_value", "reject_white")
      .orderBy(col("event_type"))
  }

  val all: Seq[QueryDef] = Seq(
    tsCroston, tsBurst, tsRollingMedian, tsCpdBinseg, tsHarmonic, tsWavelet,
    tsLjungBox,
    tsMotif, tsDiscord,
    tsGapfill, tsInterp, tsEwma, tsAutocorr, tsCusum, tsSeasonal,
    tsForecast, tsTimeToConvert, tsGapEpisodes, tsHolt, tsDecompose,
    tsSeasonalStrength, tsReconcile,
    tsRollingStats, tsRepair, tsOhlc, tsInterEvent, tsTheilsen,
    tsChangepoint, tsLttb, tsDtw, tsPeriodogram, tsAr2, tsTwa, tsXcorr,
    tsKalman, tsBacktest, tsHoltWinters, tsSpectralEntropy, tsMannKendall,
    tsEsd, tsSax)
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.graft.RegimePick

/** The one size-adaptive broadcast policy. Every operator that picks
  * between a broadcast (or driver-side) shape and a shuffled fallback
  * asks `fits` with an estimate in BYTES of what the small side would
  * put in one JVM, and takes the small-side shape iff
  * `estimatedBytes <= budget`. Both shapes of every site compute the
  * same values; only the plan differs, and each pair is value-locked
  * in ScalaTest.
  *
  * Budget: `min(maxHeap / 16, 512 MB)`. It scales with the heap the
  * broadcast must fit in (the driver builds it, every executor holds
  * a copy), and the cap keeps a large driver from choosing a multi-GB
  * broadcast, well inside the "a few hundred MB is fine" range. The
  * session conf `spark.graft.broadcastBudgetBytes` overrides it for
  * cluster tuning; `0` forces every fallback, which is how the tests
  * pin the shuffled shapes.
  *
  * Estimates are bytes, never rows: a row bound is a memory guard
  * only for one row width and one heap (the profile_lof sf1 wall:
  * 3.6M lookup rows broke a 2M-row bound while holding only 115 MB,
  * so the pick fell back to a 2+ GB shuffle for nothing). A site
  * sizes its estimate either from the optimizer's plan statistics
  * (`planBytes`) or from a count it already has times a known row
  * width (`rowBytes`), scaled by how many copies the shape keeps
  * alive.
  *
  * Each decision posts a `RegimePick` (site, regime, estimated bytes,
  * budget) to the listener bus, so a SparkListener (Bench's) can
  * record which regime every entry took and the sizes that drove it.
  */
object Regime {
  val BudgetConf = "spark.graft.broadcastBudgetBytes"

  /** UnsafeRow bytes of a row of `fields` fixed-width fields: 8 B
    * length word, the null bitset, 8 B per field.
    */
  def rowBytes(fields: Int): Long = 8L + 8L * ((fields + 63) / 64) + 8L * fields

  /** The optimizer's plan-time size estimate (file bytes for a scan,
    * the statistic autoBroadcastJoinThreshold consults).
    */
  def planBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Whether `estimatedBytes` fits the budget; records the pick as
    * `regimes._1` (fits) or `regimes._2` (fallback).
    */
  def fits(s: SparkSession, site: String, estimatedBytes: BigInt,
      regimes: (String, String) = ("broadcast", "shuffled")): Boolean = {
    val budget = s.conf.getOption(BudgetConf).map(_.toLong)
      .getOrElse(math.min(Runtime.getRuntime.maxMemory / 16L, 512L << 20))
    val ok = estimatedBytes <= budget
    RegimePick(site, if (ok) regimes._1 else regimes._2,
      estimatedBytes.min(Long.MaxValue).toLong, budget).post(s)
    ok
  }

  /** `df` with a broadcast hint when `estimatedBytes` fits. */
  def broadcastIfFits(site: String, estimatedBytes: BigInt, df: DataFrame,
      fallback: String = "shuffled"): DataFrame =
    if (fits(df.sparkSession, site, estimatedBytes, ("broadcast", fallback))) broadcast(df)
    else df
}

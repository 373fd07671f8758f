package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graft.{ColumnBridge, GramianAgg, KmvAgg, KmvMergeAgg, MinHashAgg, SimHashAgg}
import org.apache.spark.sql.types.IntegerType

/** Column-API and SQL surface for graft's native sketch aggregates
  * (expression implementation: org.apache.spark.sql.graft.MinHashAgg).
  */
object SketchFunctions {

  /** MinHash signature aggregate: `minhash(shingleHash, k)` inside a
    * groupBy returns the k-permutation signature as array<long>.
    */
  def minhash(sh: Column, numPerms: Int): Column =
    ColumnBridge.column(
      MinHashAgg(ColumnBridge.expression(sh), numPerms).toAggregateExpression())

  private[functions] val minhashBuilder: Seq[Expression] => Expression = {
    case Seq(sh, Literal(k: Int, IntegerType)) => MinHashAgg(sh, k)
    case other => throw new IllegalArgumentException(
      s"graft_minhash(col, k) needs an integer-literal permutation count, got: $other")
  }

  /** SimHash aggregate: `simhash(tokenHash)` inside a groupBy returns
    * the packed 64-bit Charikar signature as a long — one buffer per
    * group instead of 64 composed conditional sums.
    */
  def simhash(h: Column): Column =
    ColumnBridge.column(
      SimHashAgg(ColumnBridge.expression(h)).toAggregateExpression())

  private[functions] val simhashBuilder: Seq[Expression] => Expression = {
    case Seq(h) => SimHashAgg(h)
    case other => throw new IllegalArgumentException(
      s"graft_simhash(col) takes exactly one hash column, got: $other")
  }

  /** Second-moment aggregate: `gramian(vec, d)` inside an agg returns
    * [n, Σv, upper-tri Σvvᵀ] as array<double> — the one-pass
    * sufficient statistics for covariance/PCA (see Embeddings.fitPca).
    */
  def gramian(vec: Column, d: Int): Column =
    ColumnBridge.column(
      GramianAgg(ColumnBridge.expression(vec), d).toAggregateExpression())

  private[functions] val gramianBuilder: Seq[Expression] => Expression = {
    case Seq(v, Literal(d: Int, IntegerType)) => GramianAgg(v, d)
    case other => throw new IllegalArgumentException(
      s"graft_gramian(col, d) needs an integer-literal dimension, got: $other")
  }

  /** KMV bottom-k theta sketch: `kmv(key, k)` inside a groupBy
    * returns the k smallest distinct hash values as a sorted
    * array<long> — distinct-count AND set-intersection estimates
    * (see org.apache.spark.sql.graft.Kmv for the estimators).
    */
  def kmv(key: Column, k: Int): Column =
    ColumnBridge.column(
      KmvAgg(ColumnBridge.expression(key), k).toAggregateExpression())

  /** Merge STORED KMV sketch arrays (KmvAgg output persisted at
    * ingest) into one sketch — the re-aggregation side of the KMV
    * storage contract.
    */
  def kmvMerge(sketch: Column, k: Int): Column =
    ColumnBridge.column(
      KmvMergeAgg(ColumnBridge.expression(sketch), k).toAggregateExpression())

  private[functions] val kmvBuilder: Seq[Expression] => Expression = {
    case Seq(key, Literal(k: Int, IntegerType)) => KmvAgg(key, k)
    case other => throw new IllegalArgumentException(
      s"graft_kmv(col, k) needs an integer-literal sketch size, got: $other")
  }

  private[functions] val kmvMergeBuilder: Seq[Expression] => Expression = {
    case Seq(sk, Literal(k: Int, IntegerType)) => KmvMergeAgg(sk, k)
    case other => throw new IllegalArgumentException(
      s"graft_kmv_merge(col, k) needs an integer-literal sketch size, got: $other")
  }
}

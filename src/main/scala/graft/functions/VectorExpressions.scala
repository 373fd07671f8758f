package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Divide, Expression, ExpressionInfo, Multiply, Sqrt}
import org.apache.spark.sql.graft.{ColumnBridge, DotProduct, GramianAgg, HilbertIndex,
  InferTopKFromWindow, KmvAgg, KmvMergeAgg, MinHashAgg, PqEncode, SimHashAgg,
  TopKPerKeyStrategy, UnicodeNormalize, VecDivide, VecSubtract}

/** Column-API surface and SQL builders for graft's native
  * vector functions (expression implementation:
  * org.apache.spark.sql.graft.DotProduct).
  */
object VectorFunctions {

  /** Single source for the expression trees — the Column API and
    * the `GraftExtensions` SQL table both build from these.
    */
  private[functions] val dotBuilder: Seq[Expression] => Expression =
    exprs => DotProduct(exprs(0), exprs(1))

  private[functions] val cosineBuilder: Seq[Expression] => Expression =
    exprs =>
      Divide(
        DotProduct(exprs(0), exprs(1)),
        Multiply(
          Sqrt(DotProduct(exprs(0), exprs(0))),
          Sqrt(DotProduct(exprs(1), exprs(1)))))

  private[functions] val vecDivBuilder: Seq[Expression] => Expression =
    exprs => VecDivide(exprs(0), exprs(1))

  private[functions] val vecSubBuilder: Seq[Expression] => Expression =
    exprs => VecSubtract(exprs(0), exprs(1))

  def dot_product(a: Column, b: Column): Column =
    ColumnBridge.column(
      dotBuilder(Seq(ColumnBridge.expression(a), ColumnBridge.expression(b))))

  def cosine_similarity(a: Column, b: Column): Column =
    ColumnBridge.column(
      cosineBuilder(Seq(ColumnBridge.expression(a), ColumnBridge.expression(b))))

  /** Elementwise array<double> / double, codegen'd (bit-identical to
    * transform(v, x -> x / s) but WholeStageCodegen-hostable).
    */
  def vec_div(v: Column, s: Column): Column =
    ColumnBridge.column(
      VecDivide(ColumnBridge.expression(v), ColumnBridge.expression(s)))

  /** Elementwise array<double> − array<double>, codegen'd. */
  def vec_sub(a: Column, b: Column): Column =
    ColumnBridge.column(
      VecSubtract(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** 16-bit 2-D Hilbert curve index, codegen'd as one flat loop (see
    * org.apache.spark.sql.graft.HilbertIndex — composing the
    * per-level rotations from Column arithmetic doubles the
    * expression tree per level).
    */
  def hilbert_index(x: Column, y: Column, bits: Int = 16): Column =
    ColumnBridge.column(
      HilbertIndex(ColumnBridge.expression(x), ColumnBridge.expression(y), bits))

  /** All M PQ codeword ids for a vector column in one codegen'd
    * expression (see org.apache.spark.sql.graft.PqEncode).
    */
  def pq_encode(u: Column, codebooks: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(
      PqEncode(ColumnBridge.expression(u),
        codebooks.toIndexedSeq.map(_.toIndexedSeq.map(_.toIndexedSeq))))
}

/** Session-extension entry point and graft's single registration
  * path: every `GraftSession` carries it, and any other Spark app picks
  * it up via
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, impl, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(impl.getName, name), build))
    }
    // whole-operator extension: sort-free per-key top-k
    e.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    // conf-gated (graft.topk.rewrite) window-rank → TopKPerKey rewrite
    e.injectOptimizerRule(_ => InferTopKFromWindow)
  }
}

object GraftExtensions {

  /** Every `graft_*` SQL function: name, implementing expression
    * class, builder. graft_pq_encode is Column-API only: its
    * codebooks parameter is a fitted model object, not a
    * SQL-expressible literal.
    */
  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct], VectorFunctions.dotBuilder),
    ("graft_cosine", classOf[DotProduct], VectorFunctions.cosineBuilder),
    ("graft_vec_div", classOf[VecDivide], VectorFunctions.vecDivBuilder),
    ("graft_vec_sub", classOf[VecSubtract], VectorFunctions.vecSubBuilder),
    ("graft_normalize", classOf[UnicodeNormalize], TextFunctions.normalizeBuilder),
    ("graft_minhash", classOf[MinHashAgg], SketchFunctions.minhashBuilder),
    ("graft_simhash", classOf[SimHashAgg], SketchFunctions.simhashBuilder),
    ("graft_gramian", classOf[GramianAgg], SketchFunctions.gramianBuilder),
    ("graft_kmv", classOf[KmvAgg], SketchFunctions.kmvBuilder),
    ("graft_kmv_merge", classOf[KmvMergeAgg], SketchFunctions.kmvMergeBuilder))
}

package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType}

/** Spark-internal bridge (AbstractDataType and ExpressionUtils are
  * private[sql], so expression definitions live inside the
  * org.apache.spark.sql namespace — the standard pattern for Spark
  * extension libraries).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Bloom-filter build + probe as native Catalyst expressions — the
  * pre-shuffle semi-join filter Spark's own InjectRuntimeFilter rule
  * plants (SPARK-32268), exposed as an explicit operator: the build
  * side aggregates a mergeable sketch (map-side partial merge, O(bits)
  * on the wire), the probe side is a codegen'd might-contain over the
  * broadcast sketch literal. False positives are possible by
  * construction, so callers always re-verify with the exact join —
  * the sketch only exists to keep non-matching fact rows out of the
  * shuffle.
  */
object BloomBridge {
  import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
  import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
  import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
  import org.apache.spark.sql.types.BinaryType

  /** Aggregate Column producing the serialized sketch over xxhash64
    * of `key`. `numBits` per BloomFilter.optimalNumOfBits(n, fpp).
    */
  def bloomAgg(key: Column, expectedItems: Long, numBits: Long): Column =
    ColumnBridge.column(
      new BloomFilterAggregate(
        new XxHash64(Seq(ColumnBridge.expression(key))),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())

  /** Predicate Column: xxhash64(`key`) might be in the sketch. */
  def mightContain(sketch: Array[Byte], key: Column): Column =
    ColumnBridge.column(
      BloomFilterMightContain(
        Literal(sketch, BinaryType),
        new XxHash64(Seq(ColumnBridge.expression(key)))))
}

/** Codegen'd array<double> dot product — a tight primitive loop in
  * whole-stage codegen: no boxing, no higher-order-function lambda
  * dispatch. Sequential left-to-right accumulation, matching both
  * the zip_with/aggregate formulation and DuckDB's
  * list_dot_product, so oracle parity is preserved.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd elementwise array<double> / double — replaces the
  * `transform(v, x -> x / s)` higher-order formulation, whose
  * LambdaFunction is CodegenFallback and therefore EVICTS its whole
  * projection from any WholeStageCodegen span (every operator hosting
  * a unit-normalization was silently running interpreted). Same
  * per-element IEEE division, so results are bit-identical.
  */
case class VecDivide(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), DoubleType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_vec_div"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val s = b.asInstanceOf[Double]
    val n = x.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = x.getDouble(i) / s; i += 1 }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = $a.getDouble($i) / $b;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd elementwise array<double> minus array<double> (length =
  * min of the two) — replaces the `zip_with(a, b, (x, y) -> x - y)`
  * CodegenFallback formulation for the same whole-stage-codegen
  * reason as VecDivide. Bit-identical subtraction.
  */
case class VecSubtract(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_vec_sub"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = x.getDouble(i) - y.getDouble(i); i += 1 }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = $a.getDouble($i) - $b.getDouble($i);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Storage hygiene for iterative operators. A `df.localCheckpoint`
  * leaves its block-manager blocks alive until the driver GCs the
  * RDD — an N-round loop that checkpoints every few rounds therefore
  * accumulates N/3 dead checkpoint generations, evicting useful
  * blocks and inflating every later query (observed 9-12x in-suite
  * vs isolated). `free` releases the blocks behind a checkpointed
  * Dataset explicitly; callers must not touch the Dataset afterwards
  * (lineage is truncated — the data is unrecoverable by design).
  */
object CheckpointBridge {
  def free(df: org.apache.spark.sql.Dataset[_]): Unit = df match {
    case c: org.apache.spark.sql.classic.Dataset[_] =>
      c.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          // blocking: async removal defers the freeing work (block
          // eviction + driver bookkeeping) onto whatever runs next —
          // in a benchmark suite that lands INSIDE the next entry's
          // timed region and showed up as migrating 36-40x outliers.
          // In-process removal is a fast synchronous call; paying it
          // at the free() site keeps every measurement clean.
          lr.rdd.unpersist(blocking = true)
        case _ => ()
      }
    case _ => ()
  }

  /** Ids of the checkpoint RDDs behind a Dataset (empty for plain
    * plans) — lets tests assert on the SPECIFIC blocks a roll
    * creates/frees rather than on a global persistent-RDD count,
    * which races the ContextCleaner reaping unrelated dead RDDs.
    */
  def rddIds(df: org.apache.spark.sql.Dataset[_]): Seq[Int] = df match {
    case c: org.apache.spark.sql.classic.Dataset[_] =>
      c.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }
    case _ => Seq.empty
  }
}

/** Deep between-queries session cleanup for the Bench/Verify
  * harnesses. Lives in the spark.sql namespace for access to the
  * `private[spark]` listener bus and the streaming state-store
  * registry. Callers invoke this OUTSIDE the timed region: cleanup
  * latency paid here is measured as nothing, where the async
  * alternative bleeds into the next entry's measurement.
  */
object SessionHygiene {
  def deepClear(s: org.apache.spark.sql.SparkSession): Unit = {
    val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sc = classic.sparkContext
    // a stray streaming query a failed entry left running would both
    // burn cores and hold state stores for the rest of the suite
    classic.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    classic.streams.resetTerminated()
    // memory-sink temp views pin their result rows on the driver for
    // the rest of the suite (each streaming entry registers one).
    // Drop ONLY the engine's own views — the graft_*_v SQL-surface
    // views, the *_sink memory sinks, and recursive_chain's `nation`
    // — all recreated per call by their operators. A blanket drop
    // relied on that recreate-per-call invariant holding for every
    // FUTURE view too; scoping the drop makes a cached-view operator
    // fail loudly at review time instead of mysteriously mid-suite.
    val cat = classic.sessionState.catalog
    cat.getTempViewNames()
      .filter(v => v.startsWith("graft_") || v.endsWith("_sink") ||
        v == "nation")
      .foreach(cat.dropTempView)
    // synchronous block release — see CheckpointBridge.free
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    classic.catalog.clearCache()
    // unload streaming state-store providers: each keeps recent state
    // versions as in-memory maps keyed by a stopped query's run id,
    // and the maintenance thread keeps touching them; providers
    // reload lazily from their checkpoint if ever needed again
    try org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()
    catch { case _: Throwable => () }
    // drain the listener bus so per-entry IO metrics attribute to the
    // entry that produced them, not the next one
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
  }
}

/** One size-adaptive regime decision (`graft.operators.Regime.fits`),
  * posted to the `private[spark]` listener bus so a SparkListener's
  * `onOtherEvent` sees which regime a run took and the sizes behind
  * it. Listeners that don't match on it ignore it.
  */
case class RegimePick(site: String, regime: String, estimatedBytes: Long,
    budgetBytes: Long) extends org.apache.spark.scheduler.SparkListenerEvent {
  def post(s: org.apache.spark.sql.SparkSession): Unit = s.sparkContext.listenerBus.post(this)
}

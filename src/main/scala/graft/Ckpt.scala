package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.graft.CheckpointBridge
import org.apache.spark.storage.StorageLevel

/** The one lifecycle for cached and checkpointed intermediates: this
  * file is the only code under `graft` that persists, checkpoints or
  * frees a frame (CkptSpec guards it).
  *
  * The rule: an operator opens `Ckpt.scoped { sc => … }` and creates
  * every intermediate it wants stored through the scope —
  * `sc.persist` (a lazy cache of a frame or an RDD) or
  * `sc.checkpoint` (an eager local checkpoint that cuts lineage). When
  * the body returns or throws, the scope releases all of them with a
  * BLOCKING unpersist: async removal pushes the eviction work into
  * whatever runs next, which in a benchmark suite is the next entry's
  * timed region. Storage left for the driver GC to find is the leak
  * class that inflated late suite queries 9-12x (dead checkpoint
  * generations filling the executor store).
  *
  * A frame that must outlive the scope leaves through `sc.keep`: an
  * eager checkpoint the scope does not free, so the result owns its
  * blocks and the caller (or the session hygiene between queries)
  * releases them. Keeping a frame the scope already checkpointed
  * hands it over without a copy. The scope fails loudly when the
  * value it returns still reads a checkpoint it is about to free — a
  * lazy plan over freed checkpoint blocks is unrecoverable, since its
  * lineage was cut. (A returned plan over a freed `persist` is safe:
  * it recomputes from lineage.)
  *
  * Loops: `sc.roll(next, prev)` checkpoints `next` first, so nothing
  * ever depends on freed blocks, then frees `prev`; a convergence
  * loop rolls its state through the scope. Fixed-round loops use
  * `iterate`, which checkpoints every `every` rounds and on the last
  * round and holds exactly one generation when it returns.
  *
  * Storage a callee hands back is taken over the same way: `sc.adopt`
  * frees the checkpoint blocks a kept result reads once the caller is
  * done with it, and `sc.fit` frees the RDDs an MLlib fit leaves
  * persisted.
  */
object Ckpt {

  final class Scope private[Ckpt] () {
    private val cached = ArrayBuffer.empty[Dataset[_]]
    private val ckpts = ArrayBuffer.empty[Dataset[_]]
    private val adopted = ArrayBuffer.empty[Dataset[_]]
    private val rdds = ArrayBuffer.empty[RDD[_]]

    /** Lazily caches `ds` until the scope ends. */
    def persist[T](ds: Dataset[T]): Dataset[T] = {
      val p = ds.persist()
      cached += p
      p
    }

    /** Lazily caches `rdd` (memory, spilling to disk) until the scope ends. */
    def persist[T](rdd: RDD[T]): RDD[T] = {
      rdds += rdd.persist(StorageLevel.MEMORY_AND_DISK)
      rdd
    }

    /** Eagerly checkpoints `ds` (cuts its lineage) until the scope ends. */
    def checkpoint[T](ds: Dataset[T]): Dataset[T] = {
      val c = Ckpt.keep(ds)
      ckpts += c
      c
    }

    /** Takes over the checkpoint blocks a callee's result reads (a
      * `keep`'d frame, or a lazy plan over one), so the scope frees
      * them.
      */
    def adopt[T](ds: Dataset[T]): Dataset[T] = {
      adopted += ds
      ds
    }

    /** An eager checkpoint the scope does NOT free: the way a frame
      * outlives the scope. A frame this scope checkpointed itself
      * (`checkpoint`, `roll`, `iterate`) is handed over as it is.
      */
    def keep[T](ds: Dataset[T]): Dataset[T] =
      if (take(ckpts, ds)) ds else Ckpt.keep(ds)

    /** Runs a library fit (MLlib) and takes over the RDDs it leaves
      * persisted — model factors, EM graphs — so the scope frees them.
      * Operators run one at a time per session, so every RDD persisted
      * during the call is the fit's.
      */
    def fit[T](body: => T): T = {
      val ctx = SparkSession.active.sparkContext
      val before = ctx.getPersistentRDDs.keySet
      val out = body
      rdds ++= ctx.getPersistentRDDs.filter { case (id, _) => !before(id) }.values
      out
    }

    /** Checkpoints `next`, then frees `prev` if this scope holds it. */
    def roll[T](next: Dataset[T], prev: Dataset[_]): Dataset[T] = {
      val out = checkpoint(next)
      free(prev)
      out
    }

    /** Releases a frame this scope holds now rather than at its end
      * (no-op for any other frame). It must not be used afterwards.
      */
    def free(ds: Dataset[_]): Unit =
      if (take(cached, ds)) ds.unpersist(blocking = true)
      else if (take(ckpts, ds) || take(adopted, ds)) CheckpointBridge.free(ds)

    /** Removes `ds` (by reference) from `held`; false if absent. */
    private def take(held: ArrayBuffer[Dataset[_]], ds: Dataset[_]): Boolean = {
      val i = held.indexWhere(_ eq ds)
      if (i >= 0) held.remove(i)
      i >= 0
    }

    /** `rounds` applications of `step(state, round)`, round 1-based;
      * the state is rolled every `every` rounds and on the last one.
      * `init` itself is never freed.
      */
    def iterate(init: DataFrame, rounds: Int, every: Int)(
        step: (DataFrame, Int) => DataFrame): DataFrame = {
      var state = init
      var gen = Option.empty[DataFrame]
      for (i <- 1 to rounds) {
        state = step(state, i)
        if (i % every == 0 || i == rounds) {
          state = checkpoint(state)
          gen.foreach(free)
          gen = Some(state)
        }
      }
      state
    }

    private[Ckpt] def check(out: Any): Unit = out match {
      case ds: Dataset[_] =>
        val freed = (ckpts ++ adopted).flatMap(CheckpointBridge.rddIds).toSet
        val read = CheckpointBridge.rddIds(ds).filter(freed)
        if (read.nonEmpty) throw new IllegalStateException(
          s"Ckpt.scoped returns a frame that reads checkpoint RDDs " +
            s"${read.mkString(",")} the scope frees; keep() it instead")
      case p: Product => p.productIterator.foreach(check)
      case _ => ()
    }

    private[Ckpt] def close(): Unit = {
      cached.foreach(_.unpersist(blocking = true))
      (ckpts ++ adopted).foreach(CheckpointBridge.free)
      rdds.foreach(_.unpersist(blocking = true))
      cached.clear(); ckpts.clear(); adopted.clear(); rdds.clear()
    }
  }

  /** Runs `body` with a fresh scope; see the object doc. */
  def scoped[T](body: Scope => T): T = {
    val sc = new Scope
    try {
      val out = body(sc)
      sc.check(out)
      out
    } finally sc.close()
  }

  /** An eager checkpoint the caller owns: a result that holds its own
    * blocks (`Scope.keep` outside any scope).
    */
  def keep[T](ds: Dataset[T]): Dataset[T] = ds.localCheckpoint(eager = true)

  /** `Scope.iterate` whose final generation the caller owns. */
  def iterate(init: DataFrame, rounds: Int, every: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    scoped(sc => sc.keep(sc.iterate(init, rounds, every)(step)))
}

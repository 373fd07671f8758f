package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.{CheckpointBridge, SessionHygiene}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt):
  * the factory session at local[4] with 4 shuffle partitions.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.create("graft-test", cpus = 4)
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` with the Regime broadcast budget at `bytes`; `0`
    * forces every size-adaptive pick onto its fallback.
    */
  def withBudget[T](bytes: Long)(body: => T): T = {
    spark.conf.set(graft.operators.Regime.BudgetConf, bytes)
    try body finally spark.conf.unset(graft.operators.Regime.BudgetConf)
  }

  /** Returns once the listener bus has delivered every event posted
    * so far, to SparkListeners and QueryExecutionListeners alike (both
    * sit on its shared queue). The queue is ordered, so a query's
    * events may still be in it after the query returns: a listener
    * added then would see them, and one read or removed then would
    * miss them. Call it before adding a listener and before reading it.
    */
  def drainBus(): Unit = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]
    val probe = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        seen.add(e)
    }
    spark.sparkContext.addSparkListener(probe)
    try {
      val barrier = org.apache.spark.sql.graft.RegimePick("barrier", "", 0L, 0L)
      barrier.post(spark)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(barrier) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(barrier), "listener bus did not drain")
    } finally spark.sparkContext.removeSparkListener(probe)
  }
}

class ContractSpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("query names are unique") {
    assert(SparkEntry.defs.map(_.name).distinct.size == SparkEntry.defs.size)
  }

  // Each entry starts from a clean session; after its count() every
  // persistent RDD it created must be one of its result's own
  // checkpoint blocks (CheckpointBridge.rddIds). Anything else is a
  // cached frame or a dead checkpoint generation the operator leaked.
  test("all queries run at sf0.001") {
    val leaks = SparkEntry.defs.flatMap { d =>
      SessionHygiene.deepClear(spark)
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val out = d.fn(spark, sf)
      val n = out.count()
      withClue(s"query ${d.name}:") { assert(n >= 0) }
      val stray = spark.sparkContext.getPersistentRDDs.keySet.toSet --
        before -- CheckpointBridge.rddIds(out)
      if (stray.isEmpty) None
      else Some(s"${d.name} (${stray.size}: ${stray.toSeq.sorted.mkString(",")})")
    }
    assert(leaks.isEmpty,
      s"${leaks.size} entries leave storage their result does not read:\n" +
        leaks.mkString("\n"))
  }
}

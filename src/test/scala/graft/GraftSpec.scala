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

package graft

import org.apache.spark.sql.SparkSession
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

  test("all queries run at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      withClue(s"query $name:") { assert(n >= 0) }
    }
  }
}

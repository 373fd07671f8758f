package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.sources.Tables

/** Parity pin for the native SimHashAgg: its packed signature must be
  * BIT-IDENTICAL to the composed 64-conditional-sum formulation it
  * replaced (same +1/−1 bit balance, same >0 packing rule), on every
  * document — so the native fast path can never drift from the
  * definitional one.
  */
class SketchSimhashSpec extends AnyFunSuite {
  import TestSpark._

  test("native SimHashAgg equals the composed 64-column formulation on all docs") {
    val docs = Tables.documents(spark, sf)
    val native = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val composed = Dedup.simhashComposed(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native.keySet === composed.keySet)
    native.foreach { case (id, sig) =>
      assert(sig === composed(id), s"signature drift for doc $id")
    }
    assert(native.nonEmpty)
  }

  test("graft_simhash is callable from SQL") {
    Tables.documents(spark, sf).createOrReplaceTempView("docs_simhash_sql")
    val n = spark.sql(
      """SELECT doc_id, graft_simhash(xxhash64(tok)) AS sig
        |FROM (SELECT doc_id, explode(split(lower(text), '\\s+')) AS tok
        |      FROM docs_simhash_sql)
        |GROUP BY doc_id""".stripMargin).count()
    assert(n > 0)
  }
}

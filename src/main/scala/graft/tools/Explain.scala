package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{GraftSession, SparkEntry}
import graft.operators.Dedup

/** Plan auditor: prints the formatted physical plan for the named
  * queries (or every registry entry) so shuffle/broadcast/pushdown
  * can be reviewed. Besides the registry names it knows two internal
  * plans that the dedup family hides behind a localCheckpoint (its
  * registry plans end in a LocalTableScan): `lsh_candidates`, the
  * MinHash/LSH candidate generation (`Dedup.lshCandidates`, one
  * `bucketPairs` expansion), and `jaccard_verify`, the verified
  * MinHash pairs (`Dedup.minhashPairs`), both over the staged shingles.
  * Usage: runMain graft.tools.Explain <sfDir> [name ...]
  */
object Explain {
  private val plans: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries ++ Map(
      "lsh_candidates" -> ((s: SparkSession, d: String) =>
        Dedup.lshCandidates(Dedup.minhashSignatures(Dedup.stagedShingles(s, d)))),
      "jaccard_verify" -> ((s: SparkSession, d: String) =>
        Dedup.minhashPairs(Dedup.stagedShingles(s, d), 0.8).orderBy("id1", "id2")))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.defs.map(_.name)
    val spark = GraftSession.create("graft-explain")
    // SPARK_GRAFT_EXPLAIN_EXEC=1: execute the plan first so the dump
    // is AQE's FINAL plan with WholeStageCodegen annotations (the
    // pre-execution dump prints isFinalPlan=false and carries no
    // codegen ids, which makes §4 codegen-placement claims unverifiable
    // from the committed file)
    val exec = sys.env.get("SPARK_GRAFT_EXPLAIN_EXEC").contains("1")
    names.foreach { n =>
      println(s"\n===== $n =====")
      try {
        val df = plans(n)(spark, sfDir)
        if (exec) df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
          .queryExecution.toRdd.count()
        df.explain("formatted")
      }
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}

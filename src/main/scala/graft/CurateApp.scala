package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.{Dedup, TextAnalysis}
import graft.sources.Tables

/** CLI driver for the training-data curation pipeline: read a
  * documents parquet (doc_id, text, ...), score quality and language,
  * filter, exact-dedup, near-dedup (MinHash+LSH → connected
  * components → one survivor per component), and write the curated
  * corpus as parquet.
  *
  * Usage: CurateApp <inputParquet> <outputDir> [qualityMin] [lang]
  *
  * The session comes from `GraftSession.create`: under spark-submit
  * the job runs on the submitted `spark.master`, and only a direct
  * invocation falls back to `local[SPARK_GRAFT_CPUS]`.
  *
  * One pass scores each document: the `TextStats` kernel runs once
  * per row, and the quality and language filter reads its output.
  * `run` persists the curated, exact-deduped corpus once; shingling
  * and the survivor write both read that copy, so the scan and the
  * scoring run once per run. The shuffles are the exact-dedup
  * fingerprint window, the signature aggregation, the LSH bucket
  * join, the component rounds and the survivor anti-join — none of
  * them O(corpus²).
  */
object CurateApp {

  /** Quality + language filter as a library call: keeps every
    * original column, appends `quality`. Formulas come from
    * TextAnalysis (the single source also used by the per-operator
    * suite and the oracles).
    */
  def curate(docs: DataFrame, qualityMin: Double, lang: String): DataFrame = {
    import TextAnalysis._
    // input columns named like ANY derived column (a corpus often
    // ships its own n_chars; re-curating our own output ships quality)
    // would collide with the computed ones — the recomputed column
    // wins, the input copy is dropped
    val derived = Set("n_chars", "n_tokens", "alpha_chars", "n_stops",
      "quality", "pred_lang") ++ TextAnalysis.markers.map { case (l, _) => s"c_$l" }
    val extra = docs.columns
      .filterNot(c => Seq("doc_id", "text").contains(c) || derived(c)).toSeq
    qualityInputs(docs, keep = extra)
      .filter(col("n_chars") > 0 && col("n_tokens") > 0)
      .select(Seq(col("doc_id"), col("text")) ++ extra.map(col) ++
        Seq(qualityCol.as("quality"), predLangCol.as("pred_lang")): _*)
      .filter(col("quality") >= qualityMin && col("pred_lang") === lang)
      .select(Seq(col("doc_id"), col("text")) ++ extra.map(col) :+ col("quality"): _*)
  }

  /** The full job against an existing session (what main and tests
    * both drive). Returns the curated row count. The input goes
    * through `Tables.parquet` (schema inferred once per content); the
    * count is observed on the write (`writeCounted`), not read back.
    */
  def run(spark: SparkSession, input: String, output: String,
      qualityMin: Double = 0.75, lang: String = "en"): Long = {
    val docs = Tables.parquet(spark, input)
    Ckpt.scoped { sc =>
      // one copy of the curated corpus: shingling and the survivor
      // write both read it, so neither rescans and rescores the input
      val exact = sc.persist(Dedup.dedupedCorpus(curate(docs, qualityMin, lang)))
      // near-dedup: MinHash+LSH pairs resolved to components, one
      // survivor each; the survivors may read component labels that
      // nearDedupedCorpus kept, which the scope adopts
      val sh = sc.persist(Dedup.shinglesHashed(exact))
      val pairs = sc.adopt(Dedup.minhashPairs(sh, 0.8)).select("id1", "id2")
      val curated = sc.adopt(Dedup.nearDedupedCorpus(exact, pairs))
      writeCounted(curated, output)
    }
  }

  /** Writes `df` as parquet to `output` and returns the rows written,
    * counted by a `Dataset.observe` metric on the write itself, so no
    * job reads the output back. The metric reaches the driver with the
    * write's query-execution event. (The `Observation` class waits for
    * it the same way, but it leaves a non-serializable manager in the
    * session, and any task closure that captures the session then
    * fails to serialize — an MLlib model's training summary does.)
    */
  private def writeCounted(df: DataFrame, output: String): Long = {
    val name = s"graft_rows_${java.util.UUID.randomUUID}"
    val rows = scala.concurrent.Promise[Long]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.observedMetrics.get(name).foreach(r => rows.trySuccess(r.getLong(0)))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    df.sparkSession.listenerManager.register(listener)
    try {
      df.observe(name, count(lit(1))).write.mode("overwrite").parquet(output)
      // the write has returned: only the event's delivery is left
      scala.concurrent.Await.result(rows.future, scala.concurrent.duration.Duration(5, "min"))
    } finally df.sparkSession.listenerManager.unregister(listener)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "Usage: CurateApp <inputParquet> <outputDir> [qualityMin] [lang]")
    val spark = GraftSession.create("graft-curate")
    try {
      val n = run(spark, args(0), args(1),
        args.lift(2).map(_.toDouble).getOrElse(0.75),
        args.lift(3).getOrElse("en"))
      println(s"curated $n documents -> ${args(1)}")
    } finally spark.stop()
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * Scoring and filtering fuse into the scan; the shuffles are the
  * signature aggregation, the LSH bucket join, the component rounds,
  * and the survivor anti-join — none of them O(corpus²).
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
        Seq(qualityCol.as("quality")) ++ markerCols: _*)
      .withColumn("pred_lang", predLangCol)
      .filter(col("quality") >= qualityMin && col("pred_lang") === lang)
      .select(Seq(col("doc_id"), col("text")) ++ extra.map(col) :+ col("quality"): _*)
  }

  /** Near-dedup the (already filtered) corpus: exact dedup first
    * (cheap fingerprint shuffle), then MinHash+LSH pairs resolved to
    * components, one survivor each.
    */
  def nearDedup(docs: DataFrame): DataFrame = {
    val exact = Dedup.dedupedCorpus(docs)
    val sh = Dedup.shinglesHashed(exact).cache()
    try {
      val pairs = Dedup.jaccardVerify(sh,
        Dedup.lshCandidates(Dedup.minhashSignatures(sh)), 0.8)
        .select("id1", "id2").localCheckpoint(true)
      Dedup.nearDedupedCorpus(exact, pairs)
    } finally sh.unpersist(false)
  }

  /** The full job against an existing session (what main and tests
    * both drive). Returns the curated row count. The input goes
    * through `Tables.parquet` (schema inferred once per content); the
    * count reads the output back with the schema it was written with,
    * so neither read pays a schema-inference job on a repeated run.
    */
  def run(spark: SparkSession, input: String, output: String,
      qualityMin: Double = 0.75, lang: String = "en"): Long = {
    val docs = Tables.parquet(spark, input)
    val curated = nearDedup(curate(docs, qualityMin, lang))
    curated.write.mode("overwrite").parquet(output)
    spark.read.schema(curated.schema).parquet(output).count()
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

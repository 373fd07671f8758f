package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraftSession

/** Synthesize a larger corpus from /root/testdata/sf0.1 by key-offset
  * replication (dup-with-jitter), so the flagship plans get a second
  * scale point and the PLANS.md 100 TB arguments become measured
  * slopes instead of design claims (r7 verdict item 7).
  *
  * Each copy c offsets every entity key by c·K (K = a power of ten
  * above the base corpus's max key), so referential joins
  * (orders⋈lineitem, customer⋈orders, supplier⋈lineitem) stay exact
  * within a copy and never collide across copies. Dimensions
  * (nation/region) are shared. Text/embedding payloads get a small
  * deterministic per-copy jitter so near-dup and ANN structure grows
  * linearly instead of every row acquiring `copies` exact clones
  * (which would square the dedup candidate pairs — not a corpus any
  * real pipeline sees).
  *
  * Usage: runMain graft.tools.MakeScale <outDir> <copies>
  */
object MakeScale {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "/tmp/sf1"
    val copies = if (args.length > 1) args(1).toInt else 10
    val src = "/root/testdata/sf0.1"
    val spark = GraftSession.create("graft-make-scale")
    val K = 100000000L // above every base key in the sf0.1 corpus

    def rep(t: String)(f: (DataFrame, Long) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$t.parquet")
      val out = (0 until copies).map(c => f(base, c.toLong * K))
        .reduce(_ unionAll _)
      out.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[make-scale] $t x$copies -> $outDir")
    }

    // shared dimensions: copy through once
    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    rep("customer")((df, o) => df.withColumn("c_custkey", col("c_custkey") + o))
    rep("supplier")((df, o) => df.withColumn("s_suppkey", col("s_suppkey") + o))
    rep("part")((df, o) => df.withColumn("p_partkey", col("p_partkey") + o))
    rep("orders")((df, o) => df
      .withColumn("o_orderkey", col("o_orderkey") + o)
      .withColumn("o_custkey", col("o_custkey") + o))
    rep("lineitem")((df, o) => df
      .withColumn("l_orderkey", col("l_orderkey") + o)
      .withColumn("l_partkey", col("l_partkey") + o)
      .withColumn("l_suppkey", col("l_suppkey") + o))
    rep("events")((df, o) => df
      .withColumn("event_id", col("event_id") + o)
      .withColumn("user_id", col("user_id") + o))
    rep("documents")((df, o) => df
      .withColumn("doc_id", col("doc_id") + o)
      // per-copy suffix: shingle sets stay ~identical (near-dup
      // structure preserved) without exact-duplicate text
      .withColumn("text",
        when(lit(o) === 0, col("text"))
          .otherwise(concat(col("text"), lit(" c"), lit(o / K)))))
    rep("embeddings")((df, o) => df
      .withColumn("vec_id", col("vec_id") + o)
      // jitter dim 0 by a tiny per-copy epsilon: vectors stay in the
      // same IVF neighborhoods but are not bit-identical
      .withColumn("embedding",
        when(lit(o) === 0, col("embedding")).otherwise(
          transform(col("embedding"), (x, i) =>
            when(i === 0, x + lit(o / K) * lit(1e-4f)).otherwise(x)))))
    spark.stop()
  }
}

package graft

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, RelationalExt, RelationalMore}
import graft.sources.Tables

/** Stale warehouse artifacts are garbage-collected. Every artifact
  * carries a `_graft_meta` provenance sidecar (corpus dir, base
  * tables, hash salt); a build MISS triggers a sweep that drops any
  * artifact whose recorded corpus no longer fingerprints to the hash
  * in its name — the regenerate-the-corpus-forever leak (341 MB of
  * dead `graft_*` variants from prior corpus generations once).
  */
class WarehouseGcSpec extends AnyFunSuite {
  import TestSpark._

  private def warehouseDir: File = {
    val raw = spark.conf.get("spark.sql.warehouse.dir")
    new File(new java.net.URI(raw).getPath)
  }

  private def artifacts(prefix: String): Set[String] =
    Option(warehouseDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .map(_.getName).toSet

  private def rmTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree); f.delete()
  }

  test("regenerating the corpus collects the stale artifact on re-stage") {
    // start clean: a PREVIOUS session's run of this test leaves its
    // temp corpus alive in /tmp, so its artifact is legitimately
    // non-stale and would make the size-1 asserts below read 2
    // (observed when the suite ran twice in one sandbox)
    artifacts("graft_gcspec_").foreach(n => rmTree(new File(warehouseDir, n)))
    val corpusDir = Files.createTempDirectory("graft_gc_corpus").toFile
    val corpus = corpusDir.getAbsolutePath
    try {
      spark.range(10).toDF("x").write.parquet(s"$corpus/t.parquet")
      def stage() = graft.sources.Warehouse
        .staged(spark, corpus, "gcspec", Seq("t.parquet")) {
          spark.read.parquet(s"$corpus/t.parquet")
        }
      assert(stage().count() === 10)
      val a1 = artifacts("graft_gcspec_")
      assert(a1.size === 1, s"expected one artifact, saw $a1")
      // the sidecar provenance must exist (it is what makes GC possible)
      assert(new File(warehouseDir, s"${a1.head}/_graft_meta").exists())
      // regenerate the corpus in place: size changes => new fingerprint
      Thread.sleep(1100) // mtime granularity guard
      spark.range(25).toDF("x").write.mode("overwrite").parquet(s"$corpus/t.parquet")
      assert(stage().count() === 25)
      val a2 = artifacts("graft_gcspec_")
      assert(a2.size === 1 && a2 != a1,
        s"stale artifact survived the rebuild sweep: $a1 -> $a2")
    } finally rmTree(corpusDir)
    // with the corpus gone the surviving artifact is stale; leave the
    // warehouse as we found it (and prove deleted-corpus staleness
    // again on the way out)
    graft.sources.Warehouse.gcStale(spark)
    assert(artifacts("graft_gcspec_").isEmpty)
  }

  /** The artifacts whose provenance names corpus `d`. */
  private def artifactsOf(d: String): Set[String] =
    Option(warehouseDir.listFiles()).getOrElse(Array.empty)
      .filter(f => new File(f, "_graft_meta").exists())
      .filter(f => Files.readAllLines(new File(f, "_graft_meta").toPath).asScala.headOption
        .contains(d))
      .map(_.getName).toSet

  /** Rewrites the one-file table `t` of corpus `d` in place, keeping
    * the rows `keep` selects.
    */
  private def rewrite(d: String, t: String, keep: org.apache.spark.sql.Column): Unit = {
    val tmp = Files.createTempDirectory("graft_gc_rewrite").toFile
    try {
      spark.read.parquet(s"$d/$t").filter(keep).coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/out")
      val part = new File(s"$tmp/out").listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.delete(Paths.get(s"$d/$t"))
      Files.move(part.toPath, Paths.get(s"$d/$t"))
    } finally rmTree(tmp)
  }

  test("artifacts of a corpus regenerated in place answer for the new data; the old are swept") {
    val d = Files.createTempDirectory("graft_gc_regen").toFile.getAbsolutePath
    Seq("orders", "lineitem", "documents").foreach { t =>
      Files.copy(Paths.get(s"$sf/$t.parquet"), Paths.get(s"$d/$t.parquet"))
    }
    // per artifact what it answers: HLL order total, bucketed orders
    // rows, and the doc ids the dedup index holds
    def answers() = {
      val split = Dedup.incrementSplit(Tables.documents(spark, d))
      val hll = RelationalMore.hllSketchTable(spark, d)
        .agg(sum("n_orders")).head.getLong(0)
      val ord = spark.table(RelationalExt.bucketedTables(spark, d)._2).count()
      val idx = spark.read.parquet(Dedup.dedupIndexDir(spark, d, split))
        .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
      (hll, ord, idx, split)
    }
    def orderCount() = spark.read.parquet(s"$d/orders.parquet").count()
    try {
      val (hll1, ord1, idx1, split1) = answers()
      assert(hll1 == orderCount() && ord1 == orderCount())
      assert(idx1.nonEmpty && idx1.forall(_ < split1))
      val arts1 = artifactsOf(d)
      rewrite(d, "orders.parquet", col("o_orderkey") % 2 === 0)
      rewrite(d, "documents.parquet", col("doc_id") % 2 === 0)
      val (hll2, ord2, idx2, split2) = answers()
      assert(hll2 == orderCount() && hll2 < hll1, s"hll answered $hll2 orders")
      assert(ord2 == orderCount() && ord2 < ord1, s"bucketed orders answered $ord2 rows")
      assert(idx2.nonEmpty && idx2.forall(i => i % 2 == 0 && i < split2),
        s"dedup index still holds ${idx2.filter(_ % 2 != 0).take(5)}")
      Seq("graft_hll_", "graft_li_b_", "graft_ord_b_", "graft_dedup_idx_").foreach { f =>
        assert(arts1.count(_.startsWith(f)) == 1, s"$f in $arts1")
      }
      val arts2 = artifactsOf(d)
      val gone = arts1 -- arts2
      assert(gone.map(_.replaceAll("_[0-9a-f]{8}$", "")) ==
        Set("graft_hll", "graft_ord_b", "graft_dedup_idx"), s"$arts1 -> $arts2")
      gone.foreach { n =>
        assert(!new File(warehouseDir, n).exists(), s"stale $n survived")
        assert(!spark.catalog.tableExists(n), s"stale table $n still registered")
      }
    } finally rmTree(new File(d))
    graft.sources.Warehouse.gcStale(spark)
    assert(artifactsOf(d).isEmpty)
  }

  test("only Warehouse reads the warehouse dir") {
    val needle = Seq("spark", "sql", "warehouse", "dir").mkString(".")
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"$root not found")
    val files = {
      val w = Files.walk(root)
      try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }
    val hits = files.filter(_.getFileName.toString != "Warehouse.scala")
      .filter(p => Files.readString(p).contains(needle))
      .map(_.getFileName.toString)
    assert(files.size > 20 && hits.isEmpty, hits.mkString("\n"))
  }

  test("metaless complete artifacts (pre-provenance) are collected") {
    val legacy = new File(warehouseDir, "graft_gclegacy_deadbeef")
    legacy.mkdirs()
    Files.writeString(new File(legacy, "_SUCCESS").toPath, "")
    graft.sources.Warehouse.gcStale(spark)
    assert(!legacy.exists(), "metaless complete artifact must be dropped")
  }

  test("half-built artifacts (no _SUCCESS) are left for their builder") {
    val half = new File(warehouseDir, "graft_gchalf_deadbeef")
    half.mkdirs()
    Files.writeString(new File(half, "part-0.parquet").toPath, "x")
    graft.sources.Warehouse.gcStale(spark)
    assert(half.exists(), "in-flight build must not be swept")
    // cleanup so reruns start clean
    new File(half, "part-0.parquet").delete(); half.delete()
  }

  test("an artifact whose corpus dir is gone is stale") {
    val corpus = Files.createTempDirectory("graft_gc_gone").toFile.getAbsolutePath
    spark.range(5).toDF("x").write.parquet(s"$corpus/t.parquet")
    graft.sources.Warehouse
      .staged(spark, corpus, "gcgone", Seq("t.parquet")) {
        spark.read.parquet(s"$corpus/t.parquet")
      }.count()
    assert(artifacts("graft_gcgone_").size === 1)
    // delete the corpus, then sweep
    def rm(f: File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
    }
    rm(new File(corpus))
    graft.sources.Warehouse.gcStale(spark)
    assert(artifacts("graft_gcgone_").isEmpty,
      "artifact of a deleted corpus must be collected")
  }
}

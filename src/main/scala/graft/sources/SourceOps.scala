package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.QueryDef

/** Source/sink coverage: every format leaves the engine through a
  * distributed write and comes back through a distributed read, then
  * is checked against the DuckDB oracle reading the original parquet.
  * Exercises the reference's text IO (PointsText) plus the CSV/JSON/
  * partitioned-parquet surface a Spark user expects.
  *
  * Scale posture: all writes are executor-parallel (no driver
  * collect); the partitioned-parquet query proves partition pruning
  * (the filter never scans the other partitions' files).
  */
object SourceOps {

  // per-process staging root: two concurrent JVMs (a test run and a
  // bench run) must not overwrite each other's roundtrip files
  private lazy val stagingRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_io")
    p.toFile.deleteOnExit()
    p
  }

  private def tmpDir(name: String): String =
    stagingRoot.resolve(name).toString

  /** Text sink + source roundtrip of the reference's "x,y" format;
    * sums survive the Double.toString round-trip exactly (rounding
    * only absorbs summation-order noise).
    */
  val srcTextPoints: QueryDef = QueryDef.sql(
    "src_text_points",
    """SELECT count(*) AS n,
      |  round(sum(l_quantity), 2) AS sum_x,
      |  round(sum(l_extendedprice), 2) AS sum_y
      |FROM lineitem""".stripMargin) { (s, d) =>
    val path = tmpDir("points_text")
    val pts = Tables.lineitem(s, d)
      .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    PointsText.writePoints(pts, path)
    PointsText.read(s, path)
      .agg(count(lit(1)).as("n"),
        round(sum(col("x")), 2).as("sum_x"),
        round(sum(col("y")), 2).as("sum_y"))
  }

  /** CSV sink + source roundtrip (header, explicit read schema). */
  val srcCsvRoundtrip: QueryDef = QueryDef.sql(
    "src_csv_roundtrip",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
    val path = tmpDir("nation_csv")
    Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").option("header", "true").csv(path)
    s.read
      .schema(StructType(Seq(
        StructField("n_nationkey", LongType),
        StructField("n_name", StringType),
        StructField("n_regionkey", LongType))))
      .option("header", "true").csv(path)
      .orderBy(col("n_nationkey"))
  }

  /** JSON-lines sink + source roundtrip. */
  val srcJsonRoundtrip: QueryDef = QueryDef.sql(
    "src_json_roundtrip",
    """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""") { (s, d) =>
    val path = tmpDir("region_json")
    Tables.region(s, d).select("r_regionkey", "r_name")
      .write.mode("overwrite").json(path)
    s.read
      .schema(StructType(Seq(
        StructField("r_regionkey", LongType),
        StructField("r_name", StringType))))
      .json(path)
      .orderBy(col("r_regionkey"))
  }

  /** Hive-style partitioned parquet sink, then a partition-pruned
    * read: the o_orderstatus predicate is resolved against directory
    * names — files of other partitions are never opened (explain
    * shows the pruned `PartitionFilters`, no row-level filter).
    */
  val srcPartitionedScan: QueryDef = QueryDef.sql(
    "src_partitioned_scan",
    """SELECT o_orderpriority, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val path = tmpDir("orders_by_status")
    Tables.orders(s, d)
      .select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderstatus")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    s.read.parquet(path)
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  /** ORC sink + source roundtrip (the columnar alternative when the
    * lakehouse standardizes on ORC): predicate pushdown and column
    * pruning work the same as parquet.
    */
  val srcOrcRoundtrip: QueryDef = QueryDef.sql(
    "src_orc_roundtrip",
    """SELECT s_suppkey, s_name, s_nationkey FROM supplier
      |WHERE s_suppkey < 100 ORDER BY s_suppkey""".stripMargin) { (s, d) =>
    val path = tmpDir("supplier_orc")
    Tables.supplier(s, d).select("s_suppkey", "s_name", "s_nationkey")
      .write.mode("overwrite").orc(path)
    s.read.orc(path)
      .filter(col("s_suppkey") < 100)
      .orderBy(col("s_suppkey"))
  }

  /** Morton z-value of two long columns, 16 bits each interleaved —
    * a single codegen'd expression tree (32 shift/or terms, no UDF).
    * Inputs must already be scaled into [0, 65535].
    */
  def zValue(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column):
      org.apache.spark.sql.Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(1), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(1), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  val ZFiles = 16

  /** Z-ORDER layout: lineitem rewritten range-partitioned + sorted by
    * the Morton interleave of (l_partkey, l_suppkey), so each output
    * file covers a RECTANGLE of the 2-D key space and a conjunctive
    * range predicate on both keys skips most row groups via parquet
    * min/max stats — the multi-dimensional generalization of sorting
    * that a single-column sort can't give (sorting by partkey alone
    * leaves suppkey scattered through every file). The layout write
    * is the once-per-corpus ingest; the query is a 2-D box probe,
    * oracle-checked against the unsorted table. File-level
    * rectangle-ness is asserted in ScalaTest.
    */
  val srcZorderScan: QueryDef = QueryDef.sql(
    "src_zorder_scan",
    """SELECT count(*) AS n, CAST(sum(l_partkey) AS BIGINT) AS sum_pk,
      |  round(sum(l_extendedprice), 2) AS total
      |FROM lineitem
      |WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 10 AND 40""".stripMargin) { (s, d) =>
    Tables.parquet(s, zorderedLineitem(s, d))
      .filter(col("l_partkey").between(100, 300) &&
        col("l_suppkey").between(10, 40))
      .agg(count(lit(1)).as("n"),
        sum(col("l_partkey")).cast("long").as("sum_pk"),
        round(sum(col("l_extendedprice")), 2).as("total"))
  }

  /** Once-per-corpus z-ordered rewrite: a Warehouse artifact over
    * lineitem, salted with the file count and the 16-bit key scaling.
    */
  def zorderedLineitem(s: SparkSession, d: String): String =
    Warehouse.artifact(s, d, "li_zorder", Seq("lineitem.parquet"), s"|z$ZFiles|16bit") { dir =>
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice")
      // scale both keys into 16-bit range by their observed max
      val (maxP, maxS) = {
        val r = li.agg(max("l_partkey"), max("l_suppkey")).collect()(0)
        (math.max(r.getLong(0), 1L), math.max(r.getLong(1), 1L))
      }
      val z = zValue(col("l_partkey") * 65535L / maxP,
        col("l_suppkey") * 65535L / maxS)
      li.withColumn("graft_z", z)
        .repartitionByRange(ZFiles, col("graft_z"))
        .sortWithinPartitions(col("graft_z"))
        .drop("graft_z")
        .write.mode("overwrite").parquet(dir)
    }

  /** HILBERT layout: the z-order rewrite with the Morton interleave
    * swapped for the Hilbert curve (native codegen'd HilbertIndex —
    * the per-level rotations compose exponentially as Column
    * arithmetic, so the walk is one generated 16-iteration loop).
    * Same once-per-corpus ingest contract and the same 2-D box-probe
    * payoff, but the Hilbert curve has NO quadrant seams: every
    * adjacent key-space cell pair is adjacent on the curve, so file
    * bounding rectangles stay compact where z-order's seam files
    * stretch across the plane — fewer boundary files intersect a
    * given box. Oracle = the identical box query on the raw table;
    * file-level pruning is pinned in ScalaTest next to the z-order
    * layout's.
    */
  val srcHilbertScan: QueryDef = QueryDef.sql(
    "src_hilbert_scan",
    """SELECT count(*) AS n, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
      |  round(sum(l_extendedprice), 2) AS total
      |FROM lineitem
      |WHERE l_partkey BETWEEN 400 AND 600 AND l_suppkey BETWEEN 50 AND 80""".stripMargin) { (s, d) =>
    Tables.parquet(s, hilbertLineitem(s, d))
      .filter(col("l_partkey").between(400, 600) &&
        col("l_suppkey").between(50, 80))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("l_suppkey")).as("n_supp"),
        round(sum(col("l_extendedprice")), 2).as("total"))
  }

  /** Once-per-corpus Hilbert-ordered rewrite (zorderedLineitem's
    * artifact with the curve swapped).
    */
  def hilbertLineitem(s: SparkSession, d: String): String =
    Warehouse.artifact(s, d, "li_hilbert", Seq("lineitem.parquet"), s"|h$ZFiles|16bit") { dir =>
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice")
      val (maxP, maxS) = {
        val r = li.agg(max("l_partkey"), max("l_suppkey")).collect()(0)
        (math.max(r.getLong(0), 1L), math.max(r.getLong(1), 1L))
      }
      val hv = graft.functions.VectorFunctions.hilbert_index(
        (col("l_partkey") * 65535L / maxP).cast("long"),
        (col("l_suppkey") * 65535L / maxS).cast("long"))
      li.withColumn("graft_h", hv)
        .repartitionByRange(ZFiles, col("graft_h"))
        .sortWithinPartitions(col("graft_h"))
        .drop("graft_h")
        .write.mode("overwrite").parquet(dir)
    }

  val ManifestFiles = 8

  /** Iceberg/Delta-shape FILE SKIPPING from a stored min/max
    * manifest: the data lays out range-partitioned on the filter
    * column (so each file covers a narrow slice), and a once-per-
    * ingest manifest table records per-file (min, max, rows). A range
    * query consults the manifest FIRST — O(files) driver work against
    * kilobytes, the exact job of Iceberg's manifest files / Delta's
    * stats in the log — and opens only the files whose interval
    * intersects the predicate; the residual filter cleans up the
    * boundary files. At 100 TB this is the difference between
    * listing+reading every file and touching the 2 files that
    * matter; parquet row-group stats do the same pruning only AFTER
    * each footer is fetched, which at cloud-object-store latency is
    * exactly what the manifest avoids. Oracle = the same range query
    * over the unpruned table; file-count pruning is pinned in
    * ScalaTest.
    */
  val srcManifestScan: QueryDef = QueryDef.sql(
    "src_manifest_scan",
    """SELECT count(*) AS n,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
      |  round(sum(l_extendedprice), 2) AS total
      |FROM lineitem
      |WHERE l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'""".stripMargin) { (s, d) =>
    val (dataDir, manDir) = manifestLineitem(s, d)
    val (lo, hi) = ("1995-01-01", "1995-03-31")
    val pruned = Tables.parquet(s, manDir)
      .filter(col("min_ship") <= lit(hi).cast("date") &&
        col("max_ship") >= lit(lo).cast("date"))
      .select("file").collect().map(_.getString(0))
    val src = if (pruned.isEmpty) Tables.parquet(s, dataDir)
      else s.read.parquet(pruned.toIndexedSeq: _*)
    src.filter(col("l_shipdate").between(lit(lo).cast("date"), lit(hi).cast("date")))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("l_suppkey")).as("n_supp"),
        round(sum(col("l_extendedprice")), 2).as("total"))
  }

  /** Once-per-corpus manifest build: lineitem rewritten range-
    * partitioned on l_shipdate (ManifestFiles files, sorted within
    * each so every file covers a tight date interval), plus the
    * per-file stats manifest derived in one scan of the laid-out
    * table via the _metadata.file_path virtual column. Two Warehouse
    * artifacts: the manifest's base table is the data layout itself,
    * so a rebuilt layout (new file names) can never be read through
    * an old manifest. Returns (dataDir, manifestDir).
    */
  def manifestLineitem(s: SparkSession, d: String): (String, String) = {
    val dataDir = Warehouse.artifact(s, d, "li_mfdata", Seq("lineitem.parquet"),
        s"|range$ManifestFiles|l_shipdate") { dir =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice")
        .repartitionByRange(ManifestFiles, col("l_shipdate"))
        .sortWithinPartitions(col("l_shipdate"))
        .write.mode("overwrite").parquet(dir)
    }
    val data = new org.apache.hadoop.fs.Path(dataDir)
    val manDir = Warehouse.artifact(s, data.getParent.toString, "li_manifest",
        Seq(data.getName)) { dir =>
      Tables.parquet(s, dataDir)
        .groupBy(col("_metadata.file_path").as("file"))
        .agg(min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"),
          count(lit(1)).as("n_rows"))
        .coalesce(1)
        .write.mode("overwrite").parquet(dir)
    }
    (dataDir, manDir)
  }

  val GdprBuckets = 16

  /** Build the user-bucketed events layout GDPR deletion operates
    * on: partition column ub = user_id % GdprBuckets. User-keyed
    * partitioning is the canonical right-to-be-forgotten layout — a
    * delete request touches exactly the requester's bucket, not the
    * whole corpus.
    */
  def gdprBuild(s: SparkSession, d: String, root: String): Unit =
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        pmod(col("user_id"), lit(GdprBuckets.toLong)).as("ub"))
      .write.mode("overwrite").partitionBy("ub").parquet(root)

  /** Apply the deterministic delete request (user_id % 97 == 0) by
    * DYNAMIC PARTITION OVERWRITE: only the buckets containing a
    * requester are read back, filtered, and rewritten — every other
    * partition's files are untouched on disk (pinned in ScalaTest by
    * mtime). The affected-bucket list is an O(buckets) driver
    * collect. Affected rows are checkpointed before the overwrite
    * (read-then-overwrite of the same files); at scale the rewrite
    * streams to new files under the same partition path, which is
    * exactly what partitionOverwriteMode=dynamic commits.
    */
  def gdprApply(s: SparkSession, root: String): Unit = {
    val layout = s.read.parquet(root)
    val affected = layout.filter(col("user_id") % 97 === 0)
      .select(col("ub")).distinct().collect().map(_.getAs[Number](0).longValue)
    if (affected.nonEmpty) {
      graft.Ckpt.scoped { sc =>
        val survivors = sc.checkpoint(layout.filter(col("ub").isin(affected.toIndexedSeq: _*))
          .filter(col("user_id") % 97 =!= 0))
        // dynamic overwrite replaces exactly the partitions present in
        // the written data — a bucket whose rows ALL belonged to the
        // requester produces no output partition and would silently
        // keep its old files (found the hard way at sf0.001, where a
        // bucket held a single user); such buckets are dropped
        // explicitly, which is what a lakehouse DELETE's commit does.
        val nonEmpty = survivors.select(col("ub")).distinct().collect()
          .map(_.getAs[Number](0).longValue).toSet
        val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try {
          if (nonEmpty.nonEmpty)
            survivors.filter(col("ub").isin(nonEmpty.toSeq: _*))
              .write.mode("overwrite").partitionBy("ub").parquet(root)
        } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        affected.filterNot(nonEmpty).foreach { b =>
          fs.delete(new org.apache.hadoop.fs.Path(root, s"ub=$b"), true)
        }
      }
    }
  }

  private val gdprDone = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Right-to-be-forgotten as a storage operation: see gdprBuild /
    * gdprApply. The layout+delete run once per process; the audited
    * readout aggregates the surviving table, oracle = the events
    * table minus the requesters.
    */
  val srcGdprDelete: QueryDef = QueryDef.sql(
    "src_gdpr_delete",
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
      |FROM events WHERE user_id % 97 <> 0
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val root = gdprDone.computeIfAbsent(d, { dir =>
      val p = java.nio.file.Files.createTempDirectory("graft_gdpr").toString
      gdprBuild(s, dir, p)
      gdprApply(s, p)
      p
    })
    s.read.parquet(root)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("event_type"))
  }

  val CompactTargetFiles = 4

  /** Small-file compaction — the operational fix for the classic
    * 100 TB lakehouse pathology (a streaming ingest leaving
    * thousands of KB-sized files makes every scan pay per-file open
    * + listing cost). Stage orders as 64 tiny files, compact by
    * reading + repartitioning to a right-sized file count + rewrite.
    * Data parity is the oracle; the file-count collapse is asserted
    * in ScalaTest.
    */
  val srcCompactSmallFiles: QueryDef = QueryDef.sql(
    "src_compact_small_files",
    """SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders""".stripMargin) { (s, d) =>
    s.read.parquet(compactedOrders(s, d))
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).cast("long").as("key_sum"),
        round(sum(col("o_totalprice")), 2).as("total"))
  }

  def compactedOrders(s: SparkSession, d: String): String = {
    val small = tmpDir("orders_small_files")
    val compact = tmpDir("orders_compacted")
    Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      .repartition(64) // the pathology: 64 tiny files
      .write.mode("overwrite").parquet(small)
    s.read.parquet(small)
      .repartition(CompactTargetFiles)
      .write.mode("overwrite").parquet(compact)
    compact
  }

  /** Schema evolution: two parquet batches of the same table where
    * the newer batch added a column, read back as ONE dataset via
    * mergeSchema — old rows surface NULL for the new column (what a
    * year of appends to an evolving pipeline schema looks like; at
    * scale the merged-schema read costs one extra footer pass, not a
    * rewrite).
    */
  val srcSchemaEvolution: QueryDef = QueryDef.sql(
    "src_schema_evolution",
    """SELECT count(*) AS n,
      |  CAST(count(CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END) AS BIGINT)
      |    AS n_with_status,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders""".stripMargin) { (s, d) =>
    val path = tmpDir("orders_evolving")
    val orders = Tables.orders(s, d)
    orders.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$path/batch=v1")
    orders.filter(col("o_orderkey") % 2 === 1)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$path/batch=v2")
    s.read.option("mergeSchema", "true").parquet(path)
      .agg(count(lit(1)).as("n"),
        count(col("o_orderstatus")).cast("long").as("n_with_status"),
        round(sum(col("o_totalprice")), 2).as("total"))
  }

  /** Malformed-record ingestion: a CSV staged with a deterministic
    * corruption (every 50th customer's line is garbage that fails the
    * LongType parse) read back in PERMISSIVE mode with a
    * columnNameOfCorruptRecord capture — the real-world ingest
    * contract where bad rows are quarantined, not dropped silently
    * and never allowed to kill the job. The oracle replays the
    * corruption rule against the original parquet: parsed counts,
    * quarantined counts, and the good-row checksum must all agree.
    */
  val srcCsvMalformed: QueryDef = QueryDef.sql(
    "src_csv_malformed",
    """SELECT
      |  CAST(sum(CASE WHEN c_custkey % 50 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
      |  CAST(sum(CASE WHEN c_custkey % 50 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
      |  round(sum(CASE WHEN c_custkey % 50 <> 0 THEN c_acctbal END), 2) AS good_total
      |FROM customer""".stripMargin) { (s, d) =>
    val path = tmpDir("customer_csv_malformed")
    Tables.customer(s, d)
      .select(when(col("c_custkey") % 50 === 0,
          concat(lit("corrupt#"), col("c_custkey"), lit(",oops")))
        .otherwise(concat_ws(",", col("c_custkey"), col("c_name"),
          col("c_acctbal"))).as("value"))
      .write.mode("overwrite").text(path)
    val parsed = s.read
      .schema(StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_acctbal", DoubleType),
        StructField("_corrupt", StringType))))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)
    parsed.agg(
      count(col("c_custkey")).as("n_good"),
      count(col("_corrupt")).as("n_bad"),
      round(sum(col("c_acctbal")), 2).as("good_total"))
  }

  /** Raw-media ingest through the binaryFile source — the front door
    * for image/audio payloads that arrive as FILES, not table rows:
    * one staged file per document (bounded set; staging is the demo),
    * read back with `format("binaryFile")`, identity recovered from
    * the path, length from the source's own metadata column and the
    * checksum from the content bytes. The oracle pins both against
    * the documents table, so the files→rows hop is proven lossless.
    * At scale each file streams through its executor once; payload
    * bytes never shuffle (the downstream is mm_features'
    * mapPartitions decode).
    */
  val srcBinaryFiles: QueryDef = QueryDef.sql(
    "src_binary_files",
    """SELECT doc_id,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
      |  md5(text) AS checksum
      |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val dir = tmpDir("doc_payload_files")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    Tables.documents(s, d).filter(col("doc_id") < 100)
      .select("doc_id", "text").collect()
      .foreach { r =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, f"doc_${r.getLong(0)}%05d.bin"),
          r.getString(1).getBytes("UTF-8"))
      }
    s.read.format("binaryFile").load(dir)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1).cast("long").as("doc_id"),
        col("length").as("byte_len"),
        md5(col("content")).as("checksum"))
      .orderBy(col("doc_id"))
  }

  /** Corrupt-file-tolerant ingestion: a garbage "parquet" file planted
    * in the table directory is SKIPPED by the scan
    * (ignoreCorruptFiles) instead of killing the job — the batch
    * sibling of src_csv_malformed's row-level quarantine, for the
    * file-level failure mode (truncated uploads, partial writes) a
    * 100 TB ingest hits daily. Schema passed explicitly so inference
    * never touches the bad footer; the oracle is the intact table, so
    * "skipped exactly the corrupt file, kept every good row" is what
    * hash-matches.
    */
  val srcIgnoreCorrupt: QueryDef = QueryDef.sql(
    "src_ignore_corrupt",
    """SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey""") { (s, d) =>
    val dir = tmpDir("nation_with_corrupt")
    val nation = Tables.nation(s, d).select("n_nationkey", "n_name")
    nation.write.mode("overwrite").parquet(dir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-00099-corrupt.snappy.parquet"),
      "this is not a parquet file; it simulates a truncated upload"
        .getBytes("UTF-8"))
    s.read
      .schema(nation.schema)
      .option("ignoreCorruptFiles", "true")
      .parquet(dir)
      .orderBy(col("n_nationkey"))
  }

  /** Generated (zero-input) source: a calendar dimension built from
    * `spark.range` — the standard way to materialize date/sequence
    * dims without reading anything. Distributed generation (range is
    * split across partitions), pure codegen'd projections on top.
    */
  val srcDateDim: QueryDef = QueryDef.sql(
    "src_date_dim",
    """SELECT CAST(d AS TIMESTAMP) AS day,
      |  year(d) AS y, month(d) AS m, dayofweek(d) AS dow,
      |  quarter(d) AS q,
      |  dayofweek(d) IN (0, 6) AS is_weekend
      |FROM (SELECT unnest(generate_series(DATE '1995-01-01',
      |        DATE '1996-12-31', INTERVAL 1 DAY)) AS d)
      |ORDER BY day""".stripMargin) { (s, d) =>
    val start = to_date(lit("1995-01-01"))
    s.range(731) // 1995-01-01 .. 1996-12-31 inclusive
      .select(date_add(start, col("id").cast("int")).as("d"))
      .select(col("d").cast("timestamp").as("day"),
        year(col("d")).as("y"), month(col("d")).as("m"),
        (dayofweek(col("d")) - 1).as("dow"),
        quarter(col("d")).as("q"),
        (dayofweek(col("d")) - 1).isin(0, 6).as("is_weekend"))
      .orderBy(col("day"))
  }

  /** DataSource V2 read of the points text format (PointsSourceV2):
    * the x>25 predicate is pushed into the line parser (no residual
    * Filter in the plan) and the projection prunes y before any row
    * is built. Oracle = the same predicate over the originating
    * lineitem columns.
    */
  val srcPointsV2: QueryDef = QueryDef.sql(
    "src_points_v2",
    """SELECT count(*) AS n, round(sum(l_quantity), 2) AS sum_x
      |FROM lineitem WHERE l_quantity > 25""".stripMargin) { (s, d) =>
    val path = tmpDir("points_v2")
    val pts = Tables.lineitem(s, d)
      .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    PointsText.writePoints(pts, path)
    s.read.format(graft.sources.v2.PointsSourceV2.format)
      .option("path", path).load()
      .filter(col("x") > 25)
      .select(col("x"))
      .agg(count(lit(1)).as("n"), round(sum(col("x")), 2).as("sum_x"))
  }

  /** Aggregate pushdown through the V2 connector: the grouped
    * COUNT/MIN/MAX/SUM folds INSIDE the scan (partial pushdown — each
    * file emits O(groups) accumulator rows, Spark merges), so the
    * exchange carries ~50 quantity groups per file instead of every
    * parsed point — map-side combine pushed past the row boundary
    * into IO. The x>25 predicate rides the existing filter pushdown
    * first. PlanAudit pins `PushedAggregation` in the scan
    * description; the oracle is the originating lineitem relation.
    */
  val srcPointsV2Agg: QueryDef = QueryDef.sql(
    "src_points_v2_agg",
    """SELECT l_quantity AS x, count(*) AS n,
      |  round(min(l_extendedprice), 2) AS min_y,
      |  round(max(l_extendedprice), 2) AS max_y,
      |  round(sum(l_extendedprice), 2) AS sum_y
      |FROM lineitem WHERE l_quantity > 25
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    s.read.format(graft.sources.v2.PointsSourceV2.format)
      .option("path", pointsV2AggDir(s, d)).load()
      .filter(col("x") > 25)
      .groupBy(col("x"))
      .agg(count(lit(1)).as("n"),
        round(min(col("y")), 2).as("min_y"),
        round(max(col("y")), 2).as("max_y"),
        round(sum(col("y")), 2).as("sum_y"))
      .orderBy(col("x"))
  }

  /** Once-per-corpus staged points dir for the aggregate-pushdown
    * read (keyed by source dir; reused by the ScalaTest plan pin).
    */
  def pointsV2AggDir(s: SparkSession, d: String): String = synchronized {
    val path = tmpDir("points_v2_agg")
    val marker = new java.io.File(path, "_SUCCESS_STAGED_" +
      java.lang.Integer.toHexString(d.hashCode))
    if (!marker.exists()) {
      val pts = Tables.lineitem(s, d)
        .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      PointsText.writePoints(pts, path)
      marker.createNewFile()
    }
    path
  }

  /** Full V2 round-trip: the SAME connector is sink and source —
    * distributed two-phase-commit write (task part-files + driver
    * _SUCCESS finalization), then a pushed-down read. Oracle = the
    * originating lineitem relation under the identical predicate.
    */
  val srcPointsV2Roundtrip: QueryDef = QueryDef.sql(
    "src_points_v2_rt",
    """SELECT count(*) AS n, round(sum(l_quantity), 2) AS sum_x,
      |  round(sum(l_extendedprice), 2) AS sum_y
      |FROM lineitem WHERE l_quantity <= 10""".stripMargin) { (s, d) =>
    val path = tmpDir("points_v2_rt")
    Tables.lineitem(s, d)
      .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      .write.format(graft.sources.v2.PointsSourceV2.format)
      .option("path", path).mode("overwrite").save()
    s.read.format(graft.sources.v2.PointsSourceV2.format)
      .option("path", path).load()
      .filter(col("x") <= 10)
      .agg(count(lit(1)).as("n"),
        round(sum(col("x")), 2).as("sum_x"),
        round(sum(col("y")), 2).as("sum_y"))
  }

  /** Parquet BLOOM-FILTER layout for point lookups on a
    * high-cardinality UNSORTED key — the third row-group-skipping
    * tool next to min/max stats (src_zorder_scan: needs sorted
    * layout) and partition pruning (src_partitioned_scan: needs low
    * cardinality). Write once with a bloom filter on o_custkey
    * (`parquet.bloom.filter.enabled#col`): each row group stores a
    * few-KB filter; an equality probe for a key a row group never
    * saw is skipped on the filter's definite-no, with min/max
    * useless because custkeys interleave through every group. The
    * probe query IS the oracle query against the plain table (false
    * positives only cost IO, never correctness). Filter presence in
    * the footer metadata is asserted in ScalaTest.
    */
  /** Once-per-corpus bloom-filtered orders layout (keyed by source
    * dir, same reuse contract as zorderedLineitem); returns the
    * staged path so the ScalaTest can inspect the footer.
    */
  def bloomOrdersLayout(s: SparkSession, d: String): String = synchronized {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val path = tmpDir(s"orders_bloom_$h")
    if (!new java.io.File(s"$path/_SUCCESS").exists()) {
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartition(4) // several row groups so skipping has targets
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", "20000")
        // parquet-mr discards the bloom filter when a column is fully
        // dictionary-encoded (the dictionary already answers exact
        // membership); at small SF custkey would dict-encode, so force
        // plain encoding on just this column to keep the layout shape
        // identical to the 100 TB one (where the dictionary overflows
        // and bloom filters engage anyway)
        .option("parquet.enable.dictionary#o_custkey", "false")
        .parquet(path)
    }
    path
  }

  val srcBloomFilterScan: QueryDef = QueryDef.sql(
    "src_bloom_filter_scan",
    """SELECT o_custkey, count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders WHERE o_custkey IN (7, 421, 1337)
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val path = bloomOrdersLayout(s, d)
    s.read.parquet(path)
      .filter(col("o_custkey").isin(7, 421, 1337))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_custkey"))
  }

  /** MERGE-ON-READ table layout (the Hudi MOR / Iceberg
    * position-delete reading discipline): the base snapshot is
    * written once and UPDATES LAND AS SMALL DELTA FILES instead of
    * rewriting base data — writes stay cheap and constant-size; the
    * READER reconciles, unioning base + deltas and keeping the
    * newest version per key (one row_number window keyed on the
    * primary key — at scale both sides bucket by key so the
    * reconcile is co-partitioned, and compaction folds deltas back
    * periodically, which src_compact_small_files models). Deltas
    * here: a deterministic price correction for every 97th order +
    * appended late orders. The reader's aggregate is oracle-checked
    * against the same merge spelled declaratively over the source
    * table — a reader that dropped deltas, duplicated keys, or
    * picked the stale version fails the hash.
    */
  val srcMorRead: QueryDef = QueryDef.sql(
    "src_mor_read",
    """WITH merged AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 10.0
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 1000 = 0)
      |SELECT o_orderstatus, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val root = tmpDir(s"orders_mor_$h")
    val orders = Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    if (!new java.io.File(s"$root/base/_SUCCESS").exists()) {
      orders.withColumn("version", lit(0L))
        .write.mode("overwrite").parquet(s"$root/base")
      // delta 1: price corrections (updates to existing keys)
      orders.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 10.0)
        .withColumn("version", lit(1L))
        .write.mode("overwrite").parquet(s"$root/delta1")
      // delta 2: late-arriving orders (new keys)
      orders.filter(col("o_orderkey") % 1000 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("version", lit(2L))
        .write.mode("overwrite").parquet(s"$root/delta2")
    }
    // the merge-on-read reader: newest version per key wins
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderkey")).orderBy(col("version").desc)
    s.read.parquet(s"$root/base", s"$root/delta1", s"$root/delta2")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** NESTED-SCHEMA parquet roundtrip — the denormalized document
    * layout lakehouses actually store (an order with its line items
    * as an array<struct>, written once, read everywhere) versus the
    * flat join the warehouse runs: the nested table is built with
    * ONE orders⋈lineitem co-key aggregation (items sorted in-array
    * for determinism), written to parquet, read back, and the
    * readout explodes items and re-aggregates — which must equal the
    * flat-join SQL over the original tables, proving the
    * pack/unpack roundtrip is lossless. Reading selects ONLY
    * items.l_extendedprice, so nested-schema pruning
    * (spark.sql.optimizer.nestedSchemaPruning, default on) prunes
    * the struct to one field at the scan — at 100 TB the nested
    * layout then reads a single column stripe instead of
    * re-shuffling the join every query.
    */
  val srcNestedParquet: QueryDef = QueryDef.sql(
    "src_nested_parquet",
    """SELECT o_orderpriority AS priority, count(*) AS n_items,
      |  round(sum(l_extendedprice), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val path = tmpDir("orders_nested")
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(
        col("l_partkey"), col("l_quantity"), col("l_extendedprice")))).as("items"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("items"))
      .write.mode("overwrite").parquet(path)
    s.read.parquet(path)
      .select(col("o_orderpriority"),
        explode(col("items.l_extendedprice")).as("price"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), round(sum(col("price")), 2).as("revenue"))
      .select(col("o_orderpriority").as("priority"), col("n_items"), col("revenue"))
      .orderBy(col("priority"))
  }

  /** Delta/Iceberg-shape TIME TRAVEL from an add/remove action log.
    * A table is three commits of immutable parquet files plus a JSON
    * log of actions — v0 ingests the pre-1995 history as two files
    * (split by l_orderkey parity), v1 appends the 1995+ file, v2 is
    * a copy-on-write DELETE (returnflag='R' rows leave the even-key
    * history file: remove f_a0, add the rewritten f_a0r). A snapshot
    * AS OF version v is the FOLD of the log up to v — O(actions)
    * driver work against kilobytes, exactly Delta's _delta_log
    * replay — and the scan opens only that version's live files; no
    * file is ever mutated, so readers at different versions share
    * immutable data (snapshot isolation for free). At 100 TB the
    * log-fold (KBs) replaces relisting the table, and time travel /
    * incremental consumers (src_mor_read's sibling) are log
    * arithmetic, not data copies. Output: (version, n, total) per
    * snapshot; oracle replays each version's predicate algebra on
    * the raw table.
    */
  def timeTravelTable(s: SparkSession, d: String): (String, String) = synchronized {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val root = java.nio.file.Paths.get(tmpDir(s"timetravel_$h"))
    val logPath = root.resolve("log.json")
    if (!java.nio.file.Files.exists(logPath)) {
      java.nio.file.Files.createDirectories(root)
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_shipdate", "l_returnflag", "l_extendedprice")
      val hist = li.filter(year(col("l_shipdate")) < 1998)
      def write(name: String, df: DataFrame): String = {
        val p = root.resolve(name).toString
        df.write.mode("overwrite").parquet(p)
        p
      }
      val fa0 = write("f_a0", hist.filter(col("l_orderkey") % 2 === 0))
      val fa1 = write("f_a1", hist.filter(col("l_orderkey") % 2 === 1))
      val fb = write("f_b", li.filter(year(col("l_shipdate")) >= 1998))
      val fa0r = write("f_a0r", hist.filter(col("l_orderkey") % 2 === 0
        && col("l_returnflag") =!= "R"))
      val log = Seq(
        s"""{"version":0,"action":"add","file":"$fa0"}""",
        s"""{"version":0,"action":"add","file":"$fa1"}""",
        s"""{"version":1,"action":"add","file":"$fb"}""",
        s"""{"version":2,"action":"remove","file":"$fa0"}""",
        s"""{"version":2,"action":"add","file":"$fa0r"}""")
      java.nio.file.Files.writeString(logPath, log.mkString("\n"))
    }
    (root.toString, logPath.toString)
  }

  /** Live file set at `version`: fold the action log in commit order. */
  def liveFilesAsOf(s: SparkSession, logPath: String, version: Int): Seq[String] = {
    val actions = s.read.json(logPath)
      .filter(col("version") <= version)
      .orderBy(col("version"))
      .collect()
    actions.foldLeft(Vector.empty[String]) { (live, r) =>
      val f = r.getAs[String]("file")
      if (r.getAs[String]("action") == "add") live :+ f else live.filterNot(_ == f)
    }
  }

  val srcTimeTravel: QueryDef = QueryDef.sql(
    "src_time_travel",
    """SELECT 0 AS version, count(*) AS n,
      |  round(sum(l_extendedprice), 2) AS total
      |FROM lineitem WHERE year(l_shipdate) < 1998
      |UNION ALL
      |SELECT 1, count(*), round(sum(l_extendedprice), 2) FROM lineitem
      |UNION ALL
      |SELECT 2, count(*), round(sum(l_extendedprice), 2) FROM lineitem
      |WHERE NOT (year(l_shipdate) < 1998 AND l_orderkey % 2 = 0
      |           AND l_returnflag = 'R')
      |ORDER BY version""".stripMargin) { (s, d) =>
    val (_, logPath) = timeTravelTable(s, d)
    (0 to 2).map { v =>
      s.read.parquet(liveFilesAsOf(s, logPath, v): _*)
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("total"))
        .select(lit(v).as("version"), col("n"), col("total"))
    }.reduce(_ unionAll _).orderBy(col("version"))
  }

  /** Dynamic partition overwrite — the lakehouse reprocessing
    * primitive: a late-data backfill rewrites ONLY the partitions it
    * touches (static overwrite mode would drop the whole table;
    * merge-on-read (src_mor_read) defers the rewrite, this one
    * applies it). Day-partitioned event counts written once, then a
    * 2-day backfill (bot users removed) overwrites exactly those two
    * directories under partitionOverwriteMode=dynamic. At scale the
    * write touches O(backfilled days), never the table. Output: per
    * day, rows before/after + whether the partition was rewritten —
    * untouched days must be byte-stable (pinned by equality in the
    * ScalaTest + the before==after column here).
    */
  val srcPartitionOverwrite: QueryDef = QueryDef.rowsOnly("src_partition_overwrite") { (s, d) =>
    val dir = tmpDir("events_day_partitioned")
    val daily = Tables.events(s, d)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("user_id"), col("event_type"), col("value"))
    daily.write.mode("overwrite").partitionBy("day").parquet(dir)
    // materialize eagerly — a lazy plan would re-read the directory
    // AFTER the overwrite below and "before" would equal "after".
    // Partition-column type inference turns day into DATE on read;
    // cast back so the day key stays one type end-to-end.
    val before = graft.Ckpt.keep(s.read.parquet(dir)
      .groupBy(col("day").cast("string").as("day"))
      .agg(count(lit(1)).as("n_before")))
    // backfill: recompute the 2 lexicographically-first days without
    // "bot" traffic (here: drop a deterministic 10% of users)
    val days = before.orderBy(col("day")).limit(2)
      .collect().map(_.getString(0))
    val backfill = daily
      .filter(col("day").isin(days.toIndexedSeq: _*))
      .filter(xxhash64(col("user_id")) % 10 =!= 0)
    backfill.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(dir)
    val after = s.read.parquet(dir)
      .groupBy(col("day").cast("string").as("day"))
      .agg(count(lit(1)).as("n_after"))
    before.join(after, Seq("day"), "full_outer")
      .select(col("day"), col("n_before"), col("n_after"),
        (col("n_before") =!= col("n_after")).as("rewritten"))
      .orderBy(col("day"))
  }

  /** MICRO-BATCH STREAMING read through the V2 connector: the same
    * directory, parser, pushed filter and byte-range splitter as the
    * batch scan, driven by the connector's own MicroBatchStream
    * (checkpointed file-discovery log, maxFilesPerTrigger=1 → a real
    * multi-batch run). Rows append to a parquet sink; the final
    * aggregate over the sink must equal the batch answer — oracle =
    * the originating lineitem relation under the same predicate.
    */
  val srcPointsV2Stream: QueryDef = QueryDef.sql(
    "src_points_v2_stream",
    """SELECT count(*) AS n, round(sum(l_quantity), 2) AS sum_x
      |FROM lineitem WHERE l_quantity > 25""".stripMargin) { (s, d) =>
    val srcDir = tmpDir("points_v2_stream_src")
    val sinkDir = tmpDir("points_v2_stream_sink")
    val chkDir = tmpDir("points_v2_stream_chk")
    Seq(sinkDir, chkDir).foreach { p =>
      val f = new java.io.File(p)
      if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
    }
    Tables.lineitem(s, d)
      .select(concat_ws(",", col("l_quantity"), col("l_extendedprice")).as("value"))
      .repartition(2) // two files → two triggers under maxFilesPerTrigger=1
      .write.mode("overwrite").text(srcDir)
    val stream = s.readStream.format(graft.sources.v2.PointsSourceV2.format)
      .option("path", srcDir).option("maxFilesPerTrigger", "1").load()
      .filter(col("x") > 25).select(col("x"))
    val q = stream.writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", chkDir).option("path", sinkDir).start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(sinkDir)
      .agg(count(lit(1)).as("n"), round(sum(col("x")), 2).as("sum_x"))
  }

  val all: Seq[QueryDef] = Seq(
    srcPartitionOverwrite,
    srcTextPoints, srcCsvRoundtrip, srcJsonRoundtrip, srcPartitionedScan,
    srcOrcRoundtrip, srcZorderScan, srcCompactSmallFiles, srcSchemaEvolution,
    srcCsvMalformed, srcBinaryFiles, srcIgnoreCorrupt, srcDateDim,
    srcPointsV2, srcPointsV2Roundtrip, srcPointsV2Agg, srcPointsV2Stream,
    srcManifestScan, srcGdprDelete,
    srcBloomFilterScan, srcMorRead, srcNestedParquet, srcTimeTravel,
    srcHilbertScan)
}

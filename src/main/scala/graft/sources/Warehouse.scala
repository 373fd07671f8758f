package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Once-per-corpus derived artifacts under the warehouse dir — the
  * shared contract behind the staged graph edges, the dedup shingle
  * relation, and the text tf relations: an artifact is keyed by a
  * CONTENT fingerprint of its base tables (total size + max mtime,
  * one listing), built on first touch, and reused by any later
  * session against the same corpus. Regenerating the corpus in place
  * changes the fingerprint and so invalidates every derived artifact
  * — the way a real ingest invalidates its downstream tables.
  */
object Warehouse {

  /** Content fingerprint of `tables` under corpus dir `d`. */
  def fingerprint(s: SparkSession, d: String, tables: Seq[String]): String = {
    val conf = s.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(d)
    val fs = base.getFileSystem(conf)
    val stats =
      if (!fs.exists(base)) Seq.empty
      else tables.flatMap { t =>
        val p = new org.apache.hadoop.fs.Path(base, t)
        if (fs.exists(p)) {
          val it = fs.listFiles(p, true)
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          while (it.hasNext) { val f = it.next(); buf += ((f.getLen, f.getModificationTime)) }
          buf.toSeq
        } else Seq.empty
      }
    val maxMtime = if (stats.isEmpty) 0L else stats.map(_._2).max
    s"$d|${stats.map(_._1).sum}|$maxMtime"
  }

  def md5_8(fp: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(fp.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

  /** Provenance sidecar written INSIDE each artifact dir (underscore
    * prefix: parquet readers ignore it, like _SUCCESS): the corpus
    * dir, the fingerprinted base tables, and the salt appended to the
    * fingerprint (e.g. a bucketed table's layout spec). Enough to
    * recompute the artifact's expected hash later, which is what
    * makes stale artifacts COLLECTIBLE.
    */
  def writeMeta(s: SparkSession, dir: org.apache.hadoop.fs.Path,
      d: String, tables: Seq[String], salt: String): Unit = {
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_graft_meta"), true)
    out.write(s"$d\n${tables.mkString(",")}\n$salt\n".getBytes("UTF-8"))
    out.close()
  }

  /** The CONTENT-FINGERPRINTED artifact families: dirs whose 8-hex
    * suffix is md5(fingerprint [+ salt]) and whose builders write
    * `_graft_meta`. Only these are eligible for metaless cleanup —
    * the PATH-keyed index families (graft_ann_idx/dedup_idx/inv_idx/
    * hll/kmv/li_x/ord_b) hash the source-dir string, never write
    * meta, and sweeping them would make every later build miss
    * re-trigger their (expensive) index fits.
    */
  private val ManagedMetaless =
    "graft_(edges_.+|dedup_shingles|text_tf_ws|text_tf_az|supply(_b)?|gc[a-z]+)_[0-9a-f]{8}"

  /** Garbage-collect stale fingerprinted artifacts (r9 verdict item
    * 5: every corpus regeneration left a dead `graft_*_<hash>` dir —
    * and for the supply relation a dead bucketed table — forever).
    * An artifact is stale when its `_graft_meta` provenance records a
    * corpus that no longer fingerprints to the hash in its name
    * (regenerated or deleted corpus), or — for the managed
    * content-fingerprinted families only — when it predates
    * provenance entirely (complete `_SUCCESS` but no meta:
    * rebuildable on next touch, and the rebuild writes meta, so the
    * cleanup converges instead of thrashing). Half-built dirs (no
    * _SUCCESS) are left for their builder's overwrite. Runs on build
    * MISSES only — exactly the moment a fingerprint changed — so
    * steady-state reads never pay the listing.
    */
  def gcStale(s: SparkSession): Unit = synchronized {
    val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(wh)) return
    for (st <- fs.listStatus(wh) if st.isDirectory) {
      val nm = st.getPath.getName
      if (nm.matches("graft_.+_[0-9a-f]{8}")) {
        val hash = nm.substring(nm.length - 8)
        val mp = new org.apache.hadoop.fs.Path(st.getPath, "_graft_meta")
        val complete =
          fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS"))
        val stale =
          if (fs.exists(mp)) {
            val in = fs.open(mp)
            val lines = scala.io.Source.fromInputStream(in, "UTF-8")
              .getLines().toArray
            in.close()
            if (lines.length < 2) complete && nm.matches(ManagedMetaless)
            else {
              val d = lines(0)
              val tables = lines(1).split(",").toSeq
              val salt = if (lines.length > 2) lines(2) else ""
              md5_8(fingerprint(s, d, tables) + salt) != hash
            }
          } else complete && nm.matches(ManagedMetaless)
        if (stale) {
          fs.delete(st.getPath, true)
          if (s.catalog.tableExists(nm)) s.sql(s"DROP TABLE `$nm`")
        }
      }
    }
  }

  /** Build-once-read-many: parquet at
    * `<warehouse>/graft_<name>_<md5(fingerprint)>`, built iff its
    * `_SUCCESS` is absent, and read through `Tables.parquet`, so its
    * schema is inferred once, not on every read. Synchronized:
    * concurrent first-touch from the test suite must not double-build.
    */
  def staged(s: SparkSession, d: String, name: String, tables: Seq[String])
      (build: => DataFrame): DataFrame = synchronized {
    val fp = fingerprint(s, d, tables)
    val h = md5_8(fp)
    val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    val dir = new org.apache.hadoop.fs.Path(wh, s"graft_${name}_$h")
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))) {
      build.write.mode("overwrite").parquet(dir.toString)
      writeMeta(s, dir, d, tables, "")
      gcStale(s) // a build miss means a fingerprint moved: sweep now
    }
    Tables.parquet(s, dir.toString)
  }
}

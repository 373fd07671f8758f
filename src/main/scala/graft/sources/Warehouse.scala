package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Once-per-corpus derived artifacts under the warehouse dir: the
  * staged graph edges, dedup shingles and text tf relations, the
  * ANN, dedup and inverted indexes, the z-order/Hilbert/manifest
  * lineitem layouts, the HLL and KMV sketch tables and the bucketed
  * supply, lineitem and orders tables. This is the only code that
  * locates, builds, marks complete and collects one.
  *
  * An artifact lives at `<warehouse>/graft_<name>_<key>`, where the
  * key hashes a CONTENT fingerprint of its base tables (total size +
  * max mtime, one listing) plus a salt naming every build parameter
  * the artifact depends on. It is built on first touch and reused by
  * any later session against the same corpus; regenerating the
  * corpus in place changes the key, so the next touch builds afresh
  * and the sweep collects the old one — the way a real ingest
  * invalidates its downstream tables. A dir is never rewritten under
  * its key, so artifact reads go through `Tables.parquet`.
  *
  * Completion: an artifact is complete iff its `_graft_meta` sidecar
  * exists; it is written after the build returns.
  */
object Warehouse {

  /** Content fingerprint of `tables` under corpus dir `d`. */
  def fingerprint(s: SparkSession, d: String, tables: Seq[String]): String = {
    val conf = s.sparkContext.hadoopConfiguration
    val base = new Path(d)
    val fs = base.getFileSystem(conf)
    val stats =
      if (!fs.exists(base)) Seq.empty
      else tables.flatMap { t =>
        val p = new Path(base, t)
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

  private def md5_8(fp: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(fp.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

  private def root(s: SparkSession): Path = new Path(s.conf.get("spark.sql.warehouse.dir"))

  private def fs(s: SparkSession): FileSystem =
    root(s).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Content key of artifact `name` over `tables` of corpus `d`:
    * `graft_<name>_<md5(fingerprint + salt)>`, its dir name. Driver-
    * side fit caches key on it too, so a corpus regenerated in place
    * refits in the same JVM.
    */
  def key(s: SparkSession, d: String, name: String, tables: Seq[String],
      salt: String = ""): String =
    s"graft_${name}_${md5_8(fingerprint(s, d, tables) + salt)}"

  /** The dir of that artifact, built or not. */
  def locate(s: SparkSession, d: String, name: String, tables: Seq[String],
      salt: String = ""): String =
    new Path(root(s), key(s, d, name, tables, salt)).toString

  private val Meta = "_graft_meta"

  def complete(s: SparkSession, dir: String): Boolean = fs(s).exists(new Path(dir, Meta))

  /** The artifact at `dir`, built by `build(dir)` iff incomplete (a
    * half-written dir is cleared first), then stamped with its
    * provenance: the corpus dir, the fingerprinted base tables and the
    * salt, enough to recompute its key later, which is what makes a
    * stale artifact collectible. A build means a key moved, so it
    * sweeps too; steady-state reads never pay the sweep's listing.
    * Synchronized: concurrent first touch must not double-build.
    */
  def artifact(s: SparkSession, d: String, name: String, tables: Seq[String],
      salt: String = "")(build: String => Unit): String = synchronized {
    val dir = locate(s, d, name, tables, salt)
    if (!complete(s, dir)) {
      fs(s).delete(new Path(dir), true)
      build(dir)
      val out = fs(s).create(new Path(dir, Meta), true)
      out.write(s"$d\n${tables.mkString(",")}\n$salt\n".getBytes("UTF-8"))
      out.close()
      gcStale(s)
    }
    dir
  }

  /** A one-parquet artifact: `build`'s rows, read back through
    * `Tables.parquet`. Storage the build's frame reads (a kept
    * checkpoint) is freed once it is written.
    */
  def staged(s: SparkSession, d: String, name: String, tables: Seq[String])
      (build: => DataFrame): DataFrame =
    Tables.parquet(s, artifact(s, d, name, tables) { dir =>
      graft.Ckpt.scoped(sc => sc.adopt(build).write.mode("overwrite").parquet(dir))
    })

  /** A catalog table bucketed and sorted on `keys` into `buckets`
    * files, so joins on `keys` read it without an exchange. The layout
    * is salted into the key: files written under another spec are
    * never registered with this one's DDL (which would silently
    * co-locate wrong rows). A session that finds the table in its
    * catalog pays one fingerprint listing and one catalog check; a
    * fresh session registers complete files over their LOCATION
    * (Spark's bucket-id file naming keeps CLUSTERED BY honoured).
    * Returns the table name.
    */
  def bucketed(s: SparkSession, d: String, name: String, tables: Seq[String],
      buckets: Int, keys: Seq[String])(build: => DataFrame): String = synchronized {
    val cols = keys.mkString(",")
    val salt = s"|b$buckets|$cols|sorted:$cols"
    val dir = locate(s, d, name, tables, salt)
    val t = new Path(dir).getName
    if (!s.catalog.tableExists(t)) {
      val layout = s"CLUSTERED BY ($cols) SORTED BY ($cols) INTO $buckets BUCKETS"
      if (complete(s, dir))
        s.sql(s"CREATE TABLE $t (${build.schema.toDDL}) USING parquet $layout LOCATION '$dir'")
      else artifact(s, d, name, tables, salt) { _ =>
        build.write.bucketBy(buckets, keys.head, keys.tail: _*)
          .sortBy(keys.head, keys.tail: _*).mode("overwrite").saveAsTable(t)
      }
    }
    t
  }

  /** Collect stale artifacts: every `graft_*_<8 hex>` dir whose
    * `_graft_meta` records a corpus that no longer fingerprints to the
    * key in its name (regenerated or deleted corpus), or that has no
    * meta but a `_SUCCESS` (a finished write never stamped: rebuilt on
    * next touch, and the rebuild stamps it, so the sweep converges),
    * with its catalog table if one is registered. A dir with neither
    * is a build in flight and is left for its builder.
    */
  def gcStale(s: SparkSession): Unit = synchronized {
    val wh = root(s)
    val fs = this.fs(s)
    if (!fs.exists(wh)) return
    for (st <- fs.listStatus(wh) if st.isDirectory) {
      val nm = st.getPath.getName
      if (nm.matches("graft_.+_[0-9a-f]{8}")) {
        val mp = new Path(st.getPath, Meta)
        val meta =
          if (!fs.exists(mp)) Array.empty[String]
          else {
            val in = fs.open(mp)
            try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toArray
            finally in.close()
          }
        val stale =
          if (meta.length >= 2) {
            val salt = if (meta.length > 2) meta(2) else ""
            md5_8(fingerprint(s, meta(0), meta(1).split(",").toSeq) + salt) != nm.takeRight(8)
          } else fs.exists(new Path(st.getPath, "_SUCCESS"))
        if (stale) {
          fs.delete(st.getPath, true)
          if (s.catalog.tableExists(nm)) s.sql(s"DROP TABLE `$nm`")
        }
      }
    }
  }
}

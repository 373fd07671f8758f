package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession. Every session carries
  * `GraftExtensions` (the `graft_*` SQL functions, the TopKPerKey
  * planner strategy and the conf-gated window-rank rewrite), a UTC
  * session time zone and a codegen cache sized to graft's working set
  * (`CodegenCacheEntries`); AQE runs at Spark's defaults.
  *
  * On a real cluster, `--conf
  * spark.sql.extensions=graft.functions.GraftExtensions --conf
  * spark.sql.codegen.cache.maxEntries=2000` at submit time is the
  * equivalent of `builder`.
  */
object GraftSession {

  /** Local core count (`SPARK_GRAFT_CPUS`, default 32): the
    * `local[n]` width and the shuffle-partition count of `create`.
    */
  private lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Entries of Spark's JVM-wide generated-class cache (the static
    * `spark.sql.codegen.cache.maxEntries`, Spark default 100). One pass
    * over the 22 TPC-H-shaped queries asks for ~335 distinct classes
    * and one curate job for over 100, so at the default every class
    * is evicted before the next pass needs it again: it is recompiled
    * by janino and starts over in the bytecode interpreter. 2000 holds
    * both working sets several times over. A cached class retains
    * about 33 KB (26 KB heap, 7.5 KB metaspace; measured over those
    * 412 classes), so a full cache costs about 65 MB. Spark sizes the
    * cache once per JVM, from the session active when code is first
    * generated.
    */
  val CodegenCacheEntries: Int = 2000

  def builder(appName: String = "graft",
      shufflePartitions: Int = 200): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** The session the mains, tools and tests run on: `spark.master`
    * when set (spark-submit on a cluster), else `local[cpus]`; UI
    * off; WARN logging.
    */
  def create(appName: String, cpus: Int = GraftSession.cpus): SparkSession = {
    val s = builder(appName, shufflePartitions = cpus)
      .master(sys.props.getOrElse("spark.master", s"local[$cpus]"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession. Every session carries
  * `GraftExtensions` (the `graft_*` SQL functions, the TopKPerKey
  * planner strategy and the conf-gated window-rank rewrite) and a UTC
  * session time zone; AQE runs at Spark's defaults.
  *
  * On a real cluster, `--conf
  * spark.sql.extensions=graft.functions.GraftExtensions` at submit
  * time is the equivalent of `builder`.
  */
object GraftSession {

  /** Local core count (`SPARK_GRAFT_CPUS`, default 32): the
    * `local[n]` width and the shuffle-partition count of `create`.
    */
  private lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def builder(appName: String = "graft",
      shufflePartitions: Int = 200): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")

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

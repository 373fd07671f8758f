package graft.sources

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.KMeans

/** Text-file point IO — the reference engine's native format.
  *
  * Input: one point per line, `"x,y"` (whitespace around either
  * coordinate tolerated) — /root/reference/src/MapReduceKMean/
  * PointsMapper.java:61-63 splits on ',' and Double.parses both
  * halves.
  *
  * Output: one centroid per line, `"<cid>\t<x>, <y>"` — the
  * reducer's (Text key, "x, y" value) TextOutputFormat shape,
  * /root/reference/src/MapReduceKMean/PointsReducer.java:32-33.
  */
object PointsText {

  /** Read a text file of "x,y" lines as (x: double, y: double), one
    * partition per core: a single file is cut into `defaultParallelism`
    * byte ranges of about equal size, in file order, and many small
    * files are read as at most `defaultParallelism` partitions. (Spark's
    * own file split never cuts below its 4 MB open cost, so a 4.5 MB
    * file is 4 MB + 0.3 MB: two tasks, one holding 93% of the rows.)
    */
  def read(s: SparkSession, path: String): DataFrame = {
    import s.implicits._
    val cores = s.sparkContext.defaultParallelism
    val lines = s.sparkContext.textFile(path, cores)
    (if (lines.getNumPartitions > cores) lines.coalesce(cores) else lines).toDF("value")
      .select(split(col("value"), ",").as("p"))
      .select(
        element_at(col("p"), 1).cast("double").as("x"),
        element_at(col("p"), 2).cast("double").as("y"))
  }

  /** The points of a text file as packed sweep blocks (`KMeans.pack`),
    * numbered in file order: what `sampleCentroids` picks from and
    * `KMeans.lloydPacked` sweeps. A caller that does both caches them.
    */
  private[graft] def points(s: SparkSession, path: String): RDD[KMeans.Block] =
    KMeans.pack(KMeans.sweepRows(read(s, path)))

  /** Write (x, y) rows as "x,y" text lines. */
  def writePoints(df: DataFrame, path: String): Unit =
    df.select(concat_ws(",", col("x"), col("y")).as("value"))
      .write.mode("overwrite").text(path)

  /** Write centroids in the reference's reducer output shape. */
  def writeCentroids(s: SparkSession, centroids: Array[(Double, Double)],
      path: String): Unit = {
    import s.implicits._
    centroids.zipWithIndex
      .map { case ((x, y), i) => s"$i\t$x, $y" }.toSeq.toDF("value")
      .coalesce(1).write.mode("overwrite").text(path)
  }

  /** Read centroids previously written by [[writeCentroids]] (also
    * parses the reference's own job output — KMeans.java:134-141
    * normalizes ',' to whitespace and splits).
    */
  def readCentroids(s: SparkSession, path: String): Array[(Double, Double)] =
    s.read.text(path).collect()
      .map(_.getString(0).replace(",", " ").trim.split("\\s+"))
      .filter(_.length >= 3)
      .map(a => (a(0).toInt, (a(1).toDouble, a(2).toDouble)))
      .sortBy(_._1).map(_._2)

  /** Pick k distinct random line positions and return those lines as
    * initial centroids — the reference's init
    * (KMeans.java:52-100: draw k distinct indices in [0, lineCount),
    * sort them, take the matching lines in file order). A seed makes
    * it reproducible; the reference's unseeded behavior is seed-less.
    * Reads the text once (`pickCentroids` over the cached `points`).
    */
  def sampleCentroids(s: SparkSession, path: String, k: Int,
      seed: Option[Long] = None): Array[(Double, Double)] =
    graft.Ckpt.scoped(sc => pickCentroids(sc.persist(points(s, path)), k, seed))

  /** `sampleCentroids` over packed points: positions number the points
    * in block order. One job counts every block's points (and fills
    * `pts` if it is cached); a second reads only the partitions that
    * hold a picked position.
    */
  private[graft] def pickCentroids(pts: RDD[KMeans.Block], k: Int,
      seed: Option[Long]): Array[(Double, Double)] = {
    val starts = pts.mapPartitions(it => Iterator.single(it.map(_.n.toLong).sum))
      .collect().scanLeft(0L)(_ + _)
    val n = starts.last
    require(n >= k, s"need at least $k points, found $n")
    val rnd = seed.fold(new scala.util.Random())(new scala.util.Random(_))
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (picked.size < k) picked += rnd.nextLong(n)
    // partition p holds positions starts(p) until starts(p + 1)
    val wanted = picked.toArray.groupBy(i => starts.lastIndexWhere(_ <= i))
    pts.sparkContext.runJob(pts, (ctx: TaskContext, it: Iterator[KMeans.Block]) => {
      val want = wanted(ctx.partitionId())
      var at = starts(ctx.partitionId())
      val out = Array.newBuilder[(Long, (Double, Double))]
      it.foreach { b =>
        want.foreach { i =>
          if (i >= at && i < at + b.n) out += ((i, b.xy((i - at).toInt)))
        }
        at += b.n
      }
      out.result()
    }, wanted.keys.toSeq.sorted).flatten.sortBy(_._1).map(_._2)
  }
}

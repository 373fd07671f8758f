package graft

import org.apache.spark.sql.SparkSession
import graft.operators.KMeans
import graft.sources.PointsText

/** CLI-equivalent of the reference driver
  * (/root/reference/src/KMeans.java:152-243): read a text file of
  * "x,y" points, pick k random lines as initial centroids, run
  * Lloyd's to convergence (per-axis tol 1e-3, max 20 iterations,
  * empty clusters keep their previous centroid), write the final
  * centroids as text, print a summary.
  *
  * Usage: KMeansApp <k> <input> <output> [seed]
  *
  * The reference runs one Hadoop job per iteration, re-reading the
  * input from HDFS 20×; here the text is read once, one byte range per
  * core (`PointsText.read`), and decoded once into packed, cached
  * coordinate blocks (`PointsText.points`). The job that fills them
  * also counts each block's points; the init picks its k lines from
  * those counts in one small job, and each iteration is one map+combine
  * job over the blocks (`KMeans.sweep`): tasks assign and sum per
  * cluster, the driver merges and divides. With the centroid write,
  * a run is iterations + 3 Spark jobs.
  */
object KMeansApp {
  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "Usage: KMeansApp <k> <input> <output> [seed]")
    val k = args(0).toInt
    val input = args(1)
    val output = args(2)
    val seed = args.lift(3).map(_.toLong)

    val spark = GraftSession.create("graft-kmeans")
    try run(spark, k, input, output, seed)
    finally spark.stop()
  }

  /** The full job against an existing session (what main and tests
    * both drive). Returns (centroids, iterations, converged).
    */
  def run(spark: SparkSession, k: Int, input: String, output: String,
      seed: Option[Long]): (Array[(Double, Double)], Int, Boolean) = {
    Ckpt.scoped { sc =>
      val pts = sc.persist(PointsText.points(spark, input))
      val init = PointsText.pickCentroids(pts, k, seed)
      init.zipWithIndex.foreach { case ((x, y), i) =>
        println(s"init centroid $i: $x, $y")
      }
      val result @ (centroids, iters, converged) = KMeans.lloydPacked(pts, init)
      PointsText.writeCentroids(spark, centroids, output)
      println(s"finished after $iters iterations, converged=$converged")
      centroids.zipWithIndex.foreach { case ((x, y), i) =>
        println(s"centroid $i: x=$x y=$y")
      }
      result
    }
  }
}

package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.RegimePick
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** The one size-adaptive broadcast policy (`graft.operators.Regime`):
  * every site's two regimes are value-identical, budget 0 really
  * runs the fallback plan, each pick is recorded on the listener
  * bus, and no other code sizes a broadcast.
  */
class RegimeSpec extends AnyFunSuite {
  import TestSpark._

  private final class Recorder extends SparkListener {
    val picks = new ConcurrentLinkedQueue[RegimePick]
    val plans = new ConcurrentLinkedQueue[String]
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: RegimePick => picks.add(p)
      case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(u.physicalPlanDescription)
      case _ => ()
    }
  }

  /** `body`'s sorted rows with the picks and executed plan texts it
    * produced — at the default budget, or at budget 0 with Spark's
    * own auto-broadcast off so only a graft hint can broadcast.
    */
  private def run(fallback: Boolean)(body: => Seq[String]): (Seq[String], Seq[RegimePick], String) = {
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    try {
      val rows =
        if (!fallback) body
        else withBudget(0) {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        }
      // the bus delivers in order: once this arrives, everything
      // `body` posted has been seen
      val barrier = RegimePick("barrier", "", 0L, 0L)
      barrier.post(spark)
      eventually(timeout(60.seconds)) { assert(rec.picks.contains(barrier)) }
      (rows.sorted, rec.picks.asScala.filter(_ != barrier).toSeq, rec.plans.asScala.mkString("\n"))
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  private def entryRows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq

  /** A join whose first left key is `key`, in the formatted plan text
    * the SQL listener events carry.
    */
  private def join(kind: String, key: String) =
    raw"($kind)[^\n]*\nLeft keys \[\d+\]: \[$key#".r

  /** Both regimes of the sites named `site*` give `body` the same
    * rows; the default run broadcasts the join keyed on `key` and the
    * budget-0 run shuffles it.
    */
  private def lockBoth(site: String, key: String)(body: => Seq[String]): Unit = {
    val (bc, bcPicks, bcPlans) = run(fallback = false)(body)
    val (sh, shPicks, shPlans) = run(fallback = true)(body)
    assert(bc.nonEmpty, s"$site: vacuous parity")
    assert(bc == sh, s"$site regimes diverge:\n${bc.take(5)}\nvs\n${sh.take(5)}")
    val mine = bcPicks.filter(_.site.startsWith(site))
    val mineSh = shPicks.filter(_.site.startsWith(site))
    assert(mine.nonEmpty && mine.forall(p => p.regime == "broadcast" &&
      p.estimatedBytes > 0 && p.estimatedBytes <= p.budgetBytes), bcPicks)
    assert(mineSh.nonEmpty && mineSh.forall(p => p.regime == "shuffled" && p.budgetBytes == 0L),
      shPicks)
    val bcJoin = join("BroadcastHashJoin", key)
    val shJoin = join("SortMergeJoin|ShuffledHashJoin", key)
    assert(bcJoin.findFirstIn(bcPlans).isDefined, s"$site default plan must broadcast")
    assert(bcJoin.findFirstIn(shPlans).isEmpty && shJoin.findFirstIn(shPlans).isDefined,
      s"$site budget-0 plan must shuffle the join")
  }

  test("cluster_dbscan: broadcast and shuffled build sides are value-identical") {
    lockBoth("cluster_dbscan.build", "jx")(entryRows("cluster_dbscan"))
  }

  test("graph_anf: broadcast and shuffled per-round state are value-identical") {
    lockBoth("graph_anf.state", "u")(entryRows("graph_anf"))
  }

  test("profile_lof: broadcast and shuffled cell joins are value-identical") {
    lockBoth("profile_lof.", "cx")(entryRows("profile_lof"))
  }

  test("connectedComponents: driver union-find and the distributed loop agree") {
    import spark.implicits._
    val pairs = Seq((5L, 6L), (6L, 7L), (1L, 9L), (3L, 3L)).toDF("id1", "id2")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (local, localPicks, _) = run(fallback = false) {
      val df = graft.operators.Dedup.connectedComponents(pairs)
      assert(df.queryExecution.executedPlan.toString.contains("LocalTableScan"))
      labels(df).map(_.toString)
    }
    val (dist, distPicks, _) = run(fallback = true) {
      val df = graft.operators.Dedup.connectedComponents(pairs)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("LocalTableScan") && plan.contains("ExistingRDD"), plan)
      assert(labels(df).toMap == Map(5L -> 5L, 6L -> 5L, 7L -> 5L,
        1L -> 1L, 9L -> 1L, 3L -> 3L))
      labels(df).map(_.toString)
    }
    assert(local == dist)
    assert(localPicks.map(p => (p.site, p.regime, p.estimatedBytes)) ==
      Seq(("dedup.connected_components", "driver_union_find", 4L * 256)))
    assert(distPicks.map(_.regime) == Seq("distributed"))
  }

  test("only Regime sizes a broadcast; the per-site knobs are gone") {
    def files(root: String): Seq[Path] = {
      val r = Paths.get(root)
      assert(Files.isDirectory(r), s"$r not found")
      val w = Files.walk(r)
      try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }
    val main = files("src/main/scala")
    def hits(in: Seq[Path], needle: String): Seq[String] =
      in.filter(p => Files.readString(p).contains(needle)).map(_.getFileName.toString)
    for (needle <- Seq("Runtime.getRuntime.maxMemory", graft.operators.Regime.BudgetConf,
        "stats.sizeInBytes"))
      assert(hits(main, needle) == Seq("Regime.scala"), needle)
    // spelled in pieces so this file does not match itself
    for (gone <- Seq(Seq("bcIf", "Small"), Seq("LocalCc", "MaxEdges"),
        Seq("local", "MaxEdges"), Seq("spark.graft.knn.", "broadcastMaxBytes")))
      assert(hits(main ++ files("src/test/scala"), gone.mkString).isEmpty, gone.mkString)
  }
}

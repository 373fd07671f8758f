package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9: profile_lof's density-adaptive strategy pick. The pooled
  * (duplicate-collapsed) path must be an EXACT algebraic factoring of
  * the per-id path — same rows, same values, any duplication profile.
  */
class Round9LofSpec extends AnyFunSuite {
  import TestSpark._

  /** Synthetic (id, u, v) cloud in [0,1]²: `coords` base coordinates
    * on a quantized lattice (the saturating shape), coordinate i
    * duplicated dup(i) times with deterministic ids.
    */
  private def cloud(coords: Int, dup: Int => Int) = {
    val rows = (0 until coords).flatMap { i =>
      // quantized x-axis (7 columns), finer y
      val u = (i % 7) / 7.0
      val v = ((i * 2654435761L) % 1000003L).toDouble / 1000003.0
      (0 until dup(i)).map(c => (i * 1000L + c * 7919L % 997L + c, u, v))
    }
    spark.createDataFrame(rows).toDF("id", "u", "v")
  }

  private def run(coords: Int, dup: Int => Int) = {
    import graft.operators.Profile
    val pts = cloud(coords, dup)
    val n = pts.count().toDouble
    val h = math.sqrt(4.0 / n)
    def rows(lof: Ckpt.Scope => DataFrame) =
      Ckpt.scoped(sc => lof(sc).collect().map(_.toString).toSeq)
    val a = rows(Profile.lofPerId(_, pts, h, 5, broadcastCells = true))
    // the shuffle fallback regime must stay value-identical too
    val a2 = rows(Profile.lofPerId(_, pts, h, 5, broadcastCells = false))
    val b = rows(Profile.lofPooled(_, pts, h, 5, broadcastLookups = true))
    val b2 = rows(Profile.lofPooled(_, pts, h, 5, broadcastLookups = false))
    // r11: the pooled CELL join's shuffled fallback regime must stay
    // value-identical too (broadcastCells=false ⇒ semi-join prune +
    // shuffled candidate join)
    val b3 = rows(Profile.lofPooled(_, pts, h, 5, broadcastLookups = true,
      broadcastCells = false))
    assert(a == a2, s"broadcast:\n${a.mkString("\n")}\nshuffle:\n${a2.mkString("\n")}")
    assert(b == b2, s"pooled-bc:\n${b.mkString("\n")}\npooled-sh:\n${b2.mkString("\n")}")
    assert(b == b3, s"pooled-bc:\n${b.mkString("\n")}\npooled-cells-sh:\n${b3.mkString("\n")}")
    (a, b)
  }

  test("lof pooled == per-id on a near-unique cloud") {
    val (a, b) = run(300, i => if (i % 11 == 0) 2 else 1)
    assert(a.nonEmpty)
    assert(a == b, s"per-id:\n${a.mkString("\n")}\npooled:\n${b.mkString("\n")}")
  }

  test("lof pooled == per-id under heavy duplication (pool/generic classes)") {
    // duplication 1..12: exercises the k+1 pool cut, the generic
    // class (m > k+1), and the rep-id expansion
    val (a, b) = run(200, i => 1 + (i % 12))
    assert(a.nonEmpty)
    assert(a == b, s"per-id:\n${a.mkString("\n")}\npooled:\n${b.mkString("\n")}")
  }

  test("lof pooled == per-id at degenerate density (all-zero reach floor)") {
    // every coordinate carries ≥ k+2 ids ⇒ each id's 5 nearest are
    // all at distance exactly 0 ⇒ the 1000·count reach-sum floor
    // binds on BOTH paths and duplicate clusters score LOF = 1.0
    val (a, b) = run(60, _ => 8)
    assert(a.nonEmpty)
    assert(a == b, s"per-id:\n${a.mkString("\n")}\npooled:\n${b.mkString("\n")}")
    // generic-class expansion keeps per-id rows: values are sane
    val lofs = a.map(_.split(",")(2).stripSuffix("]").toDouble)
    assert(lofs.forall(l => l >= 0.0 && l.isFinite))
  }

  test("profile_lof picks the pooled path on duplicated corpora (no OOM shape)") {
    // plan-shape pin: on a corpus with dupRatio > 1.25 the registry
    // query must collapse coordinates before the cell join — the pair
    // stage's TopKPerKey keys on (u, v) doubles, not the id long
    import graft.operators.Profile
    val pts = cloud(100, _ => 6)
    val h = math.sqrt(4.0 / 600.0)
    val plan = Ckpt.scoped(sc =>
      Profile.lofPooled(sc, pts, h, 5).queryExecution.optimizedPlan.toString)
    assert(plan.contains("TopKPerKey"))
  }

  private def countIn(plan: String, needle: String): Int =
    plan.sliding(needle.length).count(_ == needle)

  test("per-id broadcast regime plans map-side candidate + lookup joins") {
    // r10 plan lock: with broadcastCells the cells/kdist/lrd build
    // sides are broadcast (3 BroadcastHashJoins), the 9·n probe rows
    // never cross an exchange, and the ONLY corpus-wide shuffle the
    // candidate/knn stage plans is TopKPerKey's O(k·n) survivor
    // exchange (r9 driver bench: the shuffled probe join carried
    // 513 MB at sf0.1; this shape carries 71 MB)
    import graft.operators.Profile
    val pts = cloud(300, _ => 1)
    val h = math.sqrt(4.0 / 300.0)
    val plan = Ckpt.scoped(sc => Profile.lofPerId(sc, pts, h, 5, broadcastCells = true)
      .queryExecution.executedPlan.toString)
    assert(countIn(plan, "BroadcastHashJoin") >= 3, plan.take(4000))
    assert(!plan.contains("LeftSemi"), "broadcast regime must elide the prune")
    assert(plan.contains("TopKPerKeyPartial"))
  }

  test("per-id shuffle regime keeps the occupied-cell semi-join prune") {
    import graft.operators.Profile
    val pts = cloud(300, _ => 1)
    val h = math.sqrt(4.0 / 300.0)
    val plan = Ckpt.scoped(sc => Profile.lofPerId(sc, pts, h, 5, broadcastCells = false)
      .queryExecution.executedPlan.toString)
    assert(plan.contains("LeftSemi"), plan.take(4000))
    assert(plan.contains("TopKPerKeyPartial"))
  }

  test("pooled path plan lock: semi-join prune + slim tail shuffles only") {
    // r9 verdict item 6: pin the occupied-cell LeftSemi prune (the
    // SHUFFLED cell regime) and the tail's shuffle posture so a
    // refactor can't silently reintroduce the r8 shape. With
    // broadcastLookups the kd/lrdB joins on `b` must be BROADCAST (a
    // shuffled b-join re-exchanges the exploded O(classes·k)
    // relation); the only hash exchanges allowed downstream of the
    // pool (the plan text ABOVE TopKPerKeyFinal) are the ≤2
    // post-partial-agg re-exchanges of the O(classes) groupBy output,
    // which the float-normalized key realias keeps Catalyst from
    // eliding.
    import graft.operators.Profile
    val pts = cloud(100, _ => 6)
    val h = math.sqrt(4.0 / 600.0)
    val plan = Ckpt.scoped(sc => Profile.lofPooled(sc, pts, h, 5, broadcastCells = false)
      .queryExecution.executedPlan.toString)
    assert(plan.contains("LeftSemi"), plan.take(4000))
    val tail = plan.substring(0, plan.indexOf("TopKPerKeyFinal"))
    assert(!tail.contains("SortMergeJoin [b#"),
      s"tail shuffles the exploded relation on b:\n${tail.take(4000)}")
    assert(countIn(tail, "BroadcastHashJoin") >= 2, tail.take(4000))
    assert(countIn(tail, "Exchange hashpartitioning") <= 2,
      s"tail plans extra hash exchanges:\n${tail.take(4000)}")
  }

  test("pooled broadcast-cells regime plans a map-side candidate join") {
    // r11 plan lock (verdict item 1): with broadcastCells the coords
    // build side is broadcast, the 9× exploded probe rows never cross
    // an exchange, and the redundant occupied-cell prune is elided —
    // the round-10 scale table measured 2.3-2.9 GB of shuffle through
    // the shuffled cell join at sf1/sf3.
    import graft.operators.Profile
    val pts = cloud(100, _ => 6)
    val h = math.sqrt(4.0 / 600.0)
    val plan = Ckpt.scoped(sc =>
      Profile.lofPooled(sc, pts, h, 5).queryExecution.executedPlan.toString)
    assert(!plan.contains("LeftSemi"),
      s"broadcast regime must elide the prune:\n${plan.take(4000)}")
    val head = plan.substring(plan.indexOf("TopKPerKeyFinal"))
    assert(countIn(head, "BroadcastHashJoin") >= 1, head.take(4000))
  }
}

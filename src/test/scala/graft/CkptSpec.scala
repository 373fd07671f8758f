package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge
import org.scalatest.funsuite.AnyFunSuite

/** Pins the one storage lifecycle (`Ckpt.scoped`): a scope frees
  * every frame it persisted or checkpointed when it returns or
  * throws, `keep` is the only way a frame outlives it, a returned
  * frame may not read a checkpoint the scope frees, rolled loops hold
  * one generation, and no other code under `graft` persists,
  * checkpoints or frees a frame.
  *
  * Assertions are on the SPECIFIC RDD ids each call creates/frees —
  * never on a global persistent-RDD count: the shared session's
  * ContextCleaner asynchronously reaps prior suites' dead RDDs, so
  * an absolute count can drop mid-test through no fault of the scope
  * (the r7 flake).
  */
class CkptSpec extends AnyFunSuite {
  import TestSpark._

  private def heldIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def ckptId(df: DataFrame): Int = {
    val ids = CheckpointBridge.rddIds(df)
    assert(ids.size == 1, s"expected one checkpoint RDD, got $ids")
    ids.head
  }

  /** The RDD ids that running `body` newly holds. */
  private def newlyHeld(body: => Unit): Set[Int] = {
    val before = heldIds
    body
    heldIds -- before
  }

  test("roll frees the replaced generation and keeps the new one usable") {
    Ckpt.scoped { sc =>
      var state = sc.checkpoint(spark.range(1000).toDF("id"))
      var lastId = ckptId(state)
      assert(heldIds.contains(lastId), "first checkpoint holds blocks")
      // three rolled generations: each roll holds the new id, frees the old
      for (i <- 1 to 3) {
        state = sc.roll(state.withColumn("id", col("id") + 1), state)
        val newId = ckptId(state)
        val held = heldIds
        assert(held.contains(newId), s"generation $i not held after roll")
        assert(!held.contains(lastId),
          s"generation ${i - 1} (rdd $lastId) leaked after roll $i")
        lastId = newId
      }
      // the surviving generation is correct and usable
      assert(state.agg(sum(col("id"))).head.getLong(0)
        == (3L until 1003L).sum)
      sc.free(state)
      assert(!heldIds.contains(lastId), "free releases the store")
    }
  }

  test("free is a no-op on plain (non-checkpointed) frames and null") {
    Ckpt.scoped { sc =>
      sc.free(spark.range(10).toDF("id")) // plain plan: nothing to free
      sc.free(null)
      val rolled = sc.roll(spark.range(10).toDF("id"), null)
      val id = ckptId(rolled)
      assert(heldIds.contains(id)) // no throw is the contract
      sc.free(rolled)
      assert(!heldIds.contains(id))
    }
  }

  test("scoped frees its frames on a normal return and on a throw") {
    var ids = Set.empty[Int]
    val n = Ckpt.scoped { sc =>
      ids = newlyHeld {
        sc.persist(spark.range(100).toDF("id")).count()
        sc.checkpoint(spark.range(50).toDF("id"))
      }
      assert(ids.size == 2, ids)
      7L
    }
    assert(n == 7L)
    assert((heldIds & ids).isEmpty, s"normal return left $ids")
    val boom = intercept[RuntimeException] {
      Ckpt.scoped { sc =>
        ids = newlyHeld {
          sc.persist(spark.range(100).toDF("id")).count()
          sc.checkpoint(spark.range(50).toDF("id"))
        }
        throw new RuntimeException("boom")
      }
    }
    assert(boom.getMessage == "boom")
    assert(ids.size == 2 && (heldIds & ids).isEmpty, s"throw left $ids")
  }

  test("keep survives the scope and stays usable") {
    var handedId = -1
    val (kept, handed) = Ckpt.scoped { sc =>
      val c = sc.checkpoint(spark.range(10).toDF("id"))
      handedId = ckptId(c)
      (sc.keep(spark.range(20).toDF("id").filter(col("id") % 2 === 0)), sc.keep(c))
    }
    val keptId = ckptId(kept)
    assert(ckptId(handed) == handedId, "keeping a scope checkpoint must not copy it")
    assert(heldIds.contains(keptId) && heldIds.contains(handedId))
    assert(kept.agg(sum(col("id"))).head.getLong(0) == (0L until 20L by 2).sum)
    assert(handed.count() == 10L)
    CheckpointBridge.free(kept); CheckpointBridge.free(handed)
  }

  test("returning a frame that reads a scoped checkpoint fails") {
    var id = -1
    val e = intercept[IllegalStateException] {
      Ckpt.scoped { sc =>
        val c = sc.checkpoint(spark.range(10).toDF("id"))
        id = ckptId(c)
        (1, c.select((col("id") * 2).as("x")))
      }
    }
    assert(e.getMessage.contains(id.toString), e.getMessage)
    assert(!heldIds.contains(id), "the failed scope still frees its checkpoint")
    // a plan over a freed persist is safe: it recomputes from lineage
    val lazyOut = Ckpt.scoped(sc => sc.persist(spark.range(10).toDF("id")).select(col("id") + 1))
    assert(lazyOut.count() == 10L)
  }

  test("iterate holds exactly one generation at return") {
    val before = heldIds
    // 7 rounds rolled every 3: generations at rounds 3, 6 and 7
    val out = Ckpt.iterate(spark.range(100).toDF("id"), rounds = 7, every = 3) {
      (df, _) => df.withColumn("id", col("id") + 1)
    }
    val ids = heldIds -- before
    assert(ids == Set(ckptId(out)), s"held $ids, result reads ${CheckpointBridge.rddIds(out)}")
    assert(out.agg(sum(col("id"))).head.getLong(0) == (7L until 107L).sum)
    CheckpointBridge.free(out)
  }

  test("only Ckpt persists, checkpoints or frees a frame") {
    // code, not comments; scope calls are spelled sc.persist(…)
    val call = raw"(?<!\bsc)\.(persist|unpersist|localCheckpoint)\(|\.cache\(\)".r
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"$root not found")
    val files = {
      val w = Files.walk(root)
      try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }
    val hits = files.filter(_.getFileName.toString != "Ckpt.scala").flatMap { p =>
      val code = Files.readString(p)
        .replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("//[^\n]*", "")
      call.findAllMatchIn(code).map(m => s"${p.getFileName}: ${m.matched}")
    }
    assert(files.size > 20 && hits.isEmpty, hits.mkString("\n"))
  }
}

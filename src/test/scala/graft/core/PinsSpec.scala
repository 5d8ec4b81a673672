package graft.core

import java.util.concurrent.CountDownLatch

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.scalatest.funsuite.AnyFunSuite

/** Cache ownership: refcounted pins (a cache goes only when its last
  * holder releases), `held` scopes, and the use-after-release contract
  * (VERDICT r17 #2): a checkpoint-backed frame that escapes the scope
  * that released it must fail NAMING the contract ("consume the result
  * inside the scope"), not with Spark's generic block-manager "block
  * not found" far from the bug.
  */
class PinsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  // A fresh Dataset each call, all with the same canonical plan.
  private def plan(k: Int): DataFrame =
    spark.range(0, 200).select((col("id") * k + 7919).as("y"))

  test("a plan pinned by two threads stays cached until the last " +
      "holder releases") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val aPinned, bPinned, aReleased = new CountDownLatch(1)
    def await(l: CountDownLatch): Unit =
      assert(l.await(1, java.util.concurrent.TimeUnit.MINUTES), "peer thread stalled")
    val a = Future {
      Pins.scoped {
        assert(Pins.pin(plan(31)).count() == 200L)
        aPinned.countDown()
        await(bPinned)
      }
      aReleased.countDown()
    }
    val b = Future {
      Pins.scoped {
        await(aPinned)
        val mine = Pins.pin(plan(31))
        bPinned.countDown()
        await(aReleased)
        // the first holder is gone; this thread still holds the cache
        val cached = bridge.isCached(mine)
        assert(mine.count() == 200L)
        cached
      }
    }
    Await.result(a, 2.minutes)
    assert(Await.result(b, 2.minutes),
      "the first holder's release dropped a cache another thread still held")
    assert(!bridge.isCached(plan(31)), "the last holder's release must drop it")
  }

  test("a held release drops exactly its own pins, once") {
    val rdd = spark.sparkContext.parallelize(1 to 10)
    Pins.scoped {
      Pins.pin(plan(37))
      val ((), release) = Pins.held {
        Pins.pin(plan(41))
        Pins.pin(plan(37)) // shared with the enclosing scope
        Pins.pinRdd(rdd)
        ()
      }
      // the held scope has ended, its pins have not
      assert(bridge.isCached(plan(41)) && bridge.isCached(plan(37)))
      assert(rdd.getStorageLevel.isValid)
      release()
      assert(!bridge.isCached(plan(41)))
      assert(!rdd.getStorageLevel.isValid)
      assert(bridge.isCached(plan(37)), "dropped a pin the outer scope holds")
      release() // a second call must not take the outer scope's reference
      assert(bridge.isCached(plan(37)))
    }
    assert(!bridge.isCached(plan(37)))
  }

  test("a shared TrainCache entry survives the scope of the config " +
      "that built it") {
    graft.model.TrainCache.sharing {
      val key = "pins-spec|shared"
      // a config evaluation builds the entry inside its own scope...
      val built = Pins.scoped {
        graft.model.TrainCache.acquire(key) {
          val d = Pins.pin(plan(43))
          d.count()
          d
        }._1
      }
      // ...which has ended; a later config reuses the still-cached prep
      assert(bridge.isCached(built), "the building config's scope released shared prep")
      val reused = Pins.scoped {
        graft.model.TrainCache.acquire[DataFrame](key)(fail("prep rebuilt"))._1
      }
      assert(reused eq built)
      assert(bridge.isCached(built))
    }
    assert(!bridge.isCached(plan(43)), "the sharing scope releases its entries")
  }

  test("nothing in src/main persists or unpersists outside Pins") {
    val found = graft.SourceScan.find(
      Seq(".persist(", ".cache()", ".unpersist("), except = "graft/core/Pins.scala")
    assert(found.isEmpty, s"cache calls that bypass Pins:\n${found.mkString("\n")}")
  }

  test("use-after-release is diagnosed at operator boundaries, not a " +
      "block-manager error") {
    import spark.implicits._
    // an operator-shaped lifecycle: final checkpoint pinned to the
    // scope, result consumed inside, a DERIVED frame escapes
    val stale = Pins.scoped {
      val ckpt = (1 to 100).toDF("x").localCheckpoint(true)
      Pins.pinCheckpoint(ckpt)
      assert(ckpt.count() == 100L) // consumed inside, per the contract
      ckpt.select((col("x") + 1).as("y"))
    }
    // the debug helper names the released checkpoint...
    val e = intercept[IllegalStateException] {
      Pins.requireConsumable(stale)
    }
    assert(e.getMessage.contains("already released"))
    assert(e.getMessage.contains("Consume an operator's result inside"))
    // ...and both operator entry points fail loudly with the same
    // diagnostic instead of executing into a dead block
    val e2 = intercept[IllegalStateException] {
      org.apache.spark.sql.graft.bridge.rebind(spark, stale)
    }
    assert(e2.getMessage.contains("already released"))
    val e3 = intercept[IllegalStateException] { Pins.pin(stale) }
    assert(e3.getMessage.contains("already released"))
  }

  test("tombstone walk follows a re-bound frame's derived lineage") {
    import spark.implicits._
    // the real iterative-operator return shape: the final checkpoint is
    // re-bound into the caller's session, so the escaping frame's
    // LogicalRDD holds a DERIVED rdd (toRdd over the checkpoint), not
    // the checkpoint rdd itself — the diagnostic must walk lineage
    val clone = org.apache.spark.sql.graft.bridge.sessionClone(spark)
    val stale = Pins.scoped {
      val ckpt = (1 to 50).toDF("x").localCheckpoint(true)
      Pins.pinCheckpoint(ckpt)
      val rebound = org.apache.spark.sql.graft.bridge.rebind(
        spark, ckpt.select((col("x") * 2).as("y")))
      assert(rebound.count() == 50L)
      rebound
    }
    val hit = Pins.releasedCheckpointIn(stale)
    assert(hit.isDefined,
      "released checkpoint not found through the re-bound frame's lineage")
    intercept[IllegalStateException] {
      org.apache.spark.sql.graft.bridge.rebind(clone, stale)
    }
  }

  test("live checkpoints and rotation-internal frames pass the check") {
    import spark.implicits._
    val live = (1 to 10).toDF("x").localCheckpoint(true)
    Pins.requireConsumable(live) // no throw: not released
    Pins.pin(live.select(col("x"))).unpersist()
    Pins.releaseCheckpoint(live) // rotation-style release tombstones it
    assert(Pins.releasedCheckpointIn(live).contains(
      live.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }.head))
  }
}

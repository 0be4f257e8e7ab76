package graft

import java.util.concurrent.{CountDownLatch, atomic}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The session memo store ([[MemoLog]]): one build per key however many
  * threads ask first, builds that nest, builds that throw, and one
  * release that frees every frame and held RDD. */
class MemoStoreSpec extends SparkTestBase {

  private def fresh(): Unit = { MemoLog.release(); MemoLog.drain() }

  test("two threads asking first for one key build it once: one ledger row") {
    fresh()
    val builds = new atomic.AtomicInteger
    val start = new CountDownLatch(1)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val calls = Seq.fill(2)(Future {
      start.await()
      MemoLog.value(spark, "d", "spec.once") {
        builds.incrementAndGet(); Thread.sleep(300); 42
      }
    })
    start.countDown()
    assert(calls.map(Await.result(_, 30.seconds)) == Seq(42, 42))
    assert(builds.get == 1)
    assert(MemoLog.drain().map(_.tag) == Seq("spec.once"))
    MemoLog.release()
  }

  test("a build that reads another memo builds both, each ledgered once") {
    fresh()
    val outer = MemoLog.frame(spark, "d", "spec.outer") {
      val inner = MemoLog.frame(spark, "d", "spec.inner") {
        spark.range(100).toDF("id").persist()
      }
      inner.filter("id % 2 = 0").persist()
    }
    assert(outer.count() == 50)
    assert(MemoLog.has(spark, "d", "spec.inner"))
    assert(MemoLog.frame(spark, "d", "spec.outer")(fail("rebuilt")) eq outer)
    assert(MemoLog.drain().map(_.tag).sorted == Seq("spec.inner",
                                                    "spec.outer"))
    MemoLog.release()
  }

  test("a build that throws stores nothing; the next call builds") {
    fresh()
    intercept[IllegalStateException] {
      MemoLog.value[Int](spark, "d", "spec.fail") {
        throw new IllegalStateException("build failed")
      }
    }
    assert(!MemoLog.has(spark, "d", "spec.fail"))
    assert(MemoLog.value(spark, "d", "spec.fail")(7) == 7)
    assert(MemoLog.has(spark, "d", "spec.fail"))
    MemoLog.release()
  }

  test("release frees both k-means frames and a held checkpoint; " +
       "the next call ledgers again") {
    fresh()
    def kmeansBuilds(): Int = {
      // the query's frame construction reads the memoized cells
      graft.SparkEntry.queries("q_cluster_kmeans")(spark, sf0001)
      MemoLog.drain().count(_.tag == "sim.kmeans")
    }
    // distributed Lloyd: both the cells and the centroids are persisted
    withPlain {
      assert(kmeansBuilds() == 1)
      assert(kmeansBuilds() == 0)
      val (cells, cents) = MemoLog.value[(DataFrame, DataFrame)](
        spark, sf0001, "sim.kmeans")(fail("not memoized"))
      assert(cells.storageLevel != StorageLevel.NONE)
      assert(cents.storageLevel != StorageLevel.NONE)
      val cp = spark.sparkContext.parallelize(1 to 10).localCheckpoint()
      cp.count()
      MemoLog.hold(cp)
      assert(cp.getStorageLevel != StorageLevel.NONE)

      MemoLog.release()
      assert(cells.storageLevel == StorageLevel.NONE)
      assert(cents.storageLevel == StorageLevel.NONE)
      assert(cp.getStorageLevel == StorageLevel.NONE)
      assert(!MemoLog.has(spark, sf0001, "sim.kmeans"))
      assert(kmeansBuilds() == 1)
    }
    MemoLog.release()
  }
}

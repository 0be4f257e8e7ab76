package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (JVM-wide, cheap to reuse). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions { e =>
        e.injectOptimizerRule(_ => graft.plans.RangeJoinBinning)
        e.injectOptimizerRule(_ => graft.plans.TinyAggSingularize())
        e.injectRuntimeOptimizerRule(_ =>
          graft.plans.TinySortSingularize)
      }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // The suites run many throwaway stream queries through one JVM-wide
    // session — opt in to the harness-only per-query stream teardown
    // (see StreamOps' runStreamN finally block).
    s.conf.set("spark.graft.stream.teardown", "true")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` with [[Plain]] set: Spark's plain plans throughout. */
  protected def withPlain[T](body: => T): T = {
    spark.conf.set(Plain.Key, "true")
    try body finally spark.conf.unset(Plain.Key)
  }

  private val suiteDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** Runs `body` on a fresh temp directory and deletes it afterwards.
    * With `suite = true` (fixtures shared by a suite's tests, e.g. from a
    * lazy val) the directory lives until the suite ends instead. */
  protected def withTempDir[T](prefix: String, suite: Boolean = false)
                              (body: String => T): T = {
    val dir = Files.createTempDirectory(prefix).toFile
    if (suite) { suiteDirs.add(dir); body(dir.toString) }
    else try body(dir.toString) finally FileUtils.deleteDirectory(dir)
  }

  override protected def afterAll(): Unit =
    try suiteDirs.forEach(d => FileUtils.deleteDirectory(d))
    finally super.afterAll()
}

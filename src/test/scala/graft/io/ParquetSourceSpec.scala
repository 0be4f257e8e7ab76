package graft.io

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** The one parquet source read ([[ParquetSource]]): its footer schema is
  * the one Spark's inference gives, every fixture table is built under it
  * with no Spark job, and its sizes count data files only. */
class ParquetSourceSpec extends graft.SparkTestBase {
  import spark.implicits._

  private def lineitem = s"$sf0001/lineitem.parquet"

  /** A Laghos-schema source as a directory of two part files, as Spark
    * writes it (with `_SUCCESS` and `.crc` files beside them), plus a
    * copy in progress, `x.parquet._COPYING_`, holding a part file's
    * bytes. */
  private lazy val laghos: String =
    withTempDir("graft_laghos_", suite = true) { dir =>
      (0 until 400).map(i => (i % 50, i * 0.5, i * 0.25, i * 0.125, i * 1.0))
        .toDF("vertex_id", "x", "y", "z", "e")
        .repartition(2).write.parquet(s"$dir/laghos")
      val part = new java.io.File(s"$dir/laghos").listFiles()
        .find(_.getName.startsWith("part-")).get.toPath
      java.nio.file.Files.copy(part,
        java.nio.file.Paths.get(s"$dir/laghos/x.parquet._COPYING_"))
      s"$dir/laghos"
    }

  /** The sf0.001 fixture tables. */
  private lazy val tables: Seq[String] =
    new java.io.File(sf0001).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerBusDrain(spark.sparkContext); jobs.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("footer schema equals inference for a file, a directory and a glob") {
    for (p <- Seq(lineitem, laghos, s"$laghos/*.parquet") ++
           tables.map(t => s"$sf0001/$t.parquet"))
      assert(ParquetSource.scan(spark, p).schema ==
        spark.read.parquet(p).schema, p)
  }

  test("every sf0.001 table through ops.table: no Spark job, the " +
       "normalized inferred schema") {
    assert(tables.size >= 10, tables)
    for (t <- tables) {
      var df: DataFrame = null
      val jobs = jobsDuring { df = graft.ops.table(spark, sf0001, t) }
      assert(jobs == 0, s"$t: $jobs jobs to build the frame")
      val inferred = graft.ops.tsColumns.getOrElse(t, Nil).foldLeft(
        spark.read.parquet(s"$sf0001/$t.parquet"))(graft.ops.normalizeTs)
      assert(df.schema == inferred.schema, t)
    }
  }

  test("a directory's data files and bytes leave out _SUCCESS and .crc") {
    val l = ParquetSource.footerSchema(spark,
      spark.sessionState.newHadoopConf(), laghos)
    val all = new java.io.File(laghos).listFiles().toSeq
    val parts = all.filter(f => f.getName.startsWith("part-"))
    assert(parts.size == 2 && all.exists(_.getName == "_SUCCESS") &&
      all.exists(_.getName.endsWith(".crc")) &&
      all.exists(_.getName == "x.parquet._COPYING_"), all)
    assert(l.dataFiles.map(_.getPath.getName).sorted ==
      parts.map(_.getName).sorted)
    assert(l.bytes == parts.map(_.length).sum)
  }
}

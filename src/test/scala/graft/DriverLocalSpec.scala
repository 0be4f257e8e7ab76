package graft.ops

import org.apache.spark.storage.StorageLevel

/** The driver-local gate ([[DriverLocal]]): estimates that read
  * metadata only, are not moved by block-store compression and fail
  * closed when the input cannot be sized; a bound that never exceeds
  * `spark.driver.maxResultSize`; collects that refuse what they cannot
  * read exactly. */
class DriverLocalSpec extends graft.SparkTestBase {
  private val sf001 = new java.io.File(sf0001).getParent + "/sf0.01"

  test("pagerank estimate = lineitem footer rows x 659 B") {
    // per row: the pair, its HashSet entry, the edge arrays and two
    // nodes in four LongMaps (GraphOps.PagerankRowBytes)
    assert(GraphOps.PagerankRowBytes == 16 + 75 + 56 + 512)
    val rows = spark.read.parquet(s"$sf001/lineitem.parquet").count()
    val est = GraphOps.pagerankEstimate(spark, sf001)
    assert(est.contains(rows * 659), s"estimate $est for $rows rows")
    // sf0.1 stays on the driver under a 3 g heap
    val sf01 = new java.io.File(sf0001).getParent + "/sf0.1"
    val big = GraphOps.pagerankEstimate(spark, sf01)
    assert(big.exists(_ <= DriverLocal.bound(3L << 30, 1L << 30)), big)
  }

  test("k-means estimate counts vec_ids and list elements from footers") {
    val path = s"$sf001/embeddings.parquet"
    val df = spark.read.parquet(path)
    val rows = df.count()
    val elems = df.selectExpr("sum(size(embedding))").head().getLong(0)
    withTempDir("graft_part_emb_") { dir =>
      // a k=v partitioned copy holds the same rows and elements
      val parted = s"$dir/embeddings.parquet"
      df.selectExpr("*", "vec_id % 3 AS k").write.partitionBy("k")
        .parquet(parted)
      assert(new java.io.File(parted).list().count(_.startsWith("k=")) == 3)
      for (p <- Seq(path, parted))
        assert(DriverLocal.footerBytes(spark, p, rowBytes = 8,
          listCol = "embedding", elemBytes = 8)
          .contains((rows + elems) * 8), p)
    }
  }

  test("an unreadable input has no estimate and takes the distributed path") {
    val est = DriverLocal.footerBytes(spark, "/nonexistent/x.parquet", 16)
    assert(est.isEmpty)
    assert(!DriverLocal.admit(spark, "probe", est))
    assert(DriverLocal.admit(spark, "probe", Some(1L)))
    withPlain(assert(!DriverLocal.admit(spark, "probe", Some(0L))))
  }

  test("checkpoint estimate: deserialized in-memory blocks only, else none") {
    import spark.implicits._
    val pairs = spark.range(20000).select($"id".as("a"), ($"id" * 3).as("b"))
    // the connected-components probe: an eager local checkpoint's blocks
    def probe(level: StorageLevel): Option[Long] = {
      val cp = pairs.localCheckpoint(eager = true, level)
      val rdd = org.apache.spark.sql.graftshim.Shim.checkpointRdd(cp)
      try DriverLocal.cachedBytes(spark, rdd.map(_.id).toSet)
      finally rdd.foreach(_.unpersist(blocking = true))
    }
    val mem = probe(StorageLevel.MEMORY_AND_DISK)
    assert(mem.exists(_ >= 20000L * 16), s"in-memory estimate $mem")
    // serialized blocks may be compressed below the payload, and disk
    // blocks are: neither yields an estimate (the caller counts)
    assert(probe(StorageLevel.MEMORY_AND_DISK_SER).isEmpty)
    assert(probe(StorageLevel.DISK_ONLY).isEmpty)
  }

  test("the bound follows spark.driver.maxResultSize below heap / 8") {
    val heap = 8L << 30
    assert(DriverLocal.bound(heap, 0L) == heap / 8)
    assert(DriverLocal.bound(heap, 64L << 20) == (64L << 20))
    assert(DriverLocal.bound(32L << 30, 1L << 30) == (1L << 30))
    assert(DriverLocal.bound(8000L, 1L << 30) == 1000L)
  }

  test("collects refuse non-long columns and nulls instead of reading 0") {
    import spark.implicits._
    val ints = spark.range(10).select($"id".cast("int").as("a"))
    intercept[IllegalArgumentException](DriverLocal.collectLongs(ints))
    val nulls = spark.range(10).selectExpr(
      "CASE WHEN id = 3 THEN NULL ELSE id END AS a")
    val e = intercept[Exception](DriverLocal.collectLongs(nulls))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains(s"${graft.Plain.Key}=true")), e)
    assert(DriverLocal.collectLongs(spark.range(5).toDF("a")).toSeq ==
      (0L until 5L))
    val floats = spark.range(3).selectExpr("id", "array(1.0f, 2.0f) AS v")
    intercept[IllegalArgumentException](DriverLocal.collectVectors(floats))
    val holes = spark.range(3).selectExpr("id",
      "array(1.0d, CASE WHEN id = 1 THEN NULL ELSE 2.0d END) AS v")
    intercept[Exception](DriverLocal.collectVectors(holes))
    val (ks, vs) = DriverLocal.collectVectors(
      spark.range(3).selectExpr("id", "array(CAST(id AS DOUBLE), 2.0d) AS v"))
    assert(ks.toSeq == Seq(0L, 1L, 2L) &&
      vs.map(_.toSeq).toSeq == Seq(Seq(0.0, 2.0), Seq(1.0, 2.0), Seq(2.0, 2.0)))
  }
}

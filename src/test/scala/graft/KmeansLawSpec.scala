package graft.ops

import org.apache.spark.sql.functions.{col, size}

/** Dual-path law for the size-gated driver-side Lloyd (round 22):
  * under the driver-local bound the k-means shared build
  * collects the vectors and iterates on the driver; this spec pins the
  * local path to the distributed plan it replaces — cells (vec_id,
  * cid, dist) AND centroids (cid, c) must be BIT-identical (double ==,
  * not approx), on real fixtures, because every decimal mean and every
  * in-order distance fold feeds oracle-hashed consumers
  * (q_cluster_kmeans's inertia, q_dedup_semantic's pair distances, the
  * IVF probe ranking). Same pattern as the union-find law test
  * (DedupSimSpec). */
class KmeansLawSpec extends graft.SparkTestBase {
  private def cellsAndCents(d: String, forceDistributed: Boolean)
      : (Seq[(Long, Long, Double)], Seq[(Long, Seq[Double])]) = {
    graft.MemoLog.release()
    def run = {
      val cells = SimOps.kmeansCells(spark, d)
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val cents = SimOps.kmeansCents(spark, d)
        .orderBy("cid").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
      (cells, cents)
    }
    try if (forceDistributed) withPlain(run) else run
    finally graft.MemoLog.release()
  }

  for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
    test(s"driver Lloyd == distributed Lloyd on $d") {
      val (lCells, lCents) = cellsAndCents(d, forceDistributed = false)
      val (dCells, dCents) = cellsAndCents(d, forceDistributed = true)
      assert(lCells.nonEmpty)
      assert(lCells.size == dCells.size,
        s"cell count ${lCells.size} != ${dCells.size}")
      lCells.zip(dCells).foreach { case (a, b) =>
        assert(a == b, s"cell mismatch: local $a != distributed $b")
      }
      assert(lCents == dCents,
        s"centroid mismatch: local $lCents != distributed $dCents")
    }
  }

  /** Runs `body` on a temp dir holding a synthetic embeddings table:
    * `n` seeded vectors of the given per-vector lengths, element 0 of
    * vector 20 replaced by `big` when set. */
  private def withSynthetic(n: Int, len: Int => Int,
                            big: Option[Float] = None)
                           (body: String => Unit): Unit = {
    import spark.implicits._
    withTempDir("graft_kmeans_law_") { dir =>
      val r = new scala.util.Random(7)
      val rows = (0 until n).map { i =>
        val v = Array.fill(len(i))(r.nextFloat() * 2 - 1)
        if (i == 20) big.foreach(b => v(0) = b)
        (i.toLong, v.toSeq, i % 3)
      }
      rows.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
      body(dir)
    }
  }

  /** The condition of the first Spark error in `t`'s cause chain. */
  private def condition(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case e: org.apache.spark.SparkThrowable if e.getCondition != null =>
        e.getCondition
    }.getOrElse(t.toString)

  test("ragged vectors: driver Lloyd == distributed Lloyd per position") {
    // lengths 2..5 in seeded order: clusters mix vectors of different
    // lengths, and the distributed posexplode + groupBy(cid, pos) mean
    // averages each position over only the members that have it
    withSynthetic(60, i => 2 + (i * 7 + i / 5) % 4) { d =>
      val (lCells, lCents) = cellsAndCents(d, forceDistributed = false)
      val (dCells, dCents) = cellsAndCents(d, forceDistributed = true)
      assert(lCells == dCells, "cell mismatch on ragged vectors")
      assert(lCents == dCents,
        s"centroid mismatch: local $lCents != distributed $dCents")
      val lens = spark.read.parquet(s"$d/embeddings.parquet")
        .select(size(col("embedding"))).distinct().count()
      assert(lens > 1, "fixture is not ragged")
    }
  }

  test("decimal overflow: an element >= 1e12 fails both Lloyds under ANSI") {
    withSynthetic(40, _ => 4, big = Some(4e12f)) { d =>
      val errs = Seq(false, true).map { dist =>
        condition(intercept[Throwable](
          cellsAndCents(d, forceDistributed = dist)))
      }
      assert(errs.forall(_.startsWith("NUMERIC_VALUE_OUT_OF_RANGE")),
        s"local / distributed errors: $errs")
      assert(errs.distinct.size == 1, s"errors differ: $errs")
    }
  }

  test("decimal overflow: with ANSI off both Lloyds skip the NULL cast") {
    withSynthetic(40, _ => 4, big = Some(4e12f)) { d =>
      spark.conf.set("spark.sql.ansi.enabled", "false")
      try {
        val (lCells, lCents) = cellsAndCents(d, forceDistributed = false)
        val (dCells, dCents) = cellsAndCents(d, forceDistributed = true)
        assert(lCells == dCells, "cell mismatch with an overflowing element")
        assert(lCents == dCents,
          s"centroid mismatch: local $lCents != distributed $dCents")
        // the NULL cast drops 4e12 from its sum: no mean can carry it
        assert(lCents.forall(_._2.forall(x => math.abs(x) <= 1.0)),
          s"an overflowing element leaked into a mean: $lCents")
      } finally spark.conf.unset("spark.sql.ansi.enabled")
    }
  }
}

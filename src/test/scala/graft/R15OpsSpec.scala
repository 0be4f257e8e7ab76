package graft

import org.apache.spark.sql.functions._

/** Laws for the round-15 additions: histogram-median MAD, distributed
  * ntile stratification, PMI collocations, incremental ingest dedup. */
class R15OpsSpec extends SparkTestBase {
  import spark.implicits._

  test("events_mad histogram median matches brute force on sf0.001") {
    val got = ops.EventOps.queries("q_events_mad")(spark, sf0001)
      .select($"event_type".as[String], $"n".as[Long], $"med".as[Double],
              $"mad".as[Double], $"n_outliers".as[Long]).collect()
    val vals = ops.table(spark, sf0001, "events")
      .filter($"value".isNotNull && !isnan($"value"))
      .select($"event_type".as[String], $"value".as[Double]).collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def med(v: Array[Double]): Double = {
      val n = v.length
      (v((n - 1) / 2) + v(n / 2)) / 2
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.map(_._1).toSet == vals.keySet)
    got.foreach { case (t, n, m, md, outl) =>
      val v = vals(t)
      assert(n == v.length, s"$t n")
      val m0 = med(v)
      assert(m == r6(m0), s"$t med $m vs brute ${r6(m0)}")
      val devs = v.map(x => math.abs(x - m0)).sorted
      val mad0 = med(devs)
      assert(md == r6(mad0), s"$t mad $md vs brute ${r6(mad0)}")
      assert(outl == devs.count(_ > 3.0 * mad0), s"$t n_outliers")
      assert(md >= 0.0)
    }
  }

  test("quality_bins is an exact ANSI-ntile partition of the corpus") {
    val rows = ops.PipelineOps.queries("q_quality_bins")(spark, sf0001)
      .select($"decile".as[Long], $"n_docs".as[Long],
              $"min_tokens".as[Long], $"max_tokens".as[Long]).collect()
    val total = ops.table(spark, sf0001, "documents").count()
    assert(rows.map(_._1).toSeq == (1L to 10L), "deciles must be 1..10")
    assert(rows.map(_._2).sum == total, "bins must partition the corpus")
    // ANSI ntile: bucket sizes differ by at most one, larger buckets first
    val sizes = rows.map(_._2)
    assert(sizes.max - sizes.min <= 1)
    assert(sizes.sorted.reverse.toSeq == sizes.toSeq,
      "larger buckets must come first (ANSI ntile)")
    // value ranges are ascending and non-overlapping up to ties at edges
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._3, s"decile ${a._1} max > decile ${b._1} min")
    case _ => ()
    }
  }

  test("pmi_bigram lift is integer-exact against recomputed counts") {
    val out = ops.TextOps.queries("q_pmi_bigram")(spark, sf0001)
      .select($"w1".as[String], $"w2".as[String], $"cxy".as[Long],
              $"lift_micro".as[Long]).collect()
    assert(out.nonEmpty && out.length <= 50)
    assert(out.forall(_._3 >= 5), "min-count filter")
    // descending lift with (w1, w2) tiebreak
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._4 > b._4 ||
          (a._4 == b._4 && (a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2))))
      case _ => ()
    }
    // recompute the top row's lift with BigInt arithmetic
    val toks = ops.table(spark, sf0001, "documents")
      .select(split($"text", " ").as[Array[String]]).collect()
    val nUni = toks.map(_.length.toLong).sum
    val nBi = toks.map(t => math.max(t.length - 1, 0).toLong).sum
    val (w1, w2, cxy, lift) = out.head
    val c1 = toks.map(_.count(_ == w1).toLong).sum
    val c2 = toks.map(_.count(_ == w2).toLong).sum
    val cxy0 = toks.map(_.sliding(2).count(p =>
      p.length == 2 && p(0) == w1 && p(1) == w2).toLong).sum
    assert(cxy == cxy0, "bigram count")
    // the two-step floor spelling both engines use (overflow-safe form)
    val expect = ((BigInt(cxy0) * 1000000 * nUni / (BigInt(c1) * c2))
      * nUni / nBi).toLong
    assert(lift == expect, s"lift $lift != $expect")
  }

  test("cluster_kmeans matches a brute-force Lloyd run on sf0.001") {
    val got = ops.SimOps.queries("q_cluster_kmeans")(spark, sf0001)
      .select($"cid".as[Long], $"n_vecs".as[Long], $"inertia".as[Double])
      .collect()
    val vecs = ops.table(spark, sf0001, "embeddings")
      .select($"vec_id".as[Long],
        $"embedding".as[Array[Float]]).collect()
      .map { case (id, e) => (id, e.map(_.toDouble)) }.sortBy(_._1)
    val vmap = vecs.toMap
    // valueOf (shortest-decimal-repr) mirrors Spark's Decimal(double)
    def d6(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP)
    def sqDist(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    var cents: Seq[(Long, Array[Double])] =
      vecs.filter(_._1 < 8).map { case (id, v) => (id, v) }.toSeq
    var asg: Array[(Long, Long, Double)] = null // vec, cid, dist
    for (_ <- 1 to 3) {
      asg = vecs.map { case (id, v) =>
        val (cid, dist) = cents.map { case (c, cv) => (c, sqDist(v, cv)) }
          .minBy { case (c, dd) => (dd, c) }
        (id, cid, dist)
      }
      val byC = asg.groupBy(_._2)
      cents = byC.toSeq.sortBy(_._1).map { case (c, members) =>
        val vs = members.map(m => vmap(m._1))
        val dim = vs.head.length
        val mean = (0 until dim).map { i =>
          // the exact-decimal davg spelling: per-value DECIMAL(18,6)
          // rounding, exact sum, double division by count
          val s = vs.map(v => d6(v(i))).reduce(_ add _)
          s.doubleValue / vs.length
        }.toArray
        (c, mean)
      }
    }
    val want = asg.groupBy(_._2).map { case (c, ms) =>
      val inertia = ms.map(m => d6(m._3)).reduce(_ add _).doubleValue
      (c, (ms.length.toLong, inertia))
    }
    assert(got.map(_._1).toSet == want.keySet)
    got.foreach { case (cid, n, inertia) =>
      assert(n == want(cid)._1, s"cluster $cid size")
      assert(math.abs(inertia - want(cid)._2) < 1e-9, s"cluster $cid inertia")
    }
    assert(got.map(_._2).sum == vecs.length, "clusters partition the corpus")
  }

  test("histogram frames are domain-bounded, not corpus-bounded") {
    // q_quality_bins and q_events_mad put a single-partition window over
    // a VALUE histogram; that is 100 TB-safe only if the histogram is
    // bounded by the value DOMAIN. Measure it: the distinct-value counts
    // must grow far slower than the 10x corpus growth between fixtures.
    val sf001 = "/root/testdata/sf0.01"
    def distinctTokens(d: String): Long =
      ops.table(spark, d, "documents")
        .select(size(split($"text", " "))).distinct().count()
    def distinctTypeValues(d: String): Long =
      ops.table(spark, d, "events")
        .select($"event_type", $"value").distinct().count()
    val (t1, t2) = (distinctTokens(sf0001), distinctTokens(sf001))
    assert(t2 < t1 * 3,
      s"n_tokens histogram grew $t1 -> $t2 under a 10x corpus — " +
      "not domain-bounded")
    // events.value: the histogram stays small because the domain is a
    // bounded 2-decimal grid, saturating long before corpus scale (at
    // tiny SFs growth still looks linear — the CAP is the invariant).
    // Assert the grid (every value*100 is integral) and that the implied
    // (span x 100 x types) cap both bounds the measured histogram and is
    // itself window-partition-sized.
    import org.apache.spark.sql.functions.{abs => fabs, round => fround}
    val ev = ops.table(spark, sf001, "events")
      .filter($"value".isNotNull && !isnan($"value"))
    val offGrid = ev.filter(
      fabs($"value" * 100 - fround($"value" * 100, 0)) > 1e-6).count()
    assert(offGrid == 0, s"$offGrid values off the 2-decimal grid — " +
      "q_events_mad's bounded-histogram argument needs re-examination")
    val Array((lo, hi, types)) = ev
      .agg(min($"value"), max($"value"),
           countDistinct($"event_type"))
      .as[(Double, Double, Long)].collect()
    val cap = ((hi - lo) * 100 + 1).toLong * types
    assert(distinctTypeValues(sf001) <= cap)
    assert(cap <= 2_000_000L,
      s"domain cap $cap too large for a single-partition histogram walk")
  }

  test("mm_frames sampling keeps exactly every 4th frame of the payload") {
    val got = ops.MultimodalOps.queries("q_mm_frames")(spark, sf0001)
      .select($"doc_id".as[Long], $"n_frames".as[Long],
              $"n_sampled".as[Long]).collect()
    val lens = ops.table(spark, sf0001, "documents")
      .select($"doc_id".as[Long], octet_length($"text".cast("binary"))
        .as[Int]).collect().toMap
    assert(got.length == lens.count(_._2 > 0))
    got.foreach { case (id, nf, ns) =>
      assert(nf == (lens(id) + 255) / 256, s"doc $id frame count")
      assert(ns == (nf + 3) / 4, s"doc $id sampled count")
    }
  }

  test("dedup_incremental classifies an engineered batch correctly") {
    // Build a fixture where each classification branch provably fires.
    // Bucket assignment is md5(doc_id)%100: >= 90 is the arriving batch.
    def bucket(id: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(hex, 16) % 100).toInt
    }
    val batchIds = (1L to 5000L).filter(bucket(_) >= 90)
    val corpusIds = (1L to 5000L).filter(bucket(_) < 90)
    val Seq(b1, b2, b3) = batchIds.take(3)
    val Seq(c1, c2) = corpusIds.take(2)
    val docs = Seq(
      (c1, "alpha beta gamma delta epsilon"),
      (c2, "one two three four five six"),
      (b1, "alpha beta gamma delta epsilon"), // byte-identical → exact_dup
      (b2, "one two three four five seven"),  // 3/4 shingles shared → near
      (b3, "zz yy xx ww vv uu")               // nothing shared → unique
    ).toDF("doc_id", "text")
    withTempDir("r15inc") { dir =>
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = ops.DedupOps.queries("q_dedup_incremental")(spark, dir)
        .select($"status".as[String], $"n_docs".as[Long]).collect().toMap
      assert(got == Map("exact_dup" -> 1L, "near_dup" -> 1L, "unique" -> 1L),
        s"got $got")
    }
  }
}

package graft

import org.apache.spark.sql.functions._

/** Laws for the round-16 additions: exact-substring span marking,
  * asymmetric shingle containment, Count-Min heavy-hitter audit. Each is
  * re-derived by an in-memory brute force on sf0.001 — independent of
  * both the Spark plan and the DuckDB oracle spelling. */
class R16OpsSpec extends SparkTestBase {
  import spark.implicits._

  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }
  private def h60(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(15), 16)
  private lazy val docToks: Map[Long, Array[String]] =
    ops.table(spark, sf0001, "documents")
      .select($"doc_id".as[Long], $"text".as[String]).collect()
      .map { case (id, t) => id -> t.split(" ") }.toMap

  test("dedup_substring matches a brute-force suffix-window pass") {
    val K = 8
    // every K-window occurrence in the corpus
    val occ = docToks.toSeq.flatMap { case (id, ts) =>
      (0 to ts.length - K).map(i => (id, i.toLong,
        h60(ts.slice(i, i + K).mkString(" "))))
    }
    val counts = occ.groupBy(_._3).view.mapValues(_.size).toMap
    val expect = occ.filter(o => counts(o._3) >= 2)
      .groupBy(_._1).view.mapValues { ws =>
        val starts = ws.map(_._2).sorted
        // gaps-and-islands over the ascending starts
        val islands = starts.foldLeft(List.empty[(Long, Long)]) {
          case ((lo, hi) :: rest, s) if s - hi <= K - 1 =>
            (lo, s) :: rest
          case (acc, s) => (s, s) :: acc
        }
        val spanToks = islands.map { case (lo, hi) => hi - lo + K }.sum
        (starts.size.toLong, islands.size.toLong, spanToks)
      }.toMap
    val got = ops.DedupOps.queries("q_dedup_substring")(spark, sf0001)
      .select($"doc_id".as[Long], $"n_dup_windows".as[Long],
              $"n_spans".as[Long], $"dup_tokens".as[Long]).collect()
    assert(got.nonEmpty, "no duplicated windows at sf0.001 — vacuous")
    assert(got.map(_._1).toSet == expect.keySet)
    got.foreach { case (id, nw, ns, dt) =>
      val (enw, ens, edt) = expect(id)
      assert(nw == enw, s"doc $id n_dup_windows")
      assert(ns == ens, s"doc $id n_spans")
      assert(dt == edt, s"doc $id dup_tokens")
      // span accounting sanity: a span of w windows covers w + K - 1
      // tokens when contiguous, at most; and always >= K
      assert(dt >= K && dt <= docToks(id).length)
    }
    // ordered output
    assert(got.map(_._1).toSeq == got.map(_._1).sorted.toSeq)
  }

  /** Brute-force the CAPPED containment contract over an in-memory
    * corpus: raw 3-shingle sets, content-level df (distinct byte-exact
    * contents per shingle), the clamp(2·mean, 8, 50) hot set, capped
    * sets, then ordered containment >= 0.5 over the capped sets. */
  private def cappedContainmentBrute(docs: Map[Long, String])
      : (Seq[(Long, Long, Long, Long)], Set[Long]) = {
    val rep: Map[Long, Long] = docs.groupBy(_._2).values.flatMap { g =>
      val m = g.keys.min; g.keys.map(_ -> m)
    }.toMap
    val rawSets: Map[Long, Set[Long]] = docs.collect {
      case (id, t) if t.split(" ").length >= 3 =>
        val ts = t.split(" ")
        id -> (0 to ts.length - 3)
          .map(i => h60(ts.slice(i, i + 3).mkString(" "))).toSet
    }
    val df: Map[Long, Int] = rawSets.toSeq
      .flatMap { case (id, hs) => hs.map(h => (h, rep(id))) }
      .distinct.groupBy(_._1).view.mapValues(_.size).toMap
    val n = BigInt(df.size)
    val sdf = df.values.map(BigInt(_)).sum
    val hot = df.collect {
      case (h, d) if d > 50 || (d > 8 && BigInt(d) * n > sdf * 2) => h
    }.toSet
    val capped = rawSets.view.mapValues(_ -- hot)
      .filter(_._2.nonEmpty).toMap
    val ids = capped.keys.toSeq.sorted
    val expect = (for {
      a <- ids; b <- ids if a != b
      shared = (capped(a) & capped(b)).size.toLong
      if shared > 0
      cm = shared * 1000000L / capped(a).size
      if cm >= 500000L
    } yield (a, b, shared, cm)).sortBy(p => (p._1, p._2))
    (expect, hot)
  }

  test("dedup_containment matches brute-force capped containment") {
    val docs: Map[Long, String] = ops.table(spark, sf0001, "documents")
      .select($"doc_id".as[Long], $"text".as[String]).collect().toMap
    val (expect, _) = cappedContainmentBrute(docs)
    val got = ops.DedupOps.queries("q_dedup_containment")(spark, sf0001)
      .select($"doc_src".as[Long], $"doc_dst".as[Long],
              $"shared".as[Long], $"cmicro".as[Long]).collect().toSeq
    assert(expect.nonEmpty, "no containment pairs at sf0.001 — vacuous")
    assert(got == expect)
    // asymmetry is real: at least one pair above threshold one way only
    val gotKeys = got.map(p => (p._1, p._2)).toSet
    assert(got.forall(p => p._4 >= 500000L && p._4 <= 1000000L))
    gotKeys.foreach { case (a, b) => assert(a != b) }
  }

  test("dedup_containment: hot-boilerplate fixture — cap bounds fan-in") {
    // 60 docs share a 10-token boilerplate prefix (8 shingles, each with
    // content df = 60 > 50 ⇒ hot) plus a 3-token unique tail; uncapped
    // containment between any two of them is 8/13 ≥ 0.5, so the uncapped
    // contract would emit 60·59 = 3540 ordered boilerplate pairs off a
    // posting-list join with fan-in 60² per hot shingle. The capped
    // contract drops the hot shingles, leaving only the genuine
    // containment pair (X ⊂ Y, low-df shingles).
    val boiler = "terms of service apply all rights reserved contact us at"
    val docs: Map[Long, String] =
      ((1L to 60L).map(i => i -> s"$boiler unique$i tail$i tok$i") ++
       Seq(1000L -> "alpha beta gamma delta epsilon zeta",
           1001L -> "alpha beta gamma delta epsilon zeta extra tokens here now")
      ).toMap
    withTempDir("graft_hotboiler_") { tmp =>
      import spark.implicits._
      docs.toSeq.map { case (id, t) =>
        (id, t, "en", "synth", t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val (expect, hot) = cappedContainmentBrute(docs)
      assert(hot.size >= 8, "fixture drift: boilerplate shingles not hot")
      // the capped contract must keep the real pair and drop all
      // boilerplate-only pairs
      assert(expect.map(p => (p._1, p._2)).toSet ==
        Set((1000L, 1001L), (1001L, 1000L)))
      for (path <- Seq("never", "always")) {
        MemoLog.release()
        System.setProperty("graft.dedup.contract", path)
        try {
          val got = ops.DedupOps.queries("q_dedup_containment")(spark, tmp)
            .select($"doc_src".as[Long], $"doc_dst".as[Long],
                    $"shared".as[Long], $"cmicro".as[Long]).collect().toSeq
          assert(got == expect, s"path=$path")
        } finally {
          System.clearProperty("graft.dedup.contract")
          MemoLog.release()
        }
      }
    }
  }

  test("agg_countmin: estimates are one-sided and exact sans collision") {
    val got = ops.AggOps.queries("q_agg_countmin")(spark, sf0001)
      .select($"k".as[Long], $"c_true".as[Long], $"c_est".as[Long],
              $"overcount".as[Long]).collect()
    assert(got.length == 20)
    // CM guarantee: never an undercount
    got.foreach { case (k, ct, ce, oc) =>
      assert(ce >= ct, s"key $k undercounted: est $ce < true $ct")
      assert(oc == ce - ct)
    }
    // brute-force the sketch and the truth
    val keys = ops.table(spark, sf0001, "lineitem")
      .select($"l_partkey".cast("long").as[Long]).collect()
    val truth = keys.groupBy(identity).view.mapValues(_.length.toLong).toMap
    // row r's bucket = the r-th disjoint 8-hex-char slice of md5(k)
    def bkt(k: Long, r: Int): Long =
      java.lang.Long.parseLong(
        md5hex(k.toString).substring(r * 8, r * 8 + 8), 16) % 256
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
    keys.foreach { k =>
      (0 to 3).foreach { r =>
        val b = bkt(k, r)
        cells((r, b)) = cells.getOrElse((r, b), 0L) + 1
      }
    }
    val expTop = truth.toSeq.sortBy { case (k, c) => (-c, k) }.take(20)
    assert(got.map(_._1).toSeq == expTop.map(_._1))
    got.foreach { case (k, ct, ce, _) =>
      assert(ct == truth(k), s"key $k truth")
      val exp = (0 to 3).map(r => cells((r, bkt(k, r)))).min
      assert(ce == exp, s"key $k estimate")
    }
  }

  test("dedup_canonical: longest-doc survivor per union-find cluster") {
    // clusters re-derived by union-find over the PUBLIC q_dedup_minhash
    // pair listing (>= 2 shared bands) — independent of the fixpoint
    val pairs = ops.DedupOps.queries("q_dedup_minhash")(spark, sf0001)
      .select($"doc_a".as[Long], $"doc_b".as[Long], $"n_bands".as[Long])
      .collect().filter(_._3 >= 2)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = docToks.keys.toSeq
      .groupBy(find).map { case (_, ds) => ds.min -> ds }
    val expect = members.map { case (cl, ds) =>
      val toks = ds.map(d => d -> docToks(d).length.toLong).toMap
      val mx = toks.values.max
      (cl, ds.filter(toks(_) == mx).min, mx, ds.size.toLong,
       ds.size.toLong - 1)
    }.toSeq.sortBy(_._1)
    val got = ops.DedupOps.queries("q_dedup_canonical")(spark, sf0001)
      .select($"cluster".as[Long], $"keep_doc".as[Long],
              $"keep_tokens".as[Long], $"csize".as[Long],
              $"n_dropped".as[Long]).collect().toSeq
    assert(got == expect)
    assert(got.exists(_._4 > 1), "vacuous — no multi-doc clusters")
  }

  test("stream_countmin equals the batch sketch over the full fixture") {
    val got = streaming.StreamOps.queries("q_stream_countmin")(
        spark, sf0001)
      .select($"r".as[Int], $"b".as[Long], $"c".as[Long]).collect().toSeq
    val batch = ops.table(spark, sf0001, "events")
      .select($"user_id".cast("string").as[String]).collect()
      .flatMap { u =>
        val hx = md5hex(u)
        (0 to 3).map(r => (r, java.lang.Long.parseLong(
          hx.substring(r * 8, r * 8 + 8), 16) % 256))
      }
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((r, b), c) => (r, b, c) }
      .sortBy(t => (t._1, t._2))
    assert(got == batch)
    assert(got.map(_._3).sum == ops.table(spark, sf0001, "events")
      .count() * 4, "every event contributes 4 cells")
  }

  test("dedup_semantic: cached-global-reuse == within-cell banding") {
    // the adaptive candidate source (reuse the memoized global pair
    // frame when present, band within cells otherwise) must be a cost
    // decision, never a semantic one
    def rows(preBuildGlobal: Boolean): Seq[String] = {
      MemoLog.release()
      if (preBuildGlobal)
        ops.DedupOps.queries("q_dedup_embed")(spark, sf0001)
          .write.format("noop").mode("overwrite").save()
      val df = ops.DedupOps.queries("q_dedup_semantic")(spark, sf0001)
      val out = df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
        .collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      MemoLog.release()
      out
    }
    val fresh = rows(preBuildGlobal = false)
    val reused = rows(preBuildGlobal = true)
    assert(fresh.nonEmpty, "vacuous — no semantic dups at sf0.001")
    assert(fresh == reused)
  }

  test("window_ewma matches a brute-force 8-term integer recurrence") {
    val got = ops.WindowOps.queries("q_window_ewma")(spark, sf0001)
      .select($"event_id".as[Long], $"user_id".as[Long],
              $"v_cents".as[Long], $"ewma_micro".as[Long]).collect()
    val ev = ops.table(spark, sf0001, "events")
      .filter($"value".isNotNull && !isnan($"value"))
      .select($"event_id".as[Long], $"user_id".as[Long],
              unix_micros($"ts").as[Long], $"value".as[Double]).collect()
    val expect = ev.groupBy(_._2).flatMap { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._3, r._1))
      val cents = ordered.map(r =>
        // HALF_UP mirrors the engines: Spark's cast(double -> decimal)
        // and DuckDB both round half away from zero — HALF_EVEN here
        // would diverge from a correct implementation on an
        // exactly-representable tie (e.g. 0.125).
        BigDecimal(r._4).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .*(100).toLongExact)
      ordered.indices.map { i =>
        val ks = (0 to math.min(7, i)).map(k => (1L << (7 - k), cents(i - k)))
        val num = ks.map { case (w, v) => w * 10000L * v }.sum
        val den = ks.map(_._1).sum
        ordered(i)._1 -> ((num + den / 2) / den, cents(i))
      }
    }.toMap
    assert(got.nonEmpty && got.length == expect.size)
    got.foreach { case (eid, _, vc, em) =>
      val (eem, evc) = expect(eid)
      assert(vc == evc, s"event $eid cents")
      assert(em == eem, s"event $eid ewma")
    }
  }

  test("graph_triangles matches a brute-force census") {
    val li = ops.table(spark, sf0001, "lineitem")
      .select($"l_orderkey".as[Long], $"l_partkey".as[Long])
      .collect().distinct
    val pairCounts = li.groupBy(_._1).values.flatMap { grp =>
      val ps = grp.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length)
        yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size).toMap
    // NOT `.collect { case (e, c) if c >= 2 => e }` — on a Map, a collect
    // whose result is a tuple rebuilds a MAP, silently collapsing edges
    // that share a first endpoint.
    val edges: Set[(Long, Long)] =
      pairCounts.filter(_._2 >= 2).keySet.toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nWedges = adj.values.map(n => n.size.toLong * (n.size - 1) / 2).sum
    val nTri = edges.toSeq.map { case (a, b) =>
      (adj(a) & adj(b)).count(c => c > b).toLong
    }.sum
    val got = ops.GraphOps.queries("q_graph_triangles")(spark, sf0001)
      .select($"n_edges".as[Long], $"n_wedges".as[Long],
              $"n_triangles".as[Long], $"transitivity_micro".as[Long])
      .collect()
    assert(got.length == 1)
    val (ne, nw, nt, tm) = got.head
    assert(ne == edges.size.toLong, "edge count")
    assert(nw == nWedges, "wedge count")
    assert(nt == nTri, s"triangle count: got $nt, brute $nTri")
    assert(nt > 0, "vacuous fixture — no triangles at sf0.001")
    assert(tm == 3L * nTri * 1000000L / nWedges, "transitivity")
  }
}

package graft

/** Brute-force laws for the round-15 embedding-curation additions:
  * SemDeDup-style cell-scoped semantic dedup and PQ-ADC search. Both
  * re-derive the full pipeline in plain Scala (Lloyd cells, sign bands,
  * codebook encode, decimal ADC sums) and require exact equality —
  * same float ops in the same order as the Catalyst spellings. */
class SemanticPqSpec extends SparkTestBase {
  import spark.implicits._

  private def d6(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP)
  private def r6(x: Double): Double = d6(x).doubleValue
  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
    s
  }
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def loadVecs(d: String): Array[(Long, Long, Array[Double])] =
    ops.table(spark, d, "embeddings")
      .select($"vec_id".as[Long], $"label".as[Long],
        $"embedding".as[Array[Float]]).collect()
      .map { case (id, l, e) => (id, l, e.map(_.toDouble)) }.sortBy(_._1)

  /** 3-iteration Lloyd run, identical to the R15OpsSpec law (init = 8
    * smallest vec_ids, (dist, cid) argmin, exact-decimal means).
    * Returns the final assignment AND the centroids that assignment was
    * made against (c2 — what kmeansCents exposes for IVF probing). */
  private def bruteKmeans(vecs: Array[(Long, Long, Array[Double])])
      : (Map[Long, Long], Seq[(Long, Array[Double])]) = {
    val vmap = vecs.map { case (id, _, v) => (id, v) }.toMap
    var cents: Seq[(Long, Array[Double])] =
      vecs.filter(_._1 < 8).map { case (id, _, v) => (id, v) }.toSeq
    var lastCents = cents
    var asg: Array[(Long, Long)] = null
    for (_ <- 1 to 3) {
      lastCents = cents
      asg = vecs.map { case (id, _, v) =>
        val cid = cents.map { case (c, cv) => (c, sqDist(v, cv)) }
          .minBy { case (c, dd) => (dd, c) }._1
        (id, cid)
      }
      cents = asg.groupBy(_._2).toSeq.sortBy(_._1).map { case (c, ms) =>
        val vs = ms.map(m => vmap(m._1))
        val mean = (0 until vs.head.length).map { i =>
          vs.map(v => d6(v(i))).reduce(_ add _).doubleValue / vs.length
        }.toArray
        (c, mean)
      }
    }
    (asg.toMap, lastCents)
  }

  private def bruteCells(
      vecs: Array[(Long, Long, Array[Double])]): Map[Long, Long] =
    bruteKmeans(vecs)._1

  test("dedup_semantic = brute-force cell-scoped band-pair domination") {
    val vecs = loadVecs(sf0001)
    val cells = bruteCells(vecs)
    val nrm = vecs.map { case (id, _, v) => (id, math.sqrt(dot(v, v))) }
      .toMap
    val vmap = vecs.map { case (id, _, v) => (id, v) }.toMap
    // 16 OR-amplified bands of 4 sign bits — the embedPairs structure
    def bandKeys(v: Array[Double]): Seq[(Int, String)] =
      (0 until 16).map { j =>
        (j, (0 until 4).map(i => if (v(j * 4 + i) > 0) '1' else '0')
          .mkString)
      }
    val byBand = vecs.flatMap { case (id, _, v) =>
      bandKeys(v).map(k => (k, id))
    }.groupBy(_._1)
    val cand = byBand.values.flatMap { ids =>
      val sorted = ids.map(_._2).sorted
      for (i <- sorted.indices; j <- (i + 1) until sorted.length)
        yield (sorted(i), sorted(j))
    }.toSet
    val sem = cand.toSeq.flatMap { case (a, b) =>
      val cos = r6(dot(vmap(a), vmap(b)) / (nrm(a) * nrm(b)))
      if (cos >= 0.45 && cells(a) == cells(b)) Some((a, b, cos)) else None
    }
    val want = sem.groupBy(_._2).map { case (b, ps) =>
      (b, (cells(b), ps.size.toLong, ps.map(_._3).max, ps.map(_._1).min))
    }
    val got = ops.DedupOps.queries("q_dedup_semantic")(spark, sf0001)
      .select($"vec_id".as[Long], $"cid".as[Long], $"n_dups".as[Long],
        $"best_cos".as[Double], $"rep".as[Long]).collect()
    assert(got.nonEmpty, "law must not be vacuous on sf0.001")
    assert(got.map(_._1).toSet == want.keySet, "dropped set")
    got.foreach { case (id, cid, nd, bc, rep) =>
      val (wc, wn, wb, wr) = want(id)
      assert(cid == wc, s"$id cell"); assert(nd == wn, s"$id n_dups")
      assert(bc == wb, s"$id best_cos"); assert(rep == wr, s"$id rep")
      assert(rep < id, s"$id keep-lowest-id invariant")
    }
    // order contract: by vec_id ascending
    assert(got.map(_._1).toSeq == got.map(_._1).sorted.toSeq)
  }

  /** PQ geometry mirrored from SimOps: M subspaces × SUB dims, K init
    * codewords, training-sample bound, Lloyd rounds. */
  private val M = 16
  private val SUB = 4
  private val K = 32
  private val TRAIN = 4096
  private val ITERS = 3

  /** ADC distances for every non-query vector: TRAINED deterministic
    * codebook (init = subvectors of the K smallest vec_ids over
    * L2-normalized vectors, then ITERS unrolled Lloyd rounds over the
    * vec_id < TRAIN training sample with exact-decimal means), argmin
    * encode with (dist, cwid) tie-break, per-subspace exact-decimal
    * term sum — the Catalyst pqCodebook/pqCodes/pqQtab pipeline
    * recomputed in plain Scala. */
  private def bruteAdc(
      vecs: Array[(Long, Long, Array[Double])]): Array[(Long, Double)] = {
    val q = vecs.find(_._1 == 0L).get._3
    def unit(v: Array[Double]) = {
      val n = math.sqrt(dot(v, v)); v.map(_ / n)
    }
    def subs(u: Array[Double]): Array[Array[Double]] =
      (0 until M).map(m => u.slice(m * SUB, m * SUB + SUB)).toArray
    val train = vecs.filter(_._1 < TRAIN)
    val cb: Map[Int, Seq[(Long, Array[Double])]] = (0 until M).map { m =>
      var cents: Seq[(Long, Array[Double])] = vecs.filter(_._1 < K)
        .map { case (id, _, v) => (id, subs(unit(v))(m)) }.toSeq
      for (_ <- 1 to ITERS) {
        val asg = train.map { case (_, _, v) =>
          val sv = subs(unit(v))(m)
          val cw = cents.minBy { case (c, w) => (sqDist(sv, w), c) }._1
          (cw, sv)
        }
        cents = asg.groupBy(_._1).toSeq.sortBy(_._1).map { case (c, ms) =>
          val mean = (0 until SUB).map { i =>
            ms.map(x => d6(x._2(i))).reduce(_ add _).doubleValue / ms.length
          }.toArray
          (c, mean)
        }
      }
      (m, cents)
    }.toMap
    val qsub = subs(unit(q))
    vecs.filter(_._1 != 0L).map { case (id, _, v) =>
      val sv = subs(unit(v))
      val terms = (0 until M).map { m =>
        val cw = cb(m).minBy { case (c, w) => (sqDist(sv(m), w), c) }._2
        d6(sqDist(qsub(m), cw))
      }
      (id, terms.reduce(_ add _).doubleValue)
    }
  }

  test("sim_search_pq = brute-force ADC shortlist + exact re-rank") {
    val vecs = loadVecs(sf0001).filter { case (_, _, v) =>
      math.sqrt(dot(v, v)) > 0
    }
    val q = vecs.find(_._1 == 0L).get._3
    val qn = math.sqrt(dot(q, q))
    val short = bruteAdc(vecs).sortBy { case (id, a) => (a, id) }.take(200)
    val lmap = vecs.map { case (id, l, _) => (id, l) }.toMap
    val vmap = vecs.map { case (id, _, v) => (id, v) }.toMap
    val want = short.map { case (id, a) =>
      val cos = r6(dot(q, vmap(id)) / (qn * math.sqrt(dot(vmap(id),
        vmap(id)))))
      (id, lmap(id), r6(a), cos)
    }.sortBy { case (id, _, _, cos) => (-cos, id) }.take(10)
    val got = ops.SimOps.queries("q_sim_search_pq")(spark, sf0001)
      .select($"vec_id".as[Long], $"label".as[Long], $"adist".as[Double],
        $"cos".as[Double]).collect()
    assert(got.length == 10)
    assert(got.toSeq == want.toSeq)
  }

  test("sim_search_ivfpq = brute probe(2 cells) + ADC + exact re-rank") {
    val vecs = loadVecs(sf0001).filter { case (_, _, v) =>
      math.sqrt(dot(v, v)) > 0
    }
    val (cells, cents) = bruteKmeans(vecs)
    val q = vecs.find(_._1 == 0L).get._3
    val qn = math.sqrt(dot(q, q))
    val probe = cents.map { case (c, cv) => (c, sqDist(q, cv)) }
      .sortBy { case (c, dd) => (dd, c) }.take(2).map(_._1).toSet
    val adc = bruteAdc(vecs).toMap
    val cand = vecs.filter(v => v._1 != 0L && probe(cells(v._1)))
    val short = cand.map(v => (v._1, adc(v._1)))
      .sortBy { case (id, a) => (a, id) }.take(100)
    val lmap = vecs.map { case (id, l, _) => (id, l) }.toMap
    val vmap = vecs.map { case (id, _, v) => (id, v) }.toMap
    val want = short.map { case (id, a) =>
      val cos = r6(dot(q, vmap(id)) / (qn * math.sqrt(dot(vmap(id),
        vmap(id)))))
      (id, lmap(id), cells(id), r6(a), cos)
    }.sortBy { case (id, _, _, _, cos) => (-cos, id) }.take(10)
    val got = ops.SimOps.queries("q_sim_search_ivfpq")(spark, sf0001)
      .select($"vec_id".as[Long], $"label".as[Long], $"cid".as[Long],
        $"adist".as[Double], $"cos".as[Double]).collect()
    assert(got.length == 10)
    assert(got.toSeq == want.toSeq)
    // every returned row must come from a probed cell
    assert(got.forall(r => probe(r._3)))
  }

  test("ann_eval_pq counts the shipped searches against exact top-10") {
    val Array((k, pqHits, pqRec, cand, ivfHits, ivfRec)) =
      ops.SimOps.queries("q_ann_eval_pq")(spark, sf0001)
        .select("k", "pq_hits", "pq_recall", "ivfpq_candidates",
          "ivfpq_hits", "ivfpq_recall")
        .as[(Long, Long, Double, Long, Long, Double)].collect()
    val exact = ops.SimOps.queries("q_sim_search")(spark, sf0001)
      .select($"vec_id".as[Long]).collect().toSet
    val pq = ops.SimOps.queries("q_sim_search_pq")(spark, sf0001)
      .select($"vec_id".as[Long]).collect().toSet
    val ivf = ops.SimOps.queries("q_sim_search_ivfpq")(spark, sf0001)
      .select($"vec_id".as[Long]).collect().toSet
    assert(k == exact.size)
    assert(pqHits == (exact & pq).size, "pq hits must count the shipped search")
    assert(ivfHits == (exact & ivf).size, "ivfpq hits must count the shipped search")
    assert(pqRec == r6(pqHits.toDouble / k))
    assert(ivfRec == r6(ivfHits.toDouble / k))
    // the probe must actually restrict the scan
    val total = ops.table(spark, sf0001, "embeddings").count() - 1
    assert(cand > 0 && cand < total, s"probe scanned $cand of $total")
  }
}

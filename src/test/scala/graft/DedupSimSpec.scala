package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Dedup / similarity laws on small frames + property checks. */
class DedupSimSpec extends SparkTestBase {
  import spark.implicits._

  test("exact dedup is idempotent and keeps min doc_id per text") {
    val docs = Seq((3L, "a b c"), (1L, "a b c"), (2L, "x y z"))
      .toDF("doc_id", "text")
    val once = docs.groupBy(trim(lower($"text")).as("norm"))
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
    val got = once.orderBy("doc_id")
      .select("doc_id", "n_copies").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L), (2L, 1L)))
    // idempotence: dedup of the dedup result changes nothing
    val twice = once.groupBy($"norm")
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
    assert(twice.count() == once.count())
  }

  test("pointer doubling: 10k-diameter chain converges in O(log d) rounds") {
    // ScaleStress's key-shifted copies never grow a component, so the
    // O(log diameter) claim needs a graph that actually stresses it: a
    // path of 10 001 vertices (diameter 10 000) whose minimum sits at one
    // end. Plain min-label propagation needs ~d rounds; the fused
    // label(label(v)) jump doubles the covered distance per round, so
    // rounds must stay ≤ ceil(log2 d) + c (c covers the startup round
    // and the final no-change detection round).
    val d = 10000L
    val edges = spark.range(d)
      .select($"id".as("src"), ($"id" + 1).as("dst"))
    val sym = edges.unionAll(edges.select($"dst".as("src"), $"src".as("dst")))
      .persist()
    // force the DISTRIBUTED fixpoint: this test certifies the at-scale
    // convergence bound, which the size-gated driver union-find would
    // otherwise short-circuit on a 20k-edge graph
    val (labels, rounds) =
      withPlain(ops.DedupOps.propagateMinLabels(sym, "chain", maxIter = 50))
    val wrong = labels.filter($"cluster" =!= 0L).count()
    sym.unpersist()
    assert(wrong == 0, s"$wrong vertices missed the component minimum")
    val bound = math.ceil(math.log(d.toDouble) / math.log(2)).toInt + 3
    assert(rounds <= bound, s"$rounds rounds for diameter $d (bound $bound)")
  }

  test("local union-find labels == distributed fixpoint labels") {
    // The size-gated driver path (round 21) must be row-identical to
    // the distributed fixpoint on any graph: chains, a star, an
    // isolated 2-cycle, and a multi-component mix.
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),          // chain, min 1
      (10L, 11L), (11L, 12L),                // chain, min 10
      (20L, 21L), (20L, 22L), (20L, 23L),    // star, min 20
      (30L, 31L), (31L, 30L)                 // parallel edges
    ).toDF("src", "dst")
    val sym = edges.unionAll(
      edges.select($"dst".as("src"), $"src".as("dst"))).persist()
    val (local, lr) = ops.DedupOps.propagateMinLabels(sym, "law")
    assert(lr == 0, "expected the local union-find path under the gate")
    val (dist, dr) = withPlain(ops.DedupOps.propagateMinLabels(sym, "law"))
    assert(dr > 0, "expected the distributed path under the plain switch")
    val a = local.orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val b = dist.orderBy("doc_id").as[(Long, Long)].collect().toSeq
    sym.unpersist()
    assert(a == b, s"local $a != distributed $b")
    assert(a == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L,
      30L -> 30L, 31L -> 30L))
  }

  test("the cc decision line names its caller") {
    val sym = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val buf = new java.io.ByteArrayOutputStream()
    val err = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    try ops.DedupOps.propagateMinLabels(sym, "q_probe")
    finally System.setErr(err)
    assert(buf.toString.linesIterator.exists(
      _.startsWith("[local] cc/q_probe: estimate=")), buf.toString)
  }

  test("pointer doubling: 10k-leaf star converges in a constant round count") {
    val leaves = 10000L
    val edges = spark.range(1, leaves + 1)
      .select(lit(0L).as("src"), $"id".as("dst"))
    val sym = edges.unionAll(edges.select($"dst".as("src"), $"src".as("dst")))
      .persist()
    val (labels, rounds) =
      withPlain(ops.DedupOps.propagateMinLabels(sym, "star", maxIter = 10))
    val wrong = labels.filter($"cluster" =!= 0L).count()
    sym.unpersist()
    assert(wrong == 0, s"$wrong vertices missed the hub label")
    assert(rounds <= 4, s"$rounds rounds for a diameter-2 star")
  }

  test("near-identical docs land in the same minhash band bucket") {
    // Two docs sharing all shingles must have identical minhash signatures,
    // hence share all 4 bands; pairs output must contain (1,2) with 4 bands.
    val out = ops.DedupOps.queries("q_dedup_minhash")(spark, sf0001)
    assert(out.columns.toSeq == Seq("doc_a", "doc_b", "n_bands"))
    // determinism: same input → identical result on a second run
    val a = out.collect().toSeq
    val b = ops.DedupOps.queries("q_dedup_minhash")(spark, sf0001)
      .collect().toSeq
    assert(a == b)
  }

  test("cosine of a vector with itself is ~1") {
    val v = Seq((1L, Array(1.0f, 2.0f, 3.0f)), (2L, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val d = v.select($"vec_id",
      transform($"embedding", x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(aggregate(transform($"v", x => x * x),
        lit(0.0), (a, x) => a + x)))
    val pair = d.as("a").join(d.as("b"), $"a.vec_id" < $"b.vec_id")
      .select((aggregate(zip_with($"a.v", $"b.v", (x, y) => x * y),
        lit(0.0), (a, x) => a + x) / ($"a.nrm" * $"b.nrm")).as("cos"))
      .as[Double].head()
    assert(math.abs(pair - 1.0) < 1e-12)
  }

  test("banded embed dedup: exact precision, measured recall vs all-pairs") {
    // q_dedup_embed generates candidates by sign-LSH banding, then
    // verifies with exact cosine — so its oracle embeds the same banding
    // and can no longer detect a recall loss from a band-parameter
    // change. This test IS that detector: the ground truth is the plain
    // all-pairs cos >= 0.45 verifier, computed independently here.
    import graft.functions.VectorFunctions.{dot_product, l2_norm}
    val n = ops.table(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding".as("v"),
              l2_norm($"embedding").as("nrm"))
    val exact = n.as("a").join(n.as("b"), $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        ops.r6(dot_product($"a.v", $"b.v") / ($"a.nrm" * $"b.nrm")).as("cos"))
      .filter($"cos" >= 0.45)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val banded = ops.DedupOps.queries("q_dedup_embed")(spark, sf0001)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // Precision is exact by construction (candidates are re-verified with
    // the same cosine): no banded pair may be outside the true set.
    assert((banded -- exact).isEmpty,
      s"banded emitted ${(banded -- exact).size} false pairs")
    // Recall: 16 bands × 4 sign bits gives ~0.95+ at the threshold on
    // this corpus; a band-parameter regression (fewer bands, more bits)
    // shows up as a drop below this floor.
    val recall =
      if (exact.isEmpty) 1.0 else banded.size.toDouble / exact.size
    info(s"banded recall: ${banded.size}/${exact.size}")
    assert(recall >= 0.9, s"banded recall $recall < 0.9 — band params regressed")
  }

  test("contamination: flagged shingles really exist in the train split") {
    // Recompute both sides independently: every test doc's contaminated
    // count must equal the size of the intersection between its shingle
    // set and the union of train-split shingles. The ground truth is
    // computed in the SAME 60-bit hash space the query uses (md5hash60),
    // not on raw strings — otherwise a hash collision in the query would
    // flip a count and the test would conflate "collision happened" with
    // "query is wrong". Collision-freeness of the fixture is not assumed.
    val docs = ops.table(spark, sf0001, "documents")
      .select($"doc_id", split($"text", " ").as("tok"))
      .filter(size($"tok") >= 3)
      .select($"doc_id", explode(expr(
        """array_distinct(transform(sequence(1, size(tok) - 2),
             i -> concat_ws(' ', element_at(tok, i), element_at(tok, i + 1),
                            element_at(tok, i + 2))))""")).as("shingle"))
      .withColumn("h", ops.md5hash60($"shingle"))
      .withColumn("hb", pmod(ops.md5hash32($"doc_id".cast("string")), lit(100)))
    val trainSh = docs.filter($"hb" < 80)
      .select("h").as[Long].collect().toSet
    val testSh = docs.filter($"hb" >= 90)
      .select("doc_id", "h").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = ops.DedupOps.queries("q_contamination")(spark, sf0001)
      .select($"doc_id".as[Long], $"n_shingles".as[Long],
              $"n_contaminated".as[Long]).collect()
    assert(got.map(_._1).toSet == testSh.keySet)
    got.foreach { case (id, nSh, nCont) =>
      assert(nSh == testSh(id).size)
      assert(nCont == testSh(id).count(trainSh.contains))
    }
  }

  test("dedup_chunk: identical docs have dup_frac 1; unique docs 0") {
    // The shared sf fixtures contain zero exact-duplicate bodies, so the
    // premise "duplicates exist" must be guaranteed by construction: build
    // a temp documents.parquet with two identical 40-token bodies (3
    // chunks each at C=16) and one disjoint-vocabulary unique body. Every
    // chunk of a twin occurs in the other twin -> dup_frac exactly 1.0;
    // no chunk of the unique doc occurs elsewhere -> exactly 0.0.
    withTempDir("graft_chunk_fixture") { dir =>
      val twin = (1 to 40).map(i => s"tok$i").mkString(" ")
      val uniq = (1 to 40).map(i => s"only$i").mkString(" ")
      Seq((1L, twin), (2L, twin), (3L, uniq)).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = ops.DedupOps.queries("q_dedup_chunk")(spark, dir)
        .select($"doc_id".as[Long], $"dup_frac".as[Double]).collect().toMap
      assert(out == Map(1L -> 1.0, 2L -> 1.0, 3L -> 0.0), s"got $out")
    }
  }

  test("property: jaccard of identical shingle sets is 1") {
    val prop = Prop.forAll(
      Gen.nonEmptyListOf(Gen.alphaLowerStr.suchThat(_.nonEmpty))) {
      words: List[String] =>
        val s = words.toSet
        val shared = s.intersect(s).size.toDouble
        shared / (s.size + s.size - shared) == 1.0
    }
    assert(SCTest.check(SCTest.Parameters.default, prop).passed)
  }

  test("simhash is stable across token order (set semantics)") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "gamma alpha beta"))
      .toDF("doc_id", "text")
    val hashes = docs
      .withColumn("td", array_distinct(split($"text", " ")))
      .select($"doc_id", expr(
        """aggregate(sequence(0, 15), CAST(0 AS BIGINT), (acc, j) ->
             acc + IF(aggregate(td, CAST(0 AS BIGINT), (s2, t) ->
               s2 + ((shiftright(CAST(conv(substring(md5(t), 1, 8), 16, 10)
                                      AS BIGINT), j) & CAST(1 AS BIGINT))
                     * 2 - 1)) > 0,
               shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))""")
        .as("h")).as[(Long, Long)].collect().toMap
    assert(hashes(1L) == hashes(2L))
  }

  test("knn join: one neighbor per vector, never itself, same sign bucket") {
    val out = ops.SimOps.queries("q_knn_join")(spark, sf0001)
      .select($"vec_id".as[Long], $"nn_id".as[Long], $"cos".as[Double])
      .collect()
    assert(out.nonEmpty)
    assert(out.map(_._1).distinct.length == out.length, "duplicate vec_id")
    out.foreach { case (v, nn, cos) =>
      assert(v != nn, s"vector $v returned itself")
      assert(cos >= -1.000001 && cos <= 1.000001, s"cos $cos out of range")
    }
    // The candidate contract: a neighbor must share the query's 8-bit
    // sign bucket (recomputed here independently from the raw parquet).
    val buckets = ops.table(spark, sf0001, "embeddings")
      .select($"vec_id", concat((1 to 8).map(i =>
        when(element_at($"embedding", i) > 0.0f, "1").otherwise("0")): _*)
        .as("b"))
      .as[(Long, String)].collect().toMap
    out.foreach { case (v, nn, _) =>
      assert(buckets(v) == buckets(nn),
        s"$v (${buckets(v)}) paired with $nn (${buckets(nn)})")
    }
  }

  test("minhash eval counts reconcile with the pair queries") {
    val eval = ops.DedupOps.queries("q_dedup_minhash_eval")(spark, sf0001)
      .select($"n_candidates".as[Long], $"n_true".as[Long],
              $"n_hit".as[Long], $"recall".as[Double],
              $"precision".as[Double]).head()
    val (nCand, nTrue, nHit, recall, precision) = eval
    // The audit's inputs ARE the other two queries — counts must agree.
    val cand = ops.DedupOps.queries("q_dedup_minhash")(spark, sf0001).count()
    val truth = ops.DedupOps.queries("q_dedup_ngram")(spark, sf0001).count()
    assert(nCand == cand, s"n_candidates $nCand != q_dedup_minhash $cand")
    assert(nTrue == truth, s"n_true $nTrue != q_dedup_ngram $truth")
    assert(nHit <= math.min(nCand, nTrue))
    assert(recall >= 0 && recall <= 1 && precision >= 0 && precision <= 1)
  }

  test("multi-signal clustering is a partition refinement of every signal") {
    // The union-of-edges clustering must (a) assign every doc exactly one
    // cluster with exactly one keeper per cluster, and (b) be COARSER than
    // each input signal: any pair connected by one signal alone must share
    // a multi-signal cluster. Each signal's pair set is recomputed here
    // from its own standalone query, so a regression that drops a signal
    // from the union shows up as a split pair.
    val out = ops.DedupOps.queries("q_dedup_multi_signal")(spark, sf0001)
      .select($"doc_id".as[Long], $"cluster".as[Long], $"keep".as[Long])
      .collect()
    val cluster = out.map(r => r._1 -> r._2).toMap
    val nDocs = ops.table(spark, sf0001, "documents").count()
    assert(out.length == nDocs, s"${out.length} rows for $nDocs docs")
    // exactly one keeper per cluster, and it is the cluster minimum
    out.groupBy(_._2).foreach { case (c, members) =>
      assert(members.count(_._3 == 1L) == 1, s"cluster $c keeper count != 1")
      assert(members.filter(_._3 == 1L).head._1 == members.map(_._1).min)
    }
    // lexical edges enter the multi-signal union only at >= 2 shared
    // bands (AND-amplification before transitive closure — see the
    // builder's scaladoc); a single-band candidate pair may legitimately
    // split across clusters.
    val lex = ops.DedupOps.queries("q_dedup_minhash")(spark, sf0001)
      .filter($"n_bands" >= 2)
      .select($"doc_a".as[Long], $"doc_b".as[Long]).collect()
    val sem = ops.DedupOps.queries("q_dedup_embed")(spark, sf0001)
      .select($"vec_a".as[Long], $"vec_b".as[Long]).collect()
    val exact = ops.table(spark, sf0001, "documents")
      .groupBy(trim(lower($"text")).as("k"))
      .agg(collect_list($"doc_id").as("ids"))
      .filter(size($"ids") > 1)
      .select(explode($"ids").as("a"), array_min($"ids").as("b"))
      .filter($"a" =!= $"b").as[(Long, Long)].collect()
    (lex ++ sem ++ exact).foreach { case (a, b) =>
      assert(cluster(a) == cluster(b),
        s"signal pair ($a,$b) split across clusters " +
          s"${cluster(a)} / ${cluster(b)}")
    }
  }

  test("split leakage rows partition the >=2-band candidate pair set") {
    val leak = graft.SparkEntry.queries("q_split_leakage")(spark, sf0001)
      .select($"n_pairs".as[Long]).collect().sum
    val pairs = graft.SparkEntry.queries("q_dedup_minhash")(spark, sf0001)
      .filter($"n_bands" >= 2).count()
    assert(leak == pairs,
      s"leakage rollup covers $leak pairs, candidate set has $pairs")
  }

  test("ann eval: recalls in [0,1], hits bounded by k and candidates, " +
       "IVF cell probe can't beat exact") {
    val (k, lshC, lshH, lshR, ivfC, ivfH, ivfR) =
      graft.SparkEntry.queries("q_ann_eval")(spark, sf0001)
        .select($"k", $"lsh_candidates", $"lsh_hits", $"lsh_recall",
                $"ivf_candidates", $"ivf_hits", $"ivf_recall")
        .as[(Long, Long, Long, Double, Long, Long, Double)].collect()(0)
    assert(k == 10)
    for ((c, h, rec) <- Seq((lshC, lshH, lshR), (ivfC, ivfH, ivfR))) {
      assert(h >= 0 && h <= k && h <= c, s"hits $h vs k=$k cands=$c")
      assert(rec >= 0.0 && rec <= 1.0 && math.abs(rec - h.toDouble / k) < 1e-6)
    }
  }

  test("split leakage detects an engineered train/test near-dup pair") {
    import org.apache.spark.sql.functions._
    // Pick two doc ids whose md5 buckets land in train (<80) and test
    // (>=90) with the ENGINE's own hash, then stage a corpus where those
    // two docs share a long identical text (J = 1 >> 0.3, all 4 MinHash
    // bands agree) amid distinct filler docs.
    val ids = spark.range(1, 400)
      .select($"id", pmod(graft.ops.md5hash32($"id".cast("string")),
                          lit(100)).as("hb"))
      .as[(Long, Long)].collect()
    val trainId = ids.find(_._2 < 80).get._1
    val testId = ids.find(_._2 >= 90).get._1
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (trainId, dup),
      (testId, dup)) ++ (1000L to 1020L).map(i =>
        (i, s"unique filler document number $i with words w$i x$i y$i z$i"))
    withTempDir("graft_leak_") { tmp =>
      docs.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s0"))
        .withColumn("n_chars", length($"text").cast("long"))
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      MemoLog.release()
      try {
        val out = SparkEntry.queries("q_split_leakage")(spark, tmp)
          .select($"split_lo".as[String], $"split_hi".as[String],
                  $"n_pairs".as[Long], $"is_leak".as[Boolean]).collect()
        val leak = out.filter(_._4)
        assert(leak.exists(r => Set(r._1, r._2) == Set("test", "train") &&
                                r._3 >= 1),
          s"engineered train/test near-dup not reported: ${out.toSeq}")
      } finally MemoLog.release()
    }
  }
}

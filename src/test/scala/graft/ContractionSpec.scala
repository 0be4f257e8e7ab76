package graft

import org.apache.spark.sql.functions._

/** Locks the round-13 content-contraction equivalence on a COPY-DENSE
  * corpus — the case the oracle gates barely exercise (sf0.001/sf0.01
  * documents are ~all-distinct, so the contraction is a near-no-op
  * there; the 10×/100× stress fixtures where it matters run outside
  * sbt). Builds a 3-copy key-shifted corpus (every content a 3-clique,
  * the miniature of the ScaleStress shape) and checks each contracted
  * clustering query against a driver-side union-find over the
  * UNCONTRACTED pair listings, which are themselves public query
  * answers (q_dedup_minhash / q_dedup_embed) — so the referee shares no
  * code with the contraction under test.
  */
class ContractionSpec extends SparkTestBase {
  import spark.implicits._

  private val stride = 10000000L

  lazy val dir: String =
    withTempDir("graft_copydense_", suite = true) { tmp =>
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      (0 until 3).map(i =>
          docs.withColumn("doc_id", col("doc_id") + lit(i * stride)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      (0 until 3).map(i =>
          emb.withColumn("vec_id", col("vec_id") + lit(i * stride)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      tmp
    }

  /** Union-find; final root of each component is its min member id
    * (each union parents the larger root under the smaller). */
  private def minLabels(nodes: Seq[Long],
                        edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap[Long, Long](
      nodes.map(x => x -> x): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(x => x -> find(x)).toMap
  }

  private lazy val docIds: Seq[Long] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").as[Long].collect().toSeq

  private lazy val minhashEdges: Seq[(Long, Long)] =
    SparkEntry.queries("q_dedup_minhash")(spark, dir)
      .filter(col("n_bands") >= 2)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSeq

  test("contracted minhash clusters equal union-find over the " +
       "uncontracted pair listing on a copy-dense corpus") {
    val lab = minLabels(docIds, minhashEdges)
    val want = lab.values.groupBy(identity)
      .map { case (c, xs) => (c, xs.size.toLong) }.toSeq.sorted
    val got = SparkEntry.queries("q_dedup_minhash_clusters")(spark, dir)
      .select($"cluster", $"csize").as[(Long, Long)].collect().toSeq
    assert(got == want)
    // the corpus actually is copy-dense: every content is a 3-clique,
    // so no cluster may be smaller than 3
    assert(want.forall(_._2 >= 3), "staging lost the copy cliques")
  }

  test("contracted multi-signal clusters equal union-find over " +
       "exact ∪ minhash ∪ embedding edges on a copy-dense corpus") {
    val exactEdges = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id",
        md5(trim(lower($"text")).cast("binary")).as("k"))
      .as[(Long, String)].collect().toSeq
      .groupBy(_._2).values.flatMap { g =>
        val ids = g.map(_._1).sorted
        ids.tail.map(x => (ids.head, x))
      }.toSeq
    val embedEdges = SparkEntry.queries("q_dedup_embed")(spark, dir)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSeq
    val lab = minLabels(docIds, exactEdges ++ minhashEdges ++ embedEdges)
    val want = docIds.sorted.map(id =>
      (id, lab(id), if (lab(id) == id) 1L else 0L))
    val got = SparkEntry.queries("q_dedup_multi_signal")(spark, dir)
      .select($"doc_id", $"cluster", $"keep")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == want)
    MemoLog.release()
  }

  // ---- raw-key soundness on a case/whitespace-variant corpus ----------
  //
  // Shingles are computed on the RAW text bytes, so an upper-cased or
  // trailing-space variant has a genuinely different signature than its
  // original even though trim(lower(...)) makes them exact-dups. A
  // contraction keyed on the NORMALIZED body would band only one
  // signature per normalized group — silently crediting every variant
  // with the representative's lexical edges. This corpus stages both
  // shapes at once (verbatim 2-cliques AND case/whitespace variants) and
  // referees q_dedup_minhash with a plain-Scala reimplementation
  // (integer math end-to-end — md5/min/mod, no shared DataFrame code).

  lazy val vdir: String =
    withTempDir("graft_casevar_", suite = true) { tmp =>
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      docs
        .unionAll(docs.withColumn("doc_id", col("doc_id") + lit(stride)))
        .unionAll(docs.withColumn("doc_id", col("doc_id") + lit(2 * stride))
          .withColumn("text", upper(col("text"))))
        .unionAll(docs.withColumn("doc_id", col("doc_id") + lit(3 * stride))
          .withColumn("text", concat(col("text"), lit("  "))))
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      (0 until 4).map(i =>
          emb.withColumn("vec_id", col("vec_id") + lit(i * stride)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      tmp
    }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Plain-Scala MinHash: the spec'd algorithm (3-shingles on raw
    * tokens, h32 = first 8 md5 hex chars, 8 perms, 4 packed bands)
    * recomputed with none of the production query code. */
  private def refSignature(text: String): Option[Array[Long]] = {
    val tok = text.split(" ", -1)
    if (tok.length < 3) return None
    val h32 = (0 to tok.length - 3)
      .map(i => s"${tok(i)} ${tok(i + 1)} ${tok(i + 2)}")
      .distinct
      .map(sh => java.lang.Long.parseLong(md5hex(sh).substring(0, 8), 16))
    val A = Array(2L, 3L, 5L, 7L, 11L, 13L, 17L, 19L)
    val P = 1000000007L
    Some(Array.tabulate(8)(i =>
      h32.map(h => (h * A(i) + (i + 1)) % P).min))
  }

  private lazy val vRefPairs: Map[(Long, Long), Long] = {
    val sigs = spark.read.parquet(s"$vdir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .flatMap { case (id, t) => refSignature(t).map(id -> _) }
    (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      nb = (0 until 4).count(b =>
        sigs(i)._2(2 * b) == sigs(j)._2(2 * b) &&
          sigs(i)._2(2 * b + 1) == sigs(j)._2(2 * b + 1))
      if nb >= 1
    } yield {
      val (a, b) = (sigs(i)._1, sigs(j)._1)
      (math.min(a, b), math.max(a, b)) -> nb.toLong
    }).toMap
  }

  test("minhash pair listing matches an independent referee on the " +
       "case-variant corpus") {
    val got = SparkEntry.queries("q_dedup_minhash")(spark, vdir)
      .select($"doc_a", $"doc_b", $"n_bands")
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    assert(got == vRefPairs)
    // the corpus actually exercises the trap: at least one normalized
    // group spans raw-distinct variants whose signatures DIFFER (no
    // 4-band pair between original and its upper-cased copy)
    val origIds = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id").as[Long].collect()
    assert(origIds.exists(id =>
      vRefPairs.get((id, id + 2 * stride)) != Some(4L)))
    // ...while the verbatim copy pair always shares all 4 bands
    assert(origIds.forall(id =>
      !vRefPairs.contains((id, id + stride)) ||
        vRefPairs((id, id + stride)) == 4L))
  }

  test("contracted minhash clusters match union-find over the referee " +
       "edges on the case-variant corpus") {
    val ids = spark.read.parquet(s"$vdir/documents.parquet")
      .select("doc_id").as[Long].collect().toSeq
    // NB: collect on a Map yielding pairs would rebuild a Map and
    // collapse edges sharing a source id — go through toSeq first.
    val lab = minLabels(ids,
      vRefPairs.toSeq.filter(_._2 >= 2).map(_._1))
    val want = lab.values.groupBy(identity)
      .map { case (c, xs) => (c, xs.size.toLong) }.toSeq.sorted
    val got = SparkEntry.queries("q_dedup_minhash_clusters")(spark, vdir)
      .select($"cluster", $"csize").as[(Long, Long)].collect().toSeq
    assert(got == want)
  }

  test("multi-signal clusters match union-find over exact ∪ referee-" +
       "minhash ∪ embedding edges on the case-variant corpus") {
    val ids = spark.read.parquet(s"$vdir/documents.parquet")
      .select("doc_id").as[Long].collect().toSeq
    val exactEdges = spark.read.parquet(s"$vdir/documents.parquet")
      .select($"doc_id",
        md5(trim(lower($"text")).cast("binary")).as("k"))
      .as[(Long, String)].collect().toSeq
      .groupBy(_._2).values.flatMap { g =>
        val gids = g.map(_._1).sorted
        gids.tail.map(x => (gids.head, x))
      }.toSeq
    val embedPairs = SparkEntry.queries("q_dedup_embed")(spark, vdir)
      .select($"vec_a", $"vec_b", $"cos")
      .as[(Long, Long, Double)].collect()
    // independent check of the within-content expansion: verbatim
    // copies (identical vectors) must all pair up with one equal cosine
    val origVecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id").as[Long].collect()
    val epMap = embedPairs.map { case (a, b, c) => (a, b) -> c }.toMap
    origVecs.foreach { v =>
      val copies = (0 until 4).map(v + _ * stride)
      val cps = for { i <- 0 until 4; j <- (i + 1) until 4 }
        yield epMap.get((copies(i), copies(j)))
      assert(cps.distinct.size == 1,
        s"vec $v copy pairs disagree: $cps")
    }
    val lab = minLabels(ids,
      exactEdges ++
        vRefPairs.toSeq.filter(_._2 >= 2).map(_._1) ++
        embedPairs.map { case (a, b, _) => (a, b) }.toSeq)
    val want = ids.sorted.map(id =>
      (id, lab(id), if (lab(id) == id) 1L else 0L))
    val got = SparkEntry.queries("q_dedup_multi_signal")(spark, vdir)
      .select($"doc_id", $"cluster", $"keep")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == want)
    MemoLog.release()
  }
}

package graft

/** Laws for the round-17 additions: the fastText-style linear quality
  * classifier is re-derived by an in-memory brute force on sf0.001 —
  * independent of both the Spark plan and the DuckDB oracle spelling. */
class R17OpsSpec extends SparkTestBase {
  import spark.implicits._

  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  test("quality_classifier matches a brute-force hashed-ngram scorer") {
    val w = ops.TextOps.QcWeights
    assert(w.length == 64 && w.forall(x => x >= 0 && x <= 2000000))
    val docs = ops.table(spark, sf0001, "documents")
      .select($"doc_id".as[Long], $"text".as[String]).collect()
    val expect = docs.map { case (id, text) =>
      val tok = text.toLowerCase.split(" ", -1) // keep empty tokens, as
                                                // split(text, ' ') does
      // fastText n-gram hashing: one hash per TOKEN; a bigram's bucket
      // combines the two word hashes (h1 * 116049371 + h2) — never a
      // hash of the concatenated string. Mirrors the query's contract.
      val hs = tok.toSeq.map(t =>
        java.lang.Long.parseLong(md5hex(t).take(8), 16))
      val buckets = hs.map(_ % 64) ++
        (if (hs.length >= 2)
           hs.sliding(2).map(p => (p(0) * 116049371L + p(1)) % 64).toSeq
         else Nil)
      val ws = buckets.map(b => w(b.toInt).toLong)
      // non-negative terms: truncating and flooring division agree
      val score = ws.sum / ws.size
      (id, ws.size.toLong, score,
       if (score >= 1000000L) "keep" else "drop")
    }.sortBy(_._1).toSeq
    val got = ops.TextOps.queries("q_quality_classifier")(spark, sf0001)
      .select($"doc_id".as[Long], $"n_feats".as[Long],
              $"score_micro".as[Long], $"label".as[String])
      .collect().toSeq
    assert(got == expect)
    // the decision boundary is live on this corpus — both labels occur
    val labels = got.map(_._4).toSet
    assert(labels == Set("keep", "drop"),
      s"degenerate label split: $labels")
  }

  test("stream file sink: an empty append result reads back as an " +
       "empty frame with the transform's schema") {
    // The r17 harness returns append-mode results as a lazy read of the
    // parquet file sink. A run that emits NO rows leaves a sink dir
    // with only the metadata log — schema inference would fail there,
    // which is why runStreamN passes the transform's schema explicitly.
    // Locked with a zero-row documents fixture through the public
    // q_stream_quality entry (stateless append — one empty batch).
    withTempDir("graft_empty_stream_") { tmp =>
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        ops.table(spark, sf0001, "documents").schema)
        .repartition(1)
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val got = graft.streaming.StreamOps
        .queries("q_stream_quality")(spark, tmp)
      assert(got.columns.toSeq == Seq("doc_id", "n_tokens", "verdict"))
      assert(got.collect().isEmpty)
      graft.streaming.StreamOps.clearStreamSinks()
    }
  }

  test("quality_classifier plan: map-only scoring — no join, 2 exchanges") {
    // The scale claim made in the scaladoc, locked structurally: the
    // literal weight table must stay an in-expression array lookup
    // (never a join/broadcast), and the only exchanges are the per-doc
    // aggregation and the output sort.
    val df = ops.TextOps.queries("q_quality_classifier")(spark, sf0001)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "weight lookup must not become a join")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected <= 2 exchanges (agg + sort), got "
      + s"$exchanges:\n$plan")
  }
}

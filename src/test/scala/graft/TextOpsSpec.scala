package graft

import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("fingerprint is order-sensitive (permuted docs differ)") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"))
      .toDF("doc_id", "text")
    val fp = docs.withColumn("tok", split($"text", " "))
      .select($"doc_id",
        aggregate(
          transform(sequence(lit(1), size($"tok")),
            i => i.cast("long") *
                 (length(element_at($"tok", i)).cast("long") * 31 +
                  ascii(element_at($"tok", i)).cast("long"))),
          lit(0L), (acc, x) => acc + x).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) != fp(2L))
  }

  test("quality ratios are within [0, 1] on real docs") {
    val q = ops.TextOps.queries("q_text_quality")(spark, sf0001)
    val bad = q.filter($"stop_ratio" < 0 || $"stop_ratio" > 1 ||
                       $"ttr" <= 0 || $"ttr" > 1).count()
    assert(bad == 0)
  }

  test("langid confusion matrix counts sum to document count") {
    val total = ops.TextOps.queries("q_text_langid")(spark, sf0001)
      .agg(sum("n")).as[Long].head()
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(total == docs)
  }

  test("surprisal: repeated-token doc scores exactly total/freq") {
    // Synthetic corpus where the scores are exact by hand: doc 1 is four
    // copies of one token (freq 4), doc 2 is four singletons (freq 1),
    // total = 8 token instances. Mean inverse probability: 8/4 = 2.0 for
    // the repetitive doc, 8/1 = 8.0 for the all-rare doc — 2000 and 8000
    // in the integer milli-unit encoding the query emits (pure int64
    // arithmetic, so the assertion is equality, not tolerance).
    withTempDir("graft_surprisal_fixture") { dir =>
      Seq((1L, "x x x x"), (2L, "y z w q")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = ops.TextOps.queries("q_text_surprisal")(spark, dir)
        .select($"doc_id".as[Long], $"surprisal_milli".as[Long])
        .collect().toMap
      assert(got == Map(1L -> 2000L, 2L -> 8000L), s"got $got")
    }
  }

  test("surprisal milli-rounding is half-up in the shared integer space") {
    // 3 tokens total: 'a' freq 2, 'b' freq 1 → q(a) = (3000+1)/2 = 1500,
    // q(b) = 3000. Doc mean for doc 1 = (1500+1500+3000+1) DIV 3 = 2000.
    withTempDir("graft_surprisal_half") { dir =>
      Seq((1L, "a a b")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = ops.TextOps.queries("q_text_surprisal")(spark, dir)
        .select($"surprisal_milli".as[Long]).head()
      assert(got == 2000L, s"got $got")
    }
  }

  test("pmi step-1 decimal floor is exact past the BIGINT DIV ceiling") {
    // The former step-1 spelling (DECIMAL DIV → IntegralDivide →
    // BIGINT) silently NULLed once the quotient crossed 9.2e18 while
    // DuckDB's HUGEINT // stayed exact. The decimal (num − num % den)
    // / den floor must match BigInt floor division at magnitudes past
    // that ceiling (quotient here ≈ 2e19).
    val nUni = 100_000_000_000_000L // 1e14 unigrams (> the 100 TB est.)
    val row = Seq((5L, 5L, 5L, nUni, nUni)).toDF(
      "cxy", "c1", "c2", "n_uni", "n_bi")
    val got = row
      .withColumn("num",
        expr("CAST(cxy AS DECIMAL(38,0)) * 1000000 * n_uni"))
      .withColumn("den", expr("CAST(c1 AS DECIMAL(38,0)) * c2"))
      .select(expr(
        "CAST((num - num % den) / den AS DECIMAL(38,0))").as("step1"))
      .as[java.math.BigDecimal].head()
    val want = (BigInt(5) * 1000000 * nUni) / (BigInt(5) * 5)
    assert(want > BigInt(Long.MaxValue), "fixture must exceed the ceiling")
    assert(BigInt(got.toBigIntegerExact()) == want,
      s"step1 $got != exact $want")
  }

  test("quality filter: too_short verdict tracks the token-count rule") {
    // The verdict chain's first rule is n_tokens < 30 — so that verdict
    // and that predicate must agree row-for-row, whatever the later
    // rules do; and every verdict comes from the closed set.
    val out = ops.TextOps.queries("q_quality_filter")(spark, sf0001)
      .select($"n_tokens".as[Long], $"verdict".as[String]).collect()
    val verdicts = Set("too_short", "repetitive", "unnatural", "keep")
    out.foreach { case (n, v) =>
      assert(verdicts.contains(v), s"unknown verdict $v")
      assert((v == "too_short") == (n < 30), s"n_tokens=$n verdict=$v")
    }
  }
}

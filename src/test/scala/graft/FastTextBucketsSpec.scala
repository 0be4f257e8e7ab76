package graft

import graft.functions.TextFunctions.fasttextBuckets

/** The native FastTextBuckets expression must agree with an in-memory
  * reference (token-wise md5-prefix hash, fastText word-hash bigram
  * combination) in both codegen and interpreted evaluation, and handle
  * the degenerate array shapes split() can produce. */
class FastTextBucketsSpec extends SparkTestBase {
  import spark.implicits._

  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  private def ref(tok: Seq[String], nb: Long): Seq[Long] = {
    val hs = tok.map(t => java.lang.Long.parseLong(md5hex(t).take(8), 16))
    hs.map(_ % nb) ++
      (if (hs.length >= 2)
         hs.sliding(2).map(p => (p(0) * 116049371L + p(1)) % nb).toSeq
       else Nil)
  }

  test("fasttext_buckets matches the reference on random token arrays") {
    val rnd = new scala.util.Random(41)
    val words = Vector("a", "the", "spark", "tisch", "zz9", "", "Ω-mixed",
      "longer-token-with-bytes", "0", "中文")
    val rows = (1 to 200).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(12) + 1)(words(rnd.nextInt(words.size))))
    }
    val expect = rows.map { case (id, tok) => id -> ref(tok, 64L) }.toMap
    val got = rows.toDF("id", "tok")
      .select($"id", fasttextBuckets($"tok", 64L).as("b"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got == expect)
    // also at the 2M production width (exercises the wide modulus)
    val expect2m = rows.map { case (id, tok) => id -> ref(tok, 1L << 21) }
      .toMap
    val got2m = rows.toDF("id", "tok")
      .select($"id", fasttextBuckets($"tok", 1L << 21).as("b"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got2m == expect2m)
  }

  test("fasttext_buckets survives interpreted (non-codegen) evaluation") {
    // NO_CODEGEN forces the interpreted projection (wholeStage=false
    // alone still codegens via GenerateUnsafeProjection's FALLBACK
    // mode), so nullSafeEval is actually exercised — see CmBucketsSpec.
    val prevW = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    val prevF = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val tok = Seq("key", "agg", "row")
      val got = Seq(Tuple1(tok)).toDF("tok")
        .select(fasttextBuckets($"tok", 64L)).as[Seq[Long]].head()
      assert(got == ref(tok, 64L))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prevW)
      spark.conf.set("spark.sql.codegen.factoryMode", prevF)
    }
  }

  test("fasttext_buckets edge cases: single token, empty array, null") {
    val df = Seq(
      (1L, Some(Seq("solo"))),   // no bigram feature
      (2L, Some(Seq.empty[String])),
      (3L, None)
    ).toDF("id", "tok")
    val got = df.select($"id", fasttextBuckets($"tok", 64L).as("b"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getSeq[Long](1)))).toMap
    assert(got(1L) == Some(ref(Seq("solo"), 64L)) && got(1L).get.size == 1)
    assert(got(2L) == Some(Seq.empty[Long]))
    assert(got(3L) == None)
  }

  test("null ELEMENT hashes as empty string: the DOCUMENTED divergence") {
    // Contract (FastTextBucketsHelper scaladoc): token arrays must come
    // from split()-style tokenization, which never yields null elements.
    // A null element hashes as the empty string, which DIVERGES from the
    // oracle's per-element NULL propagation (md5(NULL) -> NULL feature
    // dropped). This test pins the divergence — mirroring CmBucketsSpec's
    // null-key test — so a future caller feeding collect_list of a
    // nullable column can't mistake the behaviors for agreeing.
    val tok: Seq[Option[String]] = Seq(Some("a"), None, Some("b"))
    val got = Seq((1L, tok)).toDF("id", "tok")
      .select(fasttextBuckets($"tok", 64L)).as[Seq[Long]].head()
    assert(got == ref(Seq("a", "", "b"), 64L),
      "null array elements must keep hashing as \"\" — if this changed, " +
        "revisit the FastTextBuckets null-element contract")
    assert(got != ref(Seq("a", "b"), 64L),
      "a null element is NOT dropped (that would be the oracle's " +
        "NULL-propagation shape, which this kernel does not implement)")
  }
}

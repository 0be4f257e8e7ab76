package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis ops for a training-data pipeline (north star,
  * BASELINE.json:6): token stats, quality scoring, heuristic language ID,
  * and deterministic document fingerprinting. Everything is per-row
  * higher-order-function work over the tokenized text — embarrassingly
  * parallel, no shuffle except the final grouped/sorted output, and all
  * expressible in both engines for the oracle.
  */
object TextOps {

  private val stopwords = Seq("the", "a", "of", "and", "to", "is", "in")
  private val stopSql = stopwords.map(w => s"'$w'").mkString(", ")

  /** The q_quality_classifier model: one integer micro-unit weight per
    * hash bucket (64 buckets — fastText's hashing-trick table at
    * fixture proportions). Literal by design: the trained model is data
    * frozen into the query, exactly like fastText ships a .bin of
    * weights; tests re-derive scores from this same table. Mean weight
    * ≈ 0.974 × 10⁶, so the 1.0-threshold split is non-degenerate on
    * hash-random features. */
  private[graft] val QcWeights: Seq[Int] = Seq(
    415848, 945080, 438769, 1089340, 654932, 1689658, 538816, 1282714,
    1007364, 936951, 1415804, 1565896, 586724, 214842, 1366642, 180525,
    1932375, 1878905, 1757767, 797325, 1297555, 246452, 816292, 1912810,
    36852, 841664, 1303371, 1244634, 1050514, 884269, 823611, 1433050,
    1606440, 1282759, 432069, 1529755, 267587, 703474, 1095625, 484108,
    1802151, 8093, 1239463, 133012, 590979, 101478, 532635, 1823884,
    1055204, 1187107, 1907050, 575873, 467125, 1692779, 1130883, 1589567,
    1554618, 432399, 1470305, 63868, 329290, 802526, 1295597, 582267)

  private val qcWeightsSql = QcWeights.mkString("[", ", ", "]")

  /** Bucket count of the production-geometry classifier variant — 2^21,
    * fastText's real hashing-trick table size (Joulin et al. 2016). The
    * per-bucket micro weight is 500000 + (bucket·2654435761) mod 1000001
    * (max product < 2^53 — exact int64 in both engines): a deterministic
    * stand-in for trained weights with mean ≈ 10⁶, so the 1.0-threshold
    * split stays non-degenerate exactly like [[QcWeights]]'. */
  private[graft] val QcBuckets2m = 2097152L

  /** doc_id, n_tokens, verdict — the quality gate as a plain frame
    * transform (no source, no sort), so the batch query and the
    * streaming twin in graft.streaming.StreamOps run the identical
    * rule chain. */
  private[graft] def qualityVerdict(docs: DataFrame): DataFrame = docs
    .withColumn("tok", split(col("text"), " "))
    .withColumn("n_tokens", size(col("tok")).cast("long"))
    .withColumn("stop_ratio",
      size(filter(col("tok"), t => t.isInCollection(stopwords)))
        .cast("double") / size(col("tok")))
    .withColumn("ttr", size(array_distinct(col("tok"))).cast("double") /
                       size(col("tok")))
    .select(col("doc_id"), col("n_tokens"),
      when(col("n_tokens") < 30, "too_short")
        .when(col("ttr") < 0.35, "repetitive")
        .when(col("stop_ratio") < 0.02, "unnatural")
        .otherwise("keep").as("verdict"))

  val queries: Map[String, QB] = Map(
    // Per-language corpus stats: doc counts, char totals, token totals.
    "q_text_stats" -> ((s, d) =>
      table(s, d, "documents")
        .withColumn("tok", split(col("text"), " "))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("total_chars"),
             r6(sum(col("n_chars")).cast("double") / count(col("n_chars")))
               .as("avg_chars"),
             sum(size(col("tok")).cast("long")).as("total_tokens"))
        .orderBy("lang")),

    // Per-document quality signals: tokens, chars/token, stopword ratio,
    // type-token ratio.
    "q_text_quality" -> ((s, d) =>
      spreadTable(s, d, "documents", col("doc_id"))
        .withColumn("tok", split(col("text"), " "))
        .select(col("doc_id"),
          size(col("tok")).cast("long").as("n_tokens"),
          r6(col("n_chars").cast("double") / size(col("tok")))
            .as("chars_per_tok"),
          r6(size(filter(col("tok"), t => t.isInCollection(stopwords)))
               .cast("double") / size(col("tok"))).as("stop_ratio"),
          r6(size(array_distinct(col("tok"))).cast("double") /
             size(col("tok"))).as("ttr"))
        .orderBy("doc_id")),

    // N-gram-heuristic language ID (stopword hits >= 3 → 'en'), reported as
    // a confusion matrix against the labeled lang column.
    "q_text_langid" -> ((s, d) =>
      table(s, d, "documents")
        .withColumn("tok", split(col("text"), " "))
        .withColumn("pred",
          when(size(filter(col("tok"), t => t.isInCollection(stopwords)))
                 >= 3, "en").otherwise("other"))
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")),

    // Masking scrub — the PII-redaction shape of a corpus pipeline: all
    // digits masked, with a per-doc count of masked characters. The
    // pattern stays in the dialect-safe regex subset (single character
    // class); DuckDB needs the 'g' flag to match Spark's replace-all.
    "q_text_scrub" -> ((s, d) =>
      spreadTable(s, d, "documents", col("doc_id"))
        .select(col("doc_id"),
          regexp_replace(col("text"), "[0-9]", "#").as("masked"),
          (length(col("text")) -
           length(regexp_replace(col("text"), "[0-9]", "")))
            .cast("long").as("n_masked"))
        .orderBy("doc_id")),

    // Token counting three ways: whitespace, regex word-pieces, and a
    // BPE-ish sub-word estimate (ceil(len/4) pieces per word — a fixed
    // merge-table stand-in). Oracle-matched: the split pattern stays in
    // the regex subset Java and RE2 agree on (one character class + '+'),
    // with empties filtered on both sides — see the oracle's note.
    "q_text_tokenize_regex" -> ((s, d) =>
      spreadTable(s, d, "documents", col("doc_id"))
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"),
          size(filter(split(col("text"), "[^a-z0-9]+"),
                      t => length(t) > 0)).cast("long").as("word_tokens"),
          aggregate(
            transform(split(col("text"), " "),
              t => ((length(t) + 3) / 4).cast("long")),
            lit(0L), (acc, x) => acc + x).as("subword_tokens"))
        .orderBy("doc_id")),

    // Distinctive-term extraction: TF-IDF-shaped scoring with a rational
    // idf (tf · N/df — no transcendental functions, so the score is
    // bit-identical cross-engine), top-1 term per document. The classic
    // "what is this document about" step of a corpus pipeline: one shuffle
    // for tf, a token-keyed df join (no broadcast hint — the vocabulary is
    // unbounded at corpus scale, so the planner/AQE picks the strategy; the
    // only broadcast is the 1-row ndocs scalar), one window.
    "q_text_tfidf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = spreadTable(s, d, "documents", col("doc_id"))
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy(col("token"))
        .agg(count(lit(1)).as("df"))
      val ndocs = docs.agg(count(lit(1)).as("ndocs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(desc("score"), asc("token"))
      tf.join(df_, "token")
        .crossJoin(broadcast(ndocs))
        .withColumn("score",
          r6(col("tf") * (col("ndocs").cast("double") / col("df"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
                col("score"))
        .orderBy("doc_id")
    }),

    // Vocabulary building: explode tokens, global term frequencies, top 20
    // — the corpus-statistics step of a tokenizer pipeline. Generate →
    // partial-agg (map-side combine) → final agg → TakeOrderedAndProject.
    "q_text_vocab" -> ((s, d) =>
      table(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), asc("token"))
        .limit(20)),

    // Vocabulary coverage curve — the tokenizer-design question "how many
    // top-frequency types cover p% of the token stream?" answered for
    // p ∈ {50, 90, 99}. Scale shape: one token-keyed count (map-side
    // combinable — the only corpus-sized exchange), then rank/cumsum
    // windows over the VOCABULARY (Zipf-bounded, orders of magnitude
    // smaller than the corpus; the single-partition window is over types,
    // never tokens), a 1-row total broadcast, and a 3-row threshold frame.
    // Integer-exact: the crossing test is cum·100 >= p·total (no ratio).
    "q_text_coverage" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = table(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("c"))
      // explicit ROWS frame (the (c, token) order key is unique, so RANGE
      // would be value-identical — but ROWS is what the oracle spells)
      val w = Window.orderBy(desc("c"), asc("token"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wr = Window.orderBy(desc("c"), asc("token"))
      // total from an UNBOUNDED frame on the same window sort — a separate
      // counts.agg(sum) branch would re-run the corpus-sized explode+count
      // subtree (Catalyst has no cross-branch reuse); this way all three
      // window functions share one Window node over the already-tiny
      // vocabulary frame and the corpus is scanned exactly once.
      val wt = Window.orderBy(desc("c"), asc("token"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val ranked = counts
        .withColumn("rnk", row_number().over(wr).cast("long"))
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("total", sum(col("c")).over(wt))
      // LocalRelation (maxRows = 3): the threshold probe's nested-loop
      // build side stays structurally bounded for PlanShapeSpec.
      val thresholds = {
        import s.implicits._
        Seq(50L, 90L, 99L).toDF("p_pct")
      }
      ranked
        .join(broadcast(thresholds),
          col("cum") * 100L >= col("p_pct") * col("total"))
        .groupBy(col("p_pct"))
        .agg(min(col("rnk")).as("types_needed"),
             max(col("total")).as("total_tokens"))
        .orderBy("p_pct")
    }),

    // Unigram-LM surprisal scoring — the language-model quality signal of
    // a corpus pipeline, kept rational (score = mean over token instances
    // of N/freq, the inverse unigram probability) so it is bit-identical
    // cross-engine where a log-perplexity would hinge on libm rounding.
    // Shape at 100 TB: one explode → token-keyed freq agg (map-side
    // combine), a token-keyed join back (vocabulary is unbounded — no
    // broadcast hint, planner/AQE picks), and the 1-row total broadcast.
    // The per-doc mean goes through the exact-decimal davg so Spark's
    // partial/final summation order cannot diverge from the oracle's
    // serial sum (SURVEY.md §7.3).
    "q_text_surprisal" -> ((s, d) => {
      // Per-token inverse probability total/freq, quantized to MILLI-units
      // with pure integer arithmetic — (total·1000 + freq/2) div freq is
      // a half-up rounding both engines compute bit-identically, and the
      // per-doc mean divides once more in the same integer space. The
      // earlier double-division spelling diverged from DuckDB by one ulp
      // on a rounding-boundary row at 10× scale (float ratios cast to
      // DECIMAL hit the half-up boundary from different representations);
      // integers cannot. Headroom: a single q_milli caps at total·1000
      // (a hapax token), overflowing int64 only past ~9·10^15 corpus
      // tokens — but the PER-DOC SUM of q_milli caps at
      // total·1000·max_doc_tokens, i.e. max_doc_tokens-times earlier.
      // DuckDB widens sum(BIGINT) to HUGEINT silently; Spark's long sum
      // would wrap. So the per-doc sum accumulates in DECIMAL(38,0) —
      // exact to 10^38, restoring the ~9·10^15-corpus-token bound (the
      // one the q_milli stride itself imposes); the mean always fits
      // int64 because it never exceeds max(q_milli).
      val toks = table(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val freq = toks.groupBy(col("token")).agg(count(lit(1)).as("freq"))
      val total = toks.agg(count(lit(1)).as("total"))
      toks.join(freq, "token")
        .crossJoin(broadcast(total))
        .select(col("doc_id"),
          expr("(total * 1000 + freq DIV 2) DIV freq").as("q_milli"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
             expr("""CAST((sum(CAST(q_milli AS DECIMAL(38,0)))
                           + CAST(count(1) DIV 2 AS DECIMAL(38,0)))
                          DIV count(1) AS BIGINT)""")
               .as("surprisal_milli"))
        .orderBy("doc_id")
    }),

    // Composite quality filter — the keep/drop gate a pretraining pipeline
    // runs after scoring: first failing rule wins (too_short → repetitive
    // → unnatural → keep). Pure per-row arithmetic over the token array;
    // at 100 TB this is a pushdown-friendly map with no shuffle before
    // the output sort, and the verdict column is what a partitioned sink
    // would split on. The verdict function itself is shared with the
    // streaming twin (q_stream_quality) — one code path, so batch/stream
    // parity is by construction.
    "q_quality_filter" -> ((s, d) =>
      qualityVerdict(spreadTable(s, d, "documents", col("doc_id"))).orderBy("doc_id")),

    // Linear text-quality classifier — the fastText-style public shape
    // (Joulin et al. 2016, arXiv:1607.01759): hashed unigram + bigram
    // features, an integer LITERAL weight per hash bucket (the trained
    // model, frozen into the query — [[QcWeights]], 64 buckets of
    // micro-unit weights standing in for fastText's ~2 M at fixture
    // proportions), score = MEAN feature weight, keep iff the mean
    // clears the 1.0 decision threshold. This is the model-based
    // curation stage (quality classification) between the heuristic
    // gates (q_quality_filter) and dedup in an LLM data pipeline.
    // Feature hashing follows fastText's own n-gram scheme: each TOKEN
    // is hashed once (md5hash32), and a bigram's bucket is derived by
    // combining the two word hashes arithmetically
    // (h1 * 116049371 + h2 — fastText's computeNgrams constant), never
    // by hashing a concatenated string. That is both the published
    // algorithm and the scan-speed win: one digest per token instead of
    // one per feature over longer concatenated inputs, and no bigram
    // string materialization at all. Max product < 2^59 — exact int64
    // in both engines. The bucket array is computed by the native
    // codegen expression functions.FastTextBuckets (a transform(tok,
    // t -> md5...) HOF spelling would run md5 on the interpreted lambda
    // path — measured 5x slower than even the concat-string original).
    // Determinism: weights and scores are integer
    // micro, and the mean is an integer DIV of non-negative terms — no
    // float anywhere, bit-identical in both engines. Scale posture: the
    // bucket explode is linear in corpus tokens and embarrassingly
    // parallel; the weight lookup is a 64-element literal array indexed
    // INSIDE whole-stage codegen (no join, no broadcast, no driver
    // state — the 2 M-bucket production table rides a broadcast join
    // instead, q_quality_classifier_2m); the only shuffle is the
    // per-doc aggregation, keyed the same as every other per-doc score.
    "q_quality_classifier" -> ((s, d) => {
      val wArr = array(QcWeights.map(w => lit(w.toLong)): _*)
      table(s, d, "documents")
        .withColumn("tok", split(lower(col("text")), " "))
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions
            .fasttextBuckets(col("tok"), 64L)).as("b"))
        .withColumn("w", element_at(wArr, (col("b") + 1).cast("int")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_feats"),
             expr("sum(w) DIV count(1)").as("score_micro"))
        .withColumn("label",
          when(col("score_micro") >= 1000000L, "keep").otherwise("drop"))
        .orderBy("doc_id")
    }),

    // The classifier at PRODUCTION GEOMETRY (VERDICT r17 task 7): same
    // fastText-style hashed-feature scorer as q_quality_classifier, but
    // the weight table is 2^21 = 2 097 152 buckets — fastText's real
    // bucket count (Joulin et al. 2016 use 2 M–10 M) — so the weights
    // can no longer ride a codegen literal array. They ride a BROADCAST
    // HASH JOIN instead: the weight frame is derived (bucket → micro
    // weight via one integer multiply-mod both engines execute
    // bit-identically, standing in for trained weights shipped as a
    // parquet side table), explicitly broadcast()-hinted (≈ 32 MB — above
    // the auto threshold), and the bucket explode (fastText word-hash
    // combination, same scheme and constant as q_quality_classifier)
    // probes it inside the scan stage. At 100 TB this is exactly how a trained
    // 2 M-bucket model deploys on Spark: model table broadcast once per
    // executor, zero shuffle added — the per-doc aggregation stays the
    // only exchange, same as the literal-array variant. Plan shape
    // (weights on the BUILD side of a BroadcastHashJoin) is locked by
    // PlanShapeSpec; scorer-vs-brute-force law in R18OpsSpec.
    "q_quality_classifier_2m" -> ((s, d) => {
      val weights = s.range(QcBuckets2m).select(col("id").as("bucket"),
        (lit(500000L) + pmod(col("id") * 2654435761L, lit(1000001L)))
          .as("w"))
      table(s, d, "documents")
        .withColumn("tok", split(lower(col("text")), " "))
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions
            .fasttextBuckets(col("tok"), QcBuckets2m)).as("bucket"))
        .join(broadcast(weights), Seq("bucket"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_feats"),
             expr("sum(w) DIV count(1)").as("score_micro"))
        .withColumn("label",
          when(col("score_micro") >= 1000000L, "keep").otherwise("drop"))
        .orderBy("doc_id")
    }),

    // Deterministic position-weighted rolling fingerprint over tokens:
    // fp = Σ_i i * (31*len(tok_i) + ascii(tok_i[0])). Order-sensitive (a
    // permuted document fingerprints differently) yet exactly expressible
    // in both engines with integer math only.
    "q_text_fingerprint" -> ((s, d) =>
      spreadTable(s, d, "documents", col("doc_id"))
        .withColumn("tok", split(col("text"), " "))
        .select(col("doc_id"),
          aggregate(
            transform(sequence(lit(1), size(col("tok"))),
              i => i.cast("long") *
                   (length(element_at(col("tok"), i)).cast("long") * 31 +
                    ascii(element_at(col("tok"), i)).cast("long"))),
            lit(0L), (acc, x) => acc + x).as("fp"))
        .orderBy("doc_id")),

    // Collocation mining: PMI-ranked adjacent-token bigrams. PMI's log is
    // monotone, so ranking by the LIFT ratio c_xy·N_uni²/(c_x·c_y·N_bi)
    // needs no transcendental at all — emitted as an integer-exact
    // micro-lift via DECIMAL(38,0) products and integer division (the
    // same determinism idiom as q_text_surprisal: both engines do the
    // identical exact-integer arithmetic, no libm in the compare path).
    // Scale: two token-keyed hash-shuffles (unigram + bigram counts), a
    // bigram⋈unigram join per word (shuffle on word — at 100 TB the
    // vocab side of each join is Zipf-bounded and AQE-broadcastable),
    // corpus totals ride a certified 1-row broadcast cross join, top-50
    // via TakeOrderedAndProject. min-count 5 keeps noise bigrams out.
    "q_pmi_bigram" -> ((s, d) => {
      val toks = table(s, d, "documents")
        .withColumn("tok", split(col("text"), " "))
      val uni = toks.select(explode(col("tok")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cw"))
      val biAll = toks.filter(size(col("tok")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(tok) - 1),
               i -> struct(element_at(tok, i) AS w1,
                           element_at(tok, i + 1) AS w2))""")).as("g"))
        .select(col("g.w1"), col("g.w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
      val bi = biAll.filter(col("cxy") >= 5)
      // Corpus totals are computed BEFORE the min-count filter (the
      // probability denominators are corpus-wide, not survivors-only) —
      // and WITHOUT touching the exploded frames: Σcw = Σlen(tok) and
      // Σcxy = Σ(len(tok)−1), so one un-exploded scan yields both. (The
      // Σcxy-from-biAll spelling re-ran the bigram explode+shuffle: the
      // transform() lambda defeats exchange canonicalization, so the
      // totals branch could never ReusedExchange the pair count's
      // shuffle — a second full-corpus explode for a 1-row total.)
      val totals = toks.agg(
        sum(size(col("tok"))).cast("long").as("n_uni"),
        sum(when(size(col("tok")) >= 2, size(col("tok")) - 1)
          .otherwise(0)).cast("long").as("n_bi"))
      // Two-step integer division keeps every intermediate inside
      // DECIMAL(38,0)/HUGEINT at 100 TB magnitudes (n_uni ~ 2.5e13):
      // the one-step numerator cxy·n_uni²·10⁶ crosses 10³⁸ for hot
      // bigrams, where non-ANSI Spark NULLs silently and HUGEINT
      // errors. Step 1 stays in DECIMAL end to end — Spark's DIV is
      // IntegralDivide and returns BIGINT, whose 9.2e18 ceiling the
      // step-1 quotient (≤ 2e5·n_uni from cxy ≥ 5 and cxy ≤
      // min(c1,c2), ≈ 5e18 at n_uni 2.5e13) clears with < 2×
      // headroom; the (num − num % den) / den floor spelling is an
      // exact decimal at any magnitude up to the 10³²-bounded step-2
      // product, matching DuckDB's exact HUGEINT // bit for bit.
      // Intermediates: num = cxy·10⁶·n_uni ≤ 6.3e32, den = c1·c2 ≤
      // 6.3e26, step 2 ≤ 1.3e32 — all inside DECIMAL(38,0). The FINAL
      // lift_micro is BIGINT by contract; its own ceiling is the same
      // ≤ 2e5·n_uni bound, inherent to micro units at that corpus
      // size. Both engines floor identically, so rounding is shared.
      bi.join(uni.withColumnRenamed("w", "w1")
                 .withColumnRenamed("cw", "c1"), "w1")
        .join(uni.withColumnRenamed("w", "w2")
                 .withColumnRenamed("cw", "c2"), "w2")
        .crossJoin(broadcast(totals))
        .withColumn("num",
          expr("CAST(cxy AS DECIMAL(38,0)) * 1000000 * n_uni"))
        .withColumn("den", expr("CAST(c1 AS DECIMAL(38,0)) * c2"))
        .select(col("w1"), col("w2"), col("cxy"),
          expr("""CAST(CAST((num - num % den) / den AS DECIMAL(38,0))
                       * n_uni DIV n_bi AS BIGINT)""").as("lift_micro"))
        .orderBy(col("lift_micro").desc, col("w1"), col("w2"))
        .limit(50)
    }),

    // BM25 retrieval (round 20) — score every document against a fixed
    // 3-term query and return the top 20: the ranked-retrieval primitive
    // a pipeline uses for contamination probes ("which training docs
    // score highest against this eval question?") and quality-by-
    // retrieval audits. Kept RATIONAL like the surprisal score: the
    // textbook BM25 idf is a log, which would hinge on libm rounding
    // cross-engine, so this uses Robertson's raw idf ratio
    // (N − df + ½)/(df + ½) in integer micro-units — the same monotone
    // ranking signal with exact integer arithmetic both engines compute
    // bit-identically. With k1 = 1.2, b = 0.75 and avgdl = T/N the term
    // factor tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) clears denominators as
    //   tfn_micro = 22·tf·T·10⁶ DIV (10·tf·T + 3·T + 9·dl·N).
    // Scale shape at 100 TB: per-doc tf for the ≤3 query terms is a
    // pure array filter in the scan (no explode, no shuffle); df and
    // the (N, T) totals are one global agg broadcast back (3-row and
    // 1-row frames); the score is a map; TakeOrdered ships 20 rows per
    // partition. Headroom: the widest product 22·tf·T·10⁶ stays in
    // int64 through T ≈ 4·10⁹ corpus tokens at tf ≤ 100, and
    // idf_micro·tfn_micro ≤ (2N+1)·10⁶·2.2·10⁶ needs N ≲ 2·10⁶ — past
    // those the PMI two-step DECIMAL(38,0) spelling applies verbatim.
    "q_text_bm25" -> ((s, d) => {
      val terms = Seq("table", "spark", "query")
      val docs = spreadTable(s, d, "documents", col("doc_id"))
        .withColumn("tok", split(col("text"), " "))
        .withColumn("dl", size(col("tok")).cast("long"))
      val totals = docs.agg(count(lit(1)).as("n_docs"),
                            sum(col("dl")).as("t_tokens"))
      val tf = docs
        .select(col("doc_id"), col("dl"),
          explode(array(terms.map(t => struct(
            lit(t).as("term"),
            size(filter(col("tok"), x => x === lit(t))).cast("long")
              .as("tf"))): _*)).as("p"))
        .select(col("doc_id"), col("dl"), col("p.term").as("term"),
                col("p.tf").as("tf"))
        .filter(col("tf") > 0)
      val dfr = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfr), "term")
        .crossJoin(broadcast(totals))
        .withColumn("idf_micro",
          expr("((2 * n_docs - 2 * df + 1) * 1000000) DIV (2 * df + 1)"))
        .withColumn("tfn_micro",
          expr("""(22 * tf * t_tokens * 1000000)
                  DIV (10 * tf * t_tokens + 3 * t_tokens
                       + 9 * dl * n_docs)"""))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_terms"),
             sum(expr("(idf_micro * tfn_micro) DIV 1000000"))
               .as("bm25_micro"))
        .orderBy(desc("bm25_micro"), asc("doc_id"))
        .limit(20)
    }),

    // BPE merge induction (round 20) — the tokenizer-training step of an
    // LLM data pipeline: learn the first 3 byte-pair merges from corpus
    // word frequencies. The DISTRIBUTED part is the corpus-sized work —
    // one token-keyed count (map-side combinable), capped to the top
    // 4096 types by (freq desc, word) — and the merge rounds run on the
    // driver over that BOUNDED table, exactly how production BPE
    // trainers work (the type table fits in memory; the corpus never
    // does) and exactly the bounded-collect precedent of the k-means /
    // PQ-codebook training. Pair counting enumerates EVERY adjacent
    // symbol position (so "aaa" holds (a,a) twice); merge application is
    // left-to-right non-overlapping — the same pair picked at "aaa"
    // merges the first two a's and leaves the third. Argmax tiebreak is
    // total: (count desc, left, right). All counts are exact int64 —
    // bit-identical to the oracle's unrolled-CTE spelling, whose
    // DOUBLE-space replace(' l  r ', ' lr ') is provably the same
    // greedy left-to-right scan (see the q_bpe_apply comment: a
    // single-space pattern would consume the shared boundary and skip
    // back-to-back occurrences). Fixture corpus is single-byte
    // lowercase ASCII, so Scala per-char and the oracle's regexp '(.)'
    // agree on symbol boundaries.
    "q_bpe_merges" -> ((s, d) => {
      import s.implicits._
      bpeTrain(s, d).toDF("merge_round", "lft", "rgt", "pair_count")
        .orderBy("merge_round")
    }),

    // BPE tokenization (round 20) — APPLY the 3 learned merges to the
    // whole corpus and report each document's subword count plus its
    // chars-per-subword compression in micro-units: the train→tokenize
    // pair every LLM pipeline runs (q_bpe_merges is the trainer; this
    // is the corpus-scale encoder). Shape at 100 TB: after the bounded
    // trainer collect, encoding is ONE pure per-row map — symbolize the
    // text with DOUBLE-space separators, chain 3 literal token-boundary
    // replaces, count symbols by splitting on runs of spaces. Zero
    // shuffles before the output sort. Double-space separators are what
    // make the string scan EQUAL the trainer's greedy left-to-right
    // walk: a single-space replace(' l r ', ' lr ') consumes the shared
    // boundary, so back-to-back occurrences ("nana" with merge (n,a))
    // skip the second merge; with 2-space separators the pattern
    // ' l  r ' consumes one space of each flanking pair and the
    // leftover single + the replacement's own single reassemble to a
    // 2-space boundary — consecutive occurrences merge exactly like
    // greedy BPE (verified on nana/aaaaa/banana/ababab and on
    // round-2 merges of merged tokens, in both engines). Inter-word
    // gaps are ≥3 spaces (the literal space char symbolizes too), so
    // no pattern can match across words. The oracle re-derives the
    // same merges in its own unrolled CTEs (proven equal by
    // q_bpe_merges) and applies the same replaces, so the equality is
    // end-to-end: train AND encode.
    "q_bpe_apply" -> ((s, d) => {
      val merges = bpeTrain(s, d).map { case (_, l, r, _) => (l, r) }
      // Site-capped spread gate (32 MiB): the encode is one pure
      // codegen map, so the zero-shuffle plan wins as soon as the
      // input is no longer one tiny single-split file — the 100×
      // sweep's ~59 MB documents fixture measured ~2× slower WITH the
      // spread (SCALE_r21), while the sf0.1 fixture (0.6 MB, one
      // split) still needs it.
      spreadTable(s, d, "documents", col("doc_id"),
                  maxBytes = 32L << 20)
        .select(col("doc_id"),
          size(bpeEncodedSymbols(col("text"), merges)).cast("long")
            .as("n_subwords"),
          length(regexp_replace(col("text"), " ", "")).cast("long")
            .as("n_sym"))
        .select(col("doc_id"), col("n_subwords"),
          expr("(n_subwords * 1000000) DIV GREATEST(n_sym, 1)")
            .as("compress_micro"))
        .orderBy("doc_id")
    }),
  )

  /** The BPE encode as a pure column expression: double-space
    * symbolization, the merge replaces in rank order, split on space
    * runs → the subword array. Factored out of q_bpe_apply so the
    * greedy-equivalence on adversarial words (back-to-back pair
    * occurrences — "nana", "aaaaa") is unit-locked in R20OpsSpec
    * against a driver-side greedy walk, not just exercised on the
    * fixture corpus (whose vocabulary happens to contain none). */
  private[graft] def bpeEncodedSymbols(
      text: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column = {
    val spaced = concat(lit(" "), regexp_replace(text, "(.)", "$1  "))
    // merge symbols are [a-z]+ (capped-vocab chars), safe as literals
    val applied = merges.foldLeft(spaced) { case (c, (l, r)) =>
      replace(c, lit(s" $l  $r "), lit(s" $l$r "))
    }
    split(trim(applied), " +")
  }

  /** [[graft.MemoLog.release]], under the name the benchmark harness
    * calls. */
  def clearBpeCache(): Unit = graft.MemoLog.release()

  /** Build the memoized trainer result ahead of the per-query rows —
    * the Bench shared-prebuild hook (the GraphOps.prebuildShared
    * pattern). */
  def prebuildShared(s: org.apache.spark.sql.SparkSession,
                     d: String): Unit = { bpeTrain(s, d); () }

  /** The BPE trainer shared by q_bpe_merges (reports the merge table)
    * and q_bpe_apply (encodes the corpus with it): corpus-sized
    * token-keyed count capped to the top-4096 types, then 3 driver-side
    * merge rounds over that bounded table — see the q_bpe_merges
    * builder comment for the counting/merge/tiebreak contract. Returns
    * (round, left, right, weighted pair count).
    *
    * Memoized per (session, dir) in [[graft.MemoLog]] (a driver-side
    * Seq, no storage to unpersist): the corpus-sized word count +
    * bounded collect runs ONCE for the q_bpe_merges / q_bpe_apply pair.
    * Bench builds it in the shared-prebuild step ([[prebuildShared]])
    * so BOTH consumers' official rows measure the query against a warm
    * trainer with the build cost itemized in the shared_builds/memo
    * ledger — without the prebuild, alphabetical order would make
    * q_bpe_apply absorb the trainer while q_bpe_merges benched a cache
    * hit. The harnesses release it with every other memo (Bench between
    * passes, ScaleStress and Profile per run; the sweep's per-query
    * isolation therefore charges each row the full trainer, like the
    * graph rows and their shared edge base). */
  private[graft] def bpeTrain(s: org.apache.spark.sql.SparkSession,
                              d: String): Seq[(Long, String, String, Long)] =
    graft.MemoLog.value(s, d, "text.bpe_train") { bpeTrainUncached(s, d) }

  private def bpeTrainUncached(s: org.apache.spark.sql.SparkSession,
                               d: String): Seq[(Long, String, String, Long)] = {
    import s.implicits._
    val wf = table(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("w")).limit(4096)
      .as[(String, Long)].collect()
    val freq = wf.toMap
    var syms: Map[String, Vector[String]] =
      wf.map { case (w, _) => w -> w.map(_.toString).toVector }.toMap
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (r <- 1 to 3) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, sy) <- syms; i <- 0 until sy.length - 1) {
        val k = (sy(i), sy(i + 1))
        counts(k) = counts.getOrElse(k, 0L) + freq(w)
      }
      val ((l, rr), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }
      merges += ((r.toLong, l, rr, c))
      syms = syms.map { case (w, sy) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < sy.length) {
          if (i < sy.length - 1 && sy(i) == l && sy(i + 1) == rr) {
            out += (l + rr); i += 2
          } else { out += sy(i); i += 1 }
        }
        w -> out.result()
      }
    }
    merges.result()
  }

  val oracles: Map[String, String] = Map(
    // The splitting regex sticks to a dialect-safe subset (a character
    // class + '+' — Java regex and DuckDB's RE2 agree exactly), and
    // empties are filtered on both sides, so the usual cross-dialect
    // hazards (lookaround, \\b, trailing-empty handling) never arise.
    "q_text_scrub" -> """
      SELECT doc_id,
             regexp_replace(text, '[0-9]', '#', 'g') AS masked,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                  AS BIGINT) AS n_masked
      FROM documents
      ORDER BY doc_id""",

    "q_text_tokenize_regex" -> """
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
             CAST(len(list_filter(string_split_regex(text, '[^a-z0-9]+'),
                                  t -> length(t) > 0)) AS BIGINT)
               AS word_tokens,
             CAST(list_sum(list_transform(string_split(text, ' '),
                                          t -> (length(t) + 3) // 4))
                  AS BIGINT) AS subword_tokens
      FROM documents
      ORDER BY doc_id""",

    "q_text_stats" -> s"""
      SELECT lang, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             round(CAST(sum(n_chars) AS DOUBLE) / count(n_chars), 6) AS avg_chars,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
      FROM documents
      GROUP BY lang
      ORDER BY lang""",

    "q_text_quality" -> s"""
      WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS tok
                 FROM documents)
      SELECT doc_id,
             CAST(len(tok) AS BIGINT) AS n_tokens,
             round(CAST(n_chars AS DOUBLE) / len(tok), 6) AS chars_per_tok,
             round(CAST(len(list_filter(tok, t -> t IN ($stopSql)))
                        AS DOUBLE) / len(tok), 6) AS stop_ratio,
             round(CAST(len(list_distinct(tok)) AS DOUBLE) / len(tok), 6) AS ttr
      FROM t
      ORDER BY doc_id""",

    "q_text_langid" -> s"""
      WITH t AS (SELECT lang,
                        CASE WHEN len(list_filter(string_split(text, ' '),
                                     t -> t IN ($stopSql))) >= 3
                             THEN 'en' ELSE 'other' END AS pred
                 FROM documents)
      SELECT lang, pred, count(*) AS n
      FROM t
      GROUP BY lang, pred
      ORDER BY lang, pred""",

    "q_text_tfidf" -> """
      WITH tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents),
      tfc AS (SELECT doc_id, token, count(*) AS tf
              FROM tf GROUP BY doc_id, token),
      dfc AS (SELECT token, count(*) AS df FROM tfc GROUP BY token),
      nd AS (SELECT count(*) AS ndocs FROM documents),
      scored AS (
        SELECT tfc.doc_id, tfc.token, tfc.tf, dfc.df,
               round(tfc.tf * (CAST(nd.ndocs AS DOUBLE) / dfc.df), 6)
                 AS score
        FROM tfc JOIN dfc USING (token), nd),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, token ASC) AS rn
        FROM scored)
      SELECT doc_id, token, tf, df, score
      FROM ranked
      WHERE rn = 1
      ORDER BY doc_id""",

    "q_text_vocab" -> """
      WITH t AS (SELECT unnest(string_split(text, ' ')) AS token
                 FROM documents)
      SELECT token, count(*) AS freq
      FROM t
      GROUP BY token
      ORDER BY freq DESC, token ASC
      LIMIT 20""",

    "q_text_coverage" -> """
      WITH t AS (SELECT unnest(string_split(text, ' ')) AS token
                 FROM documents),
      counts AS (SELECT token, count(*) AS c FROM t GROUP BY token),
      ranked AS (SELECT c,
                        row_number() OVER w AS rnk,
                        sum(c) OVER w AS cum,
                        sum(c) OVER (ORDER BY c DESC, token ASC
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING) AS total
                 FROM counts
                 WINDOW w AS (ORDER BY c DESC, token ASC
                              ROWS UNBOUNDED PRECEDING)),
      th AS (SELECT unnest([50, 90, 99]) AS p_pct)
      SELECT CAST(p_pct AS BIGINT) AS p_pct,
             CAST(min(rnk) AS BIGINT) AS types_needed,
             CAST(max(total) AS BIGINT) AS total_tokens
      FROM ranked, th
      WHERE cum * 100 >= p_pct * total
      GROUP BY p_pct
      ORDER BY p_pct""",

    "q_text_surprisal" -> """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                   FROM documents),
      f AS (SELECT token, count(*) AS freq FROM tok GROUP BY token),
      n AS (SELECT count(*) AS total FROM tok),
      q AS (SELECT doc_id, (total * 1000 + freq // 2) // freq AS q_milli
            FROM tok JOIN f USING (token), n)
      SELECT doc_id, count(*) AS n_tokens,
             CAST((sum(q_milli) + count(*) // 2) // count(*) AS BIGINT)
               AS surprisal_milli
      FROM q
      GROUP BY doc_id
      ORDER BY doc_id""",

    "q_quality_classifier" -> s"""
      WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tok
                 FROM documents),
      h AS (SELECT doc_id,
                   list_transform(tok, w ->
                     CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT)) AS hs
            FROM t),
      bk AS (
        SELECT doc_id, unnest(list_transform(hs, x -> x % 64)) AS bkt FROM h
        UNION ALL
        SELECT doc_id,
               unnest(list_transform(range(1, len(hs)),
                      i -> (hs[i] * 116049371 + hs[i + 1]) % 64)) AS bkt
        FROM h),
      b AS (SELECT doc_id, $qcWeightsSql[CAST(bkt AS INT) + 1] AS w
            FROM bk)
      SELECT doc_id, count(*) AS n_feats,
             CAST(sum(w) // count(*) AS BIGINT) AS score_micro,
             CASE WHEN sum(w) // count(*) >= 1000000
                  THEN 'keep' ELSE 'drop' END AS label
      FROM b
      GROUP BY doc_id
      ORDER BY doc_id""",

    // Same scorer at the 2^21-bucket production geometry; the weight is
    // computed per feature (bucket -> multiply-mod), which is exactly
    // the join's value — DuckDB folds the 2M-row table away, Spark
    // broadcasts it; both arrive at identical integer arithmetic.
    "q_quality_classifier_2m" -> """
      WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tok
                 FROM documents),
      h AS (SELECT doc_id,
                   list_transform(tok, w ->
                     CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT)) AS hs
            FROM t),
      bk AS (
        SELECT doc_id, unnest(list_transform(hs, x -> x % 2097152)) AS bkt
        FROM h
        UNION ALL
        SELECT doc_id,
               unnest(list_transform(range(1, len(hs)),
                      i -> (hs[i] * 116049371 + hs[i + 1]) % 2097152)) AS bkt
        FROM h),
      b AS (SELECT doc_id,
                   500000 + (bkt * 2654435761) % 1000001 AS w
            FROM bk)
      SELECT doc_id, count(*) AS n_feats,
             CAST(sum(w) // count(*) AS BIGINT) AS score_micro,
             CASE WHEN sum(w) // count(*) >= 1000000
                  THEN 'keep' ELSE 'drop' END AS label
      FROM b
      GROUP BY doc_id
      ORDER BY doc_id""",

    "q_quality_filter" -> s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok
                 FROM documents)
      SELECT doc_id,
             CAST(len(tok) AS BIGINT) AS n_tokens,
             CASE
               WHEN len(tok) < 30 THEN 'too_short'
               WHEN CAST(len(list_distinct(tok)) AS DOUBLE) / len(tok) < 0.35
                 THEN 'repetitive'
               WHEN CAST(len(list_filter(tok, t -> t IN ($stopSql)))
                         AS DOUBLE) / len(tok) < 0.02 THEN 'unnatural'
               ELSE 'keep'
             END AS verdict
      FROM t
      ORDER BY doc_id""",

    "q_text_fingerprint" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents)
      SELECT doc_id,
             CAST(list_sum(list_transform(range(1, len(tok) + 1),
               i -> CAST(i AS BIGINT) *
                    (length(tok[i]) * 31 + ascii(substr(tok[i], 1, 1)))))
               AS BIGINT) AS fp
      FROM t
      ORDER BY doc_id""",

    "q_pmi_bigram" -> """
      WITH t AS (SELECT string_split(text, ' ') AS tok FROM documents),
      uni AS (SELECT w, count(*) AS cw
              FROM (SELECT unnest(tok) AS w FROM t) GROUP BY 1),
      bi_all AS (SELECT g, count(*) AS cxy
                 FROM (SELECT unnest(list_transform(range(1, len(tok)),
                                i -> tok[i] || ' ' || tok[i + 1])) AS g
                       FROM t WHERE len(tok) >= 2)
                 GROUP BY 1),
      tot AS (SELECT CAST(sum(len(tok)) AS BIGINT) AS n_uni,
                     CAST(sum(CASE WHEN len(tok) >= 2 THEN len(tok) - 1
                              ELSE 0 END) AS BIGINT) AS n_bi
              FROM t),
      b AS (SELECT split_part(g, ' ', 1) AS w1,
                   split_part(g, ' ', 2) AS w2, cxy
            FROM bi_all WHERE cxy >= 5)
      SELECT b.w1, b.w2, b.cxy,
             CAST(((CAST(b.cxy AS HUGEINT) * 1000000 * n_uni)
                   // (CAST(u1.cw AS HUGEINT) * u2.cw))
                  * n_uni // n_bi
                  AS BIGINT) AS lift_micro
      FROM b JOIN uni u1 ON b.w1 = u1.w
             JOIN uni u2 ON b.w2 = u2.w, tot
      ORDER BY lift_micro DESC, w1, w2
      LIMIT 50""",

    // Rational BM25 (see the builder comment): Robertson idf ratio and
    // the cleared-denominator term factor in integer micro-units; every
    // division is a positive-integer floor both engines share. The
    // per-doc sum is CAST back to BIGINT (DuckDB widens sum(BIGINT) to
    // HUGEINT silently; Spark's long sum is the contract).
    "q_text_bm25" -> """
      WITH d2 AS (SELECT doc_id, string_split(text, ' ') AS tok,
                         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
                  FROM documents),
      tot AS (SELECT count(*) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS t_tokens FROM d2),
      tf AS (SELECT doc_id, dl, q.term,
                    CAST(len(list_filter(tok, x -> x = q.term)) AS BIGINT)
                      AS tf
             FROM d2, (VALUES ('table'), ('spark'), ('query')) AS q(term)
             WHERE len(list_filter(tok, x -> x = q.term)) > 0),
      dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      sc AS (SELECT f.doc_id,
                    ((2 * n_docs - 2 * df + 1) * 1000000)
                      // (2 * df + 1) AS idf_micro,
                    (22 * f.tf * t_tokens * 1000000)
                      // (10 * f.tf * t_tokens + 3 * t_tokens
                          + 9 * f.dl * n_docs) AS tfn_micro
             FROM tf f JOIN dfr ON f.term = dfr.term, tot)
      SELECT doc_id, count(*) AS n_terms,
             CAST(sum((idf_micro * tfn_micro) // 1000000) AS BIGINT)
               AS bm25_micro
      FROM sc GROUP BY doc_id
      ORDER BY bm25_micro DESC, doc_id
      LIMIT 20""",

    // BPE merge induction, 3 rounds unrolled (see the builder comment).
    // Symbolization DOUBLE-spaces every char (' t  a  b  l  e  '); pair
    // enumeration indexes every adjacent position via unnest(range);
    // the merge is the string-level replace(' l  r ' → ' lr '), which
    // with 2-space separators IS the greedy left-to-right BPE walk —
    // the leftover flanking single spaces plus the replacement's own
    // singles reassemble every boundary to 2 spaces, so back-to-back
    // occurrences merge exactly like the trainer (see q_bpe_apply's
    // builder comment for the boundary-consumption proof).
    "q_bpe_merges" -> """
      WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents),
      wf AS (SELECT w, count(*) AS freq FROM w0 GROUP BY w
             ORDER BY freq DESC, w LIMIT 4096),
      v0 AS (SELECT w, freq,
                    ' ' || regexp_replace(w, '(.)', '\1  ', 'g') AS sym
             FROM wf),
      p1 AS (SELECT sy[i] AS lft, sy[i + 1] AS rgt,
                    CAST(sum(freq) AS BIGINT) AS pair_count
             FROM (SELECT freq, string_split_regex(trim(sym), ' +') AS sy,
                          unnest(range(1, len(string_split_regex(trim(sym), ' +'))))
                            AS i
                   FROM v0) q1
             GROUP BY 1, 2),
      b1 AS (SELECT lft, rgt, pair_count FROM p1
             ORDER BY pair_count DESC, lft, rgt LIMIT 1),
      v1 AS (SELECT w, freq,
                    replace(sym, ' ' || b1.lft || '  ' || b1.rgt || ' ',
                                 ' ' || b1.lft || b1.rgt || ' ') AS sym
             FROM v0, b1),
      p2 AS (SELECT sy[i] AS lft, sy[i + 1] AS rgt,
                    CAST(sum(freq) AS BIGINT) AS pair_count
             FROM (SELECT freq, string_split_regex(trim(sym), ' +') AS sy,
                          unnest(range(1, len(string_split_regex(trim(sym), ' +'))))
                            AS i
                   FROM v1) q2
             GROUP BY 1, 2),
      b2 AS (SELECT lft, rgt, pair_count FROM p2
             ORDER BY pair_count DESC, lft, rgt LIMIT 1),
      v2 AS (SELECT w, freq,
                    replace(sym, ' ' || b2.lft || '  ' || b2.rgt || ' ',
                                 ' ' || b2.lft || b2.rgt || ' ') AS sym
             FROM v1, b2),
      p3 AS (SELECT sy[i] AS lft, sy[i + 1] AS rgt,
                    CAST(sum(freq) AS BIGINT) AS pair_count
             FROM (SELECT freq, string_split_regex(trim(sym), ' +') AS sy,
                          unnest(range(1, len(string_split_regex(trim(sym), ' +'))))
                            AS i
                   FROM v2) q3
             GROUP BY 1, 2),
      b3 AS (SELECT lft, rgt, pair_count FROM p3
             ORDER BY pair_count DESC, lft, rgt LIMIT 1)
      SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS merge_round, lft, rgt, pair_count
        FROM b1
        UNION ALL
        SELECT CAST(2 AS BIGINT), lft, rgt, pair_count FROM b2
        UNION ALL
        SELECT CAST(3 AS BIGINT), lft, rgt, pair_count FROM b3)
      ORDER BY merge_round""",

    // BPE encode: the q_bpe_merges trainer CTEs re-derive the same 3
    // merges, then the corpus is symbolized with the same DOUBLE-space
    // separators and the merges applied as the same greedy
    // boundary-reassembling replaces; subwords counted by splitting on
    // runs of spaces (inter-word gaps are ≥3 spaces — the literal space
    // char symbolizes too — and never merge across).
    "q_bpe_apply" -> """
      WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents),
      wf AS (SELECT w, count(*) AS freq FROM w0 GROUP BY w
             ORDER BY freq DESC, w LIMIT 4096),
      v0 AS (SELECT w, freq,
                    ' ' || regexp_replace(w, '(.)', '\1  ', 'g') AS sym
             FROM wf),
      p1 AS (SELECT sy[i] AS lft, sy[i + 1] AS rgt,
                    CAST(sum(freq) AS BIGINT) AS pair_count
             FROM (SELECT freq, string_split_regex(trim(sym), ' +') AS sy,
                          unnest(range(1, len(string_split_regex(trim(sym), ' +'))))
                            AS i
                   FROM v0) q1
             GROUP BY 1, 2),
      b1 AS (SELECT lft, rgt, pair_count FROM p1
             ORDER BY pair_count DESC, lft, rgt LIMIT 1),
      v1 AS (SELECT w, freq,
                    replace(sym, ' ' || b1.lft || '  ' || b1.rgt || ' ',
                                 ' ' || b1.lft || b1.rgt || ' ') AS sym
             FROM v0, b1),
      p2 AS (SELECT sy[i] AS lft, sy[i + 1] AS rgt,
                    CAST(sum(freq) AS BIGINT) AS pair_count
             FROM (SELECT freq, string_split_regex(trim(sym), ' +') AS sy,
                          unnest(range(1, len(string_split_regex(trim(sym), ' +'))))
                            AS i
                   FROM v1) q2
             GROUP BY 1, 2),
      b2 AS (SELECT lft, rgt, pair_count FROM p2
             ORDER BY pair_count DESC, lft, rgt LIMIT 1),
      v2 AS (SELECT w, freq,
                    replace(sym, ' ' || b2.lft || '  ' || b2.rgt || ' ',
                                 ' ' || b2.lft || b2.rgt || ' ') AS sym
             FROM v1, b2),
      p3 AS (SELECT sy[i] AS lft, sy[i + 1] AS rgt,
                    CAST(sum(freq) AS BIGINT) AS pair_count
             FROM (SELECT freq, string_split_regex(trim(sym), ' +') AS sy,
                          unnest(range(1, len(string_split_regex(trim(sym), ' +'))))
                            AS i
                   FROM v2) q3
             GROUP BY 1, 2),
      b3 AS (SELECT lft, rgt, pair_count FROM p3
             ORDER BY pair_count DESC, lft, rgt LIMIT 1),
      ap AS (SELECT doc_id, text,
                    ' ' || regexp_replace(text, '(.)', '\1  ', 'g') AS s0
             FROM documents),
      a1 AS (SELECT doc_id, text,
                    replace(s0, ' ' || b1.lft || '  ' || b1.rgt || ' ',
                                ' ' || b1.lft || b1.rgt || ' ') AS s1
             FROM ap, b1),
      a2 AS (SELECT doc_id, text,
                    replace(s1, ' ' || b2.lft || '  ' || b2.rgt || ' ',
                                ' ' || b2.lft || b2.rgt || ' ') AS s2
             FROM a1, b2),
      a3 AS (SELECT doc_id, text,
                    replace(s2, ' ' || b3.lft || '  ' || b3.rgt || ' ',
                                ' ' || b3.lft || b3.rgt || ' ') AS s3
             FROM a2, b3)
      SELECT doc_id,
             CAST(len(string_split_regex(trim(s3), ' +')) AS BIGINT)
               AS n_subwords,
             (CAST(len(string_split_regex(trim(s3), ' +')) AS BIGINT)
                * 1000000)
               // greatest(CAST(length(replace(text, ' ', '')) AS BIGINT), 1)
               AS compress_micro
      FROM a3
      ORDER BY doc_id""",
  )
}

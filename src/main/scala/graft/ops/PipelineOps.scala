package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline assembly operators (mandate north star, beyond
  * the reference's own surface — the reference harness stops at analytics;
  * these are the corpus-preparation steps a 100 TB pretraining pipeline
  * runs after dedup/quality filtering).
  *
  * All five are single-pass, shuffle-light shapes:
  *   - chunking and repetition are per-row higher-order functions (no
  *     shuffle at all before the output sort);
  *   - split assignment is a deterministic hash mod — reproducible across
  *     runs/engines, no RNG state, then one partial-agg shuffle;
  *   - sequence packing is the standard distributed approximation of bin
  *     packing: exclusive running token count per language partition →
  *     bin = floor(prior / ctx). One window sort per language, no
  *     driver-side loop;
  *   - int8 quantization is per-row arithmetic over the embedding array
  *     (floor(x·scale + 0.5) — floor is exact in IEEE, so cross-engine
  *     deterministic where round() on halves might not be).
  */
object PipelineOps {

  private val ChunkTokens = 16
  private val CtxTokens = 256

  val queries: Map[String, QB] = Map(
    // Fixed-size token chunking (16-token pieces, last piece ragged): the
    // doc → training-sequence explode step. sequence+explode+slice keeps
    // it one Generate, no shuffle.
    "q_text_chunk" -> ((s, d) =>
      table(s, d, "documents")
        .withColumn("tok", split(col("text"), " "))
        .withColumn("n_tok", size(col("tok")))
        .select(col("doc_id"), col("tok"), col("n_tok"),
          explode(sequence(lit(0),
            ((col("n_tok") - 1) / lit(ChunkTokens)).cast("int")))
            .as("chunk_id"))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          least(lit(ChunkTokens),
            col("n_tok") - col("chunk_id") * ChunkTokens)
            .cast("long").as("chunk_tokens"),
          array_join(slice(col("tok"),
            col("chunk_id") * ChunkTokens + 1, lit(ChunkTokens)), " ")
            .as("chunk_text"))
        .orderBy("doc_id", "chunk_id")),

    // Repeated-bigram fraction (the Gopher/C4-style repetition quality
    // signal): 1 - distinct_bigrams/total_bigrams, per doc with ≥2 tokens.
    "q_text_repetition" -> ((s, d) =>
      spreadTable(s, d, "documents", col("doc_id"))
        .withColumn("tok", split(col("text"), " "))
        .filter(size(col("tok")) >= 2)
        .withColumn("grams", expr(
          """transform(sequence(1, size(tok) - 1),
               i -> concat(element_at(tok, i), ' ', element_at(tok, i + 1)))"""))
        .select(col("doc_id"),
          size(col("grams")).cast("long").as("n_grams"),
          r6(lit(1.0) - size(array_distinct(col("grams"))).cast("double") /
             size(col("grams"))).as("rep_frac"))
        .orderBy("doc_id")),

    // Deterministic train/val/test assignment: md5-hash bucket of doc_id,
    // 80/10/10. Hash-mod is reproducible across engines and runs (no RNG
    // state to ship to 1000 executors) and rebalances automatically as
    // docs are added/removed.
    "q_split_assign" -> ((s, d) =>
      table(s, d, "documents")
        .withColumn("h", pmod(md5hash32(col("doc_id").cast("string")),
                              lit(100)))
        .withColumn("split",
          when(col("h") < 80, "train")
            .when(col("h") < 90, "val").otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
             sum(size(split(col("text"), " ")).cast("long"))
               .as("total_tokens"))
        .orderBy("split")),

    // Contiguous sequence packing into 256-token context bins, per
    // language: exclusive running token count → bin id. The distributed
    // stand-in for greedy bin packing (order-preserving, one window per
    // partition key; at 100 TB the partition key set — languages/shards —
    // is what bounds each sort).
    "q_pack_sequences" -> ((s, d) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      table(s, d, "documents")
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
        .withColumn("prior", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .withColumn("bin_id", floor(col("prior") / lit(CtxTokens)))
        .groupBy(col("lang"), col("bin_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"),
             min(col("doc_id")).as("first_doc"),
             max(col("doc_id")).as("last_doc"))
        .orderBy("lang", "bin_id")
    }),

    // Weighted mixture sampling — the data-mixing step that downsamples
    // each source to its target share of the training blend. The target
    // rate is derived from the source id (20/40/60/80%); keep/drop is an
    // md5-bucket test on (source, doc_id), so the sample is reproducible
    // across engines and runs with no RNG state, and rows can be
    // filter-pushed at scan time. One partial-agg shuffle for the audit;
    // at 100 TB the keep predicate is a per-row map, nothing more.
    "q_mix_weighted" -> ((s, d) =>
      table(s, d, "documents")
        .withColumn("srcnum",
          regexp_extract(col("source"), "[0-9]+", 0).cast("int"))
        .withColumn("rate", (pmod(col("srcnum"), lit(4)) + 1) * lit(200))
        .withColumn("h", pmod(md5hash32(
          concat(col("source"), lit(":"), col("doc_id").cast("string"))),
          lit(1000)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
             sum(when(col("h") < col("rate"), 1L).otherwise(0L))
               .as("n_kept"),
             r6(sum(when(col("h") < col("rate"), 1L).otherwise(0L))
                  .cast("double") / count(lit(1))).as("obs_rate"),
             r6(max(col("rate")).cast("double") / 1000).as("target_rate"))
        .orderBy("source")),

    // Weighted (importance) sampling — select each document independently
    // with probability proportional to its weight (n_chars: the
    // length-proportional inclusion a token-budget subsample wants),
    // targeting k = 100 expected picks. Deterministic PPS Bernoulli:
    // per-doc micro-probability pm = w·k·10⁶ DIV total (integer, exact),
    // selected iff md5-uniform(doc) mod 10⁶ < pm — no RNG state, exactly
    // reproducible across engines/runs, and rebalances as docs change.
    // Scale posture: pm's arithmetic is per-doc int64 (w·k·10⁶ never
    // grows with the corpus; the corpus-sized total rides a certified
    // 1-row broadcast), selection is a map-side filter. TWO linear
    // scans — the total pass, then the filter pass — which is inherent
    // to PPS (the inclusion probability needs the total before any row
    // can be decided); zero corpus-sized shuffles. Docs heavier than
    // total/k get pm >= 10⁶, i.e. always selected — the natural PPS
    // clamp.
    "q_sample_weighted" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val tot = docs.agg(sum(col("n_chars")).as("total"))
      docs.crossJoin(broadcast(tot))
        .withColumn("pm", expr("n_chars * 100000000 DIV total"))
        .withColumn("u", pmod(md5hash32(
          concat(lit("ws:"), col("doc_id").cast("string"))),
          lit(1000000L)))
        .filter(col("u") < col("pm"))
        .select(col("doc_id"), col("n_chars"), col("pm"), col("u"))
        .orderBy("doc_id")
    }),

    // Repeat-factor UPSAMPLING (epochs-per-source) — the data-mixing
    // inverse of q_mix_weighted: a high-quality source is replayed for
    // more than one epoch (the Llama/DoReMi-style mix where wikipedia
    // sees ~3 epochs while crawl sees <1). Per-source epoch target in
    // micro-units (0.75 / 1.5 / 2.25 / 3.0, derived from the source id
    // so the oracle reproduces it): every doc emits floor(epochs)
    // full copies plus one more iff its md5-uniform < the fractional
    // part — deterministic fractional epochs, no RNG state, exactly
    // reproducible across engines/runs/retries. Output is the
    // materialized replay plan (doc_id, source, copy_id).
    // Scale posture: ONE map-side projection + a bounded in-row
    // explode (≤ ceil(max epochs) copies per doc) — zero shuffles at
    // any corpus size; the epoch table itself is O(sources) and rides
    // the expression, not a join. A doc's copies land in the same
    // input split, which is what a downstream packing/shuffle step
    // wants to randomize anyway (q_split_assign's hash-bucket idiom).
    "q_mix_epochs" -> ((s, d) =>
      table(s, d, "documents")
        .withColumn("srcnum",
          regexp_extract(col("source"), "[0-9]+", 0).cast("int"))
        .withColumn("em", (pmod(col("srcnum"), lit(4)) + 1).cast("long")
          * lit(750000L))
        .withColumn("u", pmod(md5hash32(
          concat(lit("ep:"), col("source"), lit(":"),
                 col("doc_id").cast("string"))),
          lit(1000000L)))
        .withColumn("n_copies", expr(
          "em DIV 1000000 + CASE WHEN u < em % 1000000 THEN 1 ELSE 0 END"))
        .filter(col("n_copies") > 0)
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(0L), col("n_copies") - 1)).as("copy_id"))
        .orderBy("doc_id", "copy_id")),

    // Temperature-based mixture reweighting — the multilingual-corpus
    // mixing step (alpha-sampling): a source's sampling weight is
    // proportional to n^(1/T) rather than n, boosting low-resource
    // sources. T=2 here, i.e. sqrt scaling. Cross-engine exactness:
    // sqrt is IEEE-correctly-rounded in both JVMs and libm, the inputs
    // are exact integers well inside double's 2^52 window, and the
    // weights are micro-unit INTEGER divisions of floor(sqrt(n)) sums —
    // no float summation order anywhere. The per-source frame is one
    // map-side-combined aggregate; the weight denominators attach as a
    // structurally certified 1-row broadcast (DECIMAL(38,0) products, so
    // the arithmetic survives corpus sizes where 10^6·n overflows
    // int64).
    "q_mix_temperature" -> ((s, d) => {
      val bySrc = table(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("n_chars_total"))
        .withColumn("s_temp",
          floor(sqrt(col("n_chars_total").cast("double"))).cast("long"))
      val totals = bySrc.agg(
        sum(col("n_chars_total")).as("chars_tot"),
        sum(col("s_temp")).as("s_tot"))
      bySrc.crossJoin(broadcast(totals))
        .select(col("source"), col("n_docs"), col("n_chars_total"),
          expr("CAST(1000000 * CAST(n_chars_total AS DECIMAL(38,0)) AS " +
               "DECIMAL(38,0)) DIV chars_tot").as("w_prop_micro"),
          expr("CAST(1000000 * CAST(s_temp AS DECIMAL(38,0)) AS " +
               "DECIMAL(38,0)) DIV s_tot").as("w_temp_micro"))
        .orderBy("source")
    }),

    // Soft dedup / copy-count down-weighting — the mixing policy that
    // keeps every copy of a duplicated document but weights each at
    // 1/copies, so duplicated content contributes ONE document's worth
    // of probability mass to the training blend (the alternative to
    // hard removal when provenance or recency must survive). Weights
    // are exact integer micro-units (1e6 DIV copies — no float sums),
    // and the per-source audit reports raw vs effective (weighted)
    // document counts plus the contraction ratio. Plan: one
    // content-key (normalized-md5) count shuffle — the exact-dedup
    // key the dedup family shares — one join back, one per-source
    // aggregate; every stage partitions by content or source at any
    // corpus size.
    "q_mix_softdedup" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("source"),
          md5(trim(lower(col("text"))).cast("binary")).as("k"))
      val copies = docs.groupBy(col("k"))
        .agg(count(lit(1)).as("copies"))
      docs.join(copies, Seq("k"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             count_distinct(col("k")).as("n_contents"),
             sum(expr("1000000 DIV copies")).as("eff_docs_micro"))
        .withColumn("softdedup_ratio",
          r6(col("eff_docs_micro").cast("double") /
             (col("n_docs") * lit(1000000L))))
        .orderBy("source")
    }),

    // Symmetric int8 quantization of embeddings: scale = 127/max|x|,
    // q_i = floor(x_i·scale + 0.5). Emits the audit scalars (scale,
    // quantized checksum, saturation count) rather than the int8 array
    // itself — the array would be a binary payload column in production.
    "q_embed_quantize" -> ((s, d) =>
      table(s, d, "embeddings")
        .withColumn("v", transform(col("embedding"), x => x.cast("double")))
        .withColumn("amax", array_max(transform(col("v"), x => abs(x))))
        .withColumn("scale",
          when(col("amax") > 0, lit(127.0) / col("amax")))
        .withColumn("q", expr(
          "transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT))"))
        .select(col("vec_id"), r6(col("scale")).as("scale"),
          expr("aggregate(q, CAST(0 AS BIGINT), (acc, y) -> acc + y)")
            .as("qsum"),
          size(expr("filter(q, y -> abs(y) >= 127)")).cast("long")
            .as("n_sat"))
        .orderBy("vec_id")),

    // END-TO-END corpus assembly — the stages above composed into the
    // one pass a pretraining ingest actually runs: quality gate (keep
    // verdicts only) → exact dedup (min doc_id per normalized body,
    // applied AFTER the gate so a kept duplicate of a dropped doc
    // survives) → deterministic split assignment → per-(split, lang)
    // corpus accounting. Reuses the same verdict function and hash
    // spellings as the standalone queries, so this is composition under
    // test, not new logic. Scale: two left-semi prunes (hash joins on
    // doc_id), one 16-byte-key dedup agg, one final small agg — every
    // stage is the shape its standalone twin already proved at 10×.
    "q_pipeline_e2e" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val kept = docs.join(
        TextOps.qualityVerdict(docs).filter(col("verdict") === "keep")
          .select("doc_id"),
        Seq("doc_id"), "left_semi")
      val deduped = kept.join(
        kept.groupBy(md5(trim(lower(col("text"))).cast("binary")).as("k"))
          .agg(min(col("doc_id")).as("doc_id")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      deduped
        .withColumn("h",
          pmod(md5hash32(col("doc_id").cast("string")), lit(100)))
        .withColumn("split",
          when(col("h") < 80, "train")
            .when(col("h") < 90, "val").otherwise("test"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(size(split(col("text"), " ")).cast("long"))
               .as("total_tokens"))
        .orderBy("split", "lang")
    }),

    // Decile stratification by document length — the curation primitive
    // behind "drop the bottom decile / oversample the top". Global
    // ntile(10) is a single-partition-sort anti-pattern at scale, so the
    // rank is decomposed: (a) a count histogram over DISTINCT n_tokens
    // values (bounded by the token-count domain, not the corpus) gives
    // each value its exclusive cumulative prior via a window over that
    // tiny frame; (b) the intra-value tiebreak rank is a row_number
    // windowed BY VALUE — partitioned, skew-bounded by the most common
    // length, never a global sort; (c) global rank = prior + intra rank,
    // and the ANSI-ntile bucket is closed-form integer arithmetic from
    // (rank, n). The oracle uses DuckDB's native ntile over the same
    // (n_tokens, doc_id) total order — closed form vs built-in agreeing
    // IS the test.
    "q_quality_bins" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val hist = docs.groupBy("n_tokens").agg(count(lit(1)).as("cnt"))
        .withColumn("cum_end",
          sum(col("cnt")).over(Window.orderBy("n_tokens")))
        .withColumn("cum_prior", col("cum_end") - col("cnt"))
      // corpus total off the tiny hist frame — not a third corpus scan
      val n = hist.agg(sum(col("cnt")).as("n"))
      val rw = Window.partitionBy("n_tokens").orderBy("doc_id")
      docs.withColumn("rn", row_number().over(rw).cast("long"))
        .join(hist.select("n_tokens", "cum_prior"), "n_tokens")
        .withColumn("rank", col("cum_prior") + col("rn"))
        .crossJoin(broadcast(n))
        .withColumn("q", expr("n DIV 10"))
        .withColumn("r", col("n") % 10)
        .withColumn("decile",
          when(col("rank") <= col("r") * (col("q") + 1),
               expr("(rank - 1) DIV (q + 1) + 1"))
            .otherwise(expr("r + (rank - r * (q + 1) - 1) DIV q + 1")))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
             min(col("n_tokens")).as("min_tokens"),
             max(col("n_tokens")).as("max_tokens"),
             sum(col("n_tokens")).as("total_tokens"))
        .orderBy("decile")
    }),
  )

  val oracles: Map[String, String] = Map(
    // The verdict CTE is the standalone q_quality_filter oracle embedded
    // verbatim — one spelling for one rule set.
    "q_pipeline_e2e" -> s"""
      WITH verdicts AS (${TextOps.oracles("q_quality_filter")}),
      kept AS (SELECT d.* FROM documents d
               JOIN verdicts v ON d.doc_id = v.doc_id
               WHERE v.verdict = 'keep'),
      keepmin AS (SELECT min(doc_id) AS doc_id FROM kept
                  GROUP BY md5(trim(lower(text)))),
      dedup AS (SELECT * FROM kept
                WHERE doc_id IN (SELECT doc_id FROM keepmin)),
      s AS (SELECT lang, text,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                        1, 8)) AS BIGINT) % 100 AS h
            FROM dedup)
      SELECT CASE WHEN h < 80 THEN 'train'
                  WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
             lang, count(*) AS n_docs,
             CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT))
                  AS BIGINT) AS total_tokens
      FROM s
      GROUP BY 1, 2
      ORDER BY split, lang""",

    "q_quality_bins" -> """
      WITH d AS (SELECT doc_id,
                        CAST(len(string_split(text, ' ')) AS BIGINT)
                          AS n_tokens
                 FROM documents),
      b AS (SELECT n_tokens,
                   ntile(10) OVER (ORDER BY n_tokens, doc_id) AS decile
            FROM d)
      SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_docs,
             min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      FROM b GROUP BY 1 ORDER BY 1""",

    "q_text_chunk" -> s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok,
                        len(string_split(text, ' ')) AS n_tok
                 FROM documents),
      c AS (SELECT doc_id, tok, n_tok,
                   unnest(range(0, ((n_tok - 1) // $ChunkTokens) + 1))
                     AS chunk_id
            FROM t)
      SELECT doc_id, chunk_id,
             CAST(least($ChunkTokens, n_tok - chunk_id * $ChunkTokens)
                  AS BIGINT) AS chunk_tokens,
             array_to_string(tok[chunk_id * $ChunkTokens + 1 :
                                 chunk_id * $ChunkTokens + $ChunkTokens],
                             ' ') AS chunk_text
      FROM c
      ORDER BY doc_id, chunk_id""",

    "q_text_repetition" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok
                 FROM documents
                 WHERE len(string_split(text, ' ')) >= 2),
      g AS (SELECT doc_id,
                   list_transform(range(1, len(tok)),
                     i -> tok[i] || ' ' || tok[i + 1]) AS grams
            FROM t)
      SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
             round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                   / len(grams), 6) AS rep_frac
      FROM g
      ORDER BY doc_id""",

    "q_mix_epochs" -> """
      WITH b AS (SELECT doc_id, source,
                   CAST((CAST(regexp_extract(source, '[0-9]+') AS INT) % 4
                         + 1) AS BIGINT) * 750000 AS em,
                   CAST(('0x' || substr(md5('ep:' || source || ':'
                           || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                     % 1000000 AS u
                 FROM documents),
      c AS (SELECT doc_id, source,
                   em // 1000000
                   + CASE WHEN u < em % 1000000 THEN 1 ELSE 0 END
                     AS n_copies
            FROM b)
      SELECT doc_id, source,
             CAST(unnest(range(0, n_copies)) AS BIGINT) AS copy_id
      FROM c WHERE n_copies > 0
      ORDER BY doc_id, copy_id""",

    "q_sample_weighted" -> """
      WITH tot AS (SELECT sum(n_chars) AS total FROM documents)
      SELECT doc_id, n_chars,
             CAST(n_chars * 100000000 // total AS BIGINT) AS pm,
             CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 1000000 AS u
      FROM documents, tot
      WHERE CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) % 1000000
            < n_chars * 100000000 // total
      ORDER BY doc_id""",

    "q_split_assign" -> """
      WITH h AS (SELECT doc_id, text,
                        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                             1, 8)) AS BIGINT) % 100 AS h
                 FROM documents)
      SELECT CASE WHEN h < 80 THEN 'train'
                  WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
             count(*) AS n_docs,
             CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT))
                  AS BIGINT) AS total_tokens
      FROM h
      GROUP BY 1
      ORDER BY split""",

    "q_pack_sequences" -> s"""
      WITH t AS (SELECT doc_id, lang,
                        CAST(len(string_split(text, ' ')) AS BIGINT)
                          AS n_tok
                 FROM documents),
      p AS (SELECT doc_id, lang, n_tok,
                   coalesce(sum(n_tok) OVER (PARTITION BY lang
                     ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS prior
            FROM t)
      SELECT lang, CAST(floor(prior / $CtxTokens.0) AS BIGINT) AS bin_id,
             count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM p
      GROUP BY lang, CAST(floor(prior / $CtxTokens.0) AS BIGINT)
      ORDER BY lang, bin_id""",

    "q_mix_weighted" -> """
      WITH t AS (
        SELECT source,
               (CAST(regexp_extract(source, '[0-9]+') AS INT) % 4 + 1) * 200
                 AS rate,
               CAST(('0x' || substr(md5(source || ':' ||
                                        CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 1000 AS h
        FROM documents)
      SELECT source, count(*) AS n_total,
             CAST(sum(CASE WHEN h < rate THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             round(CAST(sum(CASE WHEN h < rate THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*), 6) AS obs_rate,
             round(CAST(max(rate) AS DOUBLE) / 1000, 6) AS target_rate
      FROM t
      GROUP BY source
      ORDER BY source""",

    "q_mix_temperature" -> """
      WITH s AS (SELECT source, count(*) AS n_docs,
                        CAST(sum(n_chars) AS BIGINT) AS n_chars_total
                 FROM documents GROUP BY source),
      t AS (SELECT source, n_docs, n_chars_total,
                   CAST(floor(sqrt(CAST(n_chars_total AS DOUBLE)))
                        AS BIGINT) AS s_temp
            FROM s),
      tot AS (SELECT sum(n_chars_total) AS chars_tot,
                     sum(s_temp) AS s_tot FROM t)
      SELECT source, n_docs, n_chars_total,
             CAST((1000000 * CAST(n_chars_total AS HUGEINT)) // chars_tot
                  AS BIGINT) AS w_prop_micro,
             CAST((1000000 * CAST(s_temp AS HUGEINT)) // s_tot
                  AS BIGINT) AS w_temp_micro
      FROM t, tot
      ORDER BY source""",

    "q_mix_softdedup" -> """
      WITH dk AS (SELECT source, md5(trim(lower(text))) AS k
                  FROM documents),
      c AS (SELECT k, count(*) AS copies FROM dk GROUP BY k)
      SELECT source, count(*) AS n_docs,
             count(DISTINCT dk.k) AS n_contents,
             CAST(sum(1000000 // copies) AS BIGINT) AS eff_docs_micro,
             round(CAST(sum(1000000 // copies) AS DOUBLE)
                   / (count(*) * 1000000), 6) AS softdedup_ratio
      FROM dk JOIN c ON dk.k = c.k
      GROUP BY source ORDER BY source""",

    "q_embed_quantize" -> """
      WITH v AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
      a AS (SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) AS amax
            FROM v),
      s AS (SELECT vec_id, v,
                   CASE WHEN amax > 0 THEN 127.0 / amax END AS scale
            FROM a),
      q AS (SELECT vec_id, scale,
                   list_transform(v,
                     x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS q
            FROM s)
      SELECT vec_id, round(scale, 6) AS scale,
             CAST(list_sum(q) AS BIGINT) AS qsum,
             CAST(len(list_filter(q, y -> abs(y) >= 127)) AS BIGINT)
               AS n_sat
      FROM q
      ORDER BY vec_id""",
  )
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.MemoLog

/** Deduplication family for a training-data pipeline (north star,
  * BASELINE.json:6): exact, n-gram Jaccard, MinHash+LSH banding, SimHash,
  * and embedding-cosine near-dup.
  *
  * All randomness is replaced by fixed hash parameters so every variant is
  * oracle-matchable (SURVEY.md §7.3): the shingle hash is the first 8 hex
  * chars of md5 (identical in both engines), and the MinHash family is
  * h_i(x) = (a_i·x + b_i) mod 1e9+7 with fixed (a_i, b_i).
  *
  * Scale posture: exact dedup and MinHash/LSH shuffle by hash key —
  * linear-ish and skew-tolerant at 100 TB. The pair verifiers are
  * candidate-driven, never all-pairs: q_dedup_ngram equi-joins on the
  * hashed shingle (quadratic only within a shared-shingle cluster) and
  * q_dedup_embed equi-joins on an 8-bit sign bucket before the exact
  * cosine check — both plan as hash joins, not nested loops.
  */
object DedupOps {

  private val P = 1000000007L
  private val A = Seq(2L, 3L, 5L, 7L, 11L, 13L, 17L, 19L)
  private val B = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)

  /** doc_id → 60-bit hashes of the doc's 3-token shingles (docs with
    * ≥3 tokens), duplicates included — every consumer distincts on
    * (doc_id, h) anyway, which is row-identical to the former
    * per-doc array_distinct-on-strings + post-hash distinct (same
    * collision budget: hash collisions were already accepted
    * corpus-wide). The repartition spreads the explode+digest work:
    * the test corpus is one single-row-group parquet file (an
    * unsplittable 1-task scan), and everything before the first
    * shuffle would otherwise run on one core; at real scale the scan
    * is already multi-partition and this is one cheap extra exchange.
    * Hashing rides the native WindowHash60 kernel (K=3) — the former
    * transform(sequence, i -> concat_ws(element_at×3)) spelling built
    * every shingle STRING on the interpreted lambda path before the
    * codegen md5 could even see it. Hash-identical to
    * md5hash60(concat_ws(" ", w1, w2, w3)) per WindowHash60Spec, so
    * every oracle is untouched. */
  private def shingleHashes(s: SparkSession, d: String): DataFrame =
    shingleHashesOf(s, table(s, d, "documents"))

  private def shingleHashesOf(s: SparkSession,
                              docs: DataFrame): DataFrame =
    docs
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("tok", split(col("text"), " "))
      .filter(size(col("tok")) >= 3)
      .select(col("doc_id"), explode(graft.functions.TextFunctions
        .windowHash60(col("tok"), 3)).as("h"))

  /** Exact n-gram Jaccard pairs (J >= 0.3) over hashed 3-shingles — feeds
    * both q_dedup_ngram and the cluster query. persist: the hashed-shingle
    * set feeds both self-join sides AND the per-doc counts — without it
    * Catalyst recomputes the explode+md5+distinct subtree three times (no
    * exchange reuse across different exchange types). ~1.2M rows × 16 B at
    * sf0.1; at 100 TB this is the materialize-once shuffle input.
    * Memoized per (session, dir) in [[graft.MemoLog]]: both consumers
    * in one Verify/Bench run share the cached frame instead of
    * rebuilding the pipeline. */
  private def jaccardPairs(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "dedup.jaccard")(buildJaccardPairs(s, d))

  /** [[graft.MemoLog.release]], under the name the benchmark harness
    * calls. */
  def clearPairsCache(): Unit = MemoLog.release()

  /** Build + materialize every memoized frame that MORE THAN ONE suite
    * query consumes, so a full-suite bench pass charges shared
    * infrastructure to an explicit "shared_builds" step instead of to
    * whichever consumer happens to run first (the r17 official-bench
    * attribution gap: q_dedup_incremental read 11.5 s vs 2.7 s between
    * same-code runs depending on which row paid the rep-shingle build).
    * Gate-aware: only the active path's frames are built — exactly the
    * set a full-suite run would build anyway, so total work is
    * unchanged, only its attribution. Single-consumer frames (the
    * chunk audit's chunks16, the per-nprobe sensitivity frames) stay
    * with their query: moving them would hollow out that query's row.
    * Memoized — safe to call repeatedly; each Bench pass calls it once
    * after the between-pass cache release. */
  def prebuildShared(s: SparkSession, d: String): Unit = {
    val c = contracted(s, d) // reads (and builds) the persisted rawDoc2Rep
    // the rep-level shingle frame is read on BOTH paths: the
    // contamination probe and the incremental-ingest corpus prune
    repHashedShingles(s, d)
    if (c) {
      repJaccardPairs(s, d); shingledD2r(s, d)
      repBands(s, d); repBandPairsAll(s, d)
      cappedRepShingles(s, d)
      vec2content(s, d); canonEmbedPairs(s, d); selfCosContents(s, d)
    } else {
      hashedShingles(s, d); jaccardPairs(s, d)
      minhashPairs(s, d); cappedShingles(s, d)
    }
    minhashDocClusters(s, d) // the CC fixpoint (clusters + canonical)
    normedVecs(s, d); embedPairs(s, d)
    ()
  }

  /** Contraction gate threshold: the content-contracted spellings run
    * only when at least this fraction of docs are byte-exact copies.
    * Below it the corpus is near-all-distinct, contraction cannot
    * shrink anything, and its plumbing (rep map + semi-joins +
    * expansion joins) is pure tax — measured ~1.5–1.8× host-normalized
    * on the all-distinct sf0.1 bench in r13. Above it (the copy-dense
    * crawl-corpus case, e.g. the 100× stress fixture where every
    * content has 100 copies) contraction is the difference between
    * quadratic-in-copies and quadratic-in-contents. */
  private[graft] val ContractionGate = 0.02

  /** true ⇒ run the content-contracted dedup spellings. Decided from a
    * measured one-row duplicate-content fraction off the persisted
    * [[rawDoc2Rep]] map — driver-side adaptivity in the AQE spirit
    * (plan choice from runtime stats; the scalar read is iteration
    * control, not a data collect). Both spellings of every gated query
    * are row-identical BY CONSTRUCTION on any corpus — shingle sets,
    * MinHash signatures, band keys, cosines and Jaccard are pure
    * functions of the raw content bytes — so the gate changes cost
    * shape only, never answers. Locked by ContractionGateSpec (both
    * paths forced via the `graft.dedup.contract` system property and
    * compared row-for-row) and by ContractionSpec's copy-dense corpus,
    * which sits far above the gate and exercises the contracted path
    * against a shared-nothing union-find referee. One gate serves the
    * text AND embedding families: it is measured on the documents
    * table, and embeddings are derived 1:1 from docs in any corpus
    * this engine stages (copy density transfers) — a mismatch would
    * cost only the plumbing tax, never correctness. Memoized per
    * (session, dir) and ledgered as `dedup.contract_gate`. */
  private def contracted(s: SparkSession, d: String): Boolean =
    sys.props.get("graft.dedup.contract") match {
      case Some("always") => true
      case Some("never")  => false
      case _ => MemoLog.value(s, d, "dedup.contract_gate") {
        val r = rawDoc2Rep(s, d)
          .agg(count(lit(1)).as("n"), countDistinct(col("rep")).as("nr"))
          .head()
        val frac = 1.0 - r.getLong(1).toDouble / math.max(r.getLong(0), 1L)
        val on = frac >= ContractionGate
        System.err.println(
          f"[dedup-gate] dup_frac=$frac%.4f contracted=$on")
        on
      }
    }

  /** The shingle-set → verified-pairs pipeline shared by the uncapped
    * (jaccardPairs) and stop-shingle-capped variants: per-doc set sizes,
    * equi-self-join on the shingle hash (quadratic only within a
    * shingle's posting list), then the exact Jaccard >= 0.3 filter. */
  private def pairsFromShingleSets(sh: DataFrame): DataFrame = {
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") &&
                        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .join(counts.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(counts.as("cb"), col("doc_b") === col("cb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        r6(col("shared").cast("double") /
           (col("ca.n_sh") + col("cb.n_sh") - col("shared"))).as("jaccard"))
      .filter(col("jaccard") >= 0.3)
  }

  /** The CORPUS-WIDE distinct hashed-shingle set, memoized+persisted
    * under its own tag (so the store's release frees it) — the largest
    * frame in this module. Two hashed-shingle frames exist (see also
    * [[repHashedShingles]], the rep-only twin): THIS one feeds the
    * DIRECT-path consumers — the uncapped pair join, the direct-path
    * stop-shingle cap, corpusBands and the chunk audit — while the
    * contracted MinHash/Jaccard family and the contamination probe read
    * the rep frame. A session whose gate picks one path builds only
    * that path's explode pass; a session forced onto both (the spec
    * harness) pays both, by design. Without the persist each consumer
    * would rebuild the explode+md5+distinct pipeline, because Catalyst
    * has no cross-branch subtree reuse.
    * 60-bit hash: shingle hashes are corpus-wide-cardinality keys, and a
    * 32-bit space saturates at 100 TB (see md5hash60's scaladoc); only
    * the MinHash signature inputs stay 32-bit (their permutation
    * arithmetic would overflow int64 at 60 bits — and MinHash is an
    * approximation by construction, so collision noise there is already
    * inside the error budget). */
  private def hashedShingles(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "dedup.jaccard_sh") {
      shingleHashes(s, d)
        .distinct()
        .persist()
    }

  /** Verified exact-Jaccard pairs (J ≥ 0.3) between DISTINCT contents —
    * [[pairsFromShingleSets]] run on the rep-only shingle frame. A
    * doc pair's shingle sets (hence shared count and Jaccard) are pure
    * functions of the two raw contents, so this is the complete
    * cross-content information of the uncapped family at a cost
    * quadratic in distinct contents, immune to copy density (the
    * uncontracted self-join fed through 100 copies of every posting
    * list filled the disk at the 100× sweep). Memoized + persisted:
    * the pair-listing expansion, the contracted cluster/degree/eval
    * spellings all read it. */
  private def repJaccardPairs(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "dedup.rep_jaccard") {
      pairsFromShingleSets(repHashedShingles(s, d)).persist()
    }

  /** (doc_id, rep) restricted to SHINGLED contents (≥3 tokens — a
    * property of the bytes, so a copy group is uniformly in or out),
    * probed at rep level against the tiny rep-only shingle frame,
    * never the corpus-wide explode. Shared by every contracted
    * expansion/labeling step. */
  private def shingledD2r(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "dedup.shingled_d2r") {
      rawDoc2Rep(s, d).select("doc_id", "rep")
        .join(repHashedShingles(s, d)
                .select(col("doc_id").as("rep")).distinct(),
              Seq("rep"), "semi")
        .persist()
    }

  /** Copy count per shingled content: (rep, c). Cheap aggregate off the
    * persisted [[shingledD2r]]; the contracted degree/eval spellings
    * weight rep-level answers by it. */
  private def shingledCopyCounts(s: SparkSession, d: String): DataFrame =
    shingledD2r(s, d).groupBy("rep").agg(count(lit(1)).as("c"))

  /** Full verified pair listing. Direct path (near-all-distinct corpus):
    * the corpus-wide posting-list self-join — no contraction plumbing.
    * Contracted path (copy-dense corpus): rep-level verification
    * ([[repJaccardPairs]]) EXPANDED through the copy map, plus the
    * within-content copy cliques (byte-equal shingled docs share all
    * shingles ⇒ J = 1, shared = the content's set size). Exactness:
    * a cross-content pair's (shared, jaccard) equals its rep pair's;
    * the expansion joins move ids and are linear in the OUTPUT, which
    * is itself the uncontracted listing — nothing asymptotically
    * larger than the answer is materialized. */
  private def buildJaccardPairs(s: SparkSession, d: String): DataFrame =
    if (!contracted(s, d))
      pairsFromShingleSets(hashedShingles(s, d))
        .persist() // tiny verified pairs, shared by the direct-path
                   // ngram/clusters/degree/eval consumers
    else {
       val d2r = rawDoc2Rep(s, d).select("doc_id", "rep")
       val cross = repJaccardPairs(s, d)
         .join(d2r.select(col("rep").as("doc_a"), col("doc_id").as("ia")),
               Seq("doc_a"))
         .join(d2r.select(col("rep").as("doc_b"), col("doc_id").as("ib")),
               Seq("doc_b"))
         .select(least(col("ia"), col("ib")).as("doc_a"),
                 greatest(col("ia"), col("ib")).as("doc_b"),
                 col("shared"), col("jaccard"))
       val sized = shingledD2r(s, d).join(
         repHashedShingles(s, d)
           .groupBy(col("doc_id").as("rep")).agg(count(lit(1)).as("n_sh")),
         Seq("rep"))
       val within = sized.as("x")
         .join(sized.as("y"), col("x.rep") === col("y.rep") &&
                              col("x.doc_id") < col("y.doc_id"))
         .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
                 col("x.n_sh").as("shared"), lit(1.0).as("jaccard"))
       // NOT persisted: on the contracted path only q_dedup_ngram reads
       // the (inherently copy-quadratic) listing, and its expansion
       // joins stream off the persisted repJaccardPairs — caching the
       // output would re-inflate peak storage by exactly the blowup the
       // contraction avoids.
       cross.unionAll(within)
     }

  /** MinHash/LSH candidate pairs (doc_a < doc_b, n_bands = shared-band
    * count) — feeds q_dedup_minhash, its cluster query, the
    * recall/precision audit, and the multi-signal lexical edges. The
    * banded signatures are persisted + memoized: both self-join sides
    * read them (without the persist the whole shingle→md5→minhash
    * aggregation runs twice). The resulting PAIR frame is memoized too —
    * it is tiny (the band collisions) and read by four queries per
    * bench pass, so caching it saves three runs of the band self-join
    * per pass; memoization keeps repeat invocations from stacking
    * duplicate persisted copies. */
  private def minhashPairs(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "dedup.minhash_pairs") {
      // Persist only on the direct path, where the (small, near-all-
      // distinct) listing is read by both q_dedup_minhash and the eval
      // audit. On the contracted path the listing is copy-quadratic,
      // has one consumer (q_dedup_minhash), and streams off the
      // persisted rep-level band pairs — caching it would re-inflate
      // peak storage by exactly the blowup the contraction avoids.
      val p = buildMinhashPairs(s, d)
      if (!contracted(s, d)) p.persist() else p
    }

  /** Band self-join: candidate pairs (doc_a < doc_b) with shared-band
    * count, from any (doc_id, band, bkey) frame. */
  private def bandPairs(bands: DataFrame): DataFrame =
    bands.as("a")
      .join(bands.as("b"), col("a.band") === col("b.band") &&
        col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))

  /** MinHash signature + band explode from any (doc_id, h) hashed-shingle
    * frame.
    *
    * The 32-bit MinHash input is the top 32 bits of the 60-bit shingle
    * hash (first 8 vs first 15 hex chars of the same md5, so
    * h32 = h60 >> 28 — bit-exact with the oracle's substr(md5,1,8)).
    * Two hashed-shingle frames exist: the corpus-wide [[hashedShingles]]
    * (read by the direct-path band/pair joins, the stop-shingle cap and
    * the chunk audit) and the rep-only [[repHashedShingles]] (read by
    * the contracted MinHash/Jaccard family and the contamination
    * probe); a session whose gate picks one path builds only that
    * frame's explode pass. min() over an h60-distinct set equals min()
    * over the raw multiset (equal h60 ⇒ equal h32), so signatures are
    * identical from either frame. */
  private def bandsFromHashedShingles(hs: DataFrame): DataFrame = {
    val hashed = hs.select(col("doc_id"), shiftright(col("h"), 28).as("h"))
    val mins = A.indices.map(i =>
      min((col("h") * A(i) + B(i)) % P).as(s"m$i"))
    val sig = hashed.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    // Band key packed as a BIGINT: m0·P + m1 (each min < P = 1e9+7, so
    // the product stays under 2^60 — exact int64 in both engines, and
    // injective, so the equality partition — hence the candidate set —
    // is identical to the former "m0,m1" string spelling at a fraction
    // of the shuffle bytes and none of the per-row string building).
    sig.select(col("doc_id"), explode(array(
      (0 until 4).map(j => struct(lit(j).as("band"),
        (col(s"m${2 * j}") * P + col(s"m${2 * j + 1}"))
          .as("bkey"))): _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"),
              col("b.bkey").as("bkey"))
  }

  /** Hashed 3-shingles of the byte-exact content REPRESENTATIVES only —
    * the contracted corpus is shingled directly (documents semi-joined
    * to the rep ids BEFORE the explode), so shingle volume is linear in
    * DISTINCT contents, not raw copies. The corpus-wide hashedShingles
    * frame would compute the identical rows for these doc_ids (the
    * explode+md5+distinct pipeline is per-doc), but materializing it
    * costs the full copy-multiplied explode + distinct shuffle first —
    * at the 100× stress corpus that is ~50 M shingle rows built to feed
    * a 4.4 K-rep semi-join (measured ~50 s of the cluster query's
    * ~60 s). Memoized + persisted: signature generation and the
    * rep-shingled-ness probe read it. */
  private def repHashedShingles(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "dedup.rep_sh") {
      val reps = rawDoc2Rep(s, d)
        .filter(col("doc_id") === col("rep")).select("doc_id")
      shingleHashesOf(s,
          table(s, d, "documents").join(reps, Seq("doc_id"), "semi"))
        .distinct()
        .persist()
    }

  /** Banded signatures restricted to byte-exact content representatives
    * — the shared signal source of every MinHash consumer (the full
    * pair listing via expansion, both contracted clustering queries'
    * lexical edges). Built from the rep-only shingle frame: identical
    * rows to banding the corpus-wide shingle set semi-joined to reps,
    * without ever materializing the copy-multiplied explode. Memoized +
    * persisted — the sig aggregation + band explode run once per
    * session, not once per consumer. */
  private def repBands(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "dedup.rep_bands") {
      bandsFromHashedShingles(repHashedShingles(s, d)).persist()
    }

  /** Content-level hot-shingle stop list: h values whose document
    * frequency (counted over DISTINCT CONTENTS, never raw copies)
    * exceeds clamp(2·mean(df), 8, 50) — the adaptive boilerplate clamp
    * shared by the CAPPED dedup contracts (q_dedup_ngram_capped,
    * q_dedup_containment). Spelled without division or floats:
    * df > clamp(2·Σdf/n, 8, 50) ⟺ df > 50 ∨ (df > 8 ∧ df·n > 2·Σdf)
    * (min/max distribute over strict >), all integer arithmetic in
    * DECIMAL(38,0) — bit-identical in both engines for any corpus with
    * df·n < 10^38 (a 100 TB corpus sits near 10^28). The (Σdf, n) pair
    * joins the df frame as a broadcast 1-row scalar, never a collect. */
  private def hotShingleSet(dfs: DataFrame): DataFrame = {
    val thr = dfs.agg(sum(col("df").cast("decimal(38,0)")).as("sdf"),
                      count(lit(1)).as("n"))
    dfs.join(broadcast(thr))
      .filter(col("df") > 50 ||
              (col("df") > 8 &&
               col("df").cast("decimal(38,0)") * col("n") >
                 col("sdf") * 2))
      .select("h")
  }

  /** Corpus-wide hashed shingles with hot (boilerplate) shingles
    * dropped — the DIRECT-path frame of the capped contracts. Content-
    * level df is computed through the copy map (a near-identity on this
    * path — the rep-only explode would be a second full pass here, the
    * countDistinct collapses copies instead) so the clamp is invariant
    * under copy density. Capped posting lists are ≤ T ≤ 50 long, so any
    * posting-list self-join over this frame has per-shingle fan-in
    * provably ≤ T² — the hot-shingle quadratic cannot occur. Memoized +
    * persisted. */
  private def cappedShingles(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "dedup.capped_sh") {
      val all = hashedShingles(s, d)
      val dfs = all
        .join(rawDoc2Rep(s, d).select("doc_id", "rep"), "doc_id")
        .groupBy("h").agg(countDistinct(col("rep")).as("df"))
      all.join(hotShingleSet(dfs), Seq("h"), "left_anti").persist()
    }

  /** Rep-only capped shingle frame — the CONTRACTED-path twin of
    * [[cappedShingles]] (the rep frame's per-h count IS content df, so
    * no copy-map join is needed). Same exactness argument as the other
    * rep frames: capped sets are pure functions of content bytes, so
    * byte-equal copies share the whole capped set. */
  private def cappedRepShingles(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "dedup.capped_rep_sh") {
      val rsh = repHashedShingles(s, d)
      val dfs = rsh.groupBy("h").agg(count(lit(1)).as("df"))
      rsh.join(hotShingleSet(dfs), Seq("h"), "left_anti").persist()
    }

  /** Rep-level candidate pairs with shared-band count — the contracted
    * form of the corpus-wide band self-join. Shingles (hence signatures
    * and band keys) are pure functions of the RAW text bytes, so a band
    * collision exists between two docs iff it exists between their
    * byte-exact representatives, with the same shared-band count; pair
    * volume is quadratic in DISTINCT contents, immune to the copy
    * density an adversarially duplicated crawl corpus brings (the r10
    * 100× row paid 268 s banding all 100 copies of every content).
    * Memoized + persisted: the full-listing expansion and both
    * clustering queries read it. */
  private def repBandPairsAll(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "dedup.rep_band_pairs_all") {
      bandPairs(repBands(s, d)).persist()
    }

  /** ≥2-band rep pairs — the AND-amplified lexical edge set both
    * contracted clustering queries consume (a cheap filter over the
    * persisted [[repBandPairsAll]]). */
  private def repBandPairs(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "dedup.rep_band_pairs") {
      repBandPairsAll(s, d).filter(col("n_bands") >= 2)
        .select(col("doc_a"), col("doc_b"))
    }

  /** Per-doc MinHash/LSH cluster labels (doc_id, cluster) — connected
    * components over the >= 2-band candidate pairs via pointer-doubling
    * min-label propagation, docs outside any pair labeled by themselves.
    * Direct path clusters doc pairs; contracted path clusters rep pairs
    * and expands labels through the copy map (see
    * q_dedup_minhash_clusters' scaladoc for the exactness argument).
    * Memoized WITHOUT persist: the fixpoint output is localCheckpoint-
    * backed, so the second consumer (q_dedup_canonical) re-runs only the
    * cheap expansion joins, never a second CC fixpoint. */
  private def minhashDocClusters(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "dedup.minhash_doc_clusters") {
      val docs = table(s, d, "documents").select(col("doc_id"))
      if (!contracted(s, d)) {
        // direct mode: minhashPairs IS the memoized+persisted corpus
        // band self-join — reuse it rather than re-running the join
        val pairs = minhashPairs(s, d)
          .filter(col("n_bands") >= 2)
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        val sym = pairs.unionAll(
          pairs.select(col("dst").as("src"), col("src").as("dst")))
        val (labels, _) = propagateMinLabels(sym, "minhash_doc_clusters")
        docs
          .join(labels.withColumnRenamed("cluster", "c"),
                Seq("doc_id"), "left")
          .select(col("doc_id"),
                  coalesce(col("c"), col("doc_id")).as("cluster"))
      } else {
        val pairs = repBandPairs(s, d)
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        val sym = pairs.unionAll(
          pairs.select(col("dst").as("src"), col("src").as("dst")))
        val (labels, _) =
          propagateMinLabels(sym, "minhash_doc_clusters:contracted")
        docs
          .join(shingledD2r(s, d), Seq("doc_id"), "left")
          .join(labels.withColumnRenamed("doc_id", "rep")
                      .withColumnRenamed("cluster", "c"),
                Seq("rep"), "left")
          .select(col("doc_id"),
                  coalesce(col("c"), col("rep"), col("doc_id"))
                    .as("cluster"))
      }
    }

  /** doc_id → byte-exact representative (min doc_id of its RAW-byte-
    * identical text group) + the normalized-content key `nk` riding
    * along for the exact-dup signal. The contraction key is the raw
    * bytes, NOT trim(lower(...)): shingles are computed on the raw text
    * (shingleHashesOf), so only byte-equality guarantees equal
    * signatures. Contracting on the normalized key would force case/
    * whitespace-variant docs — whose signatures genuinely differ —
    * into one signature class, silently merging clusters the
    * uncontracted semantics keeps apart (locked by ContractionSpec's
    * case-variant corpus). Memoized + persisted — remap joins,
    * rep-restricted signal generation, the pair-listing expansions and
    * final assembly all read it. */
  private def rawDoc2Rep(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "dedup.raw_doc2rep") {
      val keyed = table(s, d, "documents").select(col("doc_id"),
        md5(col("text").cast("binary")).as("rk"),
        md5(trim(lower(col("text"))).cast("binary")).as("nk"))
      keyed.groupBy("rk").agg(min(col("doc_id")).as("rep"))
        .join(keyed, "rk")
        .select(col("doc_id"), col("rep"), col("nk")).persist()
    }

  /** Corpus-wide banded signatures — the direct-path signal source when
    * the gate measures a near-all-distinct corpus (contraction would
    * shrink nothing and its rep map + expansion joins are pure tax).
    * Memoized + persisted: both band self-join sides read it. */
  private def corpusBands(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "dedup.corpus_bands") {
      bandsFromHashedShingles(hashedShingles(s, d)).persist()
    }

  /** Full MinHash/LSH candidate listing. Direct path: the corpus-wide
    * band self-join. Contracted path, by EXPANSION: rep-level band
    * pairs pulled back through the copy map, plus the within-content
    * pairs (byte-equal shingled docs share all 4 bands). Candidate
    * generation is quadratic only in distinct contents; the expansion
    * joins move ids and are linear in the OUTPUT — which is itself the
    * uncontracted listing, so nothing asymptotically larger than the
    * answer is ever materialized. Exactness: shared-band count is a
    * function of the two raw contents, so every copy pair of a
    * colliding content pair appears with the rep pair's n_bands;
    * byte-equal copies share all 4 bands (same signature) iff shingled,
    * and shingled-ness is content-determined. */
  private def buildMinhashPairs(s: SparkSession, d: String): DataFrame =
    if (!contracted(s, d)) bandPairs(corpusBands(s, d))
    else {
      val d2r = rawDoc2Rep(s, d).select("doc_id", "rep")
      val cross = repBandPairsAll(s, d)
        .join(d2r.select(col("rep").as("doc_a"), col("doc_id").as("ia")),
              Seq("doc_a"))
        .join(d2r.select(col("rep").as("doc_b"), col("doc_id").as("ib")),
              Seq("doc_b"))
        .select(least(col("ia"), col("ib")).as("doc_a"),
                greatest(col("ia"), col("ib")).as("doc_b"),
                col("n_bands"))
      val shingledCopies = d2r.join(
        repBands(s, d).select(col("doc_id").as("rep")).distinct(),
        Seq("rep"))
      val within = shingledCopies.as("x")
        .join(shingledCopies.as("y"),
          col("x.rep") === col("y.rep") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
                lit(4L).as("n_bands"))
      cross.unionAll(within)
    }

  /** Embedding near-dup pairs: sign-LSH banded candidates verified at
    * cos ≥ 0.45 — the full pipeline documented on q_dedup_embed (which
    * just orders this frame); also the semantic edge source for the
    * multi-signal cluster query. Returns distinct (vec_a, vec_b, cos),
    * memoized + persisted (tiny — the verified pairs) so the two
    * consumers per bench pass share one run of the candidate join. */
  private def embedPairs(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "dedup.embed_pairs") {
      // Persist only on the direct path (tiny verified pairs, read by
      // q_dedup_embed AND the multi-signal semantic edges). On the
      // contracted path the expanded listing is copy-quadratic with one
      // consumer (q_dedup_embed); multi-signal reads the persisted
      // canonical pairs instead.
      val p = buildEmbedPairs(s, d)
      if (!contracted(s, d)) p.persist() else p
    }

  /** vec_id → canonical vector-content representative (min vec_id of
    * its byte-identical embedding group) + the vector's norm. Band
    * keys and cosines are pure functions of the vector values, so this
    * is the embedding-side contraction map: candidate generation runs
    * on one canonical vector per distinct content. Memoized +
    * persisted (both pair expansions and the multi-signal star read
    * it). */
  private def vec2content(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "dedup.ms_vec2content") {
      val n = normedVecs(s, d)
      n.join(n.groupBy(col("v")).agg(min(col("vec_id")).as("vrep")),
             Seq("v"))
        .select(col("vec_id"), col("vrep"), col("nrm")).persist()
    }

  /** Verified near-dup pairs between DISTINCT embedding contents —
    * the sign-LSH candidate join + exact-cosine verifier run on one
    * canonical vector per content, so pair volume is quadratic in
    * distinct contents, not raw copies (the uncontracted form banded
    * all 200 K vec copies of the 100× stress corpus and filled 78 GB
    * of shuffle before dying). Memoized + persisted: the q_dedup_embed
    * expansion and the multi-signal semantic edges share one run. */
  private def canonEmbedPairs(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "dedup.embed_canon_pairs") {
      val canon = normedVecs(s, d).join(
        vec2content(s, d).filter(col("vec_id") === col("vrep"))
          .select("vec_id"),
        Seq("vec_id"), "semi")
      pairsFromNormedVecs(canon).persist()
    }

  /** Per-content SELF cosine (canonical vector against itself),
    * filtered at the same ≥ 0.45 threshold — decides whether copies of
    * one content pair up, with the exact expression the uncontracted
    * verifier would have evaluated on the copy pair (same values, same
    * float ops — bit-identical, including the degenerate zero-norm
    * division). Tiny (≤ one row per content); memoized + persisted for
    * its two consumers. */
  private def selfCosContents(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "dedup.embed_self_cos") {
      import graft.functions.VectorFunctions.dot_product
      normedVecs(s, d).join(
          vec2content(s, d).filter(col("vec_id") === col("vrep"))
            .select("vec_id"),
          Seq("vec_id"), "semi")
        .select(col("vec_id").as("vrep"),
          r6(dot_product(col("v"), col("v")) /
             (col("nrm") * col("nrm"))).as("cos"))
        .filter(col("cos") >= 0.45)
        .persist()
    }

  /** Normed embedding vectors (vec_id, v, nrm), memoized + persisted:
    * band explode and both gather sides read them; memoization keeps
    * repeat invocations (bench warm pass, shared sessions) from stacking
    * duplicate persisted copies. */
  private def normedVecs(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "dedup.embed_normed") {
      import graft.functions.VectorFunctions.l2_norm
      // The test corpus is one small parquet file → a 1-partition scan;
      // everything downstream of a broadcast join inherits the probe
      // side's partitioning, so without a spread the entire candidate
      // join + cosine scoring would run as ONE task. Explicit
      // repartition (exempt from AQE coalescing) restores core-width
      // parallelism; at real scale the scan arrives multi-partition and
      // this exchange is a few MB of vectors.
      table(s, d, "embeddings").select(col("vec_id"),
        col("embedding").as("v"), l2_norm(col("embedding")).as("nrm"))
        .repartition(s.sparkContext.defaultParallelism)
        .persist()
    }

  /** Full embedding pair listing. Direct path (near-all-distinct
    * vectors): band + verify the whole corpus, no contraction plumbing.
    * Contracted path: EXPANSION of [[canonEmbedPairs]]
    * through the copy map, plus within-content copy pairs gated on the
    * content's self-cosine ([[selfCosContents]]). The cosine of any
    * copy pair equals its content pair's cosine (byte-identical
    * vectors), so the expanded listing is row-identical to the
    * uncontracted candidate join + verifier; only the cost shape
    * changes — candidate generation quadratic in distinct contents,
    * expansion linear in the (inherently copy-quadratic) output. */
  private def buildEmbedPairs(s: SparkSession, d: String): DataFrame =
    if (!contracted(s, d)) pairsFromNormedVecs(normedVecs(s, d))
    else expandedEmbedPairs(s, d)

  private def expandedEmbedPairs(s: SparkSession, d: String): DataFrame = {
    val v2c = vec2content(s, d).select("vec_id", "vrep")
    val cross = canonEmbedPairs(s, d)
      .join(v2c.select(col("vrep").as("vec_a"), col("vec_id").as("ia")),
            Seq("vec_a"))
      .join(v2c.select(col("vrep").as("vec_b"), col("vec_id").as("ib")),
            Seq("vec_b"))
      .select(least(col("ia"), col("ib")).as("vec_a"),
              greatest(col("ia"), col("ib")).as("vec_b"),
              col("cos"))
    val nearCopies = v2c.join(selfCosContents(s, d), Seq("vrep"))
    val within = nearCopies.as("x")
      .join(nearCopies.as("y"),
        col("x.vrep") === col("y.vrep") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
              col("x.cos").as("cos"))
    cross.unionAll(within)
  }

  private def pairsFromNormedVecs(n: DataFrame, cell: Boolean = false)
      : DataFrame = {
    import graft.functions.VectorFunctions.dot_product
    // Band key = the 4 sign bits packed into an int nibble (any
    // injective encoding of the bits induces the same equality
    // partition, so the candidate set is identical to the oracle's
    // '0101' string spelling — at a quarter of the shuffle bytes and
    // none of the per-row string building).
    //
    // `cell = true` adds the k-means cell id to the equi-join key —
    // banding WITHIN cells: Catalyst puts (cid, band, bkey) into one
    // shuffle key, so candidate volume is per-cell-bounded and a
    // 1000-executor run holds one cell's band buckets at a time. Pair
    // set is provably the same as global banding ∩ same-cell (band
    // collision is a pure function of the two vectors' sign patterns,
    // independent of cid) — only the candidate volume shrinks.
    val keep = if (cell) Seq(col("vec_id"), col("cid"))
               else Seq(col("vec_id"))
    val bands = n.select(keep :+ explode(array(
      (0 until 16).map(j => struct(lit(j).as("band"),
        (1 to 4).map(i =>
          when(element_at(col("v"), j * 4 + i) > 0.0f, lit(1 << i))
            .otherwise(lit(0))).reduce(_ + _).as("bkey"))): _*)).as("b"): _*)
      .select(keep ++ Seq(col("b.band").as("band"),
              col("b.bkey").as("bkey")): _*)
    // Candidate pairs stay a MULTISET (one row per shared band): the
    // exact-cosine verifier is a codegen'd 64-wide dot product — cheap
    // enough that scoring duplicate candidates (~1.5× rows on this
    // corpus) costs far less than the alternative, an Exchange that
    // deduplicates millions of candidate pairs before scoring. The
    // threshold filter then prunes ~all of them, so the distinct that
    // restores set semantics shuffles only the surviving near-dup
    // pairs (hundreds, not millions). With an expensive verifier the
    // tradeoff flips — dedupe first, then score.
    val baseCond = col("a.band") === col("b.band") &&
      col("a.bkey") === col("b.bkey") && col("a.vec_id") < col("b.vec_id")
    val cond = if (cell) baseCond && col("a.cid") === col("b.cid")
               else baseCond
    val cand = bands.as("a").join(bands.as("b"), cond)
      .select(Seq(col("a.vec_id").as("ca"), col("b.vec_id").as("cb")) ++
        (if (cell) Seq(col("a.cid").as("cid")) else Nil): _*)
    val vn = n.select("vec_id", "v", "nrm")
    cand
      .join(vn.as("a"), col("ca") === col("a.vec_id"))
      .join(vn.as("b"), col("cb") === col("b.vec_id"))
      .select(Seq(col("ca").as("vec_a"), col("cb").as("vec_b")) ++
        (if (cell) Seq(col("cid")) else Nil) ++ Seq(
        r6(dot_product(col("a.v"), col("b.v")) /
           (col("a.nrm") * col("b.nrm"))).as("cos")): _*)
      .filter(col("cos") >= 0.45)
      .distinct()
  }

  /** Within-cell verified near-dup pairs (vec_a, vec_b, cid, cos) —
    * q_dedup_semantic's candidate frame, banded INSIDE each k-means
    * cell (the cid joins the band equi-key, so candidate volume is
    * per-cell-bounded — the end-to-end version of the "cells shard the
    * problem" claim; the former spelling banded the corpus globally
    * and post-filtered by cell, regenerating cross-cell candidates
    * only to throw them away). Row-identical to (embedPairs ∩
    * same-cell): band collision is a pure function of the two
    * vectors' sign patterns, so restricting the join to same-cell
    * pairs drops exactly the candidates the old filter dropped.
    *
    * Contracted path mirrors [[expandedEmbedPairs]]: canonical
    * contents band within their cells (byte-identical vectors have
    * identical centroid distances, so every copy of a content lands
    * in its canonical vector's cell), then the verified canonical
    * pairs expand through the copy map and each near-self content
    * contributes its within-content copy pairs — all same-cell by
    * construction. */
  private def cellEmbedPairs(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "dedup.cell_embed_pairs") {
      val cells = graft.ops.SimOps.kmeansCells(s, d)
        .select(col("vec_id"), col("cid"))
      if (!contracted(s, d)) {
        if (MemoLog.has(s, d, "dedup.embed_pairs"))
          // The GLOBAL verified pair frame is already materialized this
          // session (q_dedup_embed / multi-signal ran first — the usual
          // full-suite order): its generation cost is sunk and the frame
          // is persisted, so the same-cell restriction is two broadcast-
          // able cell joins over the tiny verified listing instead of a
          // second banded candidate build. Row-identical either way
          // (band collision is a pure function of the sign patterns —
          // the within-cell join generates exactly the global ∩
          // same-cell set); locked by R16OpsSpec's both-variants test.
          // A dedicated semantic-only run (the 100 TB shape) takes the
          // within-cell branch below and never generates a cross-cell
          // candidate.
          embedPairs(s, d)
            .join(cells.select(col("vec_id").as("vec_a"),
                               col("cid").as("ca")), Seq("vec_a"))
            .join(cells.select(col("vec_id").as("vec_b"),
                               col("cid").as("cb")), Seq("vec_b"))
            .filter(col("ca") === col("cb"))
            .select(col("vec_a"), col("vec_b"), col("ca").as("cid"),
                    col("cos"))
        else
          pairsFromNormedVecs(normedVecs(s, d).join(cells, Seq("vec_id")),
            cell = true).persist()
      } else {
        val v2c = vec2content(s, d).select("vec_id", "vrep")
        val canon = normedVecs(s, d)
          .join(v2c.filter(col("vec_id") === col("vrep"))
            .select("vec_id"), Seq("vec_id"), "semi")
          .join(cells, Seq("vec_id"))
        val cross = pairsFromNormedVecs(canon, cell = true)
          .join(v2c.select(col("vrep").as("vec_a"), col("vec_id").as("ia")),
                Seq("vec_a"))
          .join(v2c.select(col("vrep").as("vec_b"), col("vec_id").as("ib")),
                Seq("vec_b"))
          .select(least(col("ia"), col("ib")).as("vec_a"),
                  greatest(col("ia"), col("ib")).as("vec_b"),
                  col("cid"), col("cos"))
        val nearCopies = v2c
          .join(selfCosContents(s, d), Seq("vrep"))
          .join(cells.withColumnRenamed("vec_id", "vrep"), Seq("vrep"))
        val within = nearCopies.as("x")
          .join(nearCopies.as("y"),
            col("x.vrep") === col("y.vrep") &&
              col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
                  col("x.cid").as("cid"), col("x.cos").as("cos"))
        cross.unionAll(within)
      }
    }

  /** Oracle fragment: jp = jaccard>=0.3 pairs (mirrors jaccardPairs). */
  private lazy val jaccardPairsSql = s"""$shinglesSql,
      shh AS (SELECT DISTINCT doc_id,
                     CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h
              FROM sh),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
            FROM shh a JOIN shh b
              ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id),
      jp AS (SELECT * FROM (
               SELECT doc_a, doc_b, shared,
                      round(CAST(shared AS DOUBLE)
                            / (ca.n_sh + cb.n_sh - shared), 6) AS jaccard
               FROM p
               JOIN cnt ca ON doc_a = ca.doc_id
               JOIN cnt cb ON doc_b = cb.doc_id)
             WHERE jaccard >= 0.3)"""

  /** Oracle fragment: mp = MinHash/LSH candidate pairs (mirrors
    * minhashPairs). Assumes `sh` (from shinglesSql — directly or via
    * jaccardPairsSql) is already in scope, so it composes with either. */
  private val minhashCtesSql = """
      h AS (SELECT doc_id,
                   CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h
            FROM sh),
      sig AS (SELECT doc_id,
                min((h*2 + 1) % 1000000007) AS m0,
                min((h*3 + 2) % 1000000007) AS m1,
                min((h*5 + 3) % 1000000007) AS m2,
                min((h*7 + 4) % 1000000007) AS m3,
                min((h*11 + 5) % 1000000007) AS m4,
                min((h*13 + 6) % 1000000007) AS m5,
                min((h*17 + 7) % 1000000007) AS m6,
                min((h*19 + 8) % 1000000007) AS m7
              FROM h GROUP BY doc_id),
      bands AS (
        SELECT doc_id, 0 AS band, m0 * 1000000007 + m1 AS bkey FROM sig
        UNION ALL SELECT doc_id, 1, m2 * 1000000007 + m3 FROM sig
        UNION ALL SELECT doc_id, 2, m4 * 1000000007 + m5 FROM sig
        UNION ALL SELECT doc_id, 3, m6 * 1000000007 + m7 FROM sig),
      mp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    count(*) AS n_bands
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bkey = b.bkey
                  AND a.doc_id < b.doc_id
             GROUP BY a.doc_id, b.doc_id)"""

  private val shinglesSql = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents
             WHERE len(string_split(text, ' ')) >= 3),
    shu AS (SELECT doc_id, unnest(list_transform(range(1, len(tok) - 1),
              i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])) AS shingle
            FROM toks),
    sh AS (SELECT DISTINCT doc_id, shingle FROM shu)"""

  /** Min-label propagation to a fixpoint over a symmetric edge list
    * (src, dst): every vertex ends labeled with the smallest vertex id
    * reachable from it. Returns (labels(doc_id, cluster), rounds run).
    * `caller` names the query or shared build that asked, so its
    * `[local] cc/<caller>` decision line and round log can be told apart.
    *
    * Pointer doubling, fused into the neighbor pass: each vertex's label
    * pointer (v → label(v)) is unioned into the edge list, so ONE
    * join+aggregate computes min(neighbors' labels, label's label) — v
    * adopting label(label(v)) halves the distance to the component
    * minimum every round, O(log diameter) rounds instead of O(diameter)
    * (asserted on a 10k-diameter chain in DedupSimSpec). (The unfused
    * form — a separate labels⋈labels self-join for the jump — paid two
    * extra joins per round, and round cost is dominated by fixed per-job
    * overhead, not data.)
    *
    * The iterate set is usually tiny relative to the corpus, and at full
    * shuffle width fixed per-task overhead (32 partitions × ~5 exchanges
    * × rounds) dominates the whole query. Right-sizing is delegated to
    * AQE partition coalescing — size-first, not parallelism-first (see
    * the session config in Bench/Verify) — so the loop's shuffles
    * collapse to a handful of tasks without mutating session-global conf
    * from inside a query builder (a shared-session race if queries ever
    * fan out concurrently). */
  private[graft] def propagateMinLabels(sym0: DataFrame, caller: String,
                                        maxIter: Int = 50)
      : (DataFrame, Int) = {
    // Truncate the edge list's lineage ONCE before iterating: persist()
    // caches the ROWS but the frame still carries its full logical plan,
    // and every round's job re-analyzes + re-optimizes that tree on the
    // driver — with a many-join edge pipeline upstream (the multi-signal
    // union of two banded pair generators remapped through the exact-rep
    // map) that fixed per-round driver cost measured ~2 s/round vs
    // ~0.7 s for a simple-lineage edge list on the same-size graph. The
    // eager local checkpoint replaces the pipeline with its materialized
    // blocks so each round plans over a leaf scan; the blocks are
    // released before returning (the final labels checkpoint has its own
    // truncated lineage and never reads them).
    val sym = sym0.localCheckpoint(eager = true)
    val symRdd = org.apache.spark.sql.graftshim.Shim.checkpointRdd(sym)
    // Size-gated driver union-find (round 21): the distributed
    // fixpoint's cost is ~all fixed per-round job overhead once the
    // edge set is small — at sf0.1 each 5-exchange round costs
    // 0.4–1.6 s against graphs of a few thousand edges, and SIX queries
    // run a fixpoint per bench pass. Under the [[DriverLocal]] bound
    // the edge list is collected ONCE off the already-materialized
    // checkpoint blocks and resolved with union-find on the driver; the
    // result is exactly the per-component minimum label the fixpoint
    // converges to, returned as a local relation. Above the bound (the
    // true 100 TB dup graph) the distributed loop below runs unchanged.
    // Edge count without a dedicated count job (VERDICT r21 #3/#7): the
    // eager localCheckpoint above just materialized sym's blocks, and a
    // 2-long row held deserialized in memory occupies ≥ 16 B, so the
    // stored bytes / 16 bound the edge count E from above; any other
    // storage state (spilled, serialized, not yet visible) counts.
    // Driver bytes per edge: the collected pair (16) and at most 4 LongMap
    // slots of 12 B (the table is sized for 2E entries); per vertex
    // (V ≤ E: sym holds both directions of every edge) the boxed parent
    // (16), the key list and (doc_id, cluster) tuple list (~104) and the
    // local relation's row (~72).
    val s = sym.sparkSession
    val edgesUb = DriverLocal.cachedBytes(s, symRdd.map(_.id).toSet)
      .map(_ / 16).getOrElse(sym.count())
    if (DriverLocal.admit(s, s"cc/$caller", Some(edgesUb * (64 + 192)))) {
      val edges = DriverLocal.collectLongs(sym.select(col("src"), col("dst")))
      val parent = new scala.collection.mutable.LongMap[Long](edges.length)
      def find(x0: Long): Long = {
        var x = x0
        var p = parent(x)
        while (p != x) { // path halving
          val gp = parent(p)
          parent(x) = gp; x = gp; p = parent(x)
        }
        x
      }
      var i = 0
      while (i < edges.length) {
        val a = edges(i); val b = edges(i + 1)
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val ra = find(a); val rb = find(b)
        // union by min id: the root IS the component minimum so far
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
        i += 2
      }
      import s.implicits._
      val labels = parent.keys.toSeq.map(v => (v, find(v)))
        .toDF("doc_id", "cluster")
      symRdd.foreach(r => try r.unpersist(blocking = false)
                          catch { case _: Exception => () })
      return (labels, 0)
    }
    // Only vertices that appear in an edge can ever change label — the
    // propagation loop runs over that (much smaller) set; every other
    // doc is its own cluster and joins back in one final pass. At
    // corpus scale near-dup pairs cover a small fraction of docs, so
    // this shrinks each round's join from |docs| to |dup-involved docs|.
    var labels = sym.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster", col("doc_id")).persist()
    var converged = false
    var iter = 0
    // localCheckpoint persists at the RDD level (not the cache manager),
    // so releasing a finished round means unpersisting THAT RDD — an
    // unpersist() on the derived `labels` frame is a no-op and the
    // blocks would linger until ContextCleaner GC. Track each round's
    // checkpoint RDD and drop it once the following round has
    // materialized (its blocks are the only remaining reader).
    var prevCp: Option[org.apache.spark.rdd.RDD[_]] = None
    val t0 = System.nanoTime()
    while (!converged && iter < maxIter) {
      val tr = System.nanoTime()
      val e = sym.unionAll(
        labels.select(col("doc_id").as("src"), col("cluster").as("dst")))
      val nbr = labels.join(e, col("doc_id") === col("dst"))
        .groupBy(col("src")).agg(min(col("cluster")).as("nlabel"))
      // A `changed` flag rides along with the propagated label, and a
      // LAZY localCheckpoint defers materialization to the convergence
      // count below — so counting changed labels IS the job that
      // materializes the round (one job per round, not two). The
      // checkpoint truncates lineage so every round plans and codegens a
      // constant-size tree; on a cluster this would be checkpoint() to
      // durable storage.
      val next = labels.as("l")
        .join(nbr, col("l.doc_id") === col("src"), "left")
        .select(col("l.doc_id").as("doc_id"),
          least(col("l.cluster"),
            coalesce(col("nlabel"), col("l.cluster"))).as("cluster"),
          (coalesce(col("nlabel"), col("l.cluster"))
            < col("l.cluster")).as("changed"))
        .localCheckpoint(eager = false)
      val nChanged = next
        .agg(coalesce(sum(when(col("changed"), 1L).otherwise(0L)), lit(0L)))
        .head().getLong(0)
      // Round materialized: the first round's cache-manager persist and
      // every later round's checkpoint blocks are now dead weight. The
      // final round's checkpoint stays persisted — the returned frame
      // reads from it (its lineage is truncated, so its blocks must
      // survive until the caller's action completes).
      if (iter == 0) labels.unpersist()
      prevCp.foreach(_.unpersist(blocking = false))
      prevCp = org.apache.spark.sql.graftshim.Shim.checkpointRdd(next)
      labels = next.select("doc_id", "cluster")
      converged = nChanged == 0L
      iter += 1
      System.err.println(f"[propagateMinLabels $caller] round $iter%d: " +
        f"changed=$nChanged%d ${(System.nanoTime() - tr) / 1e9}%.2fs")
    }
    System.err.println(f"[propagateMinLabels $caller] converged=$converged " +
      f"rounds=$iter total=${(System.nanoTime() - t0) / 1e9}%.2fs")
    if (!converged)
      // Diverging silently from the recursive-CTE oracle would be a
      // debugging trap; a component with diameter > maxIter is loud.
      System.err.println(
        s"[propagateMinLabels $caller] WARNING: not converged after " +
          s"$maxIter rounds")
    symRdd.foreach(r => try r.unpersist(blocking = false)
                        catch { case _: Exception => () })
    // The returned labels frame reads from its final localCheckpoint
    // RDD, so the loop cannot release it; once the caller's action has
    // run its blocks are dead weight (measured: one ~5k-row block leaked
    // per cluster query per bench pass), so the store holds it until its
    // release. A localCheckpoint's lineage is truncated — after release
    // the old frame is NOT recomputable, which is safe because every
    // release point (Bench between-pass hook, session teardown) also
    // discards the frames.
    prevCp.foreach(MemoLog.hold)
    (labels, iter)
  }

  /** Stage-by-stage timing of the multi-signal edge pipeline (scale
    * triage; invoked by tools.Profile with PROFILE_MS_STAGES=1). Each
    * component is counted in dependency order, so a stage's printed time
    * is its own marginal cost given its persisted inputs. */
  private[graft] def profileMultiSignalStages(s: SparkSession, d: String)
      : Unit = {
    def t(tag: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val n = df.count()
      System.err.println(
        f"[ms-stage] $tag%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s ($n rows)")
    }
    t("rawDoc2Rep")(rawDoc2Rep(s, d))
    t("repHashedShingles")(repHashedShingles(s, d))
    t("repBandPairsAll")(repBandPairsAll(s, d))
    t("normedVecs")(normedVecs(s, d))
    t("vec2content")(vec2content(s, d))
    t("canonEmbedPairs")(canonEmbedPairs(s, d))
    t("selfCosContents")(selfCosContents(s, d))
  }

  val queries: Map[String, QB] = Map(
    // Exact dedup on normalized text: one representative (min doc_id) per
    // distinct normalized body. The aggregation carries only fixed-width
    // state (min long + count) over the 16-byte md5 key — codegen
    // HashAggregate; carrying the body itself as min(string) would demote
    // the whole agg to SortAggregate (a sort on both sides of the
    // shuffle). The representative's body is recovered by joining the
    // winning doc_id back to the scan — an equi-join Spark plans as a
    // spillable sort-merge, moving each body once, same as the agg
    // shuffle did. Output schema is unchanged.
    "q_dedup_exact" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("doc_id"), trim(lower(col("text"))).as("norm"))
      docs.groupBy(md5(col("norm").cast("binary")))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .join(docs, Seq("doc_id"))
        .select("doc_id", "n_copies", "norm")
        .orderBy("doc_id")
    }),

    // Exact dedup keyed on the md5 hash of the normalized body — the
    // 100 TB shape of q_dedup_exact: the shuffle moves 16-byte keys, not
    // document bodies; representative chosen by min doc_id as before.
    "q_dedup_exact_hash" -> ((s, d) =>
      table(s, d, "documents")
        .groupBy(md5(trim(lower(col("text"))).cast("binary")).as("body_md5"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies", "body_md5")
        .orderBy("doc_id")),

    // Apply the exact dedup: materialize the surviving corpus (min doc_id
    // per normalized body keeps its full row; every other copy drops).
    // The shape a pipeline actually writes back out: one fixed-width agg
    // over the 16-byte body hash to elect representatives, then a
    // left-semi join on doc_id — both hash-partitioned, no row payload
    // moves through the election shuffle.
    "q_dedup_apply" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val keep = docs
        .groupBy(md5(trim(lower(col("text"))).cast("binary")).as("k"))
        .agg(min(col("doc_id")).as("doc_id"))
      docs.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // N-gram Jaccard over hashed 3-shingles: pairs with J >= 0.3. Joining
    // on the 32-bit shingle hash instead of the shingle string (textbook
    // hashed-shingling) cuts the shuffled/sorted key width ~5×; the oracle
    // applies the identical hash, so results match exactly.
    "q_dedup_ngram" -> ((s, d) =>
      jaccardPairs(s, d).orderBy("doc_a", "doc_b")),

    // Connected components over the verified near-dup pairs: min-label
    // propagation to a fixpoint, each doc labeled with the smallest doc_id
    // reachable through jaccard>=0.3 edges — the "keep one representative
    // per duplicate cluster" step of a dedup pipeline. The driver loop is
    // iteration control only; every step is a distributed join+aggregate
    // (the Pregel shape), converging in O(cluster diameter) rounds. The
    // oracle computes the same fixpoint with a recursive CTE.
    //
    // Round 14, contracted path (copy-dense corpora): the fixpoint runs
    // over REP-LEVEL verified pairs and labels expand through the copy
    // map — Jaccard is a pure function of the two raw contents, so the
    // raw graph's components are exactly "all copies of all contents in
    // a rep component" (byte-equal shingled docs have J = 1 edges and
    // collapse onto their rep; unshingled docs have no shingles, hence
    // no edges, on either path). min-reachable-doc = min-reachable-rep
    // because a rep IS its group's minimum. The r13 form fed the
    // fixpoint from the uncapped corpus-wide posting-list self-join,
    // which filled the disk at the copy-dense 100× sweep.
    "q_dedup_clusters" -> ((s, d) => {
      val docs = table(s, d, "documents").select(col("doc_id"))
      if (!contracted(s, d)) {
        val edges = jaccardPairs(s, d)
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        val sym = edges.unionAll(
          edges.select(col("dst").as("src"), col("src").as("dst")))
        // propagateMinLabels checkpoints sym once and releases the blocks
        // itself — no per-call persist to leak across invocations.
        val (labels, _) = propagateMinLabels(sym, "q_dedup_clusters")
        // Singletons (no edges) never entered the loop: cluster = own id.
        docs
          .join(labels.withColumnRenamed("cluster", "c"),
                Seq("doc_id"), "left")
          .select(col("doc_id"),
                  coalesce(col("c"), col("doc_id")).as("cluster"))
          .orderBy("doc_id")
      } else {
        val edges = repJaccardPairs(s, d)
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        val sym = edges.unionAll(
          edges.select(col("dst").as("src"), col("src").as("dst")))
        val (labels, _) =
          propagateMinLabels(sym, "q_dedup_clusters:contracted")
        // coalesce chain: component label if the rep clustered, else the
        // rep (a shingled copy group is a J=1 clique whose min IS the
        // rep), else the doc's own id (unshingled ⇒ edgeless singleton).
        docs
          .join(shingledD2r(s, d), Seq("doc_id"), "left")
          .join(labels.withColumnRenamed("doc_id", "rep")
                      .withColumnRenamed("cluster", "c"), Seq("rep"), "left")
          .select(col("doc_id"),
                  coalesce(col("c"), col("rep"), col("doc_id")).as("cluster"))
          .orderBy("doc_id")
      }
    }),

    // Stop-shingle-capped near-dup: identical to q_dedup_ngram but hot
    // shingles are dropped before the pair join — the standard scale
    // mitigation for the hot-shingle blowup (the self-join is quadratic
    // WITHIN each shingle's posting list, so one boilerplate shingle
    // shared by 10k docs alone creates 50M pairs while carrying no
    // discriminative signal). The threshold ADAPTS to the corpus:
    // T = clamp(2·mean(df), 8, 50), where df counts DISTINCT CONTENTS
    // (byte-exact copy groups), NOT raw docs. Content-level df is
    // invariant under copy density — raw-doc df is copy-multiplied, so
    // on the 100×-copy stress fixture every shingle's raw df ≥ 100 blew
    // past the hard ceiling and the r14 "bounded" variant returned the
    // EMPTY SET exactly on the corpora where near-dup detection matters
    // (the judge's 0-rows-at-100× finding). An absolute T=50 had
    // already gone inert once (round-11 regeneration, mean df ≈ 9.6 —
    // nothing above 50, silently the uncapped join); 2·mean tracks
    // density, the floor of 8 keeps near-unique corpora from losing all
    // signal, and the ceiling of 50 preserves a HARD bound: capped
    // CONTENT posting lists ≤ T ⇒ rep-pair volume ≤ T·Σdf — linear in
    // distinct contents; the doc-level listing is then only the
    // answer's own copy expansion. Jaccard is computed over the capped
    // shingle sets on both engines, so the operator is exactly
    // specified and oracle-matched, not an approximation of
    // q_dedup_ngram. The threshold test is spelled WITHOUT division or
    // floats:
    //   df > clamp(2·Σdf/n, 8, 50)  ⟺  df > 50 ∨ (df > 8 ∧ df·n > 2·Σdf)
    // (min/max distribute over strict >), all integer arithmetic in
    // DECIMAL(38,0) — bit-identical in both engines for any corpus with
    // df·n < 10^38 (a 100 TB corpus sits near 10^28). The (Σdf, n) pair
    // joins the df frame as a broadcast 1-row scalar, never a collect.
    "q_dedup_ngram_capped" -> ((s, d) => {
      // The hot stop list / capped frames are the shared
      // [[hotShingleSet]]/[[cappedShingles]]/[[cappedRepShingles]]
      // helpers — q_dedup_containment reuses them, so a session running
      // both capped contracts builds each frame once.
      if (!contracted(s, d)) {
        pairsFromShingleSets(cappedShingles(s, d))
          .orderBy("doc_a", "doc_b")
      } else {
        // Contracted: cap at rep level (the rep frame's per-h count IS
        // content df), verify pairs on the capped REP sets, expand
        // through the copy map — the same exactness argument as
        // buildJaccardPairs: capped sets are pure functions of content
        // bytes, so a copy pair's (shared, jaccard) equals its rep
        // pair's, and byte-equal copies share the whole capped set
        // (J = 1 cliques, shared = capped size; an all-hot content
        // drops out of the pair join on both engines).
        val capped = cappedRepShingles(s, d)
        val d2r = rawDoc2Rep(s, d).select("doc_id", "rep")
        val cross = pairsFromShingleSets(capped)
          .join(d2r.select(col("rep").as("doc_a"), col("doc_id").as("ia")),
                Seq("doc_a"))
          .join(d2r.select(col("rep").as("doc_b"), col("doc_id").as("ib")),
                Seq("doc_b"))
          .select(least(col("ia"), col("ib")).as("doc_a"),
                  greatest(col("ia"), col("ib")).as("doc_b"),
                  col("shared"), col("jaccard"))
        val sized = d2r.join(
          capped.groupBy(col("doc_id").as("rep"))
            .agg(count(lit(1)).as("n_sh")),
          Seq("rep"))
        val within = sized.as("x")
          .join(sized.as("y"), col("x.rep") === col("y.rep") &&
                               col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
                  col("x.n_sh").as("shared"), lit(1.0).as("jaccard"))
        cross.unionAll(within).orderBy("doc_a", "doc_b")
      }
    }),

    // Degree distribution of the near-dup similarity graph: how many docs
    // have k verified neighbors — the health check run before clustering
    // (a heavy-tailed distribution signals a boilerplate/template shingle
    // that will glue unrelated docs into one giant cluster). Direct path:
    // two keyed aggregations over the (tiny) verified-pairs frame.
    //
    // Contracted path (round 14): every copy of a content has the SAME
    // degree — (c_X − 1) within-content J=1 neighbors plus Σ c_Y over
    // verified rep neighbors Y — so the histogram is computed at rep
    // level and weighted by copy counts, never materializing the
    // copy-quadratic pair listing (whose direct form filled the disk at
    // the 100× sweep). Degree-0 reps (shingled single-copy contents with
    // no verified neighbor) are filtered exactly as the direct spelling
    // drops docs absent from the pair frame.
    "q_graph_degree" -> ((s, d) =>
      if (!contracted(s, d)) {
        val jp = jaccardPairs(s, d)
        jp.select(col("doc_a").as("doc_id"))
          .unionAll(jp.select(col("doc_b").as("doc_id")))
          .groupBy("doc_id").agg(count(lit(1)).as("degree"))
          .groupBy("degree").agg(count(lit(1)).as("n_docs"))
          .orderBy("degree")
      } else {
        val copies = shingledCopyCounts(s, d)
        val rp = repJaccardPairs(s, d)
        val nbr = rp.select(col("doc_a").as("rep"), col("doc_b").as("other"))
          .unionAll(
            rp.select(col("doc_b").as("rep"), col("doc_a").as("other")))
          .join(copies.select(col("rep").as("other"), col("c").as("oc")),
                Seq("other"))
          .groupBy("rep").agg(sum(col("oc")).as("nx"))
        copies.join(nbr, Seq("rep"), "left")
          .select(col("c"),
            (col("c") - 1 + coalesce(col("nx"), lit(0L))).as("degree"))
          .filter(col("degree") >= 1)
          .groupBy("degree").agg(sum(col("c")).as("n_docs"))
          .orderBy("degree")
      }),

    // Train/test decontamination (round 5): which held-out docs share
    // 3-shingles with the training split? Split assignment is the same
    // deterministic md5 bucket as q_split_assign; the train side is
    // reduced to its DISTINCT shingle-hash set BEFORE the join, so the
    // probe is strictly linear — test shingles ⋈ train-shingle set is a
    // semi-join-shaped hash join, never the quadratic posting-list
    // self-join of the dedup pair queries. Round 13: the shingle work
    // runs at CONTENT level — a doc's shingle set is a function of its
    // bytes, so the train set is the union of shingle sets of contents
    // with ≥1 train-assigned copy, and a test doc's (n_shingles,
    // n_contaminated) pair is its content's pair — computed once per
    // rep against the rep-only shingle frame and joined back through
    // the copy map. Split assignment itself stays per-doc (copies of
    // one content land in different splits; only the shingle SETS are
    // shared). The 100× sweep measured the full-explode spelling at
    // 50.9 s — all in the copy-multiplied explode+distinct; rep-level
    // it is the same rows from a 100× smaller explode. At 100 TB the
    // train-rep shingle set is the big side (shuffle hash join on h);
    // no per-shingle blowup is possible because each test shingle
    // matches at most one set row. Docs under 3 tokens have no shingles
    // and are absent on both engines.
    "q_contamination" -> ((s, d) => {
      val assign = table(s, d, "documents").select(col("doc_id"),
        pmod(md5hash32(col("doc_id").cast("string")), lit(100)).as("hb"))
      val d2r = rawDoc2Rep(s, d).select("doc_id", "rep")
      val sh = repHashedShingles(s, d).withColumnRenamed("doc_id", "rep")
      val trainH = sh
        .join(d2r.join(assign.filter(col("hb") < 80), "doc_id")
                .select("rep").distinct(),
              Seq("rep"), "semi")
        .select("h").distinct().withColumn("hit", lit(1L))
      val repCounts = sh.join(trainH, Seq("h"), "left")
        .groupBy("rep")
        .agg(count(lit(1)).as("n_shingles"),
             sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      assign.filter(col("hb") >= 90).select("doc_id")
        .join(d2r, "doc_id")
        .join(repCounts, "rep")
        .select(col("doc_id"), col("n_shingles"), col("n_contaminated"))
        .withColumn("contamination",
          r6(col("n_contaminated").cast("double") / col("n_shingles")))
        .orderBy("doc_id")
    }),

    // Duplicated-chunk audit (round 5): 16-token chunks hashed corpus-wide;
    // a chunk instance is "duplicated" if its hash occurs in >1 distinct
    // doc — the chunk-level (paragraph-level) twin of exact dedup, and the
    // standard boilerplate detector (headers/footers/templates shared
    // across documents). Two aggregations keyed on the 8-byte chunk hash
    // + one join back; the explode is a Generate (no shuffle), so the
    // whole query moves hashes, never chunk text. The hash is 60-bit
    // (md5hash60): chunk hashes are corpus-cardinality keys, so a 32-bit
    // space would saturate at 100 TB and birthday collisions would
    // inflate dup_frac with false positives.
    "q_dedup_chunk" -> ((s, d) => {
      val C = 16
      val chunks = MemoLog.frame(s, d, "dedup.chunks16") {
        table(s, d, "documents")
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("tok", split(col("text"), " "))
          .select(col("doc_id"), col("tok"),
            explode(sequence(lit(0),
              ((size(col("tok")) - 1) / lit(C)).cast("int"))).as("cid"))
          .select(col("doc_id"),
            md5hash60(array_join(
              slice(col("tok"), col("cid") * C + 1, lit(C)), " ")).as("h"))
          .persist()
      }
      val dup = chunks.groupBy("h")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1).select("h").withColumn("dup", lit(1L))
      chunks.join(dup, Seq("h"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
             sum(coalesce(col("dup"), lit(0L))).as("n_dup_chunks"))
        .withColumn("dup_frac",
          r6(col("n_dup_chunks").cast("double") / col("n_chunks")))
        .orderBy("doc_id")
    }),

    // MinHash (8 perms) + LSH banding (4 bands × 2 rows): candidate pairs
    // sharing ≥1 band. This is the sub-quadratic scale path for near-dup.
    "q_dedup_minhash" -> ((s, d) =>
      minhashPairs(s, d).orderBy("doc_a", "doc_b")),

    // Split-leakage audit: near-duplicate pairs straddling the
    // train/val/test boundary — the eval-integrity check a training
    // pipeline runs AFTER splitting (a test doc whose near-twin sits in
    // train inflates every benchmark number). Edges are the ≥2-band
    // MinHash pairs (the same precision bar the clustering applies:
    // transitive and eval consequences both compound candidate noise),
    // splits are the md5-bucket assignment of q_split_assign — both
    // deterministic, so the audit is oracle-exact. Output: pair counts
    // per unordered split combination; every off-diagonal row is
    // leakage. Scale shape: the pair frame is the banded sub-quadratic
    // path (contraction-gated like every MinHash consumer), the split
    // tag is a per-row hash, and the rollup is a ≤6-row aggregate.
    "q_split_leakage" -> ((s, d) => {
      def splitOf(id: org.apache.spark.sql.Column) = {
        val h = pmod(md5hash32(id.cast("string")), lit(100))
        when(h < 80, "train").when(h < 90, "val").otherwise("test")
      }
      if (!contracted(s, d))
        // Direct path: tag both sides of the (small) candidate listing.
        minhashPairs(s, d).filter(col("n_bands") >= 2)
          .withColumn("sa", splitOf(col("doc_a")))
          .withColumn("sb", splitOf(col("doc_b")))
          .select(least(col("sa"), col("sb")).as("split_lo"),
                  greatest(col("sa"), col("sb")).as("split_hi"))
          .groupBy(col("split_lo"), col("split_hi"))
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("is_leak", (col("split_lo") =!= col("split_hi")))
          .orderBy("split_lo", "split_hi")
      else {
        // Contracted path: the rollup needs COUNTS, not pairs, so it
        // never expands the copy-quadratic listing (the r14 sweep
        // measured the expanded form at 5.5× its pair-listing sibling).
        // Per shingled content, count docs per split; a ≥2-band rep
        // pair (A, B) contributes the outer product of the two
        // count-vectors, and a copy group's within-content J=1 clique
        // (all 4 bands shared, always ≥ the bar) contributes C(c_s, 2)
        // same-split plus c_s·c_t cross-split pairs — exactly the
        // multiset the expanded listing would have tagged, row-identical
        // by construction (locked by ContractionGateSpec both-paths
        // compare).
        val gsc = shingledD2r(s, d)
          .withColumn("split", splitOf(col("doc_id")))
          .groupBy(col("rep"), col("split")).agg(count(lit(1)).as("c"))
        val cross = repBandPairs(s, d)
          .join(gsc.select(col("rep").as("doc_a"), col("split").as("sa"),
                           col("c").as("ca")), Seq("doc_a"))
          .join(gsc.select(col("rep").as("doc_b"), col("split").as("sb"),
                           col("c").as("cb")), Seq("doc_b"))
          .select(least(col("sa"), col("sb")).as("split_lo"),
                  greatest(col("sa"), col("sb")).as("split_hi"),
                  (col("ca") * col("cb")).as("np"))
        val withinSame = gsc
          .select(col("split").as("split_lo"), col("split").as("split_hi"),
                  expr("(c * (c - 1)) DIV 2").as("np"))
        val withinCross = gsc.as("x")
          .join(gsc.as("y"), col("x.rep") === col("y.rep") &&
                             col("x.split") < col("y.split"))
          .select(col("x.split").as("split_lo"),
                  col("y.split").as("split_hi"),
                  (col("x.c") * col("y.c")).as("np"))
        cross.unionAll(withinSame).unionAll(withinCross)
          .groupBy(col("split_lo"), col("split_hi"))
          .agg(sum(col("np")).as("n_pairs"))
          .filter(col("n_pairs") > 0)
          .withColumn("is_leak", (col("split_lo") =!= col("split_hi")))
          .orderBy("split_lo", "split_hi")
      }
    }),

    // Near-dup clusters at the sub-quadratic scale path: connected
    // components over the MinHash/LSH candidate pairs (the corpus-scale
    // twin of q_dedup_clusters, whose edges are exact-Jaccard pairs).
    // Same O(log d) pointer-doubling min-label propagation; emits the
    // per-cluster summary (representative = min doc_id, size) — the
    // frame a dedup pipeline joins back to pick survivors.
    //
    // The fixpoint clusters only pairs agreeing in ≥ 2 of the 4 bands —
    // AND-amplification on top of the banded OR. A single shared band is
    // the LSH candidate bar (cheap to generate, noisy by design); the
    // 100× posture run measured 65 M single-band collisions feeding the
    // fixpoint 451.6 s of clustering, where the ≥2-band subset is orders
    // smaller. Transitive closure is exactly where candidate noise
    // compounds (one spurious edge glues two whole clusters), so the
    // precision bar belongs HERE, not on the pair-listing query
    // (q_dedup_minhash still reports every candidate with its band
    // count; the recall audit q_dedup_minhash_eval still scores the
    // full candidate set). The oracle applies the identical threshold.
    // Round 13 (contracted path; round 14 gates it on measured copy
    // density): the whole pipeline — signatures, banding, pairing, and
    // the fixpoint — runs on DISTINCT CONTENTS (one representative per
    // RAW-byte-identical body among shingled docs), then expands
    // through the rep map. Exactness-preserving on ANY corpus:
    // signatures and band keys are pure functions of the raw bytes, so
    // a cross-content edge exists between two docs iff it exists
    // between their reps; byte-equal shingled docs share ALL 4 bands
    // (≥ the 2 threshold), so the full computation connects every copy
    // group pairwise — the expansion "cluster(doc) = label(rep(doc))"
    // spans the same components, and min-reachable-doc =
    // min-reachable-rep because reps are their groups' minima.
    // Shingled-ness is itself content-determined (same bytes ⇒ same
    // tokens), so a group is uniformly in or out and unshingled docs
    // stay singletons exactly as in the uncontracted form. (The key
    // must be the raw bytes: a trim/lower-normalized key would merge
    // case-variant docs whose signatures genuinely differ — see
    // rawDoc2Rep and ContractionSpec's case-variant corpus.) The
    // sf0.01/10× oracles (which compute the uncontracted recursive
    // closure) still hash-match. Cost shape: signature agg + band
    // self-join + fixpoint become quadratic/linear in DISTINCT
    // contents — the r10 100× row paid 268 s / 6.8 GiB peak banding
    // all 100 copies of every content.
    "q_dedup_minhash_clusters" -> ((s, d) =>
      minhashDocClusters(s, d)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("csize"))
        .orderBy("cluster")),

    // Quality-aware canonicalization: within each MinHash/LSH near-dup
    // cluster, keep the LONGEST document (the standard crawl-pipeline
    // survivor heuristic — near-dup groups usually contain truncated or
    // boilerplate-stripped variants of one fuller page), with the
    // smallest doc_id as the deterministic tiebreak. Contrast with
    // q_dedup_apply, whose exact-dup survivor is min-id by definition
    // (byte-equal copies have no quality signal to prefer).
    //
    // The argmax is the q_agg_minmax_by shape: a pure-BIGINT per-cluster
    // extremum (codegen HashAggregate, map-side combinable), then a
    // join-back on (cluster, max) resolved to min(doc_id) — never a
    // string/struct riding an aggregation buffer. Cluster labels come
    // from the memoized fixpoint shared with q_dedup_minhash_clusters
    // (one CC per run, not one per consumer).
    "q_dedup_canonical" -> ((s, d) => {
      val lt = minhashDocClusters(s, d)
        .join(table(s, d, "documents")
                .select(col("doc_id"),
                        size(split(col("text"), " ")).cast("long")
                          .as("n_tokens")),
              Seq("doc_id"))
      val mx = lt.groupBy(col("cluster"))
        .agg(max(col("n_tokens")).as("keep_tokens"),
             count(lit(1)).as("csize"))
      lt.as("l")
        .join(mx.as("m"), col("l.cluster") === col("m.cluster") &&
                          col("l.n_tokens") === col("m.keep_tokens"))
        .groupBy(col("m.cluster").as("cluster"), col("m.keep_tokens"),
                 col("m.csize"))
        .agg(min(col("l.doc_id")).as("keep_doc"))
        .select(col("cluster"), col("keep_doc"), col("keep_tokens"),
                col("csize"), (col("csize") - 1L).as("n_dropped"))
        .orderBy("cluster")
    }),

    // Candidate-quality audit for the approximate path: MinHash/LSH pairs
    // scored against the exact Jaccard >= 0.3 ground truth — the
    // recall/precision dashboard a pipeline watches before trusting the
    // sub-quadratic dedup at corpus scale. Direct path: one full-outer
    // join of two small pair sets, then a single-row audit aggregate.
    //
    // Contracted path (round 14): both listings decompose into rep-pair
    // cross terms (weight c_a·c_b — every copy pair of a colliding /
    // verified content pair is a candidate / true pair) plus an
    // IDENTICAL within-content term (byte-equal shingled copies share
    // all 4 bands AND have J = 1, so each shingled content contributes
    // C(c,2) to candidates, truth, and hits alike). The audit therefore
    // reduces to a rep-level full-outer join weighted by copy counts —
    // exact counts over the copy-quadratic listings without ever
    // materializing them.
    "q_dedup_minhash_eval" -> ((s, d) => {
      val counted =
        if (!contracted(s, d)) {
          val cand = minhashPairs(s, d)
            .select(col("doc_a"), col("doc_b")).withColumn("c", lit(1L))
          val truth = jaccardPairs(s, d)
            .select(col("doc_a"), col("doc_b")).withColumn("t", lit(1L))
          cand.join(truth, Seq("doc_a", "doc_b"), "full_outer")
            .agg(sum(coalesce(col("c"), lit(0L))).as("n_candidates"),
                 sum(coalesce(col("t"), lit(0L))).as("n_true"),
                 sum(when(col("c") === 1 && col("t") === 1, 1L)
                       .otherwise(0L)).as("n_hit"))
        } else {
          val cp = shingledCopyCounts(s, d)
          val cand = repBandPairsAll(s, d)
            .select(col("doc_a"), col("doc_b")).withColumn("cf", lit(1L))
          val truth = repJaccardPairs(s, d)
            .select(col("doc_a"), col("doc_b")).withColumn("tf", lit(1L))
          val cross = cand
            .join(truth, Seq("doc_a", "doc_b"), "full_outer")
            .join(cp.select(col("rep").as("doc_a"), col("c").as("ca")),
                  Seq("doc_a"))
            .join(cp.select(col("rep").as("doc_b"), col("c").as("cb")),
                  Seq("doc_b"))
            .select(
              when(col("cf") === 1L, col("ca") * col("cb")).otherwise(0L)
                .as("w_c"),
              when(col("tf") === 1L, col("ca") * col("cb")).otherwise(0L)
                .as("w_t"),
              when(col("cf") === 1L && col("tf") === 1L,
                   col("ca") * col("cb")).otherwise(0L).as("w_h"))
          // c·(c−1) is always even, so the integer DIV is exact
          val within = cp
            .select(expr("c * (c - 1) DIV 2").as("w"))
            .select(col("w").as("w_c"), col("w").as("w_t"),
                    col("w").as("w_h"))
          cross.unionAll(within)
            .agg(sum(col("w_c")).as("n_candidates"),
                 sum(col("w_t")).as("n_true"),
                 sum(col("w_h")).as("n_hit"))
        }
      counted.select(col("n_candidates"), col("n_true"), col("n_hit"),
        r6(col("n_hit").cast("double") / col("n_true")).as("recall"),
        r6(col("n_hit").cast("double") / col("n_candidates"))
          .as("precision"))
    }),

    // 16-bit SimHash over the distinct-token set (per-bit majority vote of
    // ±1 contributions from each token's 32-bit md5-derived hash). Token
    // hashes are computed once per token in one transform() pass; the
    // per-bit majority fold is the native codegen Simhash16 expression —
    // the doubly-nested HOF spelling was the slowest query in the bench
    // (interpreted per element with boxing). Output is bit-identical to
    // the naive form, so the oracle (which keeps the naive spelling)
    // still hash-matches; parity is also unit-asserted in Simhash16Spec.
    "q_dedup_simhash" -> ((s, d) =>
      table(s, d, "documents")
        .withColumn("td", array_distinct(split(col("text"), " ")))
        .withColumn("hs", expr(
          """transform(td, t ->
               CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT))"""))
        .select(col("doc_id"),
          graft.functions.TextFunctions.simhash16(col("hs")).as("simhash"))
        .orderBy("doc_id")),

    // Embedding-cosine near-dup pairs, candidate-driven: sign-LSH banding
    // (16 bands × 4 sign bits, covering all 64 dims — the random-hyperplane
    // family, OR-amplified exactly like the MinHash bands above) generates
    // candidates via an equi-join on (band, bkey); the exact cosine
    // verifier runs only on distinct candidate pairs. Plans as hash joins
    // end to end — never an all-pairs nested loop. Band params tuned on
    // the test corpus: recall 14/14 (sf0.01) / 142/144 (sf0.1) of
    // threshold pairs; on diffuse vectors at cos≥0.45 selectivity is
    // modest (~0.6 of all-pairs) but on real near-dup corpora (cos≥0.8,
    // where sign agreement is ~94%/plane) the same bands prune >99%.
    // Uses the native codegen DotProduct expression — same element-order
    // double accumulation as the oracle's list_sum, ~10× HOF-lambda speed.
    "q_dedup_embed" -> ((s, d) =>
      embedPairs(s, d).orderBy("vec_a", "vec_b")),

    // SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    // arXiv:2303.09540 — cluster the embedding space, then prune
    // near-duplicates WITHIN each cluster): k-means cells come from the
    // shared SimOps.kmeansCells assignment (bit-identical to
    // q_cluster_kmeans), near-dup pairs from the dedicated WITHIN-CELL
    // banded + exact-cosine-verified cellEmbedPairs frame (contraction-
    // aware: byte-identical copies pair through the copy map, never a
    // copy-quadratic candidate join). A vector is
    // DROPPED when a same-cell neighbor at cos ≥ 0.45 has a smaller
    // vec_id (keep-lowest-id — deterministic without computing
    // connected components). Output = one row per dropped vector with
    // its cell, how many neighbors dominate it, the strongest cosine,
    // and the smallest dominating id.
    //
    // Why cells matter at 100 TB: the cluster assignment is what makes
    // semantic dedup shardable — candidate generation, verification and
    // the keep rule all partition by cell. The band join keys on
    // (cid, band, bkey), so a 1000-executor run holds one cell's band
    // buckets at a time and cross-cell candidates are never generated
    // (the former global-band + cell post-filter spelling regenerated
    // them only to throw them away). Recall of the band structure on
    // within-cell threshold pairs: 9/9 at sf0.01, 53/54 at sf0.1
    // (measured).
    "q_dedup_semantic" -> ((s, d) =>
      cellEmbedPairs(s, d)
        .groupBy(col("vec_b").as("vec_id"), col("cid"))
        .agg(count(lit(1)).as("n_dups"), max(col("cos")).as("best_cos"),
             min(col("vec_a")).as("rep"))
        .orderBy("vec_id")),

    // Multi-signal dedup clustering — the composed corpus-curation
    // pattern: candidate duplicate edges from THREE independent signals
    // are unioned into one graph and resolved together, so a chain like
    // "A is a byte-copy of B, B is a lexical near-dup of C, C is a
    // semantic near-dup of D" collapses to ONE cluster no single signal
    // could find. Signals: byte-identical text (md5 of the normalized
    // body), lexical near-dup (MinHash/LSH band collisions), semantic
    // near-dup (sign-LSH banded embedding pairs verified at cos ≥ 0.45;
    // the fixture keys embeddings by vec_id ≡ doc_id, as
    // q_multimodal_join does). Every edge source is banded/keyed —
    // nothing all-pairs.
    //
    // The graph is CONTRACTED onto byte-exact text representatives
    // before the fixpoint: byte-equal docs are normalized-equal too, so
    // every raw group is a clique under the exact signal, and the
    // quotient onto raw reps preserves components; rep = min(doc_id) of
    // its group, so the min doc_id reachable in the full 3-signal graph
    // equals the min representative reachable in the contracted graph.
    // The contraction key is the RAW bytes, not the normalized body —
    // signatures are functions of the raw bytes, so only byte-equal
    // docs are guaranteed identical lexical edges (see rawDoc2Rep).
    // What remains of the exact signal after contraction is the
    // BETWEEN-raw-group part: a star over the raw reps of each
    // normalized group (case/whitespace variants), fed to the fixpoint
    // as ordinary edges. The uncontracted spelling paid for this round
    // 9: byte-copy stars chained under lex/sem edges stretched the
    // fixpoint to 6 rounds over a vertex set inflated by every copy,
    // and each extra round is a fixed ~1 s of job overhead at
    // local[32]. Output: each doc, its cluster representative (min
    // reachable doc_id), and keep = 1 on the representative — the
    // survivor list a curation pipeline writes out.
    "q_dedup_multi_signal" -> ((s, d) => {
      // doc_id → byte-exact representative + normalized key.
      val doc2rep = rawDoc2Rep(s, d)
      // On the contracted path both near-dup signals are generated on
      // DISTINCT CONTENTS, not raw docs (round 13): signatures, band
      // keys and cosines are pure functions of content, so an edge
      // exists between two docs iff it exists between their content
      // representatives — the remapped edge set is IDENTICAL (the
      // sf0.01 oracle, which computes the uncontracted form, still
      // hash-matches). What changes is the cost shape: pair volume
      // becomes quadratic in DISTINCT contents and immune to
      // copy-duplication density. The uncontracted spelling banded all
      // 200 K vec copies on the 100× stress corpus — 2 K distinct
      // contents × 100 copies ⇒ every bucket's posting list ×100, pair
      // volume ×10⁴ (~13 G candidate pairs) — and filled 78 GB of
      // shuffle before dying. On a near-all-distinct corpus (gate off,
      // round 14) the same signal sets come from the corpus-level
      // frames shared with q_dedup_minhash / q_dedup_embed — the
      // contraction plumbing bought nothing there and taxed the sf0.1
      // bench ~1.7× host-normalized in r13.
      //
      // Exact-signal residue: connect raw reps sharing one normalized
      // body (vacuous on verbatim-copy corpora, load-bearing for
      // case/whitespace variants).
      val reps = doc2rep.filter(col("doc_id") === col("rep"))
        .select(col("rep"), col("nk"))
      val exE = reps.groupBy(col("nk")).agg(min(col("rep")).as("src"))
        .join(reps, Seq("nk"))
        .filter(col("rep") =!= col("src"))
        .select(col("src"), col("rep").as("dst"))
      // Remap doc/vec-level pairs onto text representatives (vec_id ≡
      // doc_id); edges inside one raw group collapse to self-loops and
      // drop out.
      def ontoReps(e: DataFrame): DataFrame = e
        .join(doc2rep.select(col("doc_id"), col("rep").as("src_rep")),
              col("src") === col("doc_id"))
        .drop("doc_id", "src")
        .join(doc2rep.select(col("doc_id"), col("rep").as("dst_rep")),
              col("dst") === col("doc_id"))
        .filter(col("src_rep") =!= col("dst_rep"))
        .select(col("src_rep").as("src"), col("dst_rep").as("dst"))
      val edges =
        if (!contracted(s, d)) {
          // Direct path: corpus-level lexical (≥2-band) and semantic
          // (verified cosine) pairs — both memoized frames shared with
          // q_dedup_minhash / q_dedup_embed — remapped onto reps.
          val lexE = minhashPairs(s, d).filter(col("n_bands") >= 2)
            .select(col("doc_a").as("src"), col("doc_b").as("dst"))
          val semE = embedPairs(s, d)
            .select(col("vec_a").as("src"), col("vec_b").as("dst"))
          ontoReps(semE.unionAll(lexE)).unionAll(exE)
        } else {
          // Lexical edges (on byte-exact text reps) carry the same
          // ≥2-band AND-amplification as q_dedup_minhash_clusters —
          // transitive closure compounds candidate noise, and at 100×
          // the single-band collision set is orders larger than the
          // ≥2-band subset. Already rep-level: no remap needed.
          val lexE = repBandPairs(s, d)
            .select(col("doc_a").as("src"), col("doc_b").as("dst"))
          // Semantic edges: verified canonical-content pairs (shared
          // with q_dedup_embed's expansion) + a star over each
          // near-self content's copies, gated on the content's own
          // computed self-cosine — the exact expression the
          // uncontracted verifier would have evaluated on every copy
          // pair, so the star spans precisely the components the full
          // computation would connect (zero-norm contents fail the
          // gate and get no star).
          val star = vec2content(s, d)
            .join(selfCosContents(s, d).select("vrep"), Seq("vrep"), "semi")
            .filter(col("vec_id") =!= col("vrep"))
            .select(col("vrep").as("src"), col("vec_id").as("dst"))
          val semE = canonEmbedPairs(s, d)
            .select(col("vec_a").as("src"), col("vec_b").as("dst"))
            .unionAll(star)
          ontoReps(semE).unionAll(lexE).unionAll(exE)
        }
      val sym = edges.unionAll(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val (labels, _) = propagateMinLabels(sym, "q_dedup_multi_signal")
      doc2rep
        .join(labels.withColumnRenamed("doc_id", "rep")
                    .withColumnRenamed("cluster", "c"), Seq("rep"), "left")
        .select(col("doc_id"),
                coalesce(col("c"), col("rep")).as("cluster"))
        .withColumn("keep",
          when(col("cluster") === col("doc_id"), 1L).otherwise(0L))
        .orderBy("doc_id")
    }),

    // Incremental ingest dedup — the production shape: classify an
    // arriving BATCH (the md5-bucket >= 90 slice, 10%) against the
    // standing CORPUS (the other 90%) as exact_dup (byte-identical
    // content already in the corpus), near_dup (shingle containment
    // >= 0.5 against the corpus shingle union), or unique. Everything
    // content-level, unconditionally (the q_contamination posture): a
    // doc's shingle set and content key are functions of its bytes, so
    // exactness is a rep-membership semi-join and containment is
    // computed ONCE per distinct batch content against the rep-only
    // shingle frame — immune to copy density, and the probe join
    // (batch-content shingles ⋈ corpus shingle set) is linear, never a
    // posting-list self-join. Containment is integer-exact micro
    // (hits*10^6 DIV n_shingles), so the 0.5 threshold compare has no
    // float in it. At 100 TB the corpus shingle set is the big side of
    // one hash join keyed on the 60-bit shingle hash; the batch side is
    // the arriving increment — exactly the asymmetry this query shape
    // exploits.
    "q_dedup_incremental" -> ((s, d) => {
      val assign = table(s, d, "documents").select(col("doc_id"),
        pmod(md5hash32(col("doc_id").cast("string")), lit(100)).as("hb"))
      val withSide = rawDoc2Rep(s, d).select("doc_id", "rep")
        .join(assign, "doc_id")
      val corpusReps = withSide.filter(col("hb") < 90)
        .select("rep").distinct()
      val batch = withSide.filter(col("hb") >= 90).select("doc_id", "rep")
      val sh = repHashedShingles(s, d).withColumnRenamed("doc_id", "rep")
      val batchOnlyReps = batch.select("rep").distinct()
        .join(corpusReps, Seq("rep"), "left_anti")
      val batchSh = sh.join(batchOnlyReps, Seq("rep"), "semi")
      // The corpus-side membership set is pruned BEFORE its distinct by a
      // semi-join on the batch's own shingle hashes: only h values the
      // arriving batch probes can ever match the left join below, so the
      // big shuffle is O(batch-touched shingles), not O(corpus shingles)
      // — the asymmetry an incremental ingest must exploit (the unpruned
      // spelling was a full-corpus distinct per batch). Both joins key on
      // h, so the distinct reuses the semi-join's partitioning (no extra
      // exchange); at sf scales AQE sees the small batch set and takes
      // the broadcast side automatically.
      val corpusSh = sh.join(corpusReps, Seq("rep"), "semi")
        .join(batchSh.select("h").distinct(), Seq("h"), "semi")
        .select("h").distinct().withColumn("hit", lit(1L))
      val cont = batchSh
        .join(corpusSh, Seq("h"), "left")
        .groupBy("rep")
        .agg(count(lit(1)).as("n_sh"),
             sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .withColumn("cmicro", expr("(n_hit * 1000000) DIV n_sh"))
      // Single-pass three-way classify (round 22, VERDICT r21 #2 —
      // guide §1.2 "don't compute things twice"): the former
      // semi-join (exact) + anti-join (rest) pair scanned the batch
      // subtree — documents ∪ rawDoc2Rep ∪ the hb assignment join —
      // TWICE and unioned the halves back. corpusReps is distinct by
      // construction and cont is one row per rep (groupBy), so ONE
      // left join of each marks membership without fanout:
      // in_corpus ⇔ the old semi side, and cmicro is non-null only on
      // batch-only reps (cont derives from batchOnlyReps), making the
      // when-chain row-identical to the old union.
      batch
        .join(corpusReps.withColumn("in_corpus", lit(1)),
              Seq("rep"), "left")
        .join(cont.select("rep", "cmicro"), Seq("rep"), "left")
        .withColumn("status",
          when(col("in_corpus") === 1, "exact_dup")
            .when(col("cmicro") >= 500000L, "near_dup")
            .otherwise("unique"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(col("rep")).as("n_contents"))
        .orderBy("status")
    }),

    // Exact-substring duplicate marking (Lee et al. 2022,
    // arXiv:2107.06499 — "Deduplicating Training Data Makes Language
    // Models Better"), re-expressed relationally: the suffix-array pass
    // that finds every >= K-token span occurring more than once in the
    // corpus becomes (1) a rolling K-token window hash per position,
    // (2) a corpus-wide occurrence count per window content, (3) the
    // classic gaps-and-islands merge of each doc's duplicated window
    // positions into maximal spans. Output is the per-doc dedup
    // accounting a pipeline acts on: how many duplicated windows, how
    // many maximal spans, how many tokens those spans cover. K = 8 —
    // proportionate to the ~50-token fixture docs as Lee et al.'s 50 is
    // to web documents.
    //
    // Scale posture: linear at EVERY copy density — unlike the pairwise
    // dedup family there is no doc-to-doc join anywhere, so no
    // contraction gate is needed. The window explode is linear in corpus
    // tokens, the occurrence count shuffles on the 60-bit content hash
    // (corpus-cardinality key — see md5hash60), the semi-join back is
    // hash-keyed, and the island merge is a per-doc window function
    // partitioned by doc_id. A boilerplate window shared by millions of
    // docs is just a large count — never a posting-list self-join. All
    // arithmetic is integer (counts and token positions), so the oracle
    // compare has no float in it.
    "q_dedup_substring" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val K = 8
      // Window hashes via the native WindowHash60 kernel (token bytes
      // extracted once per doc, one reused digest, no window-string
      // materialization) — the transform(sequence, i -> md5hash60(
      // concat_ws(slice))) spelling ran md5 AND the concat on the
      // interpreted lambda path per position, the dominant cost of the
      // whole query at 100×. Hash-identical (WindowHash60Spec) so the
      // oracle below is untouched.
      val wins = table(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("tok", split(col("text"), " "))
        .filter(size(col("tok")) >= K)
        .select(col("doc_id"),
          posexplode(graft.functions.TextFunctions
            .windowHash60(col("tok"), K)))
        .select(col("doc_id"), col("pos").cast("long").as("start"),
                col("col").as("h"))
      // Occurrence count >= 2 marks a window duplicated anywhere in the
      // corpus (cross-doc or a within-doc repeat — Lee et al. dedup both).
      val dupH = wins.groupBy("h").agg(count(lit(1)).as("occ"))
        .filter(col("occ") >= 2).select("h")
      val dup = wins.join(dupH, Seq("h"), "semi")
      // Islands: consecutive duplicated windows overlap whenever the next
      // start is within K-1 of the previous (windows are K tokens long and
      // starts ascend), so a gap > K-1 opens a new maximal span.
      val byDoc = Window.partitionBy("doc_id").orderBy("start")
      val run = Window.partitionBy("doc_id").orderBy("start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dup
        .withColumn("brk",
          when(lag(col("start"), 1).over(byDoc).isNull ||
               col("start") - lag(col("start"), 1).over(byDoc) > (K - 1),
               1L).otherwise(0L))
        .withColumn("island", sum(col("brk")).over(run))
        .groupBy(col("doc_id"), col("island"))
        .agg(count(lit(1)).as("nw"),
             (max(col("start")) - min(col("start")) + K).as("span_tokens"))
        .groupBy(col("doc_id"))
        .agg(sum(col("nw")).as("n_dup_windows"),
             count(lit(1)).as("n_spans"),
             sum(col("span_tokens")).as("dup_tokens"))
        .orderBy("doc_id")
    }),

    // Asymmetric shingle containment C(src→dst) = |S(src) ∩ S(dst)| /
    // |S(src)| — the near-dup signal symmetric Jaccard misses: a short
    // doc wholly quoted inside a long one has containment ~1 from the
    // short side but Jaccard ~|short|/|long|. Ordered pairs with
    // containment >= 0.5, in the same exact integer-micro arithmetic as
    // q_dedup_incremental's membership containment (hits·10⁶ DIV n_sh —
    // no float in the threshold compare).
    //
    // DECLARED CAPPED CONTRACT (round 17, the q_dedup_ngram_capped
    // pattern): containment is computed over the STOP-SHINGLE-CAPPED
    // sets — hot boilerplate shingles (content-level df above
    // clamp(2·mean(df), 8, 50), see [[hotShingleSet]]) are dropped from
    // both the numerator and the denominator before any join. Both
    // engines compute over the same capped sets, so the operator is
    // exactly specified and oracle-matched, not an approximation. The
    // cap is what bounds the posting-list self-join: the direct path's
    // per-shingle fan-in is ≤ T ≤ 50 (so ≤ T² join rows per shingle),
    // where the uncapped spelling was quadratic in a boilerplate
    // shingle's df — Zipf-unbounded on web-scale text. A doc whose
    // shingles are ALL hot has an empty capped set and drops out of
    // both roles, on both engines.
    //
    // Direct path (near-all-distinct corpus): one posting-list
    // self-join on the persisted capped 60-bit hashed-shingle frame,
    // emitted in both orientations against each side's own capped set
    // size. Contracted path (copy-dense corpus, measured 2% gate shared
    // with the family): containment is a pure function of the two raw
    // contents, so rep pairs are verified once (threshold BEFORE
    // expansion) and expanded through the copy map; within a copy group
    // every ordered pair has containment exactly 1 over the shared
    // capped set.
    "q_dedup_containment" -> ((s, d) => {
      val thrMicro = 500000L
      val ordered =
        if (!contracted(s, d)) {
          val shh = cappedShingles(s, d)
          val counts = shh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
          val up = shh.as("a")
            .join(shh.as("b"), col("a.h") === col("b.h") &&
                               col("a.doc_id") < col("b.doc_id"))
            .groupBy(col("a.doc_id").as("doc_a"),
                     col("b.doc_id").as("doc_b"))
            .agg(count(lit(1)).as("shared"))
          up.select(col("doc_a").as("src"), col("doc_b").as("dst"),
                    col("shared"))
            .unionAll(up.select(col("doc_b").as("src"),
                                col("doc_a").as("dst"), col("shared")))
            .join(counts.withColumnRenamed("doc_id", "src"), Seq("src"))
        } else {
          val rsh = cappedRepShingles(s, d)
          val rcnt = rsh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
          val rup = rsh.as("a")
            .join(rsh.as("b"), col("a.h") === col("b.h") &&
                               col("a.doc_id") < col("b.doc_id"))
            .groupBy(col("a.doc_id").as("doc_a"),
                     col("b.doc_id").as("doc_b"))
            .agg(count(lit(1)).as("shared"))
          val rboth = rup
            .select(col("doc_a").as("rsrc"), col("doc_b").as("rdst"),
                    col("shared"))
            .unionAll(rup.select(col("doc_b").as("rsrc"),
                                 col("doc_a").as("rdst"), col("shared")))
            .join(rcnt.withColumnRenamed("doc_id", "rsrc"), Seq("rsrc"))
            // rep-level threshold BEFORE expansion: containment of a copy
            // pair equals its rep pair's, so filtering early keeps the
            // expansion linear in the final output.
            .filter(col("shared") * 1000000L >= col("n_sh") * thrMicro)
          val d2r = shingledD2r(s, d)
          val cross = rboth
            .join(d2r.select(col("rep").as("rsrc"),
                             col("doc_id").as("src")), Seq("rsrc"))
            .join(d2r.select(col("rep").as("rdst"),
                             col("doc_id").as("dst")), Seq("rdst"))
            .select(col("src"), col("dst"), col("shared"), col("n_sh"))
          val sized = d2r.join(
            rcnt.withColumnRenamed("doc_id", "rep"), Seq("rep"))
          val within = sized.as("x")
            .join(sized.as("y"), col("x.rep") === col("y.rep") &&
                                 col("x.doc_id") =!= col("y.doc_id"))
            .select(col("x.doc_id").as("src"), col("y.doc_id").as("dst"),
                    col("x.n_sh").as("shared"), col("x.n_sh").as("n_sh"))
          cross.unionAll(within)
        }
      ordered
        .select(col("src").as("doc_src"), col("dst").as("doc_dst"),
                col("shared"),
                expr("(shared * 1000000) DIV n_sh").as("cmicro"))
        .filter(col("cmicro") >= thrMicro)
        .orderBy("doc_src", "doc_dst")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_dedup_exact" -> """
      SELECT min(doc_id) AS doc_id, count(*) AS n_copies,
             trim(lower(text)) AS norm
      FROM documents
      GROUP BY trim(lower(text))
      ORDER BY doc_id""",

    "q_dedup_exact_hash" -> """
      SELECT min(doc_id) AS doc_id, count(*) AS n_copies,
             md5(trim(lower(text))) AS body_md5
      FROM documents
      GROUP BY md5(trim(lower(text)))
      ORDER BY doc_id""",

    "q_dedup_apply" -> """
      WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents
                    GROUP BY md5(trim(lower(text))))
      SELECT doc_id, source, lang, n_chars
      FROM documents
      WHERE doc_id IN (SELECT doc_id FROM keep)
      ORDER BY doc_id""",

    "q_dedup_ngram" -> s"""
      WITH $jaccardPairsSql
      SELECT doc_a, doc_b, shared, jaccard FROM jp
      ORDER BY doc_a, doc_b""",

    "q_dedup_clusters" -> s"""
      WITH RECURSIVE $jaccardPairsSql,
      e AS (SELECT doc_a AS src, doc_b AS dst FROM jp
            UNION ALL SELECT doc_b, doc_a FROM jp),
      reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
      SELECT src AS doc_id, min(dst) AS cluster
      FROM reach
      GROUP BY src
      ORDER BY doc_id""",

    "q_dedup_ngram_capped" -> s"""
      WITH $shinglesSql,
      shh AS (SELECT DISTINCT doc_id,
                     CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h
              FROM sh),
      d2r AS (SELECT doc_id,
                     min(doc_id) OVER (PARTITION BY md5(text)) AS rep
              FROM documents),
      dfs AS (SELECT h, count(DISTINCT rep) AS df
              FROM shh JOIN d2r USING (doc_id) GROUP BY h),
      thr AS (SELECT sum(CAST(df AS DECIMAL(38,0))) AS sdf,
                     count(*) AS n FROM dfs),
      hot AS (SELECT h FROM dfs, thr
              WHERE df > 50
                 OR (df > 8 AND CAST(df AS DECIMAL(38,0)) * n > sdf * 2)),
      shf AS (SELECT * FROM shh WHERE h NOT IN (SELECT h FROM hot)),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
            FROM shf a JOIN shf b
              ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id)
      SELECT * FROM (
        SELECT doc_a, doc_b, shared,
               round(CAST(shared AS DOUBLE)
                     / (ca.n_sh + cb.n_sh - shared), 6) AS jaccard
        FROM p
        JOIN cnt ca ON doc_a = ca.doc_id
        JOIN cnt cb ON doc_b = cb.doc_id)
      WHERE jaccard >= 0.3
      ORDER BY doc_a, doc_b""",

    "q_graph_degree" -> s"""
      WITH $jaccardPairsSql,
      ends AS (SELECT doc_a AS doc_id FROM jp
               UNION ALL SELECT doc_b FROM jp),
      deg AS (SELECT doc_id, count(*) AS degree FROM ends GROUP BY doc_id)
      SELECT degree, count(*) AS n_docs
      FROM deg GROUP BY degree ORDER BY degree""",

    "q_contamination" -> s"""
      WITH $shinglesSql,
      shh AS (SELECT DISTINCT doc_id,
                     CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h
              FROM sh),
      a AS (SELECT doc_id,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 100 AS hb
            FROM documents),
      tr AS (SELECT DISTINCT h FROM shh JOIN a USING (doc_id) WHERE hb < 80),
      te AS (SELECT shh.doc_id, shh.h FROM shh JOIN a USING (doc_id)
             WHERE hb >= 90)
      SELECT te.doc_id, count(*) AS n_shingles,
             CAST(sum(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_contaminated,
             round(CAST(sum(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*), 6) AS contamination
      FROM te LEFT JOIN tr ON te.h = tr.h
      GROUP BY te.doc_id
      ORDER BY doc_id""",

    "q_dedup_chunk" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok
                 FROM documents),
      c AS (SELECT doc_id, tok,
                   unnest(range(0, ((len(tok) - 1) // 16) + 1)) AS cid
            FROM t),
      ch AS (SELECT doc_id,
                    CAST(('0x' || substr(md5(array_to_string(
                      tok[cid * 16 + 1 : cid * 16 + 16], ' ')), 1, 15))
                      AS BIGINT) AS h
             FROM c),
      dup AS (SELECT h FROM ch GROUP BY h
              HAVING count(DISTINCT doc_id) > 1)
      SELECT ch.doc_id, count(*) AS n_chunks,
             CAST(sum(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup_chunks,
             round(CAST(sum(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*), 6) AS dup_frac
      FROM ch LEFT JOIN dup ON ch.h = dup.h
      GROUP BY ch.doc_id
      ORDER BY doc_id""",

    "q_split_leakage" -> s"""
      WITH $shinglesSql,
      $minhashCtesSql,
      p2 AS (SELECT doc_a, doc_b FROM mp WHERE n_bands >= 2),
      sp AS (SELECT doc_id,
                    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS
                           VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80
                           THEN 'train'
                         WHEN CAST(('0x' || substr(md5(CAST(doc_id AS
                           VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
                           THEN 'val'
                         ELSE 'test' END AS split
             FROM documents),
      j AS (SELECT least(sa.split, sb.split) AS split_lo,
                   greatest(sa.split, sb.split) AS split_hi
            FROM p2
            JOIN sp sa ON p2.doc_a = sa.doc_id
            JOIN sp sb ON p2.doc_b = sb.doc_id)
      SELECT split_lo, split_hi, count(*) AS n_pairs,
             split_lo <> split_hi AS is_leak
      FROM j
      GROUP BY split_lo, split_hi
      ORDER BY split_lo, split_hi""",

    "q_dedup_minhash" -> s"""
      WITH $shinglesSql,
      $minhashCtesSql
      SELECT doc_a, doc_b, n_bands FROM mp
      ORDER BY doc_a, doc_b""",

    "q_dedup_minhash_clusters" -> s"""
      WITH RECURSIVE $shinglesSql,
      $minhashCtesSql,
      mp2 AS (SELECT doc_a, doc_b FROM mp WHERE n_bands >= 2),
      e AS (SELECT doc_a AS src, doc_b AS dst FROM mp2
            UNION ALL SELECT doc_b, doc_a FROM mp2),
      reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
      lab AS (SELECT src AS doc_id, min(dst) AS cluster
              FROM reach GROUP BY src)
      SELECT cluster, count(*) AS csize
      FROM lab
      GROUP BY cluster
      ORDER BY cluster""",

    "q_dedup_canonical" -> s"""
      WITH RECURSIVE $shinglesSql,
      $minhashCtesSql,
      mp2 AS (SELECT doc_a, doc_b FROM mp WHERE n_bands >= 2),
      e AS (SELECT doc_a AS src, doc_b AS dst FROM mp2
            UNION ALL SELECT doc_b, doc_a FROM mp2),
      reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
      lab AS (SELECT src AS doc_id, min(dst) AS cluster
              FROM reach GROUP BY src),
      lt AS (SELECT lab.doc_id, lab.cluster,
                    CAST(len(string_split(text, ' ')) AS BIGINT)
                      AS n_tokens
             FROM lab JOIN documents USING (doc_id)),
      mx AS (SELECT cluster, max(n_tokens) AS keep_tokens,
                    count(*) AS csize
             FROM lt GROUP BY cluster)
      SELECT mx.cluster AS cluster, min(lt.doc_id) AS keep_doc,
             mx.keep_tokens, mx.csize, mx.csize - 1 AS n_dropped
      FROM lt JOIN mx ON lt.cluster = mx.cluster
                     AND lt.n_tokens = mx.keep_tokens
      GROUP BY mx.cluster, mx.keep_tokens, mx.csize
      ORDER BY 1""",

    "q_dedup_minhash_eval" -> s"""
      WITH $jaccardPairsSql,
      $minhashCtesSql,
      j AS (SELECT coalesce(c.c, 0) AS c, coalesce(t.t, 0) AS t
            FROM (SELECT doc_a, doc_b, 1 AS c FROM mp) c
            FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS t FROM jp) t
              ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
      SELECT CAST(sum(c) AS BIGINT) AS n_candidates,
             CAST(sum(t) AS BIGINT) AS n_true,
             CAST(sum(CASE WHEN c = 1 AND t = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hit,
             round(CAST(sum(CASE WHEN c = 1 AND t = 1 THEN 1 ELSE 0 END)
                        AS DOUBLE) / sum(t), 6) AS recall,
             round(CAST(sum(CASE WHEN c = 1 AND t = 1 THEN 1 ELSE 0 END)
                        AS DOUBLE) / sum(c), 6) AS precision
      FROM j""",

    "q_dedup_simhash" -> """
      WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS td
                 FROM documents)
      SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 16), j ->
               CASE WHEN list_sum(list_transform(td, t2 ->
                      ((CAST(('0x' || substr(md5(t2), 1, 8)) AS BIGINT) >> j)
                       & 1) * 2 - 1)) > 0
                    THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT)
               AS simhash
      FROM t
      ORDER BY doc_id""",

    "q_dedup_embed" -> """
      WITH v AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
      n AS (SELECT vec_id, v,
                   sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
            FROM v),
      bands AS (SELECT vec_id, j AS band,
                  array_to_string(list_transform(
                    range(j * 4 + 1, j * 4 + 5),
                    i -> CASE WHEN v[i] > 0 THEN '1' ELSE '0' END), '') AS bkey
                FROM n, (SELECT unnest(range(0, 16)) AS j)),
      cand AS (SELECT DISTINCT a.vec_id AS ca, b.vec_id AS cb
               FROM bands a JOIN bands b
                 ON a.band = b.band AND a.bkey = b.bkey
                    AND a.vec_id < b.vec_id)
      SELECT * FROM (
        SELECT ca AS vec_a, cb AS vec_b,
               round(list_sum(list_transform(range(1, len(a.v) + 1),
                       i -> a.v[i] * b.v[i])) / nullif(a.nrm * b.nrm, 0), 6) AS cos
        FROM cand JOIN n a ON ca = a.vec_id JOIN n b ON cb = b.vec_id)
      WHERE cos >= 0.45
      ORDER BY vec_a, vec_b""",

    "q_dedup_semantic" -> s"""
      WITH ${SimOps.vectorsSql},
      ${SimOps.kmeansSql(3)},
      bands AS (SELECT vec_id, j AS band,
                  array_to_string(list_transform(
                    range(j * 4 + 1, j * 4 + 5),
                    i -> CASE WHEN v[i] > 0 THEN '1' ELSE '0' END), '')
                    AS bkey
                FROM n, (SELECT unnest(range(0, 16)) AS j)),
      cand AS (SELECT DISTINCT a.vec_id AS ca, b.vec_id AS cb
               FROM bands a JOIN bands b
                 ON a.band = b.band AND a.bkey = b.bkey
                    AND a.vec_id < b.vec_id),
      ep AS (SELECT * FROM (
               SELECT ca AS vec_a, cb AS vec_b,
                      round(list_sum(list_transform(range(1, len(a.v) + 1),
                              i -> a.v[i] * b.v[i]))
                            / nullif(a.nrm * b.nrm, 0), 6) AS cos
               FROM cand JOIN n a ON ca = a.vec_id
                         JOIN n b ON cb = b.vec_id)
             WHERE cos >= 0.45),
      cells AS (SELECT vec_id, cid FROM a3)
      SELECT vec_b AS vec_id, ka.cid AS cid, count(*) AS n_dups,
             max(cos) AS best_cos, min(vec_a) AS rep
      FROM ep
      JOIN cells ka ON ep.vec_a = ka.vec_id
      JOIN cells kb ON ep.vec_b = kb.vec_id
      WHERE ka.cid = kb.cid
      GROUP BY vec_b, ka.cid
      ORDER BY vec_id""",

    "q_dedup_multi_signal" -> s"""
      WITH RECURSIVE $shinglesSql,
      $minhashCtesSql,
      reph AS (SELECT md5(trim(lower(text))) AS k, min(doc_id) AS rep
               FROM documents GROUP BY 1),
      em AS (SELECT d.doc_id AS doc_a, r.rep AS doc_b
             FROM documents d
             JOIN reph r ON md5(trim(lower(d.text))) = r.k
             WHERE d.doc_id <> r.rep),
      v AS (SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
      nv AS (SELECT vec_id, v,
                    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
             FROM v),
      ebands AS (SELECT vec_id, j AS band,
                   array_to_string(list_transform(
                     range(j * 4 + 1, j * 4 + 5),
                     i -> CASE WHEN v[i] > 0 THEN '1' ELSE '0' END), '')
                     AS bkey
                 FROM nv, (SELECT unnest(range(0, 16)) AS j)),
      ecand AS (SELECT DISTINCT a.vec_id AS ca, b.vec_id AS cb
                FROM ebands a JOIN ebands b
                  ON a.band = b.band AND a.bkey = b.bkey
                     AND a.vec_id < b.vec_id),
      ep AS (SELECT * FROM (
               SELECT ca AS doc_a, cb AS doc_b,
                      round(list_sum(list_transform(range(1, len(a.v) + 1),
                              i -> a.v[i] * b.v[i]))
                            / nullif(a.nrm * b.nrm, 0), 6) AS cos
               FROM ecand JOIN nv a ON ca = a.vec_id
                          JOIN nv b ON cb = b.vec_id)
             WHERE cos >= 0.45),
      alle AS (SELECT doc_a AS src, doc_b AS dst FROM em
               UNION SELECT doc_a, doc_b FROM mp WHERE n_bands >= 2
               UNION SELECT doc_a, doc_b FROM ep),
      e AS (SELECT src, dst FROM alle
            UNION ALL SELECT dst, src FROM alle),
      reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
      SELECT src AS doc_id, min(dst) AS cluster,
             CAST(CASE WHEN min(dst) = src THEN 1 ELSE 0 END AS BIGINT)
               AS keep
      FROM reach GROUP BY src ORDER BY doc_id""",

    "q_dedup_incremental" -> s"""
      WITH $shinglesSql,
      shh AS (SELECT DISTINCT doc_id,
                     CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
                       AS h
              FROM sh),
      a AS (SELECT doc_id,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 100 AS hb,
                   md5(text) AS ck
            FROM documents),
      ck_corpus AS (SELECT DISTINCT ck FROM a WHERE hb < 90),
      batch AS (SELECT doc_id, ck FROM a WHERE hb >= 90),
      exact AS (SELECT b.doc_id, b.ck FROM batch b
                JOIN ck_corpus c USING (ck)),
      csh AS (SELECT DISTINCT h FROM shh JOIN a USING (doc_id)
              WHERE hb < 90),
      rem AS (SELECT doc_id, ck FROM batch b
              WHERE NOT EXISTS (SELECT 1 FROM ck_corpus c
                                WHERE c.ck = b.ck)),
      cont AS (SELECT r.doc_id, count(*) AS n_sh,
                      sum(CASE WHEN csh.h IS NOT NULL THEN 1 ELSE 0 END)
                        AS n_hit
               FROM rem r JOIN shh ON r.doc_id = shh.doc_id
                    LEFT JOIN csh ON shh.h = csh.h
               GROUP BY 1),
      cls AS (
        SELECT doc_id, ck, 'exact_dup' AS status FROM exact
        UNION ALL
        SELECT r.doc_id, r.ck,
               CASE WHEN (c.n_hit * 1000000) // c.n_sh >= 500000
                    THEN 'near_dup' ELSE 'unique' END AS status
        FROM rem r LEFT JOIN cont c ON r.doc_id = c.doc_id)
      SELECT status, count(*) AS n_docs,
             CAST(count(DISTINCT ck) AS BIGINT) AS n_contents
      FROM cls GROUP BY 1 ORDER BY 1""",

    "q_dedup_substring" -> """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts
                    FROM documents),
      wins AS (SELECT doc_id,
                      unnest(generate_series(0, len(ts) - 8)) AS start, ts
               FROM toks WHERE len(ts) >= 8),
      wh AS (SELECT doc_id, CAST(start AS BIGINT) AS start,
                    CAST(('0x' || substr(md5(
                        array_to_string(ts[start+1:start+8], ' ')), 1, 15))
                      AS BIGINT) AS h
             FROM wins),
      duph AS (SELECT h FROM wh GROUP BY h HAVING count(*) >= 2),
      dup AS (SELECT doc_id, start FROM wh
              WHERE h IN (SELECT h FROM duph)),
      brks AS (SELECT doc_id, start,
                 CASE WHEN lag(start) OVER w IS NULL
                        OR start - lag(start) OVER w > 7
                      THEN 1 ELSE 0 END AS brk
               FROM dup
               WINDOW w AS (PARTITION BY doc_id ORDER BY start)),
      isl AS (SELECT doc_id, start,
                sum(brk) OVER (PARTITION BY doc_id ORDER BY start
                               ROWS UNBOUNDED PRECEDING) AS island
              FROM brks),
      spans AS (SELECT doc_id, island, count(*) AS nw,
                       max(start) - min(start) + 8 AS span_tokens
                FROM isl GROUP BY doc_id, island)
      SELECT doc_id, CAST(sum(nw) AS BIGINT) AS n_dup_windows,
             count(*) AS n_spans,
             CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
      FROM spans GROUP BY doc_id ORDER BY doc_id""",

    "q_dedup_containment" -> s"""
      WITH $shinglesSql,
      shh AS (SELECT DISTINCT doc_id,
                     CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
                       AS h
              FROM sh),
      d2r AS (SELECT doc_id,
                     min(doc_id) OVER (PARTITION BY md5(text)) AS rep
              FROM documents),
      dfs AS (SELECT h, count(DISTINCT rep) AS df
              FROM shh JOIN d2r USING (doc_id) GROUP BY h),
      thr AS (SELECT sum(CAST(df AS DECIMAL(38,0))) AS sdf,
                     count(*) AS n FROM dfs),
      hot AS (SELECT h FROM dfs, thr
              WHERE df > 50
                 OR (df > 8 AND CAST(df AS DECIMAL(38,0)) * n > sdf * 2)),
      shf AS (SELECT * FROM shh WHERE h NOT IN (SELECT h FROM hot)),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
            FROM shf a JOIN shf b
              ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id),
      o AS (SELECT doc_a AS src, doc_b AS dst, shared FROM p
            UNION ALL SELECT doc_b, doc_a, shared FROM p)
      SELECT src AS doc_src, dst AS doc_dst, shared,
             (shared * 1000000) // n_sh AS cmicro
      FROM o JOIN cnt ON src = cnt.doc_id
      WHERE (shared * 1000000) // n_sh >= 500000
      ORDER BY doc_src, doc_dst""",
  )
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.MemoLog

/** Similarity search over the embedding column (north star,
  * BASELINE.json:6).
  *
  * `q_sim_search` is the exact brute-force baseline: broadcast the (single)
  * query vector against every row — O(n·dim) with zero shuffle beyond the
  * final top-k (TakeOrderedAndProject: per-partition heaps, driver merge).
  * That plan shape is exactly what survives a 1000-executor scale-up.
  *
  * `q_sim_search_lsh` is the sub-linear scale path: deterministic
  * sign-bucket LSH (the sign pattern of the first 8 components is the
  * bucket key — a fixed-hyperplane random-projection hash). Candidates are
  * only the query's bucket, then exact cosine re-rank inside it.
  */
object SimOps {

  import graft.functions.VectorFunctions.{dot_product, l2_norm}

  /** vec_id, v (raw float vector), nrm (L2 norm) — dot/norm run through the
    * native codegen DotProduct expression (same element-order double
    * accumulation as the oracle's list_sum). */
  private def vectors(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("nrm", l2_norm(col("v")))

  private def cosine(a: org.apache.spark.sql.Column,
                     b: org.apache.spark.sql.Column,
                     na: org.apache.spark.sql.Column,
                     nb: org.apache.spark.sql.Column) =
    dot_product(a, b) / (na * nb)

  private[ops] val vectorsSql = """
    v AS (SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    n AS (SELECT vec_id, label, v,
                 sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
          FROM v)"""

  private val dotSql =
    "list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))"

  /** Target expected per-bucket occupancy for the k-NN join's
    * scale-adaptive sign-bucket width (see q_knn_join). */
  private val knnOcc = 16

  /** PQ geometry (q_sim_search_pq): M subspaces × SUB dims (M·SUB = the
    * 64-dim embedding), K codewords per subspace, and the ADC shortlist
    * size fed to the exact re-rank. */
  private val pqM = 16
  private val pqSub = 4
  private val pqK = 32
  private val pqShortlist = 200

  /** Codebook training set bound and Lloyd iteration count: training
    * runs on the subvectors of the pqTrain smallest vec_ids — 128
    * training points per codeword (the classic 32–256×K sizing), a
    * deterministic O(1)-in-corpus-size sample so the training cost is
    * CONSTANT at 100 TB while the encode pass stays linear. */
  private val pqTrain = 4096
  private val pqIters = 3

  /** IVF+PQ probe width and its (smaller) ADC shortlist: with 2 of 8
    * cells probed the candidate pool is ~25% of the corpus, so a 100-row
    * shortlist matches plain PQ's recall at half its re-rank width
    * (measured recall@10 vs brute force with the trained M=16 codebook:
    * 9/10 sf0.01, 9/10 sf0.1; q_ann_sensitivity carries the
    * nprobe ∈ {1,2,4} sweep). */
  private val pqNprobe = 2
  private val pqIvfShortlist = 100

  /** Squared L2 between two equal-length vectors, with the oracle's
    * list_sum element-order accumulation — the native codegen
    * SqL2Dist expression (bit-identical to the former
    * aggregate(zip_with) HOF chain, ~10× faster: this kernel runs
    * n·k times in the k-means assign and the PQ encode). */
  private def sqd(a: org.apache.spark.sql.Column,
                  b: org.apache.spark.sql.Column) =
    graft.functions.VectorFunctions.sq_l2(a, b)

  /** (vec_id, m, sv): the L2-normalized vectors split into M contiguous
    * SUB-dim subvectors — the frame both the codebook and the encoder
    * read. Zero-norm vectors are excluded (cannot be cosine-ranked, and
    * their NULL subvectors would order differently across engines). */
  private def pqSubvectors(s: SparkSession, d: String): DataFrame =
    vectors(s, d).filter(col("nrm") > 0)
      .withColumn("u", transform(col("v"), x => x / col("nrm")))
      .select(col("vec_id"), explode(array((0 until pqM).map { m =>
        struct(lit(m).as("m"),
               slice(col("u"), m * pqSub + 1, pqSub).as("sv"))
      }: _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))

  /** (m, cwid, cw): the per-subspace PQ codebook, TRAINED with the
    * same deterministic unrolled Lloyd as q_cluster_kmeans (round 16;
    * the untrained first-K-subvectors codebook measured recall@10 8/10
    * at sf0.1): init = the subvectors of the pqK smallest vec_ids,
    * then pqIters assign+mean rounds over the pqTrain-bounded training
    * sample. Means are the exact-decimal davg spelling, so both
    * engines iterate from bit-identical codewords; a codeword that
    * attracts no training subvectors drops out of the next round (the
    * assignment is deterministic, so both engines drop the same ones).
    * ≤ K·M rows; memoized + persisted (training, the encode pass and
    * the query lookup table all read it). */
  private def pqCodebook(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "sim.pq_codebook") {
      // The training sample is ≤ pqTrain·M rows — O(1) in corpus size
      // BY DESIGN (the classic 32–256×K codebook sizing), so the whole
      // Lloyd loop runs DRIVER-SIDE on one bounded collect: the former
      // distributed spelling paid, per round, a plan tower (round r
      // nested inside round r+1's broadcast build side), a
      // (vec_id, m)-keyed window shuffle of trainRows·K scored rows,
      // and two aggregation exchanges — the 57 s/suite
      // `sim.pq_codebook` ledger line the r19 verdict flagged was that
      // fixed overhead, not data (65 K training rows). This is the
      // percentile-refinement / ranked-probe idiom taken to its
      // conclusion: a provably-bounded control computation belongs on
      // the driver, exactly like collecting any other ≤ 4096-row
      // statistic. The CORPUS-scale work (the encode over every
      // vector) stays distributed in [[pqCodes]].
      //
      // Every number is bit-identical to the distributed spelling:
      // the shared local Lloyd kernel ([[lloydLocal]]) replicates
      // SqL2Dist's in-order double fold, the row_number window's
      // (dist, cwid) order and the exact-decimal mean; a codeword that
      // attracts no training subvectors drops out, as before (its
      // (m, cwid) group simply doesn't appear). Subspaces are
      // independent, so each m runs its own Lloyd.
      val (keys, svs) = DriverLocal.collectVectors(
        pqSubvectors(s, d).filter(col("vec_id") < pqTrain)
          .select(col("vec_id"), col("m").cast("long"), col("sv")))
      val ansi = ansiOn(s)
      val rows = svs.indices.groupBy(i => keys(2 * i + 1)).toSeq
        .sortBy(_._1).flatMap { case (m, idx) =>
          val init = idx.filter(i => keys(2 * i) < pqK)
            .map(i => (keys(2 * i), svs(i))).toArray
          lloydLocal(idx.map(svs).toArray, init, pqIters, ansi)
            .map { case (cwid, cw) => (m.toInt, cwid, cw.toSeq) }
        }
      import s.implicits._
      rows
        .toDF("m", "cwid", "cw")
        .persist()
    }

  /** (vec_id, m, cwid): every vector's PQ code — the argmin encode of
    * the full corpus against the trained codebook. This is the INDEX
    * BUILD — memoized + persisted (M small ints per vector) so the
    * plain-PQ and IVF+PQ searches share one encode pass; at 100 TB it
    * is the write-once artifact next to the table.
    *
    * The corpus-sized encode does NOT take the join+window argmin the
    * O(1)-bounded training rounds use: that spelling shuffles n·M·K
    * scored rows (~100 M at the 100× sweep) only to keep one per key.
    * Instead the ≤ K·M-row trained codebook is collected once (the
    * bounded driver-control bracket, same idiom as the percentile
    * refinement) and inlined as a literal m → [(cwid, cw)] map, so the
    * encode is ONE narrow map-only projection over the n·M subvector
    * rows — zero shuffle, argmin computed per row as array_min over the
    * ≤ K scored (dist, cwid) structs: lexicographic struct ordering IS
    * the (sq_l2, cwid) tie-break, each distance is evaluated exactly
    * once (the earlier fold referenced it in two predicates plus the
    * result — 3× per codeword, interpreted HOFs get no CSE), and on an
    * all-NaN row (a non-finite embedding) struct ordering puts NaN last
    * with the cwid tiebreak — the same codeword DuckDB's
    * row_number(ORDER BY dist, cwid) picks, where the fold's sentinel
    * init would have emitted no code row at all. Bit-identical codes
    * on finite input, oracle-identical on non-finite. */
  private[ops] def pqCodes(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "sim.pq_codes") {
      val cbLocal: Map[Int, Seq[(Long, Seq[Double])]] =
        pqCodebook(s, d).collect()
          .map(r => (r.getInt(0), r.getLong(1),
                     r.getSeq[Double](2).toSeq))
          .groupBy(_._1).view
          .mapValues(_.sortBy(_._2).map(e => (e._2, e._3)).toSeq).toMap
      val cbCol = typedLit(cbLocal)
      pqSubvectors(s, d)
        .withColumn("best", array_min(transform(
          element_at(cbCol, col("m")),
          e => struct(sqd(col("sv"), e.getField("_2")).as("dist"),
                      e.getField("_1").as("cwid")))))
        .select(col("vec_id"), col("m"), col("best.cwid").as("cwid"))
        .persist()
    }

  /** (m, cwid, qd): the ADC lookup table — exact squared-L2 from each
    * of the query's subvectors to every codeword. K·M rows, broadcast
    * into the code scan. */
  private def pqQtab(s: SparkSession, d: String): DataFrame =
    pqCodebook(s, d).join(
        broadcast(pqSubvectors(s, d).filter(col("vec_id") === 0)
          .select(col("m"), col("sv").as("qsv")).limit(pqM)),
        Seq("m"))
      .select(col("m"), col("cwid"), sqd(col("qsv"), col("cw")).as("qd"))

  /** The q_sim_search_pq result frame — memoized + persisted (10-row
    * result) so the recall audit (q_ann_eval_pq) evaluates EXACTLY the
    * shipped search WITHOUT re-running the corpus-sized ADC scan per
    * consumer (VERDICT r19 #2: the audit's 100× row paid the scan once
    * for q_sim_search_pq and again inside the audit — persisting the
    * search frame for the audit's lifetime halves that row; released
    * with every other memo by [[graft.MemoLog.release]]). */
  private def pqSearch(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "sim.pq_search") {
      val short = pqCodes(s, d).filter(col("vec_id") =!= 0)
        .join(broadcast(pqQtab(s, d)), Seq("m", "cwid"))
        .groupBy(col("vec_id")).agg(dsum(col("qd")).as("adist"))
        .orderBy(col("adist"), col("vec_id")).limit(pqShortlist)
      pqRerank(s, d, short).persist()
    }

  /** Probe-width ceiling: the widest nprobe any consumer evaluates
    * (the sensitivity sweep's {1, 2, 4}). The ranked candidate pool and
    * its ADC scores are built ONCE at this width; every narrower probe
    * derives by filtering crank — probe sets are nested by
    * construction (top-np cells = the crank ≤ np rows). */
  private val pqNprobeMax = 4

  /** (vec_id, cid, crank): the ranked IVF candidate pool at the WIDEST
    * probe — memoized + persisted once per (session, dir). Every probe
    * width (the default search, the recall audit's pool count, all
    * three sensitivity widths) derives from THIS frame by a crank
    * filter instead of rebuilding a corpus-scale pool per width
    * (VERDICT r18 #6: the per-width pool + ADC builds charged ~11.5 s
    * of ledger to q_ann_sensitivity — more than the query's own
    * body). The ≤ pqNprobeMax-row ranked probe rides a broadcast; the
    * window that ranks it runs on those ≤ 8 centroid rows only. */
  private def ivfCandRanked(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "sim.ivf_cand_ranked") {
      val q = table(s, d, "embeddings").filter(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double"))
          .as("qv")).limit(1)
      // The ranked probe is ≤ pqNprobeMax rows by construction: collect
      // it (a bounded driver control frame — the percentile-bracket /
      // codebook idiom) and inline (cid, crank) literals, instead of a
      // no-partition Window whose single-partition exec warns on every
      // build. The orderBy+limit collect returns rows in sorted order,
      // so crank is the probe rank by (cdist, cid).
      val probeDf = q.crossJoin(broadcast(kmeansCents(s, d)))
        .select(col("cid"), sqd(col("qv"), col("c")).as("cdist"))
        .orderBy(col("cdist"), col("cid")).limit(pqNprobeMax)
      val probeRows = probeDf.collect()
      val probe = s.createDataFrame(
        s.sparkContext.parallelize(
          probeRows.toSeq.zipWithIndex.map { case (r, i) =>
            org.apache.spark.sql.Row(r.get(0), i + 1)
          }, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cid",
            probeDf.schema("cid").dataType, nullable = false),
          org.apache.spark.sql.types.StructField("crank",
            org.apache.spark.sql.types.IntegerType, nullable = false))))
      kmeansCells(s, d)
        .join(broadcast(probe), Seq("cid"))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("cid"), col("crank"))
        .persist()
    }

  /** The probed-cell candidate pool (vec_id, cid) at `nprobe` — a
    * crank filter over [[ivfCandRanked]] (row-identical to the former
    * per-width build: the probe ORDER BY (cdist, cid) is total, so the
    * top-np cells are exactly the crank ≤ np rows). */
  private def ivfCandidates(s: SparkSession, d: String,
                            nprobe: Int = pqNprobe): DataFrame = {
    // Loud, not silent (ADVICE r19): the ranked pool is built at width
    // pqNprobeMax — a wider request would silently return the width-4
    // filtered pool instead of the full probe the caller asked for.
    require(nprobe <= pqNprobeMax,
      s"nprobe=$nprobe exceeds the ranked-pool width $pqNprobeMax; " +
      "raise pqNprobeMax to widen the shared candidate frame")
    ivfCandRanked(s, d).filter(col("crank") <= nprobe)
      .select(col("vec_id"), col("cid"))
  }

  /** (vec_id, cid, crank, adist): the ADC-scored widest candidate
    * pool, memoized + persisted — ONE pass over the corpus-sized code
    * frame serves every probe width (adist = Σ_m qd depends only on
    * the vector's codes, never on the probe width, so a width's
    * shortlist is a crank filter + top-k over this frame). */
  private def adcScored(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "sim.ivfpq_adc_scored") {
      pqCodes(s, d)
        .join(broadcast(pqQtab(s, d)), Seq("m", "cwid"))
        .join(ivfCandRanked(s, d), Seq("vec_id"))
        .groupBy(col("vec_id"), col("cid"), col("crank"))
        .agg(dsum(col("qd")).as("adist"))
        .persist()
    }

  /** The exact brute-force top-10 ids — the recall audits' ground
    * truth. Memoized + persisted: one corpus scan serves every audit
    * branch (the former spelling re-evaluated the brute-force pass in
    * each hit-count join — ADVICE r15). */
  private def annExact10(s: SparkSession, d: String): DataFrame =
    MemoLog.frame(s, d, "sim.ann_exact10") {
      val n = vectors(s, d)
      val q = n.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qn")).limit(1)
      n.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          r6(cosine(col("qv"), col("v"), col("qn"), col("nrm"))).as("cos"))
        .orderBy(desc("cos"), asc("vec_id")).limit(10)
        .select(col("vec_id"))
        .persist()
    }

  /** The q_sim_search_ivfpq result frame (see [[pqSearch]]); wider
    * probes feed the sensitivity sweep. */
  private def ivfpqSearch(s: SparkSession, d: String,
                          nprobe: Int = pqNprobe): DataFrame =
    // memoized + persisted per probe width (10-row result): the search
    // frame feeds q_sim_search_ivfpq, the recall audit AND the
    // sensitivity sweep's matching branch — without the cache each
    // consumer re-ran the corpus-sized ADC scan (the ivfCandidates
    // rebuild ADVICE r15 flagged, one level up).
    MemoLog.frame(s, d, s"sim.ivfpq_search_$nprobe")(
      ivfpqSearchBuild(s, d, nprobe).persist())

  private def ivfpqSearchBuild(s: SparkSession, d: String,
                               nprobe: Int): DataFrame = {
    require(nprobe <= pqNprobeMax,
      s"nprobe=$nprobe exceeds the ADC-scored pool width $pqNprobeMax; " +
      "raise pqNprobeMax to widen the shared candidate frame")
    val short = adcScored(s, d).filter(col("crank") <= nprobe)
      .select(col("vec_id"), col("cid"), col("adist"))
      .orderBy(col("adist"), col("vec_id")).limit(pqIvfShortlist)
    pqRerank(s, d, short, Seq("cid"))
  }

  /** Exact-cosine re-rank of a (vec_id, adist, …) shortlist: top 10 by
    * (cos DESC, vec_id), carrying the r6 ADC distance plus any `extra`
    * shortlist columns through. */
  private def pqRerank(s: SparkSession, d: String, short: DataFrame,
                       extra: Seq[String] = Nil): DataFrame = {
    val n = vectors(s, d)
    val q = n.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qn")).limit(1)
    n.join(broadcast(short), Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(Seq(col("vec_id"), col("label")) ++ extra.map(col) ++ Seq(
        r6(col("adist")).as("adist"),
        r6(cosine(col("qv"), col("v"), col("qn"), col("nrm"))).as("cos"))
        : _*)
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(10)
  }

  val queries: Map[String, QB] = Map(
    // Exact top-10 by cosine against the vec_id=0 vector.
    "q_sim_search" -> ((s, d) => {
      val n = vectors(s, d)
      val q = n.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qn"))
        // vec_id is unique so this is value-neutral; it gives the plan
        // a PROVABLE one-row bound (maxRows) for the broadcast attach —
        // the structural fact PlanShapeSpec certifies instead of
        // trusting a query-name allowlist.
        .limit(1)
      n.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"),
          r6(cosine(col("qv"), col("v"), col("qn"), col("nrm"))).as("cos"))
        .orderBy(desc("cos"), asc("vec_id"))
        .limit(10)
    }),

    // LSH-bucketed ANN: candidates share the query's 8-bit sign bucket.
    "q_sim_search_lsh" -> ((s, d) => {
      val bucketed = vectors(s, d).withColumn("bucket",
        concat((1 to 8).map(i =>
          when(element_at(col("v"), i) > 0, "1").otherwise("0")): _*))
      val q = bucketed.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qn"),
                col("bucket").as("qbucket"))
      bucketed.filter(col("vec_id") =!= 0)
        .join(broadcast(q), col("bucket") === col("qbucket"))
        .select(col("vec_id"), col("label"), col("bucket"),
          r6(cosine(col("qv"), col("v"), col("qn"), col("nrm"))).as("cos"))
        .orderBy(desc("cos"), asc("vec_id"))
        .limit(10)
    }),

    // IVF-style ANN: the label column is the (pretrained) coarse-quantizer
    // cell assignment; probing = exact cosine re-rank inside the query's
    // own cell. At 100 TB the table is partitioned by cell, so a probe
    // touches 1/nlist of the data — this is the inverted-file scale path
    // next to the sign-bucket LSH above.
    "q_sim_search_ivf" -> ((s, d) => {
      val n = vectors(s, d)
      val q = n.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qn"),
                col("label").as("qcell"))
      n.filter(col("vec_id") =!= 0)
        .join(broadcast(q), col("label") === col("qcell"))
        .select(col("vec_id"), col("label"),
          r6(cosine(col("qv"), col("v"), col("qn"), col("nrm"))).as("cos"))
        .orderBy(desc("cos"), asc("vec_id"))
        .limit(10)
    }),

    // Product-quantization ANN (PQ with asymmetric distance computation)
    // — the memory-compression scale path next to the LSH bucket and the
    // IVF cell probe: at 100 TB the index stores M=16 small codes per
    // vector (16 bytes vs 256 for the raw floats), and a query scans
    // codes + one 16×32 lookup table instead of re-reading every vector.
    // Everything is deterministic and engine-exact:
    //   - vectors are L2-normalized first (on unit vectors L2² =
    //     2·(1−cos), so ADC distance order approximates cosine order;
    //     quantizing the RAW vectors ranked by magnitude, not angle —
    //     measured recall 1–2/10 vs 8–10/10 normalized);
    //   - codebook = TRAINED per-subspace Lloyd (pqIters unrolled
    //     rounds over the pqTrain-bounded sample; init = the subvectors
    //     of the pqK smallest vec_ids — no RNG, every round
    //     oracle-unrolled). M=16 subspaces of 4 dims: the finer
    //     geometry halves per-subspace quantization error vs 8×8 at 2×
    //     the encode cost, and training lifted measured recall@10 from
    //     8/10 to 9/10 at sf0.1;
    //   - encode = argmin of squared-L2 over the broadcast codebook,
    //     (dist, cwid) tie-break via the same per-key row_number window
    //     as the k-means argmin (a struct-min agg would plan as
    //     SortAggregate — struct buffers are not mutable — so the
    //     window IS the cheaper spelling: one (vec_id, m) shuffle with
    //     a ≤ K-row sort per key);
    //   - search = ADC: exact query→codeword distances (16×32 rows,
    //     broadcast), approx dist = exact-decimal sum of the 16 table
    //     entries each code selects (order-independent DECIMAL(18,6)
    //     terms, so Spark's unordered hash agg and DuckDB agree bitwise);
    //   - ADC top-200 shortlist (total (adist, vec_id) order), then
    //     exact-cosine re-rank on the raw vectors — the standard
    //     PQ candidate/re-rank split; measured recall@10 vs brute force:
    //     10/10 at sf0.01, 9/10 at sf0.1 with a 10% shortlist.
    // Plan shape: training is pqIters bounded rounds over an O(1)
    // sample; encode is one broadcast hash join + two map-side-
    // combined shuffles of ≤ (n·M → n) rows; the shortlist is a
    // TakeOrderedAndProject (per-partition heaps, driver merges 200
    // rows); the re-rank joins the broadcast 200-row shortlist back to
    // the vectors — no corpus-sized shuffle anywhere.
    "q_sim_search_pq" -> ((s, d) => pqSearch(s, d)),

    // IVF+PQ (the IVFADC composition, Jégou et al. 2011 "Product
    // quantization for nearest neighbor search", public IEEE TPAMI):
    // the coarse quantizer restricts the scan to the query's pqNprobe
    // nearest k-means cells, and PQ-ADC ranks only those candidates.
    // Unlike q_sim_search_ivf (whose cells are the pretrained label
    // column), the coarse quantizer here is LEARNED — the shared
    // kmeansCells/kmeansCents frames — so this is the full
    // build-your-own-index path: cluster, encode, probe, ADC, re-rank,
    // every stage deterministic and oracle-mirrored. At 100 TB the
    // table is partitioned by cell and codes are M small ints per
    // vector: a query touches nprobe/nlist of the data and reads codes,
    // not vectors — the standard billion-scale ANN serving shape.
    // Plan: probing is an 8-row broadcast argsort; the candidate
    // restriction is a hash join of the persisted codes against the
    // probed cells' vec_ids; ADC/shortlist/re-rank as in
    // q_sim_search_pq.
    "q_sim_search_ivfpq" -> ((s, d) => ivfpqSearch(s, d)),

    // Recall audit of the two PQ paths against the exact brute-force
    // top-10 — q_ann_eval's companion for the round-15 index family
    // (kept separate so the LSH/IVF audit's contract is untouched).
    // Evaluates the SHIPPED search frames (pqSearch/ivfpqSearch defs),
    // not a re-spelling, so the audit cannot drift from the searches;
    // also counts the IVF+PQ candidate pool — the number that shows
    // what fraction of the corpus the probe actually scanned. One-row
    // aggregates attach via structurally certified broadcasts.
    "q_ann_eval_pq" -> ((s, d) => {
      val exact10 = annExact10(s, d)
      val pq10 = pqSearch(s, d).select(col("vec_id"))
      val ivf10 = ivfpqSearch(s, d).select(col("vec_id"))
      exact10.agg(count(lit(1)).as("k"))
        .crossJoin(broadcast(exact10.join(pq10, "vec_id")
          .agg(count(lit(1)).as("pq_hits"))))
        .crossJoin(broadcast(ivfCandidates(s, d)
          .agg(count(lit(1)).as("ivfpq_candidates"))))
        .crossJoin(broadcast(exact10.join(ivf10, "vec_id")
          .agg(count(lit(1)).as("ivfpq_hits"))))
        .select(col("k"), col("pq_hits"),
          r6(col("pq_hits").cast("double") / col("k")).as("pq_recall"),
          col("ivfpq_candidates"), col("ivfpq_hits"),
          r6(col("ivfpq_hits").cast("double") / col("k"))
            .as("ivfpq_recall"))
        .orderBy("k")
    }),

    // IVF+PQ probe-width sensitivity (round 16): the recall/cost trade
    // the IVFADC design claims, MEASURED instead of asserted — one row
    // per nprobe ∈ {1, 2, 4} with the candidate-pool size (what
    // fraction of the corpus the probe scanned) and recall@10 against
    // the exact brute-force top-10. Every branch evaluates the SHIPPED
    // ivfpqSearch frame at that probe width; the persisted per-nprobe
    // candidate pools and the persisted exact-10 ground truth are
    // shared across branches, so the sweep pays one brute pass + one
    // ADC scan per width, not one per aggregate.
    "q_ann_sensitivity" -> ((s, d) => {
      val ex = annExact10(s, d)
      Seq(1, 2, 4).map { np =>
        ex.agg(count(lit(1)).as("k"))
          .crossJoin(broadcast(ivfCandidates(s, d, np)
            .agg(count(lit(1)).as("candidates"))))
          .crossJoin(broadcast(ex
            .join(ivfpqSearch(s, d, np).select(col("vec_id")), "vec_id")
            .agg(count(lit(1)).as("hits"))))
          .select(lit(np).as("nprobe"), col("candidates"), col("hits"),
            r6(col("hits").cast("double") / col("k")).as("recall"))
      }.reduce(_ unionAll _).orderBy("nprobe")
    }),

    // k-NN join (batch ANN): every vector gets its top-1 neighbor among
    // the vectors sharing its sign bucket — the all-rows companion to the
    // single-query searches above. The bucketed self-equi-join IS the
    // scale shape: candidates come from a hash join on the bucket key
    // (never an all-pairs nested loop), the exact cosine re-rank is the
    // codegen DotProduct, and the rank-1 window partitions on vec_id —
    // corpus-cardinality, so it splits across any executor count.
    //
    // The bucket key WIDTH is derived from the corpus size so per-bucket
    // occupancy stays ~KNN_OCC in expectation regardless of scale: with a
    // FIXED 8-bit key the within-bucket self-join is O(n²/256) — quadratic
    // again at 100× corpus. bits = smallest b in [8, 20] with
    // 2^b ≥ ceil(n / KNN_OCC), computed in pure integer arithmetic (one
    // count() scalar, broadcast like any AQE statistic) so the oracle can
    // reproduce it bit-exactly — no float log2 whose last-ulp could flip
    // ceil() between engines. Pair count is then O(n · KNN_OCC) expected
    // (worst case: sign-skewed corpora concentrate buckets — same caveat
    // as any fixed-hyperplane LSH; KNN_OCC=16 keeps even a 64× skewed
    // bucket linear). At the fixtures (n ≤ 2000 → bits = 8) this is
    // bit-identical to the former fixed-8-bit spelling. Recall trade:
    // wider buckets mean more vectors alone in their bucket; those drop
    // out (inner join), exactly like an empty LSH probe.
    "q_knn_join" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = vectors(s, d)
      val width = base.agg(count(lit(1)).as("n_vec"))
        .select((8 to 19).foldRight(lit(20)) { (b, rest) =>
          when(expr(s"(n_vec + ${knnOcc - 1}) DIV $knnOcc") <= (1L << b),
               lit(b)).otherwise(rest)
        }.as("bits"))
      val bucketed = base.crossJoin(broadcast(width))
        .withColumn("bucket",
          concat((1 to 20).map(i =>
            when(element_at(col("v"), i) > 0, "1").otherwise("0")): _*)
          .substr(lit(1), col("bits")))
      val pairs = bucketed.as("a")
        .join(bucketed.as("b"), col("a.bucket") === col("b.bucket") &&
              col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nn_id"),
          r6(cosine(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")))
            .as("cos"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(desc("cos"), asc("nn_id"))
      pairs.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("nn_id"), col("cos"))
        .orderBy("vec_id")
    }),

    // ANN quality eval: recall@10 of BOTH approximate search paths
    // (sign-bucket LSH, IVF cell probe) against the exact brute-force
    // top-10 — the measurement that justifies shipping an approximate
    // index at 100 TB, next to its subjects like q_dedup_minhash_eval
    // sits next to the MinHash family. One row: candidate-set sizes,
    // hits, recall. Every branch reuses the deterministic spellings of
    // q_sim_search / q_sim_search_lsh / q_sim_search_ivf (r6-rounded
    // cosine, (cos DESC, vec_id) total order), so the top-10 selections
    // are bit-reproducible in both engines. The scored frame is linear
    // (a broadcast probe over the vectors) and memoized + PERSISTED for
    // the audit's lifetime (VERDICT r19 #2: Catalyst has no
    // cross-branch reuse, so the five eval branches each re-derived the
    // corpus scan — five narrow scans per audit run); released with
    // every other memo by [[graft.MemoLog.release]].
    // The eval joins are on ≤10-row frames; one-row aggregates attach
    // via the structurally certified 1-row broadcast cross join.
    "q_ann_eval" -> ((s, d) => {
      val scored = MemoLog.frame(s, d, "sim.ann_eval_scored") {
        val n = vectors(s, d)
        val q = n.filter(col("vec_id") === 0)
          .select(col("v").as("qv"), col("nrm").as("qn"),
                  col("label").as("qcell"))
          .limit(1)
        def signBucket(v: org.apache.spark.sql.Column) =
          concat((1 to 8).map(i =>
            when(element_at(v, i) > 0, "1").otherwise("0")): _*)
        n.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), col("label"), col("qcell"),
            signBucket(col("v")).as("bucket"),
            signBucket(col("qv")).as("qbucket"),
            r6(cosine(col("qv"), col("v"), col("qn"), col("nrm")))
              .as("cos"))
          .persist()
      }
      def top10(df: DataFrame) =
        df.orderBy(desc("cos"), asc("vec_id")).limit(10).select(col("vec_id"))
      val exact10 = top10(scored)
      val lshCand = scored.filter(col("bucket") === col("qbucket"))
      val ivfCand = scored.filter(col("label") === col("qcell"))
      exact10.agg(count(lit(1)).as("k"))
        .crossJoin(broadcast(lshCand.agg(count(lit(1)).as("lsh_candidates"))))
        .crossJoin(broadcast(exact10.join(top10(lshCand), "vec_id")
          .agg(count(lit(1)).as("lsh_hits"))))
        .crossJoin(broadcast(ivfCand.agg(count(lit(1)).as("ivf_candidates"))))
        .crossJoin(broadcast(exact10.join(top10(ivfCand), "vec_id")
          .agg(count(lit(1)).as("ivf_hits"))))
        .select(col("k"), col("lsh_candidates"), col("lsh_hits"),
          r6(col("lsh_hits").cast("double") / col("k")).as("lsh_recall"),
          col("ivf_candidates"), col("ivf_hits"),
          r6(col("ivf_hits").cast("double") / col("k")).as("ivf_recall"))
        .orderBy("k")
    }),

    // Multimodal frame: text + embedding + scalars side by side, nested
    // array column preserved through the join (SURVEY.md §2.3).
    "q_multimodal_join" -> ((s, d) =>
      table(s, d, "documents").as("doc")
        .join(table(s, d, "embeddings").as("emb"),
              col("doc.doc_id") === col("emb.vec_id"))
        .select(col("doc_id"), col("lang"), col("label"),
          size(col("embedding")).cast("long").as("dim"),
          element_at(col("embedding"), 1).cast("double").as("e1"),
          length(col("text")).cast("long").as("text_len"))
        .orderBy("doc_id")),

    // Deterministic k-means (k=8, 3 unrolled Lloyd iterations) over the
    // embedding column — the clustering primitive behind SemDeDup-style
    // semantic curation (cluster first so near-dup / diversity work is
    // per-cell, not corpus-quadratic). Everything is engine-exact:
    //   - init = the 8 smallest vec_ids (no RNG to ship to executors);
    //   - assignment = argmin over squared L2 computed with the SAME
    //     element-order double accumulation as the oracle's list_sum,
    //     ties broken by centroid id via a (dist, cid) struct-min;
    //   - update = per-dimension exact-decimal mean (the davg spelling),
    //     so both engines iterate from bit-identical centroids.
    // Scale: each iteration is one broadcast of ≤ 8 centroid rows (a
    // .limit(8) gives the plan the PROVABLE maxRows bound PlanShapeSpec
    // certifies) against a linear scan — O(n·k·dim) compute, the means
    // are a (cid, dim)-keyed shuffle of bounded width (k·dim rows out).
    // Fixed iteration count keeps the oracle expressible; convergence
    // monitoring at 100 TB would watch the inertia column across runs.
    "q_cluster_kmeans" -> ((s, d) =>
      kmeansCells(s, d).groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"), dsum(col("dist")).as("inertia"))
        .orderBy("cid")),

    // Embedding-space outlier report — the embedding-side quality gate of
    // a curation pipeline (vectors far from the corpus centroid are
    // OOD/noise candidates): per-dimension exact-decimal centroid, then
    // top-20 vectors by squared L2 distance to it. Engine-exact like
    // k-means: the centroid is the davg spelling per dimension, the
    // distance is the codegen sq_l2 fold (same element-order double
    // accumulation as the oracle's list_sum), r6-clamped with a vec_id
    // tiebreak. Scale: the centroid is one (pos)-keyed map-side-combined
    // aggregate (dim·tasks partial rows) collapsed to a SINGLE broadcast
    // row; the distance pass is a linear scan against it; top-20 via
    // TakeOrdered — zero corpus-sized shuffles.
    "q_embed_outliers" -> ((s, d) => {
      val e = table(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
                col("embedding").cast("array<double>").as("v"))
      val cent = e.select(posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("pos")).agg(davg(col("x")).as("cx"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(pos, cx))), p -> p.cx)")
          .as("c"))
      e.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("label"),
          r6(graft.functions.VectorFunctions.sq_l2(col("v"), col("c")))
            .as("dist2"))
        .orderBy(desc("dist2"), asc("vec_id"))
        .limit(20)
    }),
  )

  /** The converged (3-iteration) k-means assignment frame
    * (vec_id, cid, dist) — shared by q_cluster_kmeans (per-cell
    * rollup) and DedupOps' q_dedup_semantic (which joins it on BOTH
    * pair endpoints), so all consumers see bit-identical cells.
    * Memoized per (session, dir) + persisted in [[graft.MemoLog]]:
    * without it the 3-iteration Lloyd lineage re-executes once per
    * consumer (twice inside q_dedup_semantic alone). The carried vector
    * is dropped before the persist, so the cached frame is 3 narrow
    * columns × corpus rows. Mirrors the oracle's [[kmeansSql]] CTE
    * chain exactly. */
  private[ops] def kmeansCells(s: SparkSession, d: String): DataFrame =
    kmeans(s, d)._1

  /** The converged coarse-quantizer centroids (cid, c) — the c2 frame
    * a3 was assigned against, i.e. exactly the centroids the cell ids
    * in [[kmeansCells]] refer to. Memoized with the cells; the
    * `.limit(8)` re-wrap restores the PROVABLE maxRows bound
    * PlanShapeSpec's structural BNLJ certification reads (an
    * InMemoryRelation does not carry one), and is value-neutral —
    * the frame has ≤ 8 rows by construction. */
  private[ops] def kmeansCents(s: SparkSession, d: String): DataFrame =
    kmeans(s, d)._2.limit(8)

  /** Build + materialize the memoized similarity-index frames that more
    * than one suite query consumes (DedupOps.prebuildShared's pattern —
    * see there for the attribution rationale): the k-means cells
    * (q_cluster_kmeans, q_dedup_semantic, the IVF probes), the trained
    * PQ codebook + corpus codes (both PQ searches, the recall audit,
    * the sensitivity sweep), the RANKED widest-probe IVF candidate
    * pool and its ADC scores (one corpus-scale build each, from which
    * every probe width — search, audit pool count, all three
    * sensitivity widths — derives by a crank filter), the default
    * IVF+PQ search frame, and the brute-force top-10 ground truth
    * (every recall audit). After the r19 width-independent
    * restructure, the only per-width work left with q_ann_sensitivity
    * is a filter + 100-row shortlist + 10-row re-rank per probe
    * width — bounded, not corpus-scale. */
  def prebuildShared(s: SparkSession, d: String): Unit = {
    kmeansCells(s, d)
    pqCodebook(s, d); pqCodes(s, d)
    ivfCandRanked(s, d); adcScored(s, d)
    annExact10(s, d); ivfpqSearch(s, d)
    // pqSearch is SHARED (q_sim_search_pq + q_ann_eval_pq): without the
    // prebuild, alphabetical order would charge its corpus ADC scan to
    // q_ann_eval_pq's row every pass while q_sim_search_pq's row read a
    // cached 10-row frame (r20 review — the exact r17 #1 misattribution
    // this step exists to prevent). q_ann_eval's scored frame stays OUT
    // deliberately: it has exactly one consumer, so that query's own
    // row honestly carrying its build is the correct attribution.
    pqSearch(s, d)
    ()
  }

  /** [[graft.MemoLog.release]], under the name the benchmark harness
    * calls. */
  def clearSimCaches(): Unit = MemoLog.release()

  /** The memoized k-means (cells, centroids): one Lloyd run yields BOTH
    * the assignment frame and its centroids, with c2 persisted so the
    * a3 assignment pass reuses the cached centroids instead of
    * re-running two more corpus passes.
    *
    * Size-gated driver-side Lloyd (round 22): under the [[DriverLocal]]
    * bound — the working set is vec_ids + vector elements × 8 B, from
    * the embeddings footers — the vectors are collected ONCE and the 3
    * Lloyd iterations run on the driver through the shared local
    * kernel ([[lloydLocal]], also the PQ codebook trainer's) with the
    * exact arithmetic of the distributed plan. The distributed
    * spelling paid ~8 fixed-overhead jobs and a (vec_id)-keyed window
    * shuffle of n·k scored rows per build (~1.7 s/warm-pass of
    * shared-build ledger at sf0.1) against 2 000 vectors. Above the
    * bound (true corpus scale) [[lloydFrames]] runs unchanged. Law
    * test: KmeansLawSpec asserts local == distributed cells AND
    * centroids on the real fixtures and on ragged/overflowing
    * synthetic vectors. */
  private def kmeans(s: SparkSession, d: String): (DataFrame, DataFrame) =
    MemoLog.value(s, d, "sim.kmeans") {
      val local = DriverLocal.admit(s, "kmeans",
        DriverLocal.footerBytes(s, s"$d/embeddings.parquet",
          rowBytes = 8, listCol = "embedding", elemBytes = 8))
      val (cells0, c2) =
        if (local) lloydLocalFrames(s, d)
        else {
          val (a3, c2d) = lloydFrames(s, d)
          (a3.select(col("vec_id"), col("cid"), col("dist")), c2d)
        }
      val cells = cells0.persist()
      // materialize inside the charged window (MemoLog.frame's
      // contract, spelled out here because the build yields two frames)
      cells.count()
      (cells, c2)
    }

  /** Driver-side 3-iteration Lloyd — the bounded-collect twin of
    * [[lloydFrames]] (see [[kmeans]] for the gate). Returns
    * (cells (vec_id, cid, dist), cents (cid, c)) as local relations
    * with the same schemas the distributed frames carry. */
  private def lloydLocalFrames(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    // the collect evaluates the SAME projection the distributed path
    // scans (cast to double via Spark's own Cast), so element values
    // are bit-identical by construction
    val (ids, vecs) = DriverLocal.collectVectors(table(s, d, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v")))
    // c0: the vectors with vec_id < 8, cid = vec_id (limit(8) in the
    // distributed plan is a no-op on unique ids — ≤ 8 rows by filter)
    val c0 = ids.indices.filter(ids(_) < 8).sortBy(ids(_)).take(8)
      .map(i => (ids(i), vecs(i))).toArray
    // two assign+mean rounds, then the final assignment (a3)
    val cents = lloydLocal(vecs, c0, 2, ansiOn(s))
    import s.implicits._
    val cells = ids.indices.map { i =>
      val (cid, dist) = argminLocal(vecs(i), cents)
      (ids(i), cid, dist)
    }.toDF("vec_id", "cid", "dist")
    val c2 = cents.toSeq.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("cid", "c")
    (cells, c2)
  }

  /** The local Lloyd kernel shared by the k-means twin and the PQ
    * codebook trainer: `iters` rounds of assign ([[argminLocal]]) +
    * mean ([[meansLocal]]) from `init`; returns the centroids sorted
    * by id. A centroid that attracts no points drops out, as its
    * (cid) group is absent from the distributed groupBy. */
  private def lloydLocal(points: Array[Array[Double]],
                         init: Array[(Long, Array[Double])], iters: Int,
                         ansi: Boolean): Array[(Long, Array[Double])] = {
    val cast = dec6(ansi)
    (1 to iters).foldLeft(init) { (cents, _) =>
      meansLocal(points, points.map(argminLocal(_, cents)._1), cast)
    }
  }

  /** SqL2Dist's in-order double fold (functions/VectorExpressions):
    * squared L2 over the common prefix of two vectors. */
  private def sqdLocal(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0; var i = 0
    while (i < n) { val t = a(i) - b(i); acc += t * t; i += 1 }
    acc
  }

  /** The nearest centroid (id, squared distance) in the row_number
    * window's (dist, id) order. Double.compare, not < : the window
    * orders NaN LAST with the id tiebreak (Spark sort semantics), so
    * an all-NaN row must still take the min-id centroid — a plain <
    * would leave it unassigned (r20 review). Distances are sums of
    * squares, so -0.0 never arises. */
  private def argminLocal(v: Array[Double],
                          cents: Array[(Long, Array[Double])])
      : (Long, Double) = {
    var bd = Double.NaN; var bid = Long.MaxValue; var first = true
    cents.foreach { case (id, c) =>
      val dist = sqdLocal(v, c)
      val cmp = java.lang.Double.compare(dist, bd)
      if (first || cmp < 0 || (cmp == 0 && id < bid)) {
        bd = dist; bid = id; first = false
      }
    }
    (bid, bd)
  }

  /** Per (id, position) mean, as the distributed posexplode +
    * groupBy(cid, pos) computes it: sum(CAST(x AS DECIMAL(18,6))) as an
    * exact BigDecimal, then doubleValue / n, where n counts the member
    * vectors that HAVE the position (ragged vectors average each
    * position over its own members) and a null cast (see [[dec6]]) is
    * skipped in the sum but counted in n. Sorted by id. */
  private def meansLocal(points: Array[Array[Double]], ids: Array[Long],
                         cast: Double => java.math.BigDecimal)
      : Array[(Long, Array[Double])] =
    points.indices.groupBy(ids(_)).toArray.sortBy(_._1).map {
      case (id, members) =>
        val dim = members.map(points(_).length).max
        (id, Array.tabulate(dim) { p =>
          var sum: java.math.BigDecimal = null; var n = 0
          members.foreach { i =>
            val v = points(i)
            if (p < v.length) {
              n += 1
              val x = cast(v(p))
              if (x != null) sum = if (sum == null) x else sum.add(x)
            }
          }
          // every element null: the distributed mean is a NULL
          // centroid element, which a double array cannot carry
          if (sum == null) throw new ArithmeticException(
            s"driver-local Lloyd: every element at position $p of " +
            s"centroid $id casts to NULL DECIMAL(18,6); set " +
            s"${graft.Plain.Key}=true for the distributed plan")
          sum.doubleValue / n
        })
    }

  /** CAST(double AS DECIMAL(18,6)) by Spark's own Cast in the session's
    * mode, as the distributed plan evaluates it: |v| ≥ 1e12, NaN or ±Inf
    * raise its out-of-range error under ANSI and are null otherwise.
    * One per Lloyd run (it reuses one input row: not thread-safe). */
  private def dec6(ansi: Boolean): Double => java.math.BigDecimal = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
      EvalMode, SpecificInternalRow}
    import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType}
    val cast = Cast(BoundReference(0, DoubleType, nullable = false),
      DecimalType(18, 6), None,
      if (ansi) EvalMode.ANSI else EvalMode.LEGACY)
    val row = new SpecificInternalRow(Seq(DoubleType))
    v => {
      row.setDouble(0, v)
      cast.eval(row) match {
        case d: Decimal => d.toJavaBigDecimal
        case _ => null
      }
    }
  }

  private def ansiOn(s: SparkSession): Boolean =
    s.conf.get("spark.sql.ansi.enabled").toBoolean

  private def lloydFrames(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val vecs = table(s, d, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val c0 = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("c")).limit(8)
    def assign(cents: DataFrame): DataFrame = {
      // argmin via per-vector row_number (k rows per partition — the
      // sort is bounded by k, and it is the oracle's exact spelling;
      // a struct-min would fall out of hash aggregation here because
      // the carried vector makes the buffer non-mutable).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))
      vecs.crossJoin(broadcast(cents))
        .withColumn("dist", sqd(col("v"), col("c")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("v"), col("cid"), col("dist"))
    }
    def means(a: DataFrame): DataFrame = a
      .select(col("cid"), posexplode(col("v")))
      .groupBy(col("cid"), col("pos"))
      .agg((sum(col("col").cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("m"))
      .groupBy(col("cid"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("c"))
      .limit(8)
    val c2 = means(assign(means(assign(c0)))).persist()
    (assign(c2), c2)
  }

  /** Unrolled k-means CTE chain for the oracle (k=8, `iters` Lloyd
    * iterations), mirroring q_cluster_kmeans' exact arithmetic:
    * list_sum squared-L2, (dist, cid) tiebreak, exact-decimal means. */
  private[ops] def kmeansSql(iters: Int): String = {
    val init =
      "c0 AS (SELECT vec_id AS cid, v AS c FROM n WHERE vec_id < 8)"
    val steps = (1 to iters).map { k =>
      val upd = if (k == iters) "" else s""",
      m$k AS (SELECT cid, pos,
                     CAST(sum(CAST(val AS DECIMAL(18,6))) AS DOUBLE)
                       / count(*) AS m
              FROM (SELECT cid, unnest(v) AS val,
                           unnest(range(1, len(v) + 1)) AS pos FROM a$k)
              GROUP BY cid, pos),
      c$k AS (SELECT cid, list(m ORDER BY pos) AS c FROM m$k GROUP BY cid)"""
      s"""
      d$k AS (SELECT n.vec_id, n.v, c.cid,
                     list_sum(list_transform(range(1, len(n.v) + 1),
                       i -> (n.v[i] - c.c[i]) * (n.v[i] - c.c[i]))) AS dist
              FROM n, c${k - 1} c),
      a$k AS (SELECT vec_id, v, cid, dist FROM (
                SELECT vec_id, v, cid, dist,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cid) AS rn
                FROM d$k) WHERE rn = 1)$upd"""
    }
    init + steps.mkString(",", ",", "")
  }

  /** The codebook-training CTE chain (mirrors [[pqCodebook]]): training
    * sample (tr), init codebook (cb0), then pqIters unrolled
    * assign+mean rounds (te$k / pm$k / cb$k) — the per-subspace Lloyd
    * with the exact arithmetic of the k-means oracle (list_sum
    * squared-L2, (dist, cwid) tiebreak, exact-decimal means). */
  private val pqTrainCtesSql: String = {
    val init =
      s"""tr AS (SELECT vec_id, m, sv FROM sub WHERE vec_id < $pqTrain),
      cb0 AS (SELECT m, vec_id AS cwid, sv AS cw FROM sub
              WHERE vec_id < $pqK)"""
    val steps = (1 to pqIters).map { k =>
      s"""
      te$k AS (SELECT vec_id, m, cwid, sv FROM (
                SELECT t.vec_id, t.m, c.cwid, t.sv,
                       row_number() OVER (PARTITION BY t.vec_id, t.m
                         ORDER BY
                           list_sum(list_transform(range(1, ${pqSub + 1}),
                             i -> (t.sv[i] - c.cw[i])
                                  * (t.sv[i] - c.cw[i]))),
                           c.cwid) AS rn
                FROM tr t JOIN cb${k - 1} c ON t.m = c.m) WHERE rn = 1),
      pm$k AS (SELECT m, cwid, pos,
                      CAST(sum(CAST(val AS DECIMAL(18,6))) AS DOUBLE)
                        / count(*) AS mv
               FROM (SELECT m, cwid, unnest(sv) AS val,
                            unnest(range(1, len(sv) + 1)) AS pos
                     FROM te$k)
               GROUP BY m, cwid, pos),
      cb$k AS (SELECT m, cwid, list(mv ORDER BY pos) AS cw FROM pm$k
               GROUP BY m, cwid)"""
    }
    init + steps.mkString(",", ",", "")
  }

  /** The PQ index CTE chain shared by the plain-PQ and IVF+PQ oracles:
    * normalized vectors (nn), subvector explode (sub), trained codebook
    * (cb$pqIters via [[pqTrainCtesSql]]), per-vector codes (enc), and
    * the query's ADC lookup table (qtab) — each mirroring the Spark
    * helper of the same role. */
  private val pqCtesSql = s"""nn AS (SELECT vec_id, label, v, nrm,
                    list_transform(v, x -> x / nrm) AS u
             FROM n WHERE nrm > 0),
      sub AS (SELECT vec_id, m,
                     list_transform(range(1, ${pqSub + 1}),
                                    i -> u[m * $pqSub + i]) AS sv
              FROM nn, (SELECT unnest(range(0, $pqM)) AS m)),
      $pqTrainCtesSql,
      enc AS (SELECT vec_id, m, cwid FROM (
                SELECT s.vec_id, s.m, c.cwid,
                       row_number() OVER (PARTITION BY s.vec_id, s.m
                         ORDER BY
                           list_sum(list_transform(range(1, ${pqSub + 1}),
                             i -> (s.sv[i] - c.cw[i])
                                  * (s.sv[i] - c.cw[i]))),
                           c.cwid) AS rn
                FROM sub s JOIN cb$pqIters c ON s.m = c.m) WHERE rn = 1),
      qtab AS (SELECT c.m, c.cwid,
                      list_sum(list_transform(range(1, ${pqSub + 1}),
                        i -> (q.sv[i] - c.cw[i])
                             * (q.sv[i] - c.cw[i]))) AS qd
               FROM cb$pqIters c
               JOIN (SELECT m, sv FROM sub WHERE vec_id = 0) q
                 ON c.m = q.m)"""

  val oracles: Map[String, String] = Map(
    "q_cluster_kmeans" -> s"""
      WITH $vectorsSql,
      ${kmeansSql(3)}
      SELECT cid, count(*) AS n_vecs,
             CAST(sum(CAST(dist AS DECIMAL(18,6))) AS DOUBLE) AS inertia
      FROM a3 GROUP BY cid ORDER BY cid""",

    "q_embed_outliers" -> """
      WITH v AS (SELECT vec_id, label,
                        list_transform(embedding, x -> CAST(x AS DOUBLE))
                          AS v
                 FROM embeddings),
      e AS (SELECT unnest(v) AS x,
                   unnest(range(1, len(v) + 1)) AS pos
            FROM v),
      cd AS (SELECT pos,
                    CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE)
                      / count(x) AS cx
             FROM e GROUP BY pos),
      carr AS (SELECT list(cx ORDER BY pos) AS c FROM cd)
      SELECT t.vec_id AS vec_id, t.label AS label,
             round(list_sum(list_transform(range(1, len(t.v) + 1),
                     i -> (t.v[i] - q.c[i]) * (t.v[i] - q.c[i]))), 6)
               AS dist2
      FROM v t, carr q
      ORDER BY dist2 DESC, vec_id ASC
      LIMIT 20""",

    "q_sim_search" -> s"""
      WITH $vectorsSql
      SELECT c.vec_id AS vec_id, c.label AS label,
             round($dotSql / nullif(q.nrm * c.nrm, 0), 6) AS cos
      FROM n c, (SELECT v, nrm FROM n WHERE vec_id = 0) q
      WHERE c.vec_id <> 0
      ORDER BY cos DESC, vec_id ASC
      LIMIT 10""",

    "q_sim_search_lsh" -> s"""
      WITH $vectorsSql,
      b AS (SELECT vec_id, label, v, nrm,
                   concat(
                     CASE WHEN v[1] > 0 THEN '1' ELSE '0' END,
                     CASE WHEN v[2] > 0 THEN '1' ELSE '0' END,
                     CASE WHEN v[3] > 0 THEN '1' ELSE '0' END,
                     CASE WHEN v[4] > 0 THEN '1' ELSE '0' END,
                     CASE WHEN v[5] > 0 THEN '1' ELSE '0' END,
                     CASE WHEN v[6] > 0 THEN '1' ELSE '0' END,
                     CASE WHEN v[7] > 0 THEN '1' ELSE '0' END,
                     CASE WHEN v[8] > 0 THEN '1' ELSE '0' END) AS bucket
            FROM n)
      SELECT c.vec_id AS vec_id, c.label AS label, c.bucket AS bucket,
             round($dotSql / nullif(q.nrm * c.nrm, 0), 6) AS cos
      FROM b c JOIN (SELECT v, nrm, bucket FROM b WHERE vec_id = 0) q
        ON c.bucket = q.bucket
      WHERE c.vec_id <> 0
      ORDER BY cos DESC, vec_id ASC
      LIMIT 10""",

    "q_ann_eval" -> s"""
      WITH $vectorsSql,
      b AS (SELECT vec_id, label, v, nrm,
                   concat(
                     CASE WHEN v[1] > 0 THEN '1' ELSE '0' END,
                     CASE WHEN v[2] > 0 THEN '1' ELSE '0' END,
                     CASE WHEN v[3] > 0 THEN '1' ELSE '0' END,
                     CASE WHEN v[4] > 0 THEN '1' ELSE '0' END,
                     CASE WHEN v[5] > 0 THEN '1' ELSE '0' END,
                     CASE WHEN v[6] > 0 THEN '1' ELSE '0' END,
                     CASE WHEN v[7] > 0 THEN '1' ELSE '0' END,
                     CASE WHEN v[8] > 0 THEN '1' ELSE '0' END) AS bucket
            FROM n),
      q AS (SELECT v, nrm, bucket AS qbucket, label AS qcell
            FROM b WHERE vec_id = 0),
      scored AS (SELECT c.vec_id, c.label, c.bucket, q.qbucket, q.qcell,
                        round($dotSql / nullif(q.nrm * c.nrm, 0), 6) AS cos
                 FROM b c, q WHERE c.vec_id <> 0),
      ex AS (SELECT vec_id FROM scored ORDER BY cos DESC, vec_id LIMIT 10),
      lshc AS (SELECT * FROM scored WHERE bucket = qbucket),
      ivfc AS (SELECT * FROM scored WHERE label = qcell),
      lsh10 AS (SELECT vec_id FROM lshc ORDER BY cos DESC, vec_id LIMIT 10),
      ivf10 AS (SELECT vec_id FROM ivfc ORDER BY cos DESC, vec_id LIMIT 10)
      SELECT (SELECT count(*) FROM ex) AS k,
             (SELECT count(*) FROM lshc) AS lsh_candidates,
             (SELECT count(*) FROM ex JOIN lsh10 USING (vec_id))
               AS lsh_hits,
             round(CAST((SELECT count(*) FROM ex JOIN lsh10 USING (vec_id))
                        AS DOUBLE) / (SELECT count(*) FROM ex), 6)
               AS lsh_recall,
             (SELECT count(*) FROM ivfc) AS ivf_candidates,
             (SELECT count(*) FROM ex JOIN ivf10 USING (vec_id))
               AS ivf_hits,
             round(CAST((SELECT count(*) FROM ex JOIN ivf10 USING (vec_id))
                        AS DOUBLE) / (SELECT count(*) FROM ex), 6)
               AS ivf_recall""",

    "q_sim_search_ivf" -> s"""
      WITH $vectorsSql
      SELECT c.vec_id AS vec_id, c.label AS label,
             round($dotSql / nullif(q.nrm * c.nrm, 0), 6) AS cos
      FROM n c JOIN (SELECT v, nrm, label FROM n WHERE vec_id = 0) q
        ON c.label = q.label
      WHERE c.vec_id <> 0
      ORDER BY cos DESC, vec_id ASC
      LIMIT 10""",

    "q_sim_search_pq" -> s"""
      WITH $vectorsSql,
      $pqCtesSql,
      adc AS (SELECT e.vec_id,
                     CAST(sum(CAST(t.qd AS DECIMAL(18,6))) AS DOUBLE)
                       AS adist
              FROM enc e JOIN qtab t ON e.m = t.m AND e.cwid = t.cwid
              WHERE e.vec_id <> 0 GROUP BY e.vec_id),
      short AS (SELECT vec_id, adist FROM adc
                ORDER BY adist, vec_id LIMIT $pqShortlist)
      SELECT c.vec_id AS vec_id, c.label AS label,
             round(t.adist, 6) AS adist,
             round($dotSql / nullif(q.nrm * c.nrm, 0), 6) AS cos
      FROM short t JOIN nn c ON t.vec_id = c.vec_id,
           (SELECT v, nrm FROM nn WHERE vec_id = 0) q
      ORDER BY cos DESC, vec_id ASC
      LIMIT 10""",

    "q_sim_search_ivfpq" -> s"""
      WITH $vectorsSql,
      ${kmeansSql(3)},
      $pqCtesSql,
      qc AS (SELECT c.cid,
                    list_sum(list_transform(range(1, len(q.v) + 1),
                      i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i])))
                      AS cdist
             FROM c2 c, (SELECT v FROM n WHERE vec_id = 0) q),
      probe AS (SELECT cid FROM qc ORDER BY cdist, cid LIMIT $pqNprobe),
      cand AS (SELECT a3.vec_id, a3.cid FROM a3 JOIN probe USING (cid)
               WHERE a3.vec_id <> 0),
      adc AS (SELECT e.vec_id, cand.cid,
                     CAST(sum(CAST(t.qd AS DECIMAL(18,6))) AS DOUBLE)
                       AS adist
              FROM enc e JOIN qtab t ON e.m = t.m AND e.cwid = t.cwid
              JOIN cand ON e.vec_id = cand.vec_id
              GROUP BY e.vec_id, cand.cid),
      short AS (SELECT vec_id, cid, adist FROM adc
                ORDER BY adist, vec_id LIMIT $pqIvfShortlist)
      SELECT c.vec_id AS vec_id, c.label AS label, t.cid AS cid,
             round(t.adist, 6) AS adist,
             round($dotSql / nullif(q.nrm * c.nrm, 0), 6) AS cos
      FROM short t JOIN nn c ON t.vec_id = c.vec_id,
           (SELECT v, nrm FROM nn WHERE vec_id = 0) q
      ORDER BY cos DESC, vec_id ASC
      LIMIT 10""",

    "q_ann_eval_pq" -> s"""
      WITH $vectorsSql,
      ${kmeansSql(3)},
      $pqCtesSql,
      ex AS (SELECT c.vec_id
             FROM n c, (SELECT v, nrm FROM n WHERE vec_id = 0) q
             WHERE c.vec_id <> 0
             ORDER BY round($dotSql / nullif(q.nrm * c.nrm, 0), 6) DESC,
                      c.vec_id
             LIMIT 10),
      adc AS (SELECT e.vec_id,
                     CAST(sum(CAST(t.qd AS DECIMAL(18,6))) AS DOUBLE)
                       AS adist
              FROM enc e JOIN qtab t ON e.m = t.m AND e.cwid = t.cwid
              WHERE e.vec_id <> 0 GROUP BY e.vec_id),
      short AS (SELECT vec_id, adist FROM adc
                ORDER BY adist, vec_id LIMIT $pqShortlist),
      pq10 AS (SELECT c.vec_id
               FROM short t JOIN nn c ON t.vec_id = c.vec_id,
                    (SELECT v, nrm FROM nn WHERE vec_id = 0) q
               ORDER BY round($dotSql / nullif(q.nrm * c.nrm, 0), 6)
                          DESC, c.vec_id
               LIMIT 10),
      qc AS (SELECT c.cid,
                    list_sum(list_transform(range(1, len(q.v) + 1),
                      i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i])))
                      AS cdist
             FROM c2 c, (SELECT v FROM n WHERE vec_id = 0) q),
      probe AS (SELECT cid FROM qc ORDER BY cdist, cid LIMIT $pqNprobe),
      cand AS (SELECT a3.vec_id, a3.cid FROM a3 JOIN probe USING (cid)
               WHERE a3.vec_id <> 0),
      adc2 AS (SELECT e.vec_id,
                      CAST(sum(CAST(t.qd AS DECIMAL(18,6))) AS DOUBLE)
                        AS adist
               FROM enc e JOIN qtab t ON e.m = t.m AND e.cwid = t.cwid
               JOIN cand ON e.vec_id = cand.vec_id
               GROUP BY e.vec_id),
      short2 AS (SELECT vec_id, adist FROM adc2
                 ORDER BY adist, vec_id LIMIT $pqIvfShortlist),
      ivf10 AS (SELECT c.vec_id
                FROM short2 t JOIN nn c ON t.vec_id = c.vec_id,
                     (SELECT v, nrm FROM nn WHERE vec_id = 0) q
                ORDER BY round($dotSql / nullif(q.nrm * c.nrm, 0), 6)
                           DESC, c.vec_id
                LIMIT 10)
      SELECT (SELECT count(*) FROM ex) AS k,
             (SELECT count(*) FROM ex JOIN pq10 USING (vec_id))
               AS pq_hits,
             round(CAST((SELECT count(*) FROM ex JOIN pq10 USING (vec_id))
                        AS DOUBLE) / (SELECT count(*) FROM ex), 6)
               AS pq_recall,
             (SELECT count(*) FROM cand) AS ivfpq_candidates,
             (SELECT count(*) FROM ex JOIN ivf10 USING (vec_id))
               AS ivfpq_hits,
             round(CAST((SELECT count(*) FROM ex JOIN ivf10 USING (vec_id))
                        AS DOUBLE) / (SELECT count(*) FROM ex), 6)
               AS ivfpq_recall""",

    "q_ann_sensitivity" -> s"""
      WITH $vectorsSql,
      ${kmeansSql(3)},
      $pqCtesSql,
      ex AS (SELECT c.vec_id
             FROM n c, (SELECT v, nrm FROM n WHERE vec_id = 0) q
             WHERE c.vec_id <> 0
             ORDER BY round($dotSql / nullif(q.nrm * c.nrm, 0), 6) DESC,
                      c.vec_id
             LIMIT 10),
      qc AS (SELECT c.cid,
                    list_sum(list_transform(range(1, len(q.v) + 1),
                      i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i])))
                      AS cdist
             FROM c2 c, (SELECT v FROM n WHERE vec_id = 0) q)${
      Seq(1, 2, 4).map { np => s""",
      probe$np AS (SELECT cid FROM qc ORDER BY cdist, cid LIMIT $np),
      cand$np AS (SELECT a3.vec_id, a3.cid FROM a3 JOIN probe$np
                    USING (cid)
                  WHERE a3.vec_id <> 0),
      adc$np AS (SELECT e.vec_id,
                        CAST(sum(CAST(t.qd AS DECIMAL(18,6))) AS DOUBLE)
                          AS adist
                 FROM enc e JOIN qtab t ON e.m = t.m AND e.cwid = t.cwid
                 JOIN cand$np ON e.vec_id = cand$np.vec_id
                 GROUP BY e.vec_id),
      short$np AS (SELECT vec_id, adist FROM adc$np
                   ORDER BY adist, vec_id LIMIT $pqIvfShortlist),
      ivf$np AS (SELECT c.vec_id
                 FROM short$np t JOIN nn c ON t.vec_id = c.vec_id,
                      (SELECT v, nrm FROM nn WHERE vec_id = 0) q
                 ORDER BY round($dotSql / nullif(q.nrm * c.nrm, 0), 6)
                            DESC, c.vec_id
                 LIMIT 10)"""
      }.mkString}
      ${Seq(1, 2, 4).map { np => s"""
      SELECT $np AS nprobe,
             (SELECT count(*) FROM cand$np) AS candidates,
             (SELECT count(*) FROM ex JOIN ivf$np USING (vec_id))
               AS hits,
             round(CAST((SELECT count(*) FROM ex JOIN ivf$np
                           USING (vec_id)) AS DOUBLE)
                   / (SELECT count(*) FROM ex), 6) AS recall"""
      }.mkString(" UNION ALL ")}
      ORDER BY nprobe""",

    "q_knn_join" -> s"""
      WITH $vectorsSql,
      bw AS (SELECT ${(8 to 19).foldRight("20") { (b, rest) =>
               s"CASE WHEN (count(*) + ${knnOcc - 1}) // $knnOcc <= ${1L << b} THEN $b ELSE $rest END"
             }} AS bits FROM n),
      b AS (SELECT vec_id, v, nrm,
                   substr(concat(${(1 to 20).map(i =>
                     s"CASE WHEN v[$i] > 0 THEN '1' ELSE '0' END")
                     .mkString(",\n                     ")}),
                     1, bits) AS bucket
            FROM n, bw),
      p AS (SELECT a.vec_id AS vec_id, c.vec_id AS nn_id,
                   round(list_sum(list_transform(range(1, len(a.v) + 1),
                           i -> a.v[i] * c.v[i]))
                         / nullif(a.nrm * c.nrm, 0), 6) AS cos
            FROM b a JOIN b c
              ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos DESC, nn_id ASC) AS rn
            FROM p)
      SELECT vec_id, nn_id, cos FROM r WHERE rn = 1
      ORDER BY vec_id""",

    "q_multimodal_join" -> """
      SELECT doc_id, lang, label,
             CAST(len(embedding) AS BIGINT) AS dim,
             CAST(embedding[1] AS DOUBLE) AS e1,
             CAST(length(text) AS BIGINT) AS text_len
      FROM documents
      JOIN embeddings ON doc_id = vec_id
      ORDER BY doc_id""",
  )
}

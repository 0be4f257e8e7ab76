package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Relational graph analytics beyond the similarity graph (which lives
  * with its dedup producers in [[DedupOps]]): iterative PageRank over a
  * graph derived from the warehouse tables.
  *
  * Determinism: PageRank is usually float — cross-engine float iteration
  * compounds ulp drift, so this one is INTEGER PageRank in micro-units:
  * pr₀ = 1 000 000; each round pr' = 150 000 + (85 · Σ_in (pr DIV
  * outdeg)) DIV 100. Every operation is int64 arithmetic both engines
  * execute bit-identically, so a fixed iteration count hash-matches an
  * unrolled-CTE DuckDB oracle exactly — the same trick as the
  * milli-unit surprisal score.
  *
  * Scale posture: one shuffle join (contributions keyed by dst) plus one
  * grouped sum per iteration — the standard message-passing round, AQE
  * skew-handled; the edge list and degree table are computed once and
  * reused. Teleport handling: the derived bipartite graph is
  * symmetrized, so every node has in- and out-degree ≥ 1 and no
  * dangling-mass redistribution is needed.
  */
object GraphOps {

  /** Fixed-iteration integer PageRank over a symmetric edge list
    * (`src`, `dst` long columns). Returns (node, pr) in micro-units.
    *
    * The final frame is ONE plan containing every round as a subtree —
    * without caching, the (edges ⋈ outdeg) message base would be
    * recomputed per round (scan + distinct + agg × iters), so the caller
    * passes an already-persisted base via [[messageBase]]. */
  private[graft] def pagerank(withDeg: DataFrame, iters: Int): DataFrame = {
    var pr = withDeg.select(col("src").as("node")).distinct()
      .withColumn("pr", lit(1000000L))
    for (_ <- 1 to iters) {
      // shuffle_hash on the rank side: the default sort-merge join paid
      // a full SORT of the cached message base per round (the dominant
      // per-round cost — the base is edge-sized, the rank frame is
      // node-sized). A shuffled-hash join builds on the small rank side
      // and STREAMS the cached base, which is already hash-partitioned
      // on src from its degree join; the rank frame arrives hash-
      // partitioned on node from the previous round's aggregation — so
      // a round's only exchange is its own groupBy(dst). (Broadcasting
      // pr instead would collect O(nodes) to the driver per round —
      // ~40 MB at 100×, and growing with the graph; the hash join keeps
      // every round fully distributed.)
      pr = withDeg.join(pr.hint("shuffle_hash"), col("src") === col("node"))
        .select(col("dst"), expr("pr DIV outdeg").as("c"))
        .groupBy(col("dst"))
        .agg(expr("150000 + (85 * sum(c)) DIV 100").as("pr"))
        .select(col("dst").as("node"), col("pr"))
    }
    pr
  }

  /** Driver bytes per collected lineitem row of [[pagerankLocal]] when
    * every row is a distinct (part, supplier) pair of two new nodes
    * (JDK 17, compressed oops):
    *   - 16: the collected pair, two longs;
    *   - 75: its `HashSet` entry: the `(Long, Long)` tuple (40), the
    *     set's node (24) and a 4 B table slot at load ≥ 0.375 (≤ 11);
    *   - 56: the edge arrays: `e0`'s ref (4), the swapped tuple (40)
    *     and its ref (4), `edges`' two refs (8);
    *   - 512: two nodes × the four `LongMap`s a round holds (outdeg,
    *     pr, acc, the next pr) × 64 B: ≤ 4 slots of 12 B (long key +
    *     ref, load ≥ 0.25) and a 16 B boxed value.
    * Live heap measured after full GCs: 510 B/row over 1 M such rows,
    * 145–163 B/row on the sf0.1 lineitem (600 k rows, 591 k distinct
    * pairs, 21 k nodes). */
  private[ops] val PagerankRowBytes = 16L + 75L + 56L + 2L * 4L * 64L

  private[ops] def pagerankEstimate(s: org.apache.spark.sql.SparkSession,
                                    d: String): Option[Long] =
    DriverLocal.footerBytes(s, s"$d/lineitem.parquet", PagerankRowBytes)

  /** The driver-path gate, shared with [[prebuildShared]] so the
    * bench's shared-build step does not materialize a message base no
    * query will read when the driver loop is active. */
  private def pagerankLocalGate(s: org.apache.spark.sql.SparkSession,
                                d: String): Boolean =
    DriverLocal.admit(s, "pagerank", pagerankEstimate(s, d))

  /** Driver-side twin of [[pagerank]] over the same derived graph —
    * exact by construction: every operation is int64 micro-unit
    * arithmetic (the object scaladoc's determinism argument), and the
    * per-destination message sums are commutative integer adds, so
    * accumulation order cannot matter. Collects the raw bipartite
    * (part, supplier + Off) pairs once into one primitive array and
    * deduplicates them on the driver (the distributed distinct would
    * pay a full shuffle to deduplicate rows the driver is about to
    * hold anyway), then symmetrize → out-degrees → 3 synchronous
    * message rounds run locally. Symmetrization cannot create
    * duplicates (the id spaces are disjoint around Off), matching the
    * distributed unionAll exactly; the round recurrence pr' = 150000 +
    * (85 · Σ (pr DIV outdeg)) DIV 100 uses Java long division =
    * Spark's DIV on the (always positive) operands. */
  private def pagerankLocal(s: org.apache.spark.sql.SparkSession,
                            d: String): DataFrame = {
    val raw = DriverLocal.collectLongs(table(s, d, "lineitem")
      .select(col("l_partkey"), col("l_suppkey") + Off))
    val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
    var i = 0
    while (i < raw.length) { seen.add((raw(i), raw(i + 1))); i += 2 }
    val e0 = seen.toArray
    val edges = e0 ++ e0.map { case (a, b) => (b, a) }
    val outdeg = scala.collection.mutable.LongMap.empty[Long]
    edges.foreach { case (srcN, _) =>
      outdeg(srcN) = outdeg.getOrElse(srcN, 0L) + 1L }
    var pr = outdeg.map { case (n, _) => (n, 1000000L) }
    for (_ <- 1 to 3) {
      val acc = scala.collection.mutable.LongMap.empty[Long]
      edges.foreach { case (srcN, dstN) =>
        acc(dstN) = acc.getOrElse(dstN, 0L) + pr(srcN) / outdeg(srcN) }
      pr = acc.map { case (n, sm) => (n, 150000L + (85L * sm) / 100L) }
    }
    import s.implicits._
    pr.toSeq.sortBy(_._1).toDF("node_id", "pr_micro").orderBy("node_id")
  }

  /** Attach each edge's source out-degree — the message base shape
    * [[pagerank]] consumes. */
  private[graft] def withDegree(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    edges.join(deg, "src")
  }

  /** The persisted (edges ⋈ outdeg) message base, memoized per
    * (session, dir) in [[graft.MemoLog]]: repeat q_graph_pagerank
    * invocations in a long-lived session (Verify, an interactive Graft
    * session) reuse ONE persisted frame instead of stacking a new
    * persist per call. */
  private def messageBase(s: org.apache.spark.sql.SparkSession,
                          d: String): DataFrame =
    // value, not frame: this block counts the persisted base itself
    // (it must — before e0.unpersist and under the AQE-off scope);
    // frame() would issue a second full cached scan in the charged
    // window and inflate every ledgered build (r18 review)
    graft.MemoLog.value(s, d, "graph.pagerank_base") {
      // Materialize the base with AQE OFF: AQE pays one logical
      // re-optimization plus a scheduler round per exchange, and for
      // this fixed-shape, skew-free build (distinct → symmetrize →
      // degree agg → join → persist) that overhead IS the dominant cost
      // at bench scale — measured ~0.3 s of a ~1.7 s build at sf0.1,
      // with identical rows either way. Scoped: restored in the finally,
      // so the CONSUMER rounds keep AQE (whose skew handling matters on
      // a 100× graph). The count() inside this block is what runs under
      // the override — by the time any later action sees the frame it
      // reads the persisted blocks, not the plan.
      val savedAqe = s.conf.get("spark.sql.adaptive.enabled", "true")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      try {
      // The distinct edge set feeds BOTH branches of the symmetrizing
      // union, and Catalyst has no cross-branch subtree reuse — without
      // the persist the full-corpus scan+distinct runs twice (measured
      // ~1 s of the query's 4.4 s at sf0.1). The small distinct frame is
      // persisted only while the base materializes, then released: the
      // memoized entry is the joined base, not the raw edges.
      val e0 = table(s, d, "lineitem")
        .select(col("l_partkey").as("src"),
                (col("l_suppkey") + Off).as("dst"))
        .distinct()
        .persist()
      // The degree join's output is already hash-partitioned on src, and
      // that partitioning is what the cache exposes — every round joins
      // on src == node with the rank frame arriving hash-partitioned on
      // node from the previous round's groupBy(dst), so the per-round
      // join needs no exchange on either side (see the shuffle_hash
      // hint in [[pagerank]] for why it needs no SORT either).
      val base = withDegree(e0.unionAll(e0.select(col("dst").as("src"),
                                                  col("src").as("dst"))))
        .persist()
      base.count() // materialize before dropping the edge frame
      e0.unpersist()
      base
      } finally s.conf.set("spark.sql.adaptive.enabled", savedAqe)
    }

  /** The ≥2-pruned part co-purchase edge set (a, b) — memoized +
    * persisted like the pagerank base: the pruned edge set is tiny but
    * feeds the degree agg, BOTH wedge sides, the closing-edge probe and
    * the edge count — five consumers that would each re-run the
    * lineitem self-join without it.
    * Edge build in TWO shuffles, not four: one groupBy(order) with a
    * map-side-combining collect_set (subsuming the (order, part)
    * distinct), then the i<j pairs generated IN-MEMORY per order (an
    * order holds <= 7 parts, so the explode is bounded — never a
    * hot-key self-join), then one groupBy(part, part) with map-side
    * partial counts. The self-join spelling the oracle keeps costs
    * two extra corpus-sized exchanges (distinct on a different key
    * than the join, then the join's own) — measured 121 s vs this
    * at the 100× sweep. */
  private def copurchaseEdges(s: org.apache.spark.sql.SparkSession,
                              d: String): DataFrame =
    graft.MemoLog.frame(s, d, "graph.copurchase_edges") {
      // The per-order collect_set runs in ObjectHashAggregate, whose
      // sort-based fallback triggers after 128 in-memory groups
      // (spark.sql.objectHashAggregate.sortBased.fallbackThreshold) —
      // i.e. at the 100× sweep's 15 M orders this aggregation runs
      // sort-based. MEASURED as the better shape, not an oversight:
      // an in-JVM alternating A/B over the 100× fixture (TESTDATA.md,
      // retired probes) read 15.7 s warm for the default fallback
      // vs 25–32 s with the threshold raised to 16 M — millions of
      // tiny per-order array buffers in one object hash map are GC
      // poison, while the sort-based path streams sorted runs. Keep
      // Spark's default.
      table(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .groupBy(col("ok")).agg(array_sort(collect_set(col("p")))
          .as("pss"))
        .select(explode(expr(
          """flatten(transform(pss, (x, i) ->
               transform(slice(pss, i + 2, size(pss)),
                         y -> struct(x AS a, y AS b))))""")).as("e"))
        .groupBy(col("e.a").as("a"), col("e.b").as("b"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
        .select(col("a"), col("b"))
        .persist()
    }

  /** Build + materialize the memoized graph bases more than one bench
    * pass (or more than one consumer) reads — the
    * [[graft.ops.DedupOps.prebuildShared]] pattern, added r19: Bench's
    * releaseCaches() clears the graph bases between passes, so every
    * warm q_graph_pagerank/q_graph_triangles row was paying its base
    * rebuild (~1.4 s at sf0.1 — the per-pass ledger charge the r18
    * verdict traced) on top of the query's own rounds/census. Building
    * them in the shared_builds step makes the rows measure the QUERY
    * against warm bases, with the build cost itemized in the artifact's
    * shared_builds/memo ledger like the dedup and sim frames. */
  def prebuildShared(s: org.apache.spark.sql.SparkSession,
                     d: String): Unit = {
    // Below the pagerank driver gate no query reads the message base —
    // prebuilding it would charge the ledger ~1.7 s/pass for a frame
    // with zero consumers (caught in this round's final bench: the
    // ledger row survived the gate until prebuild learned about it).
    if (!pagerankLocalGate(s, d)) messageBase(s, d)
    copurchaseEdges(s, d)
    ()
  }

  /** [[graft.MemoLog.release]], under the name the benchmark harness
    * calls. */
  def clearMessageCache(): Unit = graft.MemoLog.release()

  /** Supplier id offset making part and supplier node ids disjoint (far
    * above any key the 10×/100× shifted fixtures produce). */
  private val Off = 1000000000000L

  /** Symmetrized (v, n) adjacency of an a<b edge list — shared by the
    * jaccard and k-hop wedge queries (each consumer re-derived it
    * inline before round 20's review pass). */
  private def symAdj(e: DataFrame): DataFrame =
    e.select(col("a").as("v"), col("b").as("n"))
      .unionAll(e.select(col("b").as("v"), col("a").as("n")))

  /** Per-node degree of a symmetrized adjacency, aliased per caller. */
  private def degreeOf(sym: DataFrame, as: String): DataFrame =
    sym.groupBy(col("v")).agg(count(lit(1)).as(as))

  val queries: Map[String, QB] = Map(
    // PageRank over the part–supplier fulfillment graph: which parts and
    // suppliers sit most centrally in the supply network. Nodes = parts ∪
    // (suppliers + Off); one symmetric edge per distinct (part, supplier)
    // lineitem pairing; 3 rounds. Output is every node's micro-unit rank.
    "q_graph_pagerank" -> ((s, d) => {
      // Under the [[DriverLocal]] bound the driver loop replaces the
      // persisted message-base build plus 3 rounds of join+agg (each
      // with its own exchange); above it the distributed path runs.
      if (pagerankLocalGate(s, d))
        pagerankLocal(s, d)
      else
        pagerank(messageBase(s, d), 3)
          .select(col("node").as("node_id"), col("pr").as("pr_micro"))
          .orderBy("node_id")
    }),

    // Triangle census of the part co-purchase affinity graph: parts are
    // linked when they co-occur in >= 2 distinct orders (the >= 2 prune
    // is the affinity-graph hygiene any 100 TB co-occurrence pipeline
    // applies — one shared basket is noise, and it is ALSO what bounds
    // the edge set: the raw >= 1 graph is 335× larger at sf0.1). Output
    // is the one-row census a graph pipeline monitors: edges, wedges
    // (open two-paths), triangles, and the global transitivity ratio
    // 3·T/wedges in exact integer micro.
    //
    // The triangle join is degree-ordered (Cohen 2009 / the standard
    // O(m^{3/2}) bound): every edge is directed from its lower (deg, id)
    // endpoint, wedges are generated at each wedge's MINIMUM-degree
    // vertex, and each triangle is counted exactly once where all three
    // orderings agree. On a skewed graph the naive id-ordered join
    // generates deg² wedge candidates at a celebrity node; the
    // degree-ordered form caps every node's wedge fan-out at its
    // DIRECTED out-degree <= sqrt(m)-ish. The oracle keeps the naive
    // a<b<c triple-join spelling — same triangle set, different cost
    // shape, which is exactly the point. Per-order pairing is bounded
    // by order size (TPC-H <= 7 lineitems), never a hot-key blowup.
    // Headroom: 3·T·10⁶ stays in int64 through T <= 3·10¹²; the
    // >= 2-pruned affinity graph is ~10³ edges at fixture scales and
    // edge-bounded (not corpus-bounded) at 100 TB.
    "q_graph_triangles" -> ((s, d) => {
      val e = copurchaseEdges(s, d)
      val deg = e.select(col("a").as("v"))
        .unionAll(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      // the directed edge frame is read three times (both wedge sides
      // plus the closing-edge probe) — memoize+persist it like e, or
      // each consumer re-runs the degree agg and both joins
      val dirE = graft.MemoLog.frame(s, d, "graph.copurchase_dir") {
        e.join(deg.select(col("v").as("a"), col("deg").as("da")),
               Seq("a"))
          .join(deg.select(col("v").as("b"), col("deg").as("db")),
                Seq("b"))
          .select(
            when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
                 struct(col("a").as("u"), col("b").as("w"),
                        col("db").as("dw")))
              .otherwise(struct(col("b").as("u"), col("a").as("w"),
                                col("da").as("dw"))).as("e"))
          .select(col("e.u").as("u"), col("e.w").as("w"),
                  col("e.dw").as("dw"))
          .persist()
      }
      val tri = dirE.as("e1")
        .join(dirE.as("e2"),
              col("e1.u") === col("e2.u") &&
              (struct(col("e1.dw"), col("e1.w")) <
               struct(col("e2.dw"), col("e2.w"))))
        .select(col("e1.w").as("u"), col("e2.w").as("w"))
        .join(dirE.select("u", "w"), Seq("u", "w"), "semi")
        .agg(count(lit(1)).as("n_triangles"))
      val wedges = deg.agg(
        sum(expr("deg * (deg - 1) DIV 2")).as("n_wedges"))
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(wedges))
        .crossJoin(broadcast(tri))
        .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
          expr("(3 * n_triangles * 1000000) DIV n_wedges")
            .as("transitivity_micro"))
    }),

    // Connected components of the part co-purchase affinity graph
    // (round 20 — the graph family's third declared query): every node
    // labeled with its component's minimum node id, plus the component
    // size — the "which affinity islands exist and how big are they"
    // report a co-occurrence pipeline reads before mining within
    // components. The kernel is the SAME pointer-doubling min-label
    // fixpoint the dedup clustering family runs
    // ([[graft.ops.DedupOps.propagateMinLabels]] — O(log diameter)
    // rounds, per-round cost one join + one grouped min, stress-tested
    // on a 10k-diameter chain in DedupSimSpec), so its 100 TB posture
    // is already adjudicated: edge-bounded state, label frame
    // checkpointed per round, finished rounds released. The oracle is
    // the recursive-CTE min-reachable closure (the q_dedup_clusters
    // spelling) over the same ≥2-pruned edge set — a fixpoint is
    // oracle-expressible where a fixed unroll would under-iterate on a
    // long-diameter component.
    "q_graph_cc" -> ((s, d) => {
      val e = copurchaseEdges(s, d)
      val sym = e.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      val (labels, _) = graft.ops.DedupOps.propagateMinLabels(sym, "q_graph_cc")
      val lab = labels.select(col("doc_id").as("node_id"),
                              col("cluster").as("component"))
      // component sizes are a component-keyed aggregate of the (tiny
      // relative to corpus) label frame; the join back is on the same
      // key, so AQE broadcast-plans it when sizes allow
      val sizes = lab.groupBy(col("component"))
        .agg(count(lit(1)).as("csize"))
      lab.join(sizes, "component")
        .select(col("node_id"), col("component"), col("csize"))
        .orderBy("node_id")
    }),

    // Neighbor-Jaccard node similarity (round 20 — link prediction /
    // "parts bought in the same contexts" mining over the co-purchase
    // graph): for node pairs sharing ≥1 neighbor, Jaccard of their
    // neighborhoods |N(a)∩N(b)| / |N(a)∪N(b)| in exact integer micro,
    // top 20 by (jaccard desc, a, b). Common-neighbor counting is the
    // wedge join through the shared neighbor — the SAME Σ deg(v)² cost
    // shape as the triangle census's wedge generation, bounded by the
    // ≥ 2 co-purchase prune that keeps hub degrees edge-bounded (the
    // raw ≥1 graph is 335× larger; see q_graph_triangles). Reuses the
    // memoized+persisted copurchaseEdges base, so the corpus-sized
    // lineitem work is shared with the census and CC rows. Union is
    // by inclusion–exclusion (da + db − common), never materialized.
    "q_graph_jaccard" -> ((s, d) => {
      val sym = symAdj(copurchaseEdges(s, d))
      val deg = degreeOf(sym, "deg")
      val common = sym.as("x").join(sym.as("y"),
          col("x.n") === col("y.n") && col("x.v") < col("y.v"))
        .groupBy(col("x.v").as("na"), col("y.v").as("nb"))
        .agg(count(lit(1)).as("common_cnt"))
      common
        .join(deg.select(col("v").as("na"), col("deg").as("da")), "na")
        .join(deg.select(col("v").as("nb"), col("deg").as("db")), "nb")
        .select(col("na").as("node_a"), col("nb").as("node_b"),
                col("common_cnt"),
                expr("(common_cnt * 1000000) DIV (da + db - common_cnt)")
                  .as("jaccard_micro"))
        .orderBy(desc("jaccard_micro"), asc("node_a"), asc("node_b"))
        .limit(20)
    }),

    // 2-hop neighborhood census (round 20): per node, the direct-degree
    // and the count of nodes at EXACTLY distance 2 (2-hop reachable,
    // minus self, minus direct neighbors) — the expansion profile a
    // graph pipeline reads to size frontier growth before running
    // BFS-shaped work. Shape: one wedge join through the shared
    // neighbor (the census's Σ deg(v)² bound under the ≥2 prune), a
    // distinct on the (v, w) candidate pairs, an anti-join against the
    // direct edges, then node-keyed counts — every join key is an
    // equi-key, and the result is node-bounded, not corpus-bounded.
    "q_graph_khop" -> ((s, d) => {
      val sym = symAdj(copurchaseEdges(s, d))
      val deg = degreeOf(sym, "n_1hop")
      val two = sym.as("x").join(sym.as("y"),
          col("x.n") === col("y.v"))
        .select(col("x.v").as("v"), col("y.n").as("w"))
        .filter(col("v") =!= col("w"))
        .distinct()
        .join(sym.select(col("v"), col("n").as("w")), Seq("v", "w"),
              "left_anti")
        .groupBy(col("v")).agg(count(lit(1)).as("n_2hop"))
      deg.join(two, Seq("v"), "left")
        .select(col("v").as("node_id"), col("n_1hop"),
                coalesce(col("n_2hop"), lit(0L)).as("n_2hop"))
        .orderBy("node_id")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_graph_pagerank" -> """
      WITH e0 AS (SELECT DISTINCT l_partkey AS src,
                         l_suppkey + 1000000000000 AS dst FROM lineitem),
      e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
      p0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr
             FROM e GROUP BY src),
      i1 AS (SELECT e.dst AS node,
                    150000 + (85 * sum(p0.pr // deg.outdeg)) // 100 AS pr
             FROM e JOIN p0 ON e.src = p0.node JOIN deg ON e.src = deg.src
             GROUP BY e.dst),
      i2 AS (SELECT e.dst AS node,
                    150000 + (85 * sum(i1.pr // deg.outdeg)) // 100 AS pr
             FROM e JOIN i1 ON e.src = i1.node JOIN deg ON e.src = deg.src
             GROUP BY e.dst),
      i3 AS (SELECT e.dst AS node,
                    150000 + (85 * sum(i2.pr // deg.outdeg)) // 100 AS pr
             FROM e JOIN i2 ON e.src = i2.node JOIN deg ON e.src = deg.src
             GROUP BY e.dst)
      SELECT node AS node_id, CAST(pr AS BIGINT) AS pr_micro
      FROM i3
      ORDER BY node_id""",

    "q_graph_triangles" -> """
      WITH l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
                 FROM lineitem),
      e AS (SELECT x.p AS a, y.p AS b
            FROM l x JOIN l y ON x.ok = y.ok AND x.p < y.p
            GROUP BY x.p, y.p HAVING count(*) >= 2),
      deg AS (SELECT v, count(*) AS d
              FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
              GROUP BY v),
      tri AS (SELECT count(*) AS t
              FROM e e1 JOIN e e2 ON e2.a = e1.b
                        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      wed AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS w FROM deg)
      SELECT (SELECT count(*) FROM e) AS n_edges, w AS n_wedges,
             t AS n_triangles,
             (3 * t * 1000000) // w AS transitivity_micro
      FROM wed, tri""",

    "q_graph_cc" -> """
      WITH RECURSIVE l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
                           FROM lineitem),
      e0 AS (SELECT x.p AS a, y.p AS b
             FROM l x JOIN l y ON x.ok = y.ok AND x.p < y.p
             GROUP BY x.p, y.p HAVING count(*) >= 2),
      e AS (SELECT a AS src, b AS dst FROM e0
            UNION ALL SELECT b, a FROM e0),
      n AS (SELECT DISTINCT src AS v FROM e),
      reach(v, lab) AS (
        SELECT v, v FROM n
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.v),
      comp AS (SELECT v AS node_id, min(lab) AS component
               FROM reach GROUP BY v),
      cs AS (SELECT component, count(*) AS csize
             FROM comp GROUP BY component)
      SELECT c.node_id, c.component, cs.csize
      FROM comp c JOIN cs USING (component)
      ORDER BY node_id""",

    "q_graph_jaccard" -> """
      WITH l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
                 FROM lineitem),
      e AS (SELECT x.p AS a, y.p AS b
            FROM l x JOIN l y ON x.ok = y.ok AND x.p < y.p
            GROUP BY x.p, y.p HAVING count(*) >= 2),
      sym AS (SELECT a AS v, b AS n FROM e
              UNION ALL SELECT b, a FROM e),
      deg AS (SELECT v, count(*) AS deg FROM sym GROUP BY v),
      c AS (SELECT x.v AS na, y.v AS nb, count(*) AS common_cnt
            FROM sym x JOIN sym y ON x.n = y.n AND x.v < y.v
            GROUP BY x.v, y.v)
      SELECT c.na AS node_a, c.nb AS node_b,
             CAST(c.common_cnt AS BIGINT) AS common_cnt,
             (c.common_cnt * 1000000) // (da.deg + db.deg - c.common_cnt)
               AS jaccard_micro
      FROM c JOIN deg da ON da.v = c.na JOIN deg db ON db.v = c.nb
      ORDER BY jaccard_micro DESC, node_a, node_b
      LIMIT 20""",

    "q_graph_khop" -> """
      WITH l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
                 FROM lineitem),
      e AS (SELECT x.p AS a, y.p AS b
            FROM l x JOIN l y ON x.ok = y.ok AND x.p < y.p
            GROUP BY x.p, y.p HAVING count(*) >= 2),
      sym AS (SELECT a AS v, b AS n FROM e
              UNION ALL SELECT b, a FROM e),
      deg AS (SELECT v, count(*) AS n_1hop FROM sym GROUP BY v),
      two AS (SELECT t.v, count(*) AS n_2hop FROM (
                SELECT DISTINCT x.v, y.n AS w
                FROM sym x JOIN sym y ON x.n = y.v
                WHERE x.v <> y.n
                  AND NOT EXISTS (SELECT 1 FROM sym s
                                  WHERE s.v = x.v AND s.n = y.n)
              ) t GROUP BY t.v)
      SELECT deg.v AS node_id, CAST(deg.n_1hop AS BIGINT) AS n_1hop,
             CAST(coalesce(two.n_2hop, 0) AS BIGINT) AS n_2hop
      FROM deg LEFT JOIN two ON two.v = deg.v
      ORDER BY node_id""",
  )
}

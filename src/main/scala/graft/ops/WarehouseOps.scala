package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Warehouse-maintenance operators: CDC merge/upsert, snapshot diff,
  * interval (range) join, z-order clustering keys, and deterministic
  * stratified sampling — the table-maintenance layer a 100 TB pipeline
  * runs daily around the analytical queries (reference scope: the runner
  * delegates all of this to its engine; SURVEY.md §2.3 "beyond" rows).
  *
  * Scale posture notes per operator:
  *   - merge/diff are single shuffle joins on the table key — the
  *     standard CDC-apply shape; a small change feed broadcasts (AQE
  *     decides from runtime sizes, no hint needed);
  *   - the range join is BINNED: intervals explode to the fixed-width
  *     bins they overlap and points carry their bin, so the planner gets
  *     an equi-join (hash, shuffle-partitionable) instead of a
  *     BroadcastNestedLoopJoin — the difference between O(|iv|·|pt|)
  *     and O(matches) at scale;
  *   - z-order interleaving is a per-row expression (no shuffle); the
  *     payoff is write-side clustering for multi-column min/max skipping;
  *   - stratified sampling is hash-deterministic per row (no RNG state,
  *     reproducible across retries/speculative tasks — the property that
  *     matters for training-data reproducibility).
  */
object WarehouseOps {

  /** Epoch day number, the shared binning domain for the range join. */
  private def epochDay(c: org.apache.spark.sql.Column) =
    datediff(c, lit("1970-01-01").cast("date")).cast("long")

  val queries: Map[String, QB] = Map(
    // CDC upsert (MERGE INTO semantics, expressed relationally): a
    // deterministic change feed (10% updates, 10% inserts) applied to
    // orders via one full-outer join on the key. Output = the merged
    // table plus the per-row action taken.
    "q_merge_upsert" -> ((s, d) => {
      val o = table(s, d, "orders")
      val t = o.select(col("o_orderkey").as("k"),
                       col("o_totalprice").as("tprice"))
      val src = o.filter(col("o_orderkey") % 10 === 7)
        .select(col("o_orderkey").as("k"),
                (floor(col("o_totalprice") * 1.1 * 100 + 0.5) / 100)
                  .as("sprice"))
        // insert keys are negated: provably outside the non-negative
        // o_orderkey domain at ANY scale factor (a fixed offset would
        // collide once max(o_orderkey) crossed it, silently relabeling
        // inserts as updates)
        .unionAll(o.filter(col("o_orderkey") % 10 === 3)
          .select((-col("o_orderkey") - 1).as("k"),
                  col("o_totalprice").as("sprice")))
      t.as("t").join(src.as("s"), col("t.k") === col("s.k"), "full_outer")
        .select(coalesce(col("t.k"), col("s.k")).as("k"),
          when(col("t.k").isNotNull && col("s.k").isNotNull, "update")
            .when(col("s.k").isNotNull, "insert")
            .otherwise("keep").as("action"),
          r6(coalesce(col("sprice"), col("tprice"))).as("price"))
        .orderBy("k")
    }),

    // Snapshot diff: added / removed / changed rows between two table
    // versions — the audit step after any bulk rewrite. One full-outer
    // join on the key; unchanged rows are dropped before the sort, so
    // output (and the sort) is proportional to the churn, not the table.
    "q_snapshot_diff" -> ((s, d) => {
      val o = table(s, d, "orders")
      val old = o.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      val neu = o.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 3 === 0,
               floor(col("o_totalprice") * 1.05 * 100 + 0.5) / 100)
            .otherwise(col("o_totalprice")).as("price"))
      old.as("o").join(neu.as("n"), col("o.k") === col("n.k"), "full_outer")
        .filter(col("o.k").isNull || col("n.k").isNull ||
                col("o.price") =!= col("n.price"))
        .select(coalesce(col("o.k"), col("n.k")).as("k"),
          when(col("o.k").isNull, "added")
            .when(col("n.k").isNull, "removed")
            .otherwise("changed").as("change"),
          col("o.price").as("old_price"), col("n.price").as("new_price"))
        .orderBy("k")
    }),

    // Interval join, binned to an equi-join: per selected order, the
    // lineitems shipped inside [o_orderdate, o_orderdate+3d] — with NO
    // key relating the two sides, only the date range. Each interval
    // explodes to the 4-day bins it overlaps (≤2), each point computes
    // its bin, and the join is bin-equality plus the exact range
    // residual. A pair can match in exactly one bin (the point's), so no
    // post-join dedup is needed. Left join keeps empty intervals.
    "q_join_range" -> ((s, d) => {
      val iv = table(s, d, "orders")
        .filter(col("o_orderkey") % 997 === 0)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d0"))
        .withColumn("dn", epochDay(col("d0")))
      val ivb = iv.select(col("o_orderkey"), col("d0"),
        explode(array_distinct(array(
          (col("dn") / 4).cast("long"),
          ((col("dn") + 3) / 4).cast("long")))).as("bin"))
      val pt = table(s, d, "lineitem")
        .select(to_date(col("l_shipdate")).as("sd"), col("l_quantity"))
        .withColumn("bin", (epochDay(col("sd")) / 4).cast("long"))
      ivb.join(pt, ivb("bin") === pt("bin") &&
          col("sd") >= col("d0") && col("sd") <= date_add(col("d0"), 3),
          "left")
        .groupBy(col("o_orderkey"), col("d0").as("win_start"))
        .agg(count(col("sd")).as("n_items"),
          coalesce(sum(col("l_quantity").cast("decimal(18,6)")),
                   lit(0).cast("decimal(18,6)"))
            .cast("double").as("sum_qty"))
        .orderBy("o_orderkey")
    }),

    // The SAME interval join written naively — `p BETWEEN lo AND lo+3d`
    // with no manual binning. The RangeJoinBinning optimizer rule
    // (graft.plans, injected via SparkSessionExtensions in
    // SessionDefaults) rewrites it to the binned equi-join at plan time;
    // RangeJoinRuleSpec asserts the rewrite fires, hash-joins, and
    // matches the nested-loop result. Inner join (the rule's scope), so
    // empty intervals drop — the oracle mirrors that.
    "q_join_range_auto" -> ((s, d) => {
      val iv = table(s, d, "orders")
        .filter(col("o_orderkey") % 997 === 0)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d0"))
      val pt = table(s, d, "lineitem")
        .select(to_date(col("l_shipdate")).as("sd"), col("l_quantity"))
      iv.join(pt, col("sd") >= col("d0") &&
                  col("sd") <= date_add(col("d0"), 3))
        .groupBy(col("o_orderkey"), col("d0").as("win_start"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,6)"))
            .cast("double").as("sum_qty"))
        .orderBy("o_orderkey")
    }),

    // Z-order (Morton) clustering key: interleave the low 10 bits of two
    // join/filter columns into one sort key. Sorting a write by zval
    // gives every file a tight min/max envelope on BOTH columns — the
    // multi-dimensional generalization of partition pruning. Here the
    // key is computed + histogrammed per 1024-wide bucket; WarehouseSpec
    // asserts the locality property itself.
    "q_zorder" -> ((s, d) =>
      table(s, d, "lineitem")
        .select((col("l_partkey") % 1024).as("x"),
                (col("l_suppkey") % 1024).as("y"))
        // closed-form 20-term interleave, not an aggregate() fold: higher-
        // order functions evaluate interpreted per row, while this stays
        // inside whole-stage codegen (the oracle keeps the fold spelling —
        // same value, engine-idiomatic each).
        .select((0 until 10).map(j =>
            shiftleft(shiftright(col("x"), j).bitwiseAND(lit(1L)), 2 * j) +
            shiftleft(shiftright(col("y"), j).bitwiseAND(lit(1L)), 2 * j + 1))
          .reduce(_ + _).as("zval"))
        .groupBy(expr("zval DIV 1024").as("zbucket"))
        .agg(count(lit(1)).as("n"),
             min(col("zval")).as("min_z"), max(col("zval")).as("max_z"))
        .orderBy("zbucket")),

    // Deterministic stratified sampling: per-stratum rates (A 10%, N 5%,
    // R 20%) decided by a content hash of the row key — no RNG, so the
    // sample is identical across retries, speculative duplicates, and
    // engines (the reproducibility contract for training-data subsets).
    // Output is the per-stratum audit: population, sample size, observed
    // rate, sampled mass.
    "q_sample_stratified" -> ((s, d) => {
      val li = spreadTable(s, d, "lineitem", col("l_orderkey"))
        .select(col("l_returnflag"), col("l_quantity"),
          (md5hash32(concat_ws("-", col("l_orderkey"), col("l_linenumber"),
                               col("l_partkey"))) % 100).as("h"),
          when(col("l_returnflag") === "A", 10)
            .when(col("l_returnflag") === "N", 5)
            .otherwise(20).as("rate"))
      li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_total"),
          coalesce(sum(when(col("h") < col("rate"), 1L)), lit(0L))
            .as("n_sampled"),
          r6(coalesce(sum(when(col("h") < col("rate"), 1L)), lit(0L))
               .cast("double") / count(lit(1))).as("obs_rate"),
          coalesce(sum(when(col("h") < col("rate"),
                     col("l_quantity").cast("decimal(18,6)"))),
                   lit(0).cast("decimal(18,6)"))
            .cast("double").as("sampled_qty"))
        .orderBy("l_returnflag")
    }),

    // Incremental aggregate maintenance (materialized-view refresh): the
    // per-customer order rollup is maintained as BASE state (orders before
    // the cutoff — in production, yesterday's materialized agg read back
    // from storage) merged with the DELTA (the new partition) via one
    // full-outer join on the group key, NOT by re-scanning history. Counts
    // add; sums stay DECIMAL through the merge (exact, associative) and
    // cast to double only at output — so the maintained result is
    // bit-identical to the full recompute, which is exactly what the
    // oracle computes. At 100 TB this turns a daily full-history scan into
    // a delta-sized one; the merge join co-partitions on the group key the
    // stored agg is already bucketed by.
    "q_incr_agg" -> ((s, d) => {
      val o = table(s, d, "orders")
      val cut = lit("1997-07-01").cast("timestamp")
      def rollup(df: DataFrame, n: String, rev: String) =
        df.groupBy(col("o_custkey"))
          .agg(count(lit(1)).as(n),
               sum(col("o_totalprice").cast("decimal(18,6)")).as(rev))
      val base  = rollup(o.filter(col("o_orderdate") < cut), "n_b", "rev_b")
      val delta = rollup(o.filter(col("o_orderdate") >= cut), "n_d", "rev_d")
        .withColumnRenamed("o_custkey", "d_custkey")
      base.join(delta, col("o_custkey") === col("d_custkey"), "full_outer")
        .select(
          coalesce(col("o_custkey"), col("d_custkey")).as("custkey"),
          (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L)))
            .as("n_orders"),
          (coalesce(col("rev_b"), lit(0).cast("decimal(18,6)")) +
           coalesce(col("rev_d"), lit(0).cast("decimal(18,6)")))
            .cast("double").as("revenue"))
        .orderBy("custkey")
    }),

    // SCD2 dimension-history build (slowly-changing-dimension type 2):
    // the events stream is the change log of each user's status
    // (event_type), and the output is the versioned dimension table —
    // one row per RUN of equal consecutive statuses with
    // [valid_from, valid_to) epoch-µs bounds, a version number and the
    // open-ended is_current flag. The canonical warehouse shape for
    // "what was this entity's attribute AT TIME t" joins.
    //
    // Run detection is the gaps-and-islands spelling: lag-compare the
    // status, cumulative-sum the change markers into a version id.
    // The versioned row is then the run's START row itself — it
    // already carries status and valid_from, so no aggregate touches a
    // string column (min(status) would demote the whole aggregation to
    // SortAggregate: string agg buffers are not mutable) — and
    // n_events is an unordered window count over (user_id, ver). ALL
    // four window passes key on user_id (HashPartitioning(user_id)
    // satisfies the (user_id, ver) clustering by the subset rule), so
    // the whole query runs on ONE corpus-partitionable exchange.
    // Versions-per-user is horizon-bounded, never corpus-bounded.
    // Total order everywhere: ties inside a run break on event_id,
    // versions are strictly time-ordered per user.
    "q_scd2" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val runs = table(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"),
                col("event_id"))
        .withColumn("prev", lag(col("event_type"), 1).over(byUser))
        .withColumn("chg",
          when(col("prev").isNull || col("prev") =!= col("event_type"),
               lit(1L)).otherwise(lit(0L)))
        .withColumn("ver", sum(col("chg")).over(
          byUser.rowsBetween(Window.unboundedPreceding,
                             Window.currentRow)))
        .withColumn("n_events", count(lit(1)).over(
          Window.partitionBy(col("user_id"), col("ver"))))
      val wv = Window.partitionBy(col("user_id")).orderBy(col("ver"))
      runs.filter(col("chg") === 1)
        .withColumn("vt", lead(col("ts"), 1).over(wv))
        .select(col("user_id"), col("ver").as("version"),
          col("event_type").as("status"),
          unix_micros(col("ts")).as("valid_from"),
          unix_micros(col("vt")).as("valid_to"),
          col("vt").isNull.as("is_current"), col("n_events"))
        .orderBy("user_id", "version")
    }),

    // File-compaction planner — the small-file maintenance pass every
    // large parquet warehouse schedules: treat each document as a file
    // of n_chars bytes inside its `source` table-partition and assign
    // files to compaction groups by first-fit in doc_id order against a
    // 4096-byte target. bin = (exclusive running total) DIV target —
    // closed-form from one per-partition cumulative-sum window, so
    // planning over a 100 TB manifest (millions of file rows) is one
    // partition-keyed window + an aggregate that reuses the same
    // hash partitioning (no second exchange). Integer arithmetic only
    // (DIV), so both engines bin identically; a file larger than the
    // target closes its own bin, exactly like a real compactor.
    "q_compaction" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      table(s, d, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("cum", sum(col("n_chars")).over(w))
        .withColumn("bin", expr("(cum - n_chars) DIV 4096"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_files"), sum(col("n_chars")).as("bytes"),
             min(col("doc_id")).as("first_doc"),
             max(col("doc_id")).as("last_doc"))
        .orderBy("source", "bin")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_scd2" -> """
      WITH o AS (SELECT user_id, event_type, ts, event_id,
                        lag(event_type) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS prev
                 FROM events),
      m AS (SELECT *, CASE WHEN prev IS NULL OR prev <> event_type
                           THEN 1 ELSE 0 END AS chg FROM o),
      r AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS ver FROM m),
      v AS (SELECT user_id, ver, ts AS vf, event_type AS status, chg,
                   count(*) OVER (PARTITION BY user_id, ver) AS n_events
            FROM r),
      w AS (SELECT user_id, ver, vf, status, n_events,
                   lead(vf) OVER (PARTITION BY user_id ORDER BY ver)
                     AS vt
            FROM v WHERE chg = 1)
      SELECT user_id, ver AS version, status,
             epoch_us(vf) AS valid_from, epoch_us(vt) AS valid_to,
             vt IS NULL AS is_current, n_events
      FROM w ORDER BY user_id, version""",

    "q_compaction" -> """
      WITH c AS (SELECT source, doc_id, n_chars,
                        sum(n_chars) OVER (PARTITION BY source
                          ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                          AS cum
                 FROM documents),
      b AS (SELECT source, doc_id, n_chars,
                   CAST((cum - n_chars) // 4096 AS BIGINT) AS bin FROM c)
      SELECT source, bin, count(*) AS n_files,
             CAST(sum(n_chars) AS BIGINT) AS bytes,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM b GROUP BY source, bin
      ORDER BY source, bin""",

    "q_incr_agg" -> """
      SELECT o_custkey AS custkey, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS revenue
      FROM orders
      GROUP BY o_custkey
      ORDER BY custkey""",

    "q_merge_upsert" -> """
      WITH t AS (SELECT o_orderkey AS k, o_totalprice AS tprice FROM orders),
      src AS (
        SELECT o_orderkey AS k, floor(o_totalprice * 1.1 * 100 + 0.5) / 100 AS sprice
        FROM orders WHERE o_orderkey % 10 = 7
        UNION ALL
        SELECT -o_orderkey - 1 AS k, o_totalprice AS sprice
        FROM orders WHERE o_orderkey % 10 = 3)
      SELECT coalesce(t.k, src.k) AS k,
             CASE WHEN t.k IS NOT NULL AND src.k IS NOT NULL THEN 'update'
                  WHEN src.k IS NOT NULL THEN 'insert'
                  ELSE 'keep' END AS action,
             round(coalesce(sprice, tprice), 6) AS price
      FROM t FULL OUTER JOIN src ON t.k = src.k
      ORDER BY k""",

    "q_snapshot_diff" -> """
      WITH old AS (SELECT o_orderkey AS k, o_totalprice AS price
                   FROM orders WHERE o_orderkey % 7 <> 0),
      new AS (SELECT o_orderkey AS k,
                     CASE WHEN o_orderkey % 3 = 0
                          THEN floor(o_totalprice * 1.05 * 100 + 0.5) / 100
                          ELSE o_totalprice END AS price
              FROM orders WHERE o_orderkey % 5 <> 0)
      SELECT coalesce(old.k, new.k) AS k,
             CASE WHEN old.k IS NULL THEN 'added'
                  WHEN new.k IS NULL THEN 'removed'
                  ELSE 'changed' END AS change,
             old.price AS old_price, new.price AS new_price
      FROM old FULL OUTER JOIN new ON old.k = new.k
      WHERE old.k IS NULL OR new.k IS NULL OR old.price <> new.price
      ORDER BY k""",

    "q_join_range" -> """
      WITH iv AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d0
                  FROM orders WHERE o_orderkey % 997 = 0),
      ivb AS (SELECT o_orderkey, d0, unnest(list_distinct([
                date_diff('day', DATE '1970-01-01', d0) // 4,
                (date_diff('day', DATE '1970-01-01', d0) + 3) // 4])) AS bin
              FROM iv),
      pt AS (SELECT CAST(l_shipdate AS DATE) AS sd, l_quantity,
                    date_diff('day', DATE '1970-01-01',
                              CAST(l_shipdate AS DATE)) // 4 AS bin
             FROM lineitem)
      SELECT o_orderkey, d0 AS win_start,
             CAST(count(sd) AS BIGINT) AS n_items,
             CAST(coalesce(sum(CAST(l_quantity AS DECIMAL(18,6))), 0)
                  AS DOUBLE) AS sum_qty
      FROM ivb LEFT JOIN pt ON ivb.bin = pt.bin
        AND pt.sd >= ivb.d0 AND pt.sd <= ivb.d0 + INTERVAL 3 DAY
      GROUP BY o_orderkey, d0
      ORDER BY o_orderkey""",

    "q_join_range_auto" -> """
      WITH iv AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d0
                  FROM orders WHERE o_orderkey % 997 = 0),
      pt AS (SELECT CAST(l_shipdate AS DATE) AS sd, l_quantity
             FROM lineitem)
      SELECT o_orderkey, d0 AS win_start,
             count(*) AS n_items,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_qty
      FROM iv JOIN pt
        ON pt.sd >= iv.d0 AND pt.sd <= iv.d0 + INTERVAL 3 DAY
      GROUP BY o_orderkey, d0
      ORDER BY o_orderkey""",

    "q_zorder" -> """
      WITH z AS (
        SELECT CAST(list_sum(list_transform(range(0, 10), j ->
                 (((x >> j) & 1) << (2*j)) + (((y >> j) & 1) << (2*j + 1))))
               AS BIGINT) AS zval
        FROM (SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y
              FROM lineitem))
      SELECT zval // 1024 AS zbucket, count(*) AS n,
             min(zval) AS min_z, max(zval) AS max_z
      FROM z GROUP BY zbucket ORDER BY zbucket""",

    "q_sample_stratified" -> """
      WITH s AS (
        SELECT l_returnflag, l_quantity,
               CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                     CAST(l_linenumber AS VARCHAR) || '-' ||
                     CAST(l_partkey AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS h,
               CASE l_returnflag WHEN 'A' THEN 10 WHEN 'N' THEN 5
                                 ELSE 20 END AS rate
        FROM lineitem)
      SELECT l_returnflag, count(*) AS n_total,
             CAST(count(*) FILTER (h < rate) AS BIGINT) AS n_sampled,
             round(CAST(count(*) FILTER (h < rate) AS DOUBLE) / count(*), 6)
               AS obs_rate,
             CAST(coalesce(sum(CAST(l_quantity AS DECIMAL(18,6)))
                             FILTER (h < rate), 0) AS DOUBLE) AS sampled_qty
      FROM s GROUP BY l_returnflag ORDER BY l_returnflag""",
  )
}

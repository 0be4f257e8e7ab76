package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join inventory (SURVEY.md §2.3 — reference has no joins; extension per
  * the north star). Scale posture: fact-fact joins (orders⋈lineitem) shuffle
  * on the join key and are AQE-skew-tolerant; dimension joins
  * (region/nation, and customer at the small end) are explicitly
  * `broadcast()` so no shuffle of the fact side's rows is keyed by a dim —
  * at 100 TB the only shuffles left are the fact-side aggregations.
  */
object JoinOps {

  /** [[graft.MemoLog.release]], under the name the benchmark harness
    * calls. */
  def clearHotKeyCache(): Unit = graft.MemoLog.release()

  val queries: Map[String, QB] = Map(
    // customer ⋈ orders ⋈ lineitem, revenue per market segment. customer is
    // orders/10 rows — broadcast it; orders⋈lineitem co-shuffle on orderkey.
    "q_join_inner" -> ((s, d) => {
      val c = table(s, d, "customer")
      val o = table(s, d, "orders")
      val l = table(s, d, "lineitem")
      broadcast(c).join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("c_mktsegment")
    }),

    // All nations with their customer count/avg balance, keeping
    // customer-less nations. Aggregate customer FIRST — partial
    // aggregation combines map-side, so only ≤25 rows per task reach the
    // exchange — then LEFT-join nation to the tiny result with THAT side
    // broadcast. The naive "broadcast(nation) LEFT JOIN customer"
    // spelling cannot broadcast at all (a left-outer join only builds
    // its right side, so the hint is silently dropped) and falls back to
    // shuffling every customer row on a 25-value key — a skewed
    // full-fact exchange at 100 TB. Same oracle as the join-then-agg
    // spelling: count() over an unmatched group is 0, avg is NULL.
    "q_join_left" -> ((s, d) => {
      val perNation = table(s, d, "customer")
        .groupBy(col("c_nationkey"))
        .agg(count(col("c_custkey")).as("n_cust_raw"),
             sum(col("c_acctbal").cast("decimal(18,6)")).as("sum_bal"),
             count(col("c_acctbal")).as("n_bal"))
      table(s, d, "nation")
        .join(broadcast(perNation),
              col("n_nationkey") === col("c_nationkey"), "left")
        .select(col("n_name"),
                coalesce(col("n_cust_raw"), lit(0L)).as("n_cust"),
                r6(col("sum_bal").cast("double") / col("n_bal"))
                  .as("avg_bal"))
        .orderBy("n_name")
    }),

    // Orders having at least one heavy lineitem (EXISTS → left_semi).
    "q_join_semi" -> ((s, d) =>
      table(s, d, "orders")
        .join(table(s, d, "lineitem").filter(col("l_quantity") > 45),
              col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")),

    // Orders with no lineitems at all (NOT EXISTS → left_anti).
    "q_join_anti" -> ((s, d) =>
      table(s, d, "orders")
        .join(table(s, d, "lineitem"),
              col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")),

    // Theta (range) join: events banded against a literal interval table
    // via non-equi predicates. The range side is tiny and broadcast, so
    // the plan is BroadcastNestedLoopJoin — the correct shape when one
    // side is a handful of intervals, at any fact-side scale.
    "q_join_theta" -> ((s, d) => {
      import s.implicits._
      val ranges = Seq(("band_low", 0.0, 5.0), ("band_mid", 5.0, 10.0),
        ("band_high", 10.0, 15.0), ("band_top", 15.0, 1e9))
        .toDF("band", "lo", "hi")
      table(s, d, "events")
        .join(broadcast(ranges),
              col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("band")
    }),

    // As-of join: for every error event, the most recent signup of the same
    // user at-or-before it. Implemented with the scalable union+window
    // pattern (one shuffle by user, zero join explosion) rather than a
    // range join — at 100 TB an inequality join over two event streams is
    // quadratic per user, while last_value-ignore-nulls over the merged
    // ordered stream is linear. Oracle uses DuckDB's native ASOF JOIN —
    // same semantics, engine's own operator.
    "q_join_asof" -> ((s, d) => {
      val ev = table(s, d, "events")
        .filter(col("event_type").isin("signup", "error"))
        .select(col("event_id"), col("user_id"),
                unix_micros(col("ts")).as("tsu"), col("event_type"))
      // At equal tsu a signup must sort before an error so `<=` holds.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tsu"),
                 when(col("event_type") === "signup", 0).otherwise(1),
                 col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("signup_ts",
          last(when(col("event_type") === "signup", col("tsu")),
               ignoreNulls = true).over(w))
        .filter(col("event_type") === "error" && col("signup_ts").isNotNull)
        .select(col("event_id"), col("user_id"),
                col("tsu").as("error_ts"), col("signup_ts"))
        .orderBy("event_id")
    }),

    // Salted skew join — the manual mitigation for a hot join key made
    // explicit (the join twin of q_agg_salted; AQE's skew-join split is
    // the automatic variant, this is the pattern for engines/joins AQE
    // can't reach). Hot-key-ONLY salting (round 16; the naive variant
    // replicated the ENTIRE dim side S× whether or not a key was hot —
    // 8× the full dim shuffle, the 100× row's scale-killer): hot keys
    // are measured driver-side from the fact table's per-key counts (a
    // bounded ≤64-row collect — the same AQE-spirit runtime-stats
    // bracket as the dedup contraction gate; threshold = what would
    // dominate one of the 32 reducers). Only those keys take the
    // salted path — their fact rows get a deterministic salt in
    // [0, S), their ≤64 dim rows replicate S× — while the remaining
    // (cold) corpus takes the plain equi-join. The union is provably
    // the unsalted join, which is exactly what the oracle asserts (it
    // IS the plain join + aggregate). On a skew-free corpus the hot
    // set is empty and the query IS the plain join — zero replication
    // tax (SkewStressSpec locks the hot-corpus behavior: bounded max
    // task, melted unsalted twin).
    "q_join_salted" -> ((s, d) => {
      val S = 8
      val fact = table(s, d, "lineitem")
      val dim = table(s, d, "orders")
      // Memoized per (session, dir) like the dedup contraction gate:
      // the two driver-blocking measurement jobs (footer-stats count +
      // per-key top-64) run eagerly on every FRAME CONSTRUCTION, so
      // without the memo each bench pass / plan inspection re-paid them
      // before the measured query even started. Tiny (≤ 64 longs).
      val hot = graft.MemoLog.value(s, d, "join.hot_keys") {
        // count() over parquet is footer-stats-only; the per-key counts
        // map-side combine to one row per distinct key before the
        // top-64 heads driver-side.
        val thresh = math.max(fact.count() / 32L, 256L)
        fact.groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("n")).filter(col("n") >= thresh)
          .orderBy(desc("n"), col("l_orderkey")).limit(64)
          .collect().map(_.getLong(0)).toSeq
      }
      val joined = if (hot.isEmpty)
        fact.join(dim, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderstatus"), col("l_extendedprice"))
      else {
        // hash-based salt: covers all of [0, S) regardless of column
        // value distribution (l_linenumber alone is 1..7 — it would
        // leave a dead salt-0 replica). The salt never reaches the
        // output, so Spark's internal murmur3 is fine here — no
        // oracle-parity constraint.
        val factHot = fact.filter(col("l_orderkey").isin(hot: _*))
          .withColumn("salt",
            pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(S)))
        val dimHot = dim.filter(col("o_orderkey").isin(hot: _*))
          .withColumn("salt", explode(sequence(lit(0), lit(S - 1))))
        val salted = factHot
          .join(dimHot, col("l_orderkey") === col("o_orderkey") &&
                        factHot("salt") === dimHot("salt"))
          .select(col("o_orderstatus"), col("l_extendedprice"))
        val plain = fact.filter(!col("l_orderkey").isin(hot: _*))
          .join(dim.filter(!col("o_orderkey").isin(hot: _*)),
                col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderstatus"), col("l_extendedprice"))
        salted.unionAll(plain)
      }
      joined.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
             dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("o_orderstatus")
    }),

    // Star join with both dims explicitly broadcast: zero shuffle before
    // the final 5-group aggregate regardless of fact-side size.
    "q_join_broadcast" -> ((s, d) =>
      table(s, d, "supplier")
        .join(broadcast(table(s, d, "nation")),
              col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_supp"), dsum(col("s_acctbal")).as("total_bal"))
        .orderBy("r_name")),

    // TPC-H Q3 (shipping priority): the canonical 3-way analytical join —
    // dim filter broadcast against the fact-fact orderkey co-shuffle,
    // revenue re-aggregated per order, top-10 via TakeOrderedAndProject
    // (never a global sort at scale). Dates compare as walls (UTC session
    // vs DuckDB naive); revenue is the exact-decimal sum of the per-row
    // double product.
    "q_tpch_q3" -> ((s, d) => {
      val c = table(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = table(s, d, "orders")
        .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
      val l = table(s, d, "lineitem")
        .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
      broadcast(c).join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"),
                 col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"),
                col("o_orderpriority"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 (local-supplier revenue): six-way star join with a
    // nation-alignment residual (c_nationkey = s_nationkey). All four
    // dimensions broadcast; the only shuffles are the two fact-side
    // co-partitions and the 5-group aggregate.
    "q_tpch_q5" -> ((s, d) => {
      val o = table(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      broadcast(table(s, d, "customer"))
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(table(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(table(s, d, "supplier")),
              col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(table(s, d, "nation")),
              col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, d, "region")),
              col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy("n_name")
    }),

    // TPC-H Q10 (returned-item revenue): which customers returned the most
    // merchandise in a quarter. Same star shape as Q5 — both dimensions
    // broadcast, the fact tables co-shuffle on orderkey, and the top-20
    // plans as TakeOrderedAndProject (per-partition heaps, no global sort).
    "q_tpch_q10" -> ((s, d) => {
      val o = table(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      val l = table(s, d, "lineitem").filter(col("l_returnflag") === "R")
      broadcast(table(s, d, "customer"))
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(table(s, d, "nation")),
              col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
                 col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
                col("c_acctbal"), col("n_name"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q1 (pricing summary report). No join — kept here so the whole
    // q_tpch_* family lives in one module. Pure scan → filter → 2-key
    // grouped agg: partial aggregation collapses the fact to ≤|groups| rows
    // per task before the single 6-group shuffle, so at 100 TB the shuffle
    // moves kilobytes. Single- and two-factor sums use ops.dsum (the
    // empirically cross-engine-safe double→DECIMAL(18,6) cast). The
    // PRICE sums need one extra care at this magnitude: a 6-dp decimal
    // sum of ~2.8·10^10 scales to ~2.8·10^16 > 2^53, where DuckDB's
    // decimal→double conversion (int128→double, then ×10^-6 — two
    // roundings) can land one ulp away from Spark's correctly-rounded
    // BigDecimal conversion. Re-rounding the exact decimal sum to CENTS
    // (scale 2) before the double cast keeps the scaled integer under
    // 2^53 for both engines, so the conversion is exact — and cents is
    // the natural money precision anyway. sum_qty stays 6-dp (its
    // magnitude is 20× smaller, in the exact range). Spark's
    // decimal→decimal cast rounds HALF_UP; DuckDB's TRUNCATES, so the
    // oracle spells the same operation as round(sum, 2) then an exact
    // (no-digit-lost) cast.
    "q_tpch_q1" -> ((s, d) => {
      def cents(c: org.apache.spark.sql.Column) =
        sum(c.cast("decimal(18,6)")).cast("decimal(30,2)").cast("double")
      spreadTable(s, d, "lineitem", col("l_extendedprice"))
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"),
             cents(col("l_extendedprice")).as("sum_base_price"),
             cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
               .as("sum_disc_price"),
             cents(col("l_extendedprice") * (lit(1) - col("l_discount")) *
                   (lit(1) + col("l_tax"))).as("sum_charge"),
             r6(davg(col("l_quantity"))).as("avg_qty"),
             r6(davg(col("l_extendedprice"))).as("avg_price"),
             r6(davg(col("l_discount"))).as("avg_disc"),
             count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // TPC-H Q4 (order-priority checking), adapted to this schema: the
    // fixture has no commit/receipt dates, so "late" = any lineitem
    // shipped >30 days after the order date. Decorrelated EXISTS = one
    // left-semi join with the date residual riding the orderkey equi-key;
    // the quarter filter prunes orders at the scan.
    "q_tpch_q4" -> ((s, d) => {
      val o = table(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
                col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
      val l = table(s, d, "lineitem")
      o.join(l, col("o_orderkey") === col("l_orderkey") &&
               col("l_shipdate") >
                 col("o_orderdate") + expr("INTERVAL 30 DAYS"),
             "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // TPC-H Q14 (promotion effect): promo share of one month's revenue.
    // part joins on the fact's partkey (dimension broadcast); the share
    // is one deterministic division of two exact-decimal sums.
    "q_tpch_q14" -> ((s, d) => {
      val l = table(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
                col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      l.join(broadcast(table(s, d, "part").select("p_partkey", "p_type")),
             col("l_partkey") === col("p_partkey"))
        .agg(r6(lit(100) *
          dsum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))) /
          dsum(rev)).as("promo_revenue"))
        .orderBy("promo_revenue")
    }),

    // TPC-H Q6 (forecasting revenue change): the minimal scan-filter-agg.
    // Every predicate reaches the parquet scan (PushedFilters on shipdate/
    // discount/quantity → row-group min/max skipping); the global agg is a
    // one-row partial-merge — the cheapest possible 100 TB query shape.
    "q_tpch_q6" -> ((s, d) =>
      table(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
                col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
                col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))
        .orderBy("revenue")),

    // TPC-H Q17 (small-quantity-order revenue), adapted (no p_container
    // column): for one brand's parts, revenue of lineitems under 20% of
    // that part's average quantity. The correlated scalar subquery (avg
    // per part) is computed as a WHOLE-PARTITION WINDOW over l_partkey
    // instead of a per-part aggregate joined back to the fact: the
    // join-back shape scans the branded lineitem subset twice (once for
    // the avg, once for the probe), the window shape scans it ONCE and
    // pays one partkey shuffle. Group sizes are bounded (lineitems per
    // part is a constant ~30 at every TPC-H scale), so the window
    // partition can never skew. The threshold is the same exact-decimal
    // average (sum DECIMAL / count — order-independent), so the float
    // comparison agrees across engines and with the join-back spelling.
    "q_tpch_q17" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val dim = broadcast(table(s, d, "part")
        .filter(col("p_brand") === "Brand#13").select("p_partkey"))
      val w = Window.partitionBy(col("l_partkey"))
      val qlimit =
        (sum(col("l_quantity").cast("decimal(18,6)")).over(w)
           .cast("double") / count(col("l_quantity")).over(w)) * 0.2
      table(s, d, "lineitem")
        .join(dim, col("l_partkey") === col("p_partkey"))
        .withColumn("qlimit", qlimit)
        .filter(col("l_quantity") < col("qlimit"))
        .agg(r6(dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
        .orderBy("avg_yearly")
    }),

    // TPC-H Q22 (global-relationship check), adapted (no phone column):
    // customers richer than the average positive-balance customer with
    // no RECENT order (the bare "never ordered" matches nobody on this
    // fixture — every rich customer has some historical order). The
    // global scalar attaches as a one-row broadcast; the "none recent"
    // is a left-anti join against the date-pruned fact.
    "q_tpch_q22" -> ((s, d) => {
      val c = table(s, d, "customer")
      val avgBal = c.filter(col("c_acctbal") > 0.0)
        .agg(r6(davg(col("c_acctbal"))).as("avg_bal"))
      val recent = table(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1998-06-01").cast("timestamp"))
      c.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("numcust"),
             dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy("c_mktsegment")
    }),

    // TPC-H Q18 (large-volume customers): HAVING-filtered agg as a join
    // input. The per-order quantity sum keeps its DECIMAL type through the
    // > 300 comparison and the join, casting to double only at output — so
    // the filter and the final value are both exact. Scale: the HAVING
    // prunes the agg to a fraction of a percent of orders, so the
    // subsequent joins see a small build side (AQE broadcasts it from
    // runtime stats); customer is an explicit broadcast dim.
    "q_tpch_q18" -> ((s, d) => {
      val big = spreadTable(s, d, "lineitem", col("l_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("sum_qty_d"))
        .filter(col("sum_qty_d") > 300)
      broadcast(table(s, d, "customer"))
        .join(table(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
                to_date(col("o_orderdate")).as("o_orderdate"),
                col("o_totalprice"),
                col("sum_qty_d").cast("double").as("sum_qty"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(100)
    }),

    // TPC-H Q19 (discounted revenue), adapted (no container/shipmode
    // columns): an OR of three brand×size×quantity conjunct blocks AS THE
    // JOIN PREDICATE — the disjunction references both sides, so it rides
    // the p_partkey equi-key as a residual on a broadcast hash join
    // instead of degrading to a nested loop. Catalyst keeps the
    // single-side conjuncts it can extract (each disjunct bounds
    // l_quantity, so the union bound [1,30] prunes fact rows before the
    // probe); the full OR evaluates only on key-matched pairs. One
    // broadcast, zero shuffles before the one-row agg — at 100 TB the
    // fact is read once and never reshuffled.
    "q_tpch_q19" -> ((s, d) => {
      val match3 =
        (col("p_brand") === "Brand#12" &&
          col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" &&
          col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" &&
          col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 30))
      table(s, d, "lineitem")
        .join(broadcast(table(s, d, "part")),
              col("l_partkey") === col("p_partkey") && match3)
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy("revenue")
    }),

    // TPC-H Q12 (shipping priority modes), adapted (no shipmode/receipt
    // columns — l_returnflag stands in as the mode key, and "late" =
    // shipped after the order date): a date-pruned fact join with a
    // two-mode CASE aggregation. The year filter reaches the lineitem
    // scan (PushedFilters row-group skipping); the conditional counts are
    // codegen sum(CASE) pairs sharing one aggregation pass — the
    // canonical "two measures, one scan" OLAP shape.
    "q_tpch_q12" -> ((s, d) => {
      val l = spreadTable(s, d, "lineitem", col("l_orderkey"))
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      table(s, d, "orders")
        .join(l, col("o_orderkey") === col("l_orderkey") &&
                 col("l_shipdate") > col("o_orderdate"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
             sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_returnflag")
    }),

    // TPC-H Q7 (volume shipping), adapted to the generated nation names:
    // revenue flowing between two nations in either direction, by ship
    // year. The two-nation IN prune applies to BOTH nation dims BEFORE
    // their joins (Catalyst cannot infer it from the cross-side OR, so it
    // is spelled explicitly), shrinking supplier and customer to the two
    // nations' rows before their joins; the cross-nation residual (keep
    // the two cross pairs, drop same-nation flows) evaluates on the
    // joined rows. Fact-side: lineitem⋈orders co-shuffles on orderkey.
    // The supplier side keeps a broadcast hint (2/25 of a table already
    // 10× smaller than customer); the customer side — SF-proportional
    // even after the nation prune — is left to AQE: broadcast while it
    // fits, shuffle-hash on custkey at scale.
    "q_tpch_q7" -> ((s, d) => {
      val nat = table(s, d, "nation")
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
      val supp = table(s, d, "supplier")
        .join(nat.select(col("n_nationkey").as("n1_key"),
                         col("n_name").as("supp_nation")),
              col("s_nationkey") === col("n1_key"))
        .select("s_suppkey", "supp_nation")
      val cust = table(s, d, "customer")
        .join(nat.select(col("n_nationkey").as("n2_key"),
                         col("n_name").as("cust_nation")),
              col("c_nationkey") === col("n2_key"))
        .select("c_custkey", "cust_nation")
      table(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(table(s, d, "orders"),
              col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === "NATION_1" &&
                 col("cust_nation") === "NATION_2") ||
                (col("supp_nation") === "NATION_2" &&
                 col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
                 year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // TPC-H Q8 (national market share): the share of one nation's
    // suppliers in a region's ECONOMY-part order volume, by order year.
    // The full 6-dim star: region prunes the CUSTOMER-side nation dim
    // before its broadcast; the supplier-side nation attaches the
    // supp_nation label; the share is a conditional / total pair of
    // exact-decimal sums in ONE aggregation pass (the q_tpch_q14
    // pattern, here per-year). The FIXED-cardinality dims (nation,
    // region, and the type-filtered part/supplier sides at this
    // fixture's scale) carry explicit broadcast hints; customer is
    // SF-proportional (~15 B rows at 100 TB), so its join is left to
    // AQE — broadcast while it fits, shuffle-hash on custkey when it
    // doesn't, instead of a forced hint that would OOM at scale.
    "q_tpch_q8" -> ((s, d) => {
      val custNat = table(s, d, "nation")
        .join(broadcast(table(s, d, "region")
                .filter(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))
      val suppNat = table(s, d, "nation")
        .select(col("n_nationkey").as("sn_key"),
                col("n_name").as("supp_nation"))
      val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
      table(s, d, "lineitem")
        .join(broadcast(table(s, d, "part")
                .filter(col("p_type") === "ECONOMY").select("p_partkey")),
              col("l_partkey") === col("p_partkey"))
        .join(table(s, d, "orders")
                .filter(col("o_orderdate") >=
                          lit("1996-01-01").cast("timestamp") &&
                        col("o_orderdate") <
                          lit("1998-01-01").cast("timestamp")),
              col("l_orderkey") === col("o_orderkey"))
        .join(table(s, d, "customer").select("c_custkey", "c_nationkey"),
              col("o_custkey") === col("c_custkey"))
        .join(broadcast(custNat), col("c_nationkey") === col("cn_key"))
        .join(broadcast(table(s, d, "supplier")
                .select("s_suppkey", "s_nationkey")),
              col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(suppNat), col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(r6(dsum(when(col("supp_nation") === "NATION_3", vol)
                 .otherwise(lit(0.0))) / dsum(vol)).as("mkt_share"))
        .orderBy("o_year")
    }),

    // TPC-H Q9 (product-type profit), adapted: the fixture has no
    // partsupp/ps_supplycost, so unit cost is proxied as 10% of the
    // part's retail price — the SHAPE under test (name-pattern dim
    // filter, 4-way star, two-key agg on nation × year, per-row profit
    // arithmetic) is Q9's. The profit expression is pure per-row float
    // arithmetic spelled identically in both engines, then the exact
    // decimal sum; part and supplier/nation broadcast, the fact pair
    // co-shuffles on orderkey.
    "q_tpch_q9" -> ((s, d) => {
      val profit = col("l_extendedprice") * (lit(1) - col("l_discount")) -
        col("p_retailprice") * col("l_quantity") * lit(0.1)
      table(s, d, "lineitem")
        .join(broadcast(table(s, d, "part")
                .filter(col("p_name").like("%red%"))
                .select("p_partkey", "p_retailprice")),
              col("l_partkey") === col("p_partkey"))
        .join(table(s, d, "orders").select("o_orderkey", "o_orderdate"),
              col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(table(s, d, "supplier")
                .select("s_suppkey", "s_nationkey")),
              col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(table(s, d, "nation")),
              col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
                 year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(dsum(profit).as("sum_profit"))
        .orderBy(asc("nation"), desc("o_year"))
    }),

    // TPC-H Q20 (part promotion eligibility), adapted: no ps_availqty,
    // so the stock test becomes a shipped-quantity threshold — suppliers
    // who moved > 400 units of PROMO parts in 1997. The aggregate keeps
    // DECIMAL through the HAVING compare (exact in both engines); the
    // supplier table left-semi-joins the qualifying key set (the IN
    // subquery's decorrelated form), so only keys cross the network.
    "q_tpch_q20" -> ((s, d) => {
      val qualifying = table(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(broadcast(table(s, d, "part")
                .filter(col("p_type") === "PROMO").select("p_partkey")),
              col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("qty_d"))
        .filter(col("qty_d") > 400)
      table(s, d, "supplier")
        .join(qualifying, col("s_suppkey") === col("l_suppkey"),
              "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    }),

    // TPC-H Q13 (customer order-count distribution), adapted (no
    // o_comment to exclude — the low-priority class stands in): LEFT
    // join with a residual on the RIGHT side (kept in the join condition,
    // not a post-filter, so customers with only excluded orders still
    // count as zero), then a two-level aggregation — per-customer counts,
    // then the histogram of counts. Both aggs are hash aggs on shrinking
    // keys; the left join shuffles on custkey once.
    "q_tpch_q13" -> ((s, d) =>
      table(s, d, "customer")
        .join(table(s, d, "orders"),
              col("c_custkey") === col("o_custkey") &&
              col("o_orderpriority") =!= "5-LOW", "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))),

    // TPC-H Q15 (top supplier): quarterly revenue per supplier, keep the
    // max. Revenue stays DECIMAL through the max and the equality compare
    // (exact in both engines — a double roundtrip could make "= max" rows
    // diverge), casting to double only at output. The max attaches as a
    // one-row broadcast (PlanShapeSpec scalar-attach allowlist); supplier
    // is a broadcast dim.
    "q_tpch_q15" -> ((s, d) => {
      val rev = table(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).as("rev_d"))
      val maxRev = rev.agg(max(col("rev_d")).as("max_rev_d"))
      rev.crossJoin(broadcast(maxRev))
        .filter(col("rev_d") === col("max_rev_d"))
        .join(broadcast(table(s, d, "supplier")),
              col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
                col("rev_d").cast("double").as("total_rev"))
        .orderBy("s_suppkey")
    }),

    // TPC-H Q16 (part/supplier relationship counts), adapted: the fixture
    // has no partsupp, so the observed (part, supplier) pairs in lineitem
    // stand in. Grouped COUNT(DISTINCT supplier): Spark plans the
    // two-phase distinct expansion (partial distinct on (group, supp)
    // then count) — no row explosion beyond the distinct pairs.
    "q_tpch_q16" -> ((s, d) =>
      table(s, d, "part")
        .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO" &&
                col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
        .join(table(s, d, "lineitem"),
              col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"),
                 asc("p_size"))),

    // TPC-H Q21 (suppliers who kept orders waiting), adapted (no
    // commit/receipt dates: "late" = shipped >60 days after the order
    // date): for finished orders with multiple suppliers, count each late
    // lineitem whose supplier was the ONLY late one on its order. The
    // correlated EXISTS / NOT-EXISTS pair decorrelates into per-order
    // supplier sets computed as WHOLE-PARTITION WINDOWS over one
    // lineitem⋈orders scan (collect_set sizes — DISTINCT aggregates
    // can't window, sets can): n_supp > 1 ↔ the EXISTS, n_late = 1 ↔ the
    // NOT EXISTS. One orderkey shuffle, bounded partitions (lineitems
    // per order ≤ 7 at every TPC-H scale); the oracle keeps the
    // textbook EXISTS spelling, so the equivalence is itself under test.
    "q_tpch_q21" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_orderkey"))
      val late = col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 60 DAYS")
      table(s, d, "lineitem")
        .join(table(s, d, "orders").filter(col("o_orderstatus") === "F"),
              col("l_orderkey") === col("o_orderkey"))
        .withColumn("is_late", late)
        .withColumn("n_supp",
          size(collect_set(col("l_suppkey")).over(w)))
        .withColumn("n_late", size(collect_set(
          when(col("is_late"), col("l_suppkey"))).over(w)))
        .filter(col("is_late") && col("n_supp") > 1 && col("n_late") === 1)
        .join(broadcast(table(s, d, "supplier")),
              col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), asc("s_name"))
        .limit(100)
    }),

    // TPC-H Q2 (minimum-cost supplier), adapted: the fixture has no
    // partsupp, so the observed (part, supplier) pairs in lineitem stand
    // in and "supply cost" is the cheapest observed line price —
    // min(l_extendedprice) per pair, an order-independent pick both
    // engines make identically on the same double set. The correlated
    // scalar subquery ("cost equals the region-wide minimum for that
    // part") decorrelates into a per-part MIN WINDOW over the same
    // region-restricted pair set — one lineitem scan, no join-back (the
    // q_tpch_q17 single-scan shape); per-part window fan-in is the
    // supplier count per part (single digits at every TPC-H scale). The
    // part size/type filter lands BEFORE the pair aggregation, so at
    // 100 TB only ~1/180 of the fact reaches the shuffle; supplier⋈
    // nation⋈region ride along as one broadcast dim. The oracle keeps
    // the textbook correlated spelling, so the equivalence is itself
    // under test.
    "q_tpch_q2" -> ((s, d) => {
      val eu = table(s, d, "supplier")
        .join(broadcast(table(s, d, "nation")),
              col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, d, "region")
                .filter(col("r_name") === "EUROPE")),
              col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      val pairs = table(s, d, "lineitem")
        .join(broadcast(table(s, d, "part")
                .filter(col("p_size").isin(5, 15, 25) &&
                        col("p_type") === "LARGE")
                .select("p_partkey", "p_brand")),
              col("l_partkey") === col("p_partkey"))
        .join(broadcast(eu), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_partkey"), col("p_brand"), col("l_suppkey"),
                 col("s_name"), col("s_acctbal"), col("n_name"))
        .agg(min(col("l_extendedprice")).as("cost"))
      pairs
        .withColumn("min_cost",
          min(col("cost")).over(Window.partitionBy(col("p_partkey"))))
        .filter(col("cost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
                col("p_partkey"), col("p_brand"))
        .orderBy(desc("s_acctbal"), asc("n_name"), asc("s_name"),
                 asc("p_partkey"))
        .limit(100)
    }),

    // TPC-H Q11 (important stock), adapted: no partsupp/ps_availqty, so
    // a part's "stock value" in the target nation is its shipped value —
    // sum(l_extendedprice * l_quantity) over lines sold by that nation's
    // suppliers. All money stays in INTEGER CENTS end to end — price
    // cents and quantity are derived per-FACTOR (price → DECIMAL(18,2)
    // → ×100 → BIGINT; quantity → BIGINT, integral in this schema) and
    // multiplied as int64, so no floating-point product is ever rounded
    // (round(a*b, 2) on a double product was the one remaining float
    // boundary here — exactly the half-up-vs-binary-expansion class that
    // divergences at 10×+ scale hide in): the
    // per-part and grand totals are exact int64 sums, and the HAVING
    // threshold is the pure integer compare value*n_parts > 2*total
    // ("more than twice the mean part value") — no decimal→double cast
    // whose 2^53 rounding diverges between engines at 10×+ scale, and
    // no decimal width overflow in either engine. Q11's own threshold
    // is FRACTION/SF × total, i.e. a constant multiple of the mean —
    // a fixed fraction empties the result as the part population grows
    // (measured: 303 rows at sf0.01 → 0 at 10×), so the mean-relative
    // form IS the faithful scale adaptation, derived in-plan from the
    // same one-row aggregate. Headroom: value*n_parts < 2^63 holds
    // while max-part-cents × parts < 9.2e18 — per-part value is
    // SF-invariant (~1e6 cents), so that is ~1e12 parts, far past a
    // 100 TB slice. The nation restriction broadcasts; one partkey
    // shuffle aggregates; the one-row (total, count) attaches by
    // broadcast (PlanShapeSpec scalar-attach allowlist).
    "q_tpch_q11" -> ((s, d) => {
      val natSupp = table(s, d, "supplier")
        .join(broadcast(table(s, d, "nation")
                .filter(col("n_name") === "NATION_7")),
              col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val lineCents = expr(
        """CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           * CAST(l_quantity AS BIGINT)""")
      val pv = table(s, d, "lineitem")
        .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey").as("partkey"))
        .agg(sum(lineCents).as("value_cents"))
      val total = pv.agg(sum(col("value_cents")).as("total_cents"),
                         count(lit(1)).as("n_parts"))
      pv.crossJoin(broadcast(total))
        .filter(col("value_cents") * col("n_parts") >
                col("total_cents") * 2)
        .select(col("partkey"), col("value_cents"))
        .orderBy(desc("value_cents"), asc("partkey"))
    }),

    // Runtime bloom-filter join pruning — the pattern Spark's
    // InjectRuntimeFilter applies between fact scans and selective dim
    // joins, built explicitly from public building blocks so it works on
    // any plan shape: (1) SIZE the bit array from the filtered dim's key
    // count (next power of two ≥ 16 bits/key, floor 2^16, cap 2^27 —
    // InjectRuntimeFilter's estimate-then-size idea, computed in-plan
    // from a one-row count so no driver action runs; a FIXED size would
    // saturate once the dim outgrew it, passing ~everything); (2) hash
    // the keys into that bloom (3 probes/key; m/n=16 → ~0.5% false-
    // positive rate) folded into SPARSE (word, bits) ROWS via bit_or —
    // ≤ 3·nk rows, ~2 MB at the 2^27 cap; (3) broadcast the word table
    // and probe it with three BROADCAST HASH JOINS on the word index,
    // pre-filtering the fact before its shuffle. The word table must
    // stay ROWS, not a one-row map<word,bits>: Spark's GetMapValue is a
    // LINEAR SCAN of the map, so a map-carried bloom probes in
    // O(|fact|·words) — measured 130 s at the 100× sweep (60 M rows ×
    // 32 K words) vs ~4 s for the hash-join spelling, and at the 2^27
    // cap (2 M words) it would be the whole query. (4) The exact join
    // afterwards removes bloom false positives, so the result is
    // identical to the plain join and the oracle never sees the bloom.
    // At 100 TB this is the difference between shuffling the whole fact
    // and shuffling the ~1/25th that matches the dim predicate — far
    // cheaper than broadcasting a large dim itself.
    "q_join_bloom" -> ((s, d) => {
      val dim = table(s, d, "part").filter(col("p_brand") === "Brand#13")
      val mRow = dim.agg(count(lit(1)).as("nk"))
        .select((16 to 26).foldRight(lit(1L << 27)) { (b, rest) =>
          when(col("nk") * 16 <= (1L << b), lit(1L << b)).otherwise(rest)
        }.as("m"))
      def bpos(key: org.apache.spark.sql.Column, i: Int) =
        pmod(xxhash64(lit(i), key), col("m"))
      val words = dim.crossJoin(broadcast(mRow))
        .select(col("m"), explode(array((0 until 3).map(i =>
          bpos(col("p_partkey"), i)): _*)).as("pos"))
        .groupBy(expr("CAST(pos DIV 64 AS BIGINT)").as("w"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))")
          .as("bits"))
      var probed = table(s, d, "lineitem").crossJoin(broadcast(mRow))
      for (i <- 0 until 3) {
        probed = probed
          .withColumn(s"bpos$i", bpos(col("l_partkey"), i))
          .join(broadcast(words.select(
              expr("w").as(s"w$i"), col("bits").as(s"bits$i"))),
            expr(s"CAST(bpos$i DIV 64 AS BIGINT)") === col(s"w$i"), "left")
      }
      val hit = (0 until 3).map(i => expr(
        s"""(coalesce(bits$i, CAST(0 AS BIGINT))
             & shiftleft(CAST(1 AS BIGINT), CAST(bpos$i % 64 AS INT)))
            != 0""")).reduce(_ && _)
      probed.filter(hit)
        .join(dim, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
             dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
               .as("revenue"))
        .orderBy("l_returnflag")
    }),

    // Correlated EXISTS + NOT EXISTS: customers with a finished order but
    // no pending one — the decorrelated form is a left-semi then
    // left-anti join on the same key (one co-partitioned shuffle pair).
    "q_subquery_exists" -> ((s, d) => {
      val o = table(s, d, "orders")
      table(s, d, "customer")
        .join(o.filter(col("o_orderstatus") === "F"),
              col("c_custkey") === col("o_custkey"), "left_semi")
        .join(o.filter(col("o_orderstatus") === "P"),
              col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // Full-outer join, completing the join-type matrix: a customer subset
    // against per-customer order counts — unmatched rows survive from
    // BOTH sides (customers with no orders, orders whose customer was
    // filtered away). Full outer can never broadcast (both sides must
    // see every key), so it plans as a shuffle join on the key — which
    // is the right scale shape anyway.
    "q_join_full" -> ((s, d) => {
      val cust = table(s, d, "customer")
        .filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), col("c_mktsegment"))
      val ords = table(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      cust.join(ords, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_mktsegment").as("segment"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("custkey")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_join_salted" -> """
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""",

    "q_join_inner" -> """
      SELECT c_mktsegment, count(*) AS n,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    "q_join_left" -> """
      SELECT n_name, count(c_custkey) AS n_cust,
             round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                   / count(c_acctbal), 6) AS avg_bal
      FROM nation
      LEFT JOIN customer ON n_nationkey = c_nationkey
      GROUP BY n_name
      ORDER BY n_name""",

    "q_join_semi" -> """
      SELECT o_orderkey, o_totalprice
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      ORDER BY o_orderkey""",

    "q_join_anti" -> """
      SELECT o_orderkey, o_orderstatus
      FROM orders
      WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
      ORDER BY o_orderkey""",

    "q_join_theta" -> """
      SELECT band, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
      FROM events
      JOIN (VALUES ('band_low', 0.0, 5.0), ('band_mid', 5.0, 10.0),
                   ('band_high', 10.0, 15.0), ('band_top', 15.0, 1e9))
           r(band, lo, hi)
        ON value >= lo AND value < hi
      GROUP BY band
      ORDER BY band""",

    "q_join_asof" -> """
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu, event_type
                 FROM events),
      err AS (SELECT * FROM e WHERE event_type = 'error'),
      sig AS (SELECT * FROM e WHERE event_type = 'signup')
      SELECT err.event_id, err.user_id, err.tsu AS error_ts,
             sig.tsu AS signup_ts
      FROM err ASOF JOIN sig
        ON err.user_id = sig.user_id AND sig.tsu <= err.tsu
      ORDER BY err.event_id""",

    "q_join_broadcast" -> """
      SELECT r_name, count(*) AS n_supp,
             CAST(sum(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name
      ORDER BY r_name""",

    "q_tpch_q3" -> """
      SELECT l_orderkey,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
      FROM customer JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-03-15'
        AND l_shipdate > TIMESTAMP '1998-03-15'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10""",

    "q_tpch_q5" -> """
      SELECT n_name,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY n_name
      ORDER BY n_name""",

    "q_tpch_q10" -> """
      SELECT c_custkey, c_name,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             c_acctbal, n_name
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1997-04-01'
        AND l_returnflag = 'R'
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20""",

    "q_tpch_q1" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
             CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2)
                       AS DECIMAL(38,2)) AS DOUBLE) AS sum_base_price,
             CAST(CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                      AS DECIMAL(18,6))), 2)
                       AS DECIMAL(38,2)) AS DOUBLE) AS sum_disc_price,
             CAST(CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                      * (1 + l_tax) AS DECIMAL(18,6))), 2)
                       AS DECIMAL(38,2)) AS DOUBLE) AS sum_charge,
             round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                   / count(l_quantity), 6) AS avg_qty,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                   / count(l_extendedprice), 6) AS avg_price,
             round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
                   / count(l_discount), 6) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    "q_tpch_q4" -> """
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders o
      WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
        AND EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    "q_tpch_q14" -> """
      SELECT round(100 *
               CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))) AS DOUBLE), 6)
               AS promo_revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
      ORDER BY promo_revenue""",

    "q_tpch_q6" -> """
      SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
                  AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        AND l_discount >= 0.05 AND l_discount <= 0.07
        AND l_quantity < 24
      ORDER BY revenue""",

    "q_tpch_q17" -> """
      WITH branded AS (
        SELECT l.* FROM lineitem l
        JOIN part p ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#13'),
      avgq AS (
        SELECT l_partkey AS a_partkey,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                 / count(l_quantity) * 0.2 AS qlimit
        FROM branded GROUP BY l_partkey)
      SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
                        AS DOUBLE) / 7.0, 6) AS avg_yearly
      FROM branded JOIN avgq ON l_partkey = a_partkey
      WHERE l_quantity < qlimit
      ORDER BY avg_yearly""",

    "q_tpch_q22" -> """
      WITH a AS (
        SELECT round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                     / count(c_acctbal), 6) AS avg_bal
        FROM customer WHERE c_acctbal > 0.0)
      SELECT c_mktsegment, count(*) AS numcust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
               AS totacctbal
      FROM customer, a
      WHERE c_acctbal > a.avg_bal
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >=
                              TIMESTAMP '1998-06-01 00:00:00')
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    "q_tpch_q18" -> """
      SELECT c_custkey, c_name, o_orderkey,
             CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
             CAST(sum_qty_d AS DOUBLE) AS sum_qty
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN (SELECT l_orderkey,
                   sum(CAST(l_quantity AS DECIMAL(18,6))) AS sum_qty_d
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 300) big
        ON o_orderkey = big.l_orderkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 100""",

    "q_tpch_q19" -> """
      SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
             AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
             AND l_quantity BETWEEN 20 AND 30)
      ORDER BY revenue""",

    "q_tpch_q12" -> """
      SELECT l_returnflag,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
        AND l_shipdate > o_orderdate
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    "q_tpch_q7" -> """
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
      ORDER BY supp_nation, cust_nation, l_year""",

    "q_tpch_q8" -> """
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             round(CAST(sum(CAST(CASE WHEN n2.n_name = 'NATION_3'
                                 THEN l_extendedprice * (1 - l_discount)
                                 ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
                   / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))) AS DOUBLE), 6)
               AS mkt_share
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY year(o_orderdate)
      ORDER BY o_year""",

    "q_tpch_q9" -> """
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           - p_retailprice * l_quantity * 0.1
                           AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
      GROUP BY n_name, year(o_orderdate)
      ORDER BY nation, o_year DESC""",

    "q_tpch_q20" -> """
      SELECT s_suppkey, s_name
      FROM supplier
      WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_type = 'PROMO'
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey
        HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 400)
      ORDER BY s_suppkey""",

    "q_tpch_q13" -> """
      SELECT c_count, count(*) AS custdist
      FROM (SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey
                            AND o_orderpriority <> '5-LOW'
            GROUP BY c_custkey) cc
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""",

    "q_tpch_q15" -> """
      WITH rev AS (
        SELECT l_suppkey,
               sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,6))) AS rev_d
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, CAST(rev_d AS DOUBLE) AS total_rev
      FROM supplier JOIN rev ON s_suppkey = l_suppkey
      WHERE rev_d = (SELECT max(rev_d) FROM rev)
      ORDER BY s_suppkey""",

    "q_tpch_q16" -> """
      SELECT p_brand, p_type, p_size,
             count(DISTINCT l_suppkey) AS supplier_cnt
      FROM part JOIN lineitem ON p_partkey = l_partkey
      WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
        AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",

    "q_tpch_q21" -> """
      SELECT s_name, count(*) AS numwait
      FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
      WHERE o_orderstatus = 'F'
        AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 100""",

    "q_tpch_q2" -> """
      WITH pairs AS (
        SELECT l_partkey, l_suppkey, min(l_extendedprice) AS cost
        FROM lineitem GROUP BY 1, 2)
      SELECT s_acctbal, s_name, n_name, p_partkey, p_brand
      FROM pairs
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE p_size IN (5, 15, 25) AND p_type = 'LARGE'
        AND r_name = 'EUROPE'
        AND cost = (SELECT min(p2.cost)
                    FROM pairs p2
                    JOIN supplier s2 ON p2.l_suppkey = s2.s_suppkey
                    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
                    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
                    WHERE r2.r_name = 'EUROPE'
                      AND p2.l_partkey = pairs.l_partkey)
      ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      LIMIT 100""",

    "q_tpch_q11" -> """
      WITH pv AS (
        SELECT l_partkey AS partkey,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)
                        * CAST(l_quantity AS BIGINT))
                    AS BIGINT) AS value_cents
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_7'
        GROUP BY l_partkey)
      SELECT partkey, value_cents
      FROM pv
      WHERE value_cents * (SELECT count(*) FROM pv)
            > 2 * (SELECT sum(value_cents) FROM pv)
      ORDER BY value_cents DESC, partkey""",

    "q_join_bloom" -> """
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#13'
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    "q_subquery_exists" -> """
      SELECT c_custkey, c_mktsegment
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderstatus = 'F')
        AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderstatus = 'P')
      ORDER BY c_custkey""",

    "q_join_full" -> """
      WITH cust AS (SELECT c_custkey, c_mktsegment FROM customer
                    WHERE c_custkey % 3 <> 0),
      ords AS (SELECT o_custkey, count(*) AS n_orders
               FROM orders GROUP BY o_custkey)
      SELECT coalesce(c_custkey, o_custkey) AS custkey,
             c_mktsegment AS segment,
             coalesce(n_orders, 0) AS n_orders
      FROM cust FULL OUTER JOIN ords ON c_custkey = o_custkey
      ORDER BY custkey""",
  )
}

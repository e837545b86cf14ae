package graft.queries

import graft.engine.{Catalog, Ops}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The t2 query surface for the reference-parity operators (SURVEY.md §2
  * "planned query key" column). Every query here has a DuckDB oracle in
  * [[CoreOracles]]; column names are aligned on both sides because the
  * driver's compare sorts columns by name before hashing.
  *
  * Float-summing queries cast to DECIMAL before aggregating so the result is
  * exact and order-independent (shuffle order must not change the hash), then
  * cast back to DOUBLE — both engines perform the identical exact-decimal →
  * nearest-double conversion.
  */
object CoreQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Catalog.read(s, s"$dir/$n.parquet")

  /** Deterministic 10% sample of orders — the t2 stand-in for Bernoulli
    * sampling (SURVEY.md §7.3 item 3).
    */
  private def sampledOrders(s: SparkSession, dir: String): DataFrame =
    Ops.deterministicSample(t(s, dir, "orders"), "o_orderkey", 10)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1 — full-table scan / passthrough copy
    "passthrough_region" -> ((s, dir) => t(s, dir, "region")),

    // P2 — NULL-substituting projection (dependency-break redaction)
    "depbreak_null_projection" -> ((s, dir) =>
      Ops.nullOutColumns(t(s, dir, "nation"), Set("n_regionkey"))),

    // P3 — user WHERE filter passed verbatim
    "direct_where_filter" -> ((s, dir) =>
      t(s, dir, "orders").filter(expr("o_totalprice > 150000.0"))),

    // P4 — percent sample (deterministic key-mod form)
    "direct_percent_sample" -> ((s, dir) => sampledOrders(s, dir)),

    // J1 — the core upstream semi-join
    "upstream_semi_join" -> ((s, dir) =>
      Ops.semiJoin(t(s, dir, "lineitem"), Seq("l_orderkey"),
        sampledOrders(s, dir), Seq("o_orderkey"))),

    // J2 — conjunctive multi-FK semi-join (ALL memberships must hold)
    "upstream_multi_fk" -> ((s, dir) => {
      val li = Ops.semiJoin(t(s, dir, "lineitem"), Seq("l_orderkey"),
        sampledOrders(s, dir), Seq("o_orderkey"))
      Ops.semiJoin(li, Seq("l_partkey"),
        Ops.deterministicSample(t(s, dir, "part"), "p_partkey", 7), Seq("p_partkey"))
    }),

    // P5 — upstream filter injection (extra AND clause)
    "upstream_filter" -> ((s, dir) =>
      Ops.semiJoin(t(s, dir, "lineitem"), Seq("l_orderkey"),
        sampledOrders(s, dir), Seq("o_orderkey"))
        .filter(expr("l_quantity > 25.0"))),

    // J3 — downstream anti-join: referenced-but-missing id gathering
    "downstream_anti_join" -> ((s, dir) =>
      Ops.missingIds(sampledOrders(s, dir), Seq("o_custkey"),
        Ops.deterministicSample(t(s, dir, "customer"), "c_custkey", 5),
        Seq("c_custkey"))),

    // J4 — orphan-FK scrub (NULL out FK cells whose target row is absent)
    "orphan_fk_scrub" -> ((s, dir) =>
      Ops.orphanScrub(t(s, dir, "customer"), Seq("c_nationkey"),
        t(s, dir, "nation").filter(col("n_nationkey") < 13), Seq("n_nationkey"))),

    // J5 — catalog-style equi-joins over data tables (3-way + aggregate)
    "fk_metadata_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_items"),
          expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
            "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("revenue"))
    }),

    // A1 — DISTINCT id-tuples
    "distinct_ids" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_partkey"))
        .distinct()),

    // A2 — GROUP BY + ordered collect
    "groupby_collect" -> ((s, dir) =>
      t(s, dir, "nation")
        .groupBy(col("n_regionkey"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("names"))),

    // A3 — per-table row counts (the result report)
    "rowcount_report" -> ((s, dir) =>
      Seq("customer", "orders", "lineitem")
        .map(n => t(s, dir, n).agg(count(lit(1)).as("n"))
          .select(lit(n).as("tbl"), col("n")))
        .reduce(_ unionByName _)),

    // A4 — UNNEST / explode of an array column
    "explode_array" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), explode(col("embedding")).as("e"))
        .groupBy(col("vec_id"))
        .agg(
          count(lit(1)).as("n_elems"),
          sum(when(col("e") > 0f, 1L).otherwise(0L)).as("n_pos"))),

    // L1 — row cap (deterministic via ORDER BY)
    "limit_cap" -> ((s, dir) =>
      t(s, dir, "orders").orderBy(col("o_orderkey")).limit(1000)),

    // L2 — ORDER BY + top-k (TakeOrderedAndProject)
    "orderby_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)),

    // U1/U2 — union of phase outputs with dedup (both phases draw from the
    // same source rows, so PK-dedup and full distinct coincide — which is
    // exactly the Subsetter's phase-accumulation situation)
    "union_phases" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      Ops.unionDedup(
        Ops.deterministicSample(o, "o_orderkey", 10),
        o.filter(expr("o_totalprice > 300000.0")),
        Seq("o_orderkey"))
    }),

    // S13 — arbitrary SQL passthrough: statements run verbatim against temp
    // views of the catalog (pre_constraint_sql / post_subset_sql path)
    "sql_passthrough" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_view")
      s.sql("SELECT o_orderstatus, count(*) AS n FROM orders_view " +
        "WHERE o_totalprice > 200000.0 GROUP BY o_orderstatus")
    }),

    // F2-F5 / §7.5 scalar set: dates, string ops, casts, exact math
    "scalar_functions" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        unix_timestamp(date_trunc("month", col("o_orderdate"))).as("month_ts"),
        expr("split_part(o_orderpriority, '-', 1)").as("prio_code"),
        lower(substring(col("o_orderpriority"), 1, 4)).as("prio_lc"),
        concat(col("o_orderstatus"), lit("/"), col("o_orderpriority")).as("tag"),
        abs(col("o_totalprice") - 200000.0).as("dist"),
        col("o_custkey").cast("string").as("cust_str"))),

    // L2+frame — running sum with an explicit ROWS frame over a total order
    "window_running_sum" -> ((s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        expr("CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (" +
          "PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)")
          .as("running_qty"))),

    // L2+RANGE frame — value-based window frame (vs the ROWS frame above)
    "window_range_frame" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (" +
          "PARTITION BY o_custkey ORDER BY o_orderkey " +
          "RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS DOUBLE)")
          .as("recent_total"))),

    // L2+distribution window functions: ntile / percent_rank / cume_dist
    // (exact rationals in IEEE double — engine-identical) plus a framed
    // nth value, all over one per-customer sort
    "window_ntile_cume" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        expr("ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_orderkey)")
          .as("quartile"),
        expr("percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderkey)")
          .as("pr"),
        expr("cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_orderkey)")
          .as("cd"),
        expr("first_value(o_orderkey) OVER (PARTITION BY o_custkey " +
          "ORDER BY o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)")
          .as("frame_first"))
        .withColumn("quartile", col("quartile").cast("long"))),

    // J5+full outer join with null-side coalescing — the reconciliation
    // shape (customers without orders, orders whose customer fell away)
    "join_full_outer_recon" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_custkey") % 3 === 0)
      val o = t(s, dir, "orders").filter(col("o_custkey") % 2 === 0)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(
          coalesce(c("c_custkey"), o("o_custkey")).as("custkey"),
          when(c("c_custkey").isNull, lit("orders_only"))
            .when(o("o_custkey").isNull, lit("customer_only"))
            .otherwise(lit("both")).as("side"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    }),

    // Second join headline: revenue top-k per order for one segment
    "q3_segment_topk" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("o_orderkey"))
        .agg(expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
          "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // Third join headline (TPC-H Q5 shape): 6-table star join. The fact
    // tables (lineitem ⋈ orders ⋈ customer) shuffle on their keys; the
    // dimension sides (supplier, nation, region) are broadcast so the
    // region filter prunes before any wide shuffle — the plan that holds
    // at 1000 executors.
    "q5_local_supplier_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
        .filter(expr("o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND " +
          "o_orderdate < TIMESTAMP '1999-01-01 00:00:00'"))
      val c = t(s, dir, "customer")
      val sup = broadcast(t(s, dir, "supplier"))
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(li, o("o_orderkey") === li("l_orderkey"))
        .join(sup, li("l_suppkey") === sup("s_suppkey") &&
          c("c_nationkey") === sup("s_nationkey"))
        .join(n, sup("s_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
          "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("revenue"))
    }),

    // Pivot: order counts per segment × status (wide aggregation)
    "pivot_status_by_segment" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
    }),

    // Unpivot/melt: long-form metrics from wide per-order columns
    "unpivot_order_metrics" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_custkey").cast("double").as("o_custkey_d"))
        .unpivot(
          Array(col("o_orderkey")),
          Array(col("o_totalprice"), col("o_custkey_d")),
          "metric", "val")),

    // Fourth join headline (TPC-H Q18 shape): grouped join with a HAVING
    // filter on the aggregate — the post-aggregation predicate pushes
    // nothing to the scan but prunes before the final sort/collect
    "q18_order_quantity" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_custkey"), col("o_orderkey"))
        .agg(expr("sum(CAST(l_quantity AS DECIMAL(18,2)))").as("q_dec"))
        .filter(col("q_dec") > 150)
        .select(col("c_custkey"), col("o_orderkey"),
          col("q_dec").cast("double").as("total_qty"))
    }),

    // Set intersection (distinct): customers of the BUILDING segment that
    // actually placed orders
    "intersect_custkeys" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_custkey").as("custkey"))
        .intersect(
          t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
            .select(col("c_custkey").as("custkey")))),

    // Multiset difference (EXCEPT ALL): lineitem order keys with one
    // occurrence removed per matching orders row — preserves multiplicity,
    // unlike the anti-join (J3) which is set-semantics
    "except_all_orderkeys" -> ((s, dir) =>
      t(s, dir, "lineitem").select(col("l_orderkey").as("okey"))
        .exceptAll(t(s, dir, "orders").select(col("o_orderkey").as("okey")))),

    // Fifth join headline (TPC-H Q10 shape): returned-item revenue per
    // customer — 4-table join, date + flag filters pushed to the scans,
    // broadcast nation, DECIMAL-exact aggregate, top-20
    "q10_returned_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val o = t(s, dir, "orders")
        .filter(expr("o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND " +
          "o_orderdate < TIMESTAMP '1997-01-01 00:00:00'"))
      val c = t(s, dir, "customer")
      val n = broadcast(t(s, dir, "nation"))
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(li, o("o_orderkey") === li("l_orderkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
          "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),

    // Nested semi-join chain (TPC-H Q20 shape): suppliers that shipped
    // PROMO parts — two-level IN, each level a broadcast-able left_semi
    "q20_promo_suppliers" -> ((s, dir) => {
      val promoParts = t(s, dir, "part").filter(col("p_type") === "PROMO")
      val li = t(s, dir, "lineitem")
      val promoLines = li
        .join(promoParts, li("l_partkey") === promoParts("p_partkey"), "left_semi")
      t(s, dir, "supplier")
        .join(promoLines, col("s_suppkey") === promoLines("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
    }),

    // Correlated-EXISTS shape (TPC-H Q4): orders with at least one line
    // shipped after the order date, counted per priority — the EXISTS
    // subquery as a conditioned left-semi join
    "q4_priority_exists" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      o.join(li,
          o("o_orderkey") === li("l_orderkey") &&
            li("l_shipdate") > o("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    }),

    // Double-correlated-subquery shape (TPC-H Q21): per-supplier count of
    // 'R'-flagged lines in finished orders where ANOTHER supplier also
    // shipped (EXISTS → left-semi on the fact table) but NO other supplier
    // failed (NOT EXISTS → left-anti on the SAME fact table) — the one
    // join composition the rest of the TPC-H surface doesn't exercise:
    // semi + anti against one relation, both correlated on (orderkey,
    // suppkey≠). The synthetic lineitem has no commit/receipt dates, so
    // l_returnflag='R' stands in for "failed delivery"; the join shape is
    // exactly Q21's. Supplier is broadcast; the two self-joins shuffle on
    // l_orderkey once each (same key → AQE can reuse the exchange).
    "q21_waiting_suppliers" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val failed = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey"))
      val finishedOrders = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
      val others = li.select(col("l_orderkey").as("o2_orderkey"),
        col("l_suppkey").as("o2_suppkey"))
      val othersFailed = failed.select(col("l_orderkey").as("o3_orderkey"),
        col("l_suppkey").as("o3_suppkey"))
      failed
        .join(finishedOrders, col("l_orderkey") === col("o_orderkey"),
          "left_semi")
        .join(others,
          col("l_orderkey") === col("o2_orderkey") &&
            col("l_suppkey") =!= col("o2_suppkey"), "left_semi")
        .join(othersFailed,
          col("l_orderkey") === col("o3_orderkey") &&
            col("l_suppkey") =!= col("o3_suppkey"), "left_anti")
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
    }),

    // Multi-join profit rollup (TPC-H Q9): per-nation per-year profit over
    // lineitem⋈part⋈supplier⋈orders⋈nation with a part-name LIKE filter
    // and year extraction — the widest star rollup in the family. The
    // synthetic schema has no partsupp, so supply cost is a retail-price
    // fraction (exact DECIMAL ×0.1); the join/aggregate shape is Q9's.
    "q9_product_profit" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part").filter(col("p_name").like("%red%"))
        .select(col("p_partkey"), col("p_retailprice"))
      val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
      li.join(p, li("l_partkey") === p("p_partkey"))
        .join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
        .agg(expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
          "(1 - CAST(l_discount AS DECIMAL(18,2))) - " +
          "CAST(p_retailprice AS DECIMAL(18,2)) * " +
          "CAST(l_quantity AS DECIMAL(18,2)) * 0.1) AS DOUBLE)")
          .as("sum_profit"))
    }),

    // Group-vs-global-share filter (TPC-H Q11): parts whose lineitem value
    // exceeds 0.1% of the whole corpus value — the HAVING-over-scalar-
    // subquery shape, division-free (value × 1000 > total, exact DECIMAL).
    // No partsupp in the synthetic schema; lineitem value is the stand-in.
    "q11_important_parts" -> ((s, dir) => {
      val pv = t(s, dir, "lineitem").groupBy(col("l_partkey"))
        .agg(sum(expr("CAST(l_extendedprice AS DECIMAL(18,2))")).as("value"))
      val tot = pv.agg(sum(col("value")).as("tv"))
      pv.crossJoin(broadcast(tot))
        .filter(expr("value * 1000 > tv"))
        .select(col("l_partkey"), expr("CAST(value AS DOUBLE)").as("part_value"))
    }),

    // Join + conditional-count pivot (TPC-H Q12): priority class counts per
    // line status over a ship-date window (l_linestatus stands in for the
    // absent l_shipmode; the orders⋈lineitem conditional-sum shape is Q12's).
    "q12_shipmode_priority" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
    }),

    // Argmax view (TPC-H Q15): the supplier(s) with maximum windowed
    // revenue — aggregate, broadcast the scalar max, exact-DECIMAL
    // equality join back (ties keep all rows, deterministically).
    "q15_top_supplier" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(expr("CAST(l_extendedprice AS DECIMAL(18,2)) * " +
          "(1 - CAST(l_discount AS DECIMAL(18,2)))")).as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("mr"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("mr"))
        .join(broadcast(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          expr("CAST(total_revenue AS DOUBLE)").as("total_revenue"))
    }),

    // Outer-join count histogram (TPC-H Q13): orders per customer INCLUDING
    // zero-order customers (left join, count of the nullable side), then a
    // second aggregate over the counts — the join-then-double-aggregate
    // composition. Priority filter stands in for Q13's comment filter
    // (same position: right side of the outer join, not a post-filter).
    "q13_customer_distribution" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),

    // Correlated scalar-aggregate filter (TPC-H Q17): lines whose quantity
    // is below 20% of their part's average — the per-group scalar
    // subquery as a co-grouped aggregate join. The threshold compare is
    // DIVISION-FREE (qty × cnt × 5 < sum_qty in exact DECIMAL): an
    // engine-dependent double average at the boundary would flip rows.
    "q17_small_quantity_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part").filter(col("p_brand") === "Brand#1")
        .select(col("p_partkey"))
      val stats = li.groupBy(col("l_partkey")).agg(
        sum(expr("CAST(l_quantity AS DECIMAL(18,2))")).as("sq"),
        count(lit(1)).as("cn"))
      li.join(p, li("l_partkey") === p("p_partkey"))
        .join(stats, Seq("l_partkey"))
        .filter(expr("CAST(l_quantity AS DECIMAL(18,2)) * cn * 5 < sq"))
        .agg(
          expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)")
            .as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // Scalar-subquery + anti-join rollup (TPC-H Q22): customers above the
    // positive-balance average (global scalar, broadcast one-row cross
    // join, division-free compare) with NO orders (left-anti), grouped by
    // country code (nationkey mod stands in for the phone prefix).
    "q22_global_sales_opportunity" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("cc", col("c_nationkey") % 10)
        .filter(col("cc").isin(1, 2, 3, 4))
      val stats = c.filter(col("c_acctbal") > 0.0).agg(
        sum(expr("CAST(c_acctbal AS DECIMAL(18,2))")).as("sb"),
        count(lit(1)).as("cb"))
      c.join(t(s, dir, "orders").select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(stats))
        .filter(expr("CAST(c_acctbal AS DECIMAL(18,2)) * cb > sb"))
        .groupBy(col("cc"))
        .agg(count(lit(1)).as("numcust"),
          expr("CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)")
            .as("totacctbal"))
    }),

    // Conditional-aggregate ratio (TPC-H Q14): promo revenue share — both
    // legs accumulate in DECIMAL, ONE double division at the end
    "q14_promo_share" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      li.join(p, li("l_partkey") === p("p_partkey"))
        .agg(round(
          expr("CAST(sum(CASE WHEN p_type = 'PROMO' THEN " +
            "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) " +
            "ELSE 0 END) AS DOUBLE)") * 100.0 /
          expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
            "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"), 6)
          .as("promo_share"))
    }),

    // NOT-IN + count-distinct shape (TPC-H Q16): distinct suppliers per
    // brand, excluding suppliers in a (negative-balance) exclusion
    // subquery — the anti-join + distinct aggregate composition
    "q16_supplier_counts" -> ((s, dir) => {
      val bad = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("bad_key"))
      val li = t(s, dir, "lineitem")
        .join(bad, col("l_suppkey") === col("bad_key"), "left_anti")
      val p = t(s, dir, "part")
      li.join(p, li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"))
    }),

    // Table-statistics collection (ANALYZE shape): count / min / max /
    // distinct — a scan of the table (Spark's parquet source is V1, so no
    // aggregate is answered from footer statistics)
    "table_stats_orders" -> ((s, dir) =>
      t(s, dir, "orders").agg(
        count(lit(1)).as("n_rows"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        expr("CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").as("min_price"),
        expr("CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").as("max_price"),
        countDistinct(col("o_custkey")).as("n_custkeys"))),

    // Correlated-min shape (TPC-H Q2): per part, the single cheapest
    // lineitem under a total order — served by the custom grouped top-k
    // operator with k=1 (bounded heap, no per-group sort)
    "q2_min_price_line" -> ((s, dir) =>
      graft.plans.TopKPerKey.topKPerKey(
        t(s, dir, "lineitem"), Seq("l_partkey"),
        Seq("l_extendedprice", "l_orderkey", "l_linenumber"), 1)
        .select(col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_orderkey"))),

    // Argmax aggregate (max_by shape) with a deterministic total order:
    // max over (price, orderkey) structs breaks price ties by key, so the
    // result is engine-exact — bare max_by leaves ties undefined
    "argmax_order_per_cust" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(struct(col("o_totalprice"), col("o_orderkey"))).as("m"))
        .select(col("o_custkey"),
          col("m.o_orderkey").as("top_order"),
          col("m.o_totalprice").as("top_price"))),

    // Hierarchical aggregate (ROLLUP): per status×priority, per status, and
    // grand total in one pass — Spark expands grouping sets inside a single
    // shuffle, no N-pass union
    "rollup_order_stats" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")
            .as("total"))),

    // CUBE: every grouping-set combination (status×priority, each alone,
    // grand total) in one expanded shuffle — the full-lattice sibling of
    // the ROLLUP key
    "cube_order_stats" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")
            .as("total"))),

    // Explicit GROUPING SETS — the arbitrary-lattice form ROLLUP/CUBE are
    // shorthands of: each dimension alone plus the grand total, with
    // grouping() flags so an all-NULL dimension value can't masquerade as
    // a rolled-up row (the standard SCD/report disambiguation)
    "grouping_sets_order_stats" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_prio"),
          count(lit(1)).as("n"),
          expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")
            .as("total"))),

    // A-family approx aggregate with a CHECKABLE contract: the HLL++
    // estimate itself is estimator-specific (DuckDB's sketch differs, so
    // the raw value can't hash-match), but its ERROR BAND can — the key
    // emits the exact count(DISTINCT) alongside an integer basis-point
    // flag `|approx − exact|·10000 div exact ≤ 1000` (HLL++ default rsd
    // 5%, banded at 10% for slack), and the oracle states exact + flag=1.
    // A broken estimator flips the flag and the hash goes red.
    "approx_distinct_parts" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        approx_count_distinct(col("l_partkey")).as("approx"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        count(lit(1)).as("n_rows"))
        .select(col("exact_parts"), col("n_rows"),
          expr("CAST(CASE WHEN (abs(approx - exact_parts) * 10000L) " +
            "div exact_parts <= 1000 THEN 1 ELSE 0 END AS INT)")
            .as("err_band_ok"))),

    // Flagship pricing-summary aggregate (headline bench query; exercises
    // scan + filter pushdown + partial aggregation)
    // q6 shape: the pure filter-pushdown aggregate — every predicate
    // reaches the parquet scan (date range + discount band + quantity
    // cap), one partial/final agg pair, no join, no shuffle of data rows.
    // DECIMAL-accumulated revenue emitted as its DOUBLE image.
    "q6_forecast_revenue" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(expr("l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' AND " +
          "l_shipdate < TIMESTAMP '1997-01-01 00:00:00'") &&
          expr("l_discount BETWEEN 0.02 AND 0.09") && col("l_quantity") < 24)
        .agg(
          expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
            "CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)").as("revenue"),
          count(lit(1)).as("n_lines"))),
    // q19 shape: disjunctive multi-column predicate ACROSS the join — the
    // OR of brand/size/quantity bands can only partially push down
    // (per-side implied predicates); the rest evaluates on the joined row.
    // The dimension side broadcasts.
    "q19_disjunctive_revenue" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 30)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
            col("l_quantity").between(5, 40)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
            col("l_quantity").between(10, 50)))
        .agg(
          expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
            "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("revenue"),
          count(lit(1)).as("n_lines"))
    }),
    // q7 shape: bidirectional nation-pair volume — a 5-way join where
    // nation joins TWICE (supplier side and customer side); both nation
    // sides and supplier/customer broadcast, the lineitem⋈orders fact
    // join shuffles on the key. DECIMAL revenue, DOUBLE image.
    "q7_nation_volume" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val su = t(s, dir, "supplier")
      val c = t(s, dir, "customer")
      val n1 = t(s, dir, "nation").select(
        col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").select(
        col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter(col("s_nk") < 5 && col("c_nk") < 5 &&
          col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
          "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("revenue"))
    }),
    // q8 shape: national market share — one nation's revenue share of a
    // region's market for a part type, per order year. Two DECIMAL sums
    // (conditional numerator via CASE) emitted as DOUBLEs plus their
    // ratio; joins over all six tables with every dimension broadcast.
    "q8_market_share" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val p = t(s, dir, "part")
      val su = t(s, dir, "supplier")
      val c = t(s, dir, "customer")
      val n1 = t(s, dir, "nation").select(
        col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").select(
        col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk"))
      val r = t(s, dir, "region")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .join(broadcast(r), col("c_rk") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA" && col("p_type") === "PROMO")
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          expr("CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN " +
            "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) " +
            "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)").as("nation_volume"),
          expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
            "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("total_volume"))
        .withColumn("mkt_share",
          round(col("nation_volume") / col("total_volume"), 6))
    }),
    "q1_pricing_summary" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(expr("l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          expr("CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)").as("sum_qty"),
          expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)").as("sum_base_price"),
          expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
            "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("sum_disc_price"),
          expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
            "(1 - CAST(l_discount AS DECIMAL(18,2))) * " +
            "(1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE)").as("sum_charge"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
        .withColumn("avg_price", col("sum_base_price") / col("count_order")))
  )

  val oracles: Map[String, String] = Map(
    // exact count + error-band flag; the approx estimate itself never
    // enters the hashed output (estimator-specific), only its contract
    "approx_distinct_parts" ->
      ("SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts, " +
        "count(*) AS n_rows, CAST(1 AS INT) AS err_band_ok FROM lineitem"),
    "passthrough_region" -> "SELECT * FROM region",
    "depbreak_null_projection" ->
      "SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey FROM nation",
    "direct_where_filter" -> "SELECT * FROM orders WHERE o_totalprice > 150000.0",
    "direct_percent_sample" -> "SELECT * FROM orders WHERE o_orderkey % 10 = 0",
    "upstream_semi_join" ->
      ("SELECT * FROM lineitem WHERE l_orderkey IN " +
        "(SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 0)"),
    "upstream_multi_fk" ->
      ("SELECT * FROM lineitem WHERE l_orderkey IN " +
        "(SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 0) " +
        "AND l_partkey IN (SELECT p_partkey FROM part WHERE p_partkey % 7 = 0)"),
    "upstream_filter" ->
      ("SELECT * FROM lineitem WHERE l_orderkey IN " +
        "(SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 0) " +
        "AND l_quantity > 25.0"),
    "downstream_anti_join" ->
      ("SELECT DISTINCT o_custkey AS c_custkey FROM orders " +
        "WHERE o_orderkey % 10 = 0 AND o_custkey NOT IN " +
        "(SELECT c_custkey FROM customer WHERE c_custkey % 5 = 0)"),
    "orphan_fk_scrub" ->
      ("SELECT c_custkey, c_name, CASE WHEN c_nationkey IN " +
        "(SELECT n_nationkey FROM nation WHERE n_nationkey < 13) " +
        "THEN c_nationkey ELSE NULL END AS c_nationkey, c_acctbal, c_mktsegment " +
        "FROM customer"),
    "fk_metadata_join" ->
      ("SELECT c_mktsegment, count(*) AS n_items, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment"),
    "distinct_ids" ->
      "SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 100 = 0",
    "groupby_collect" ->
      ("SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names " +
        "FROM nation GROUP BY n_regionkey"),
    "rowcount_report" ->
      ("SELECT 'customer' AS tbl, count(*) AS n FROM customer " +
        "UNION ALL SELECT 'orders', count(*) FROM orders " +
        "UNION ALL SELECT 'lineitem', count(*) FROM lineitem"),
    "explode_array" ->
      ("SELECT vec_id, count(*) AS n_elems, " +
        "CAST(sum(CASE WHEN e > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos " +
        "FROM (SELECT vec_id, unnest(embedding) AS e FROM embeddings) u " +
        "GROUP BY vec_id"),
    "limit_cap" -> "SELECT * FROM orders ORDER BY o_orderkey LIMIT 1000",
    "orderby_topk" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    "union_phases" ->
      ("SELECT DISTINCT * FROM (SELECT * FROM orders WHERE o_orderkey % 10 = 0 " +
        "UNION ALL SELECT * FROM orders WHERE o_totalprice > 300000.0) u"),
    "sql_passthrough" ->
      ("SELECT o_orderstatus, count(*) AS n FROM orders " +
        "WHERE o_totalprice > 200000.0 GROUP BY o_orderstatus"),
    "scalar_functions" ->
      ("SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS yr, " +
        "CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT) AS month_ts, " +
        "split_part(o_orderpriority, '-', 1) AS prio_code, " +
        "lower(substr(o_orderpriority, 1, 4)) AS prio_lc, " +
        "o_orderstatus || '/' || o_orderpriority AS tag, " +
        "abs(o_totalprice - 200000.0) AS dist, " +
        "CAST(o_custkey AS VARCHAR) AS cust_str FROM orders"),
    "window_running_sum" ->
      ("SELECT l_suppkey, l_orderkey, l_linenumber, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (" +
        "PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty " +
        "FROM lineitem"),
    "window_range_frame" ->
      ("SELECT o_orderkey, o_custkey, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (" +
        "PARTITION BY o_custkey ORDER BY o_orderkey " +
        "RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS DOUBLE) AS recent_total " +
        "FROM orders"),
    "q4_priority_exists" ->
      ("SELECT o_orderpriority, count(*) AS n_orders FROM orders o " +
        "WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey " +
        "AND l.l_shipdate > o.o_orderdate) GROUP BY o_orderpriority"),
    "q14_promo_share" ->
      ("SELECT round(CAST(sum(CASE WHEN p_type = 'PROMO' THEN " +
        "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) " +
        "ELSE 0 END) AS DOUBLE) * 100.0 / " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS promo_share " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey"),
    "q16_supplier_counts" ->
      ("SELECT p_brand, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) " +
        "GROUP BY p_brand"),
    "table_stats_orders" ->
      ("SELECT count(*) AS n_rows, min(o_orderkey) AS min_key, " +
        "max(o_orderkey) AS max_key, " +
        "CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price, " +
        "CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price, " +
        "CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custkeys FROM orders"),
    "window_ntile_cume" ->
      ("SELECT o_orderkey, o_custkey, " +
        "CAST(ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS BIGINT) AS quartile, " +
        "percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS pr, " +
        "cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS cd, " +
        "first_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey " +
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS frame_first " +
        "FROM orders"),
    "join_full_outer_recon" ->
      ("WITH c AS (SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0), " +
        "o AS (SELECT o_custkey, count(*) AS n_orders FROM orders " +
        "WHERE o_custkey % 2 = 0 GROUP BY o_custkey) " +
        "SELECT coalesce(c_custkey, o_custkey) AS custkey, " +
        "CASE WHEN c_custkey IS NULL THEN 'orders_only' " +
        "WHEN o_custkey IS NULL THEN 'customer_only' ELSE 'both' END AS side, " +
        "coalesce(n_orders, 0) AS n_orders " +
        "FROM c FULL OUTER JOIN o ON c_custkey = o_custkey"),
    "pivot_status_by_segment" ->
      ("SELECT c_mktsegment, " +
        "CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS F, " +
        "CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS O, " +
        "CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS P " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment"),
    "unpivot_order_metrics" ->
      ("SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS val FROM orders " +
        "UNION ALL SELECT o_orderkey, 'o_custkey_d', CAST(o_custkey AS DOUBLE) FROM orders"),
    "q3_segment_topk" ->
      ("SELECT o_orderkey, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' GROUP BY o_orderkey " +
        "ORDER BY revenue DESC, o_orderkey LIMIT 10"),
    "q18_order_quantity" ->
      ("SELECT c_custkey, o_orderkey, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_custkey, o_orderkey " +
        "HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150"),
    "intersect_custkeys" ->
      ("SELECT o_custkey AS custkey FROM orders INTERSECT " +
        "SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'"),
    "except_all_orderkeys" ->
      ("SELECT l_orderkey AS okey FROM lineitem EXCEPT ALL " +
        "SELECT o_orderkey AS okey FROM orders"),
    "q10_returned_revenue" ->
      ("SELECT c_custkey, c_name, n_name, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON o_orderkey = l_orderkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE l_returnflag = 'R' " +
        "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "GROUP BY c_custkey, c_name, n_name " +
        "ORDER BY revenue DESC, c_custkey LIMIT 20"),
    "q20_promo_suppliers" ->
      ("SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey IN " +
        "(SELECT l_suppkey FROM lineitem WHERE l_partkey IN " +
        "(SELECT p_partkey FROM part WHERE p_type = 'PROMO'))"),
    "q2_min_price_line" ->
      ("SELECT l_partkey, l_suppkey, l_extendedprice, l_orderkey FROM " +
        "(SELECT l_partkey, l_suppkey, l_extendedprice, l_orderkey, " +
        "row_number() OVER (PARTITION BY l_partkey " +
        "ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn " +
        "FROM lineitem) t WHERE rn = 1"),
    "argmax_order_per_cust" ->
      ("SELECT o_custkey, m.k AS top_order, m.p AS top_price FROM " +
        "(SELECT o_custkey, max(struct_pack(p := o_totalprice, k := o_orderkey)) AS m " +
        "FROM orders GROUP BY o_custkey) t"),
    "rollup_order_stats" ->
      ("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
        "FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"),
    "cube_order_stats" ->
      ("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
        "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"),
    "grouping_sets_order_stats" ->
      ("SELECT o_orderstatus, o_orderpriority, " +
        "CAST(GROUPING(o_orderstatus) AS INT) AS g_status, " +
        "CAST(GROUPING(o_orderpriority) AS INT) AS g_prio, " +
        "count(*) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
        "FROM orders GROUP BY GROUPING SETS " +
        "((o_orderstatus), (o_orderpriority), ())"),
    "q5_local_supplier_revenue" ->
      ("SELECT n_name, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' " +
        "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00' " +
        "GROUP BY n_name"),
    "q7_nation_volume" ->
      ("SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
        "CAST(year(l_shipdate) AS BIGINT) AS l_year, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey " +
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey " +
        "WHERE n1.n_nationkey < 5 AND n2.n_nationkey < 5 AND n1.n_name != n2.n_name " +
        "GROUP BY 1, 2, 3"),
    "q8_market_share" ->
      ("SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
        "CAST(sum(CASE WHEN n1.n_name = 'NATION_1' THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_volume, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_volume, " +
        "round(CAST(sum(CASE WHEN n1.n_name = 'NATION_1' THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) / " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS mkt_share " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN part ON l_partkey = p_partkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey " +
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey " +
        "JOIN region ON n2.n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' AND p_type = 'PROMO' " +
        "GROUP BY 1"),
    "q6_forecast_revenue" ->
      ("SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue, " +
        "count(*) AS n_lines FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_discount BETWEEN 0.02 AND 0.09 AND l_quantity < 24"),
    "q19_disjunctive_revenue" ->
      ("SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue, " +
        "count(*) AS n_lines FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey " +
        "WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 30) " +
        "OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 5 AND 40) " +
        "OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity BETWEEN 10 AND 50)"),
    "q9_product_profit" ->
      ("SELECT n_name, CAST(date_part('year', o_orderdate) AS INT) AS o_year, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) - " +
        "CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) * 0.1) AS DOUBLE) AS sum_profit " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE p_name LIKE '%red%' GROUP BY 1, 2"),
    "q11_important_parts" ->
      ("WITH pv AS (SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value " +
        "FROM lineitem GROUP BY 1), t AS (SELECT sum(value) AS tv FROM pv) " +
        "SELECT l_partkey, CAST(value AS DOUBLE) AS part_value " +
        "FROM pv, t WHERE value * 1000 > tv"),
    "q12_shipmode_priority" ->
      ("SELECT l_linestatus, " +
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
        "CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' GROUP BY 1"),
    "q15_top_supplier" ->
      ("WITH rev AS (SELECT l_suppkey, sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' GROUP BY 1) " +
        "SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue " +
        "FROM rev JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE total_revenue = (SELECT max(total_revenue) FROM rev)"),
    "q13_customer_distribution" ->
      ("SELECT c_count, count(*) AS custdist FROM " +
        "(SELECT c_custkey, count(o_orderkey) AS c_count FROM customer " +
        "LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT' " +
        "GROUP BY c_custkey) x GROUP BY c_count"),
    "q17_small_quantity_revenue" ->
      ("WITH a AS (SELECT l_partkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq, " +
        "count(*) AS cn FROM lineitem GROUP BY 1) " +
        "SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, " +
        "count(*) AS n_lines " +
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey " +
        "JOIN a ON l.l_partkey = a.l_partkey " +
        "WHERE p.p_brand = 'Brand#1' AND CAST(l.l_quantity AS DECIMAL(18,2)) * cn * 5 < sq"),
    "q22_global_sales_opportunity" ->
      ("WITH c AS (SELECT c_custkey, c_acctbal, c_nationkey % 10 AS cc FROM customer " +
        "WHERE c_nationkey % 10 IN (1, 2, 3, 4)), " +
        "s AS (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS sb, count(*) AS cb " +
        "FROM c WHERE c_acctbal > 0.0) " +
        "SELECT cc, count(*) AS numcust, " +
        "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal " +
        "FROM c, s WHERE CAST(c_acctbal AS DECIMAL(18,2)) * cb > sb " +
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey) " +
        "GROUP BY cc"),
    "q21_waiting_suppliers" ->
      ("SELECT s_name, count(*) AS numwait FROM lineitem l1 " +
        "JOIN supplier ON s_suppkey = l1.l_suppkey " +
        "WHERE l1.l_returnflag = 'R' " +
        "AND EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F') " +
        "AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) " +
        "AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R') " +
        "GROUP BY s_name"),
    "q1_pricing_summary" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge, " +
        "count(*) AS count_order, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus")
  )
}

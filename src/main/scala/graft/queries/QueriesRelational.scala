package graft.queries

import graft.DataTable
import graft.operators.TopK
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Relational capability extensions (SURVEY.md §2.8): scans, filters,
  * projections, sorts, joins, aggregates, windows, set-ops.
  *
  * Scale notes per query are in each entry; the common rules:
  *   - dimension tables (region/nation/supplier) are broadcast — no shuffle of
  *     the fact side;
  *   - aggregates are partial (map-side combine) by construction (groupBy.agg);
  *   - every output is deterministically ordered and every computed integer is
  *     LongType to match the DuckDB oracle's BIGINT.
  */
object QueriesRelational {

  val queries: Map[String, Q] = Map(
    // Parquet scan with pushed filter + pruned columns (PushedFilters in .explain).
    "scan_source" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_quantity") >= 48.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "filter_pred" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_returnflag") === "R" && col("l_quantity") > 45.0 && col("l_discount") <= 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), round(col("l_extendedprice"), 2).as("price"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // select-columns through the facade: case-insensitive + reorder (SURVEY §2.3).
    "select_columns" -> ((s, dir) => {
      DataTable(t(s, dir, "customer"))
        .selectColumns(Seq("C_MKTSEGMENT", "c_custkey")) // intentionally wrong case: resolution is case-insens
        .df.orderBy(col("c_custkey"))
    }),

    "sort_limit" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .limit(20)
    }),

    // Flagship: TPC-H Q1-shaped pricing summary (SURVEY §7.2 M0).
    "agg_group" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "agg_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("d_parts"),
        countDistinct(col("l_suppkey")).as("d_supps"),
        countDistinct(col("l_returnflag"), col("l_linestatus")).as("d_flag_status"))
    }),

    // HLL sketch vs exact distinct: the estimate itself is engine-specific,
    // so the DECLARED output carries the exact counts plus within-tolerance
    // flags the oracle pins exactly (default rsd 0.05 → 15% is a ≳3σ bound;
    // both estimate and exact come out of ONE aggregate pass).
    "agg_approx_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("d_parts"),
        countDistinct(col("l_orderkey")).as("d_orders"),
        approx_count_distinct(col("l_partkey")).as("_ap"),
        approx_count_distinct(col("l_orderkey")).as("_ao"))
        .select(col("d_parts"), col("d_orders"),
          (abs(col("_ap") - col("d_parts")) <= col("d_parts") * 0.15).as("parts_ok"),
          (abs(col("_ao") - col("d_orders")) <= col("d_orders") * 0.15).as("orders_ok"))
    }),

    "agg_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"),
          // grouping flags (legal only inside the agg) disambiguate subtotal
          // rows from genuine NULL-key groups, which coalesce alone collides
          grouping(col("l_returnflag")).cast(LongType).as("g_flag"),
          grouping(col("l_linestatus")).cast(LongType).as("g_status"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("g_flag"), col("g_status"), col("sum_qty"), col("n"))
        .orderBy(col("flag"), col("status"), col("g_flag"), col("g_status"))
    }),

    // Inner 3-way join; nation is broadcast (tiny dim → zero shuffle for it).
    "join_inner" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("n_name"))
    }),

    "join_left" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(count(col("o_orderkey")).as("cnt"))
        .groupBy(col("c_mktsegment"))
        .agg(round(avg(col("cnt")), 4).as("avg_orders"),
             sum(when(col("cnt") === 0, 1L).otherwise(0L)).as("n_orderless"))
        .orderBy(col("c_mktsegment"))
    }),

    "join_semi_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi").count()
      val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti").count()
      import s.implicits._
      Seq((semi, anti)).toDF("n_with_orders", "n_without_orders")
    }),

    // Explicit broadcast chain: region+nation+supplier are all small dims.
    "join_broadcast" -> ((s, dir) => {
      val l = t(s, dir, "lineitem"); val sup = t(s, dir, "supplier")
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      l.join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy(col("r_name"))
    }),

    "window_rank" -> ((s, dir) => {
      t(s, dir, "orders")
        .transform(TopK.perKey(_, col("o_custkey"))(1, col("o_totalprice").desc, col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("best_price"))
        .orderBy(col("o_custkey"))
    }),

    "window_frame" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("run_sum", round(sum(col("value")).over(w), 2))
        .select(col("event_id"), col("user_id"), col("run_sum"))
        .orderBy(col("event_id"))
    }),

    "set_ops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.where(col("o_orderstatus") === "F").select(col("o_custkey"))
      val b = o.where(col("o_orderstatus") === "O").select(col("o_custkey"))
      import s.implicits._
      Seq((a.intersect(b).count(), a.except(b).count(), a.union(b).distinct().count()))
        .toDF("n_intersect", "n_except", "n_union")
    }),

    "scalar_funcs" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          upper(col("o_orderpriority")).as("pri_upper"),
          substring(col("o_orderpriority"), 1, 1).as("pri_code"),
          year(col("o_orderdate")).cast(LongType).as("o_year"),
          month(col("o_orderdate")).cast(LongType).as("o_month"),
          length(col("o_orderstatus")).cast(LongType).as("status_len"),
          round(abs(col("o_totalprice") - 100000.0), 2).as("price_delta"),
          concat_ws("|", col("o_orderstatus"), col("o_orderpriority")).as("tag"))
        .orderBy(col("o_orderkey")).limit(100)
    }),

    "json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"), get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .orderBy(col("event_id"))
    }),

    // Full-outer join over two aggregates with genuine one-side-only keys
    // (customers having only 'F' or only 'O' orders). Both inputs are
    // pre-aggregated before the join, so the shuffle carries one row per
    // customer per side — never the raw orders.
    "join_full" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val f = o.where(col("o_orderstatus") === "F")
        .groupBy(col("o_custkey").as("custkey")).agg(count(lit(1)).as("n_f"))
      val open = o.where(col("o_orderstatus") === "O")
        .groupBy(col("o_custkey").as("custkey")).agg(count(lit(1)).as("n_o"))
      f.join(open, Seq("custkey"), "full_outer")
        .select(col("custkey"),
          coalesce(col("n_f"), lit(0L)).as("n_f"),
          coalesce(col("n_o"), lit(0L)).as("n_o"),
          when(col("n_f").isNull, "o_only")
            .when(col("n_o").isNull, "f_only").otherwise("both").as("side"))
        .orderBy(col("custkey"))
    }),

    // Cross join as dense-grid fill: every (segment × priority) cell exists
    // in the report even when no order hit it. The grid is a 5×5 cross of
    // two tiny distinct sets (both broadcast); the fact aggregate left-joins
    // onto it — the standard shape for gap-free reporting matrices.
    "join_cross" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val grid = c.select(col("c_mktsegment")).distinct()
        .crossJoin(o.select(col("o_orderpriority")).distinct())
      val actual = o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("rev"))
      grid.join(actual, Seq("c_mktsegment", "o_orderpriority"), "left")
        .select(col("c_mktsegment").as("segment"), col("o_orderpriority").as("priority"),
          coalesce(col("n"), lit(0L)).as("n"), coalesce(col("rev"), lit(0.0)).as("rev"))
        .orderBy(col("segment"), col("priority"))
    }),

    // TPC-H Q3-shaped composite: selective dim filter (broadcast), selective
    // fact filters (both pushed to the parquet scan), join, partial-agg
    // group, top-10 by revenue. The plan to want at 100 TB: customer is
    // broadcast, lineitem/orders shuffle only their filtered survivors on
    // the join key, and the final top-k is TakeOrderedAndProject (no global
    // sort materialization).
    "relational_q3" -> ((s, dir) => {
      val cut = expr("TIMESTAMP '1998-01-01 00:00:00'")
      val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").where(col("o_orderdate") < cut)
      val l = t(s, dir, "lineitem").where(col("l_shipdate") > cut)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape (local-supplier volume): a 6-table join where ONLY the
    // two fact tables are data-sized — region/nation/supplier/customer all
    // broadcast, so the single shuffle pair is lineitem⋈orders on orderkey,
    // and the c_nationkey = s_nationkey "local" constraint rides the
    // broadcast join as a residual. The optimizer-reorder showcase: filters
    // (region, year) reach the scans, the join tree collapses dims first.
    "relational_q5" -> ((s, dir) => {
      val y0 = expr("TIMESTAMP '1996-01-01 00:00:00'")
      val y1 = expr("TIMESTAMP '1997-01-01 00:00:00'")
      val r = t(s, dir, "region").where(col("r_name") === "ASIA")
      val n = t(s, dir, "nation").join(broadcast(r),
        col("n_regionkey") === col("r_regionkey"))
      val sup = t(s, dir, "supplier").join(broadcast(n),
        col("s_nationkey") === col("n_nationkey"))
      val o = t(s, dir, "orders").where(col("o_orderdate") >= y0 && col("o_orderdate") < y1)
      val c = t(s, dir, "customer")
      t(s, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        // exact integer arithmetic: cents x (100 - discount-cents) sums in
        // BIGINT, ONE division at the end — a double revenue sum differs
        // across engines in the last ulp and flips round(,2) exactly at the
        // .xx5 boundaries (observed on q10 before this form)
        .agg((floor(sum(expr(
          "CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))"))
          / 100.0 + 0.5) / 100.0).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // TPC-H Q10 shape (returned-item reporting): which customers returned
    // the most revenue in a quarter. Fact⋈fact on orderkey after both
    // filters push to the scans; customer/nation broadcast onto the
    // customer-sized aggregate; TakeOrderedAndProject caps the result.
    "relational_q10" -> ((s, dir) => {
      val q0 = expr("TIMESTAMP '1996-01-01 00:00:00'")
      val q1 = expr("TIMESTAMP '1996-04-01 00:00:00'")
      val o = t(s, dir, "orders").where(col("o_orderdate") >= q0 && col("o_orderdate") < q1)
      val l = t(s, dir, "lineitem").where(col("l_returnflag") === "R")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        // same exact-cents sum + floor-rounding as relational_q5 (a double
        // revenue sum differs across engines in the last ulp, and round()
        // itself diverges exactly at .xx5 — both observed here)
        .agg((floor(sum(expr(
          "CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))"))
          / 100.0 + 0.5) / 100.0).as("revenue"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          round(col("c_acctbal"), 2).as("acctbal"), col("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q18 shape (large-volume customers): the HAVING subquery collapses
    // lineitem to the orderkey domain FIRST (partial aggregate map-side-
    // combines before the one shuffle), so the join moves only the ~10%
    // qualifying orders; customer broadcasts onto the order-sized survivor
    // set and TakeOrderedAndProject caps the output — no global sort
    // materialization. sum(l_quantity) is a sum of small integers (exact in
    // double), so the >180 boundary cannot flip across engines; total_price
    // uses the engine-identical floor(x·100+0.5)/100 rendering and the sort
    // key is that exact-deterministic value.
    "relational_q18" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .where(col("sum_qty") > 180.0)
      big.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_orderdate"),
          (floor(col("o_totalprice") * 100 + 0.5) / 100.0).as("total_price"),
          col("sum_qty"))
        .orderBy(col("total_price").desc, col("o_orderkey"))
        .limit(10)
    }),

    // TPC-H Q16 shape (supplier diversity by part attributes): lineitem is
    // the part↔supplier bridge (no partsupp in this schema). The NOT-IN
    // blacklist is a broadcast LEFT ANTI join (the key is NULL-free, so anti
    // ≡ NOT IN); the part filter broadcasts onto the fact; and the
    // (brand, type, size, suppkey) space collapses with DISTINCT before the
    // count — the count-distinct shuffle carries the collapsed bridge
    // (≤ |parts|×|suppliers| rows), never raw lineitem.
    "relational_q16" -> ((s, dir) => {
      val p = t(s, dir, "part").where(col("p_brand") =!= "Brand#13" &&
        !col("p_type").startsWith("MEDIUM") &&
        col("p_size").isin(1, 9, 17, 25, 33, 41, 49))
      val bad = t(s, dir, "supplier").where(col("s_acctbal") < 0).select(col("s_suppkey"))
      t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), col("p_type"), col("p_size"), col("l_suppkey"))
        .distinct()
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(count(lit(1)).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),

    // TPC-H Q4 shape (order-priority checking): orders in a quarter with at
    // least one late line, counted by priority. The EXISTS is a LEFT SEMI
    // join — equi on orderkey plus the lateness residual — so lineitem
    // never fans out order rows (first match wins) and the quarter filter
    // pushes to the orders scan. 5-row output from a partial aggregate.
    "relational_q4" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .where(col("o_orderdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
          col("o_orderdate") < expr("TIMESTAMP '1996-04-01 00:00:00'"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      o.join(l, col("l_orderkey") === col("o_orderkey") &&
          expr("l_shipdate > o_orderdate + INTERVAL 60 DAY"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H Q14 shape (promotion effect): monthly share of revenue from
    // PROMO parts across one year. Part broadcasts onto the fact; promo and
    // total exact-cents sums come from ONE conditional aggregate per month
    // and the share divides the two integers once — q8's skeleton at
    // month grain.
    "relational_q14" -> ((s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_type"))
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
          col("l_shipdate") < expr("TIMESTAMP '1997-01-01 00:00:00'"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(month(col("l_shipdate")).cast(LongType).as("l_month"))
        .agg(
          sum(when(col("p_type") === "PROMO", expr(
            "CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))"))
            .otherwise(0L)).as("promo"),
          sum(expr(
            "CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))"))
            .as("tot"))
        .select(col("l_month"),
          expr("floor(CAST(promo AS DOUBLE) / tot * 1e6 + 0.5) / 1e6").as("promo_share"),
          expr("floor(tot / 100.0D + 0.5D) / 100.0D").as("total_rev"))
        .orderBy(col("l_month"))
    }),

    // TPC-H Q19 shape (bracketed OR-of-ANDs): three (brand, size-band,
    // quantity-band) brackets OR'd together. The part-side conjuncts push
    // into the broadcast build; the quantity bounds (l_quantity between the
    // union of bands, 1..31) push to the lineitem SCAN as a sargable
    // range even though the full predicate is a residual — the classic
    // "derive a coarse pushable bound from an OR" shape. One-row exact-
    // cents answer.
    "relational_q19" -> ((s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"), col("p_size"))
      t(s, dir, "lineitem")
        .where(col("l_quantity") >= 1.0 && col("l_quantity") <= 31.0)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 25) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 35) &&
            col("l_quantity").between(10, 25)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 50) &&
            col("l_quantity").between(20, 31)))
        .agg(
          (floor(coalesce(sum(expr(
            "CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))")),
            lit(0L)) / 100.0 + 0.5) / 100.0).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q7 shape (bilateral trade volume): revenue flowing between two
    // chosen nations per shipping year, in both directions. The join tree is
    // the Q5 skeleton — ONLY lineitem⋈orders is data-sized; customer,
    // supplier and both nation copies broadcast, and the bilateral filter
    // ((A,B) or (B,A)) rides the broadcast joins as a residual so
    // non-participating rows die before the aggregate. Exact-cents revenue.
    "relational_q7" -> ((s, dir) => {
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
        .where((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_8") ||
          (col("supp_nation") === "NATION_8" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast(LongType).as("l_year"))
        .agg((floor(sum(expr(
          "CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))"))
          / 100.0 + 0.5) / 100.0).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // TPC-H Q8 shape (national market share): the share of one supplier
    // nation in a region's spend on one part type, per order year. Two
    // exact-cents BIGINT sums per year (national and total) come out of ONE
    // conditional aggregate — no second pass, no join of two aggregates —
    // and the share divides the two exact integers through a shared formula
    // text. Dims all broadcast; both fact filters push to the scans.
    "relational_q8" -> ((s, dir) => {
      val r = t(s, dir, "region").where(col("r_name") === "EUROPE")
      val nc = t(s, dir, "nation").join(broadcast(r),
        col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nkey"))
      val ns = t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
      val p = t(s, dir, "part").where(col("p_type") === "PROMO")
      val o = t(s, dir, "orders")
        .where(col("o_orderdate") >= expr("TIMESTAMP '1995-01-01 00:00:00'") &&
          col("o_orderdate") < expr("TIMESTAMP '1997-01-01 00:00:00'"))
      t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nc), col("c_nationkey") === col("c_nkey"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(ns), col("s_nationkey") === col("s_nkey"))
        .groupBy(year(col("o_orderdate")).cast(LongType).as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", expr(
            "CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))"))
            .otherwise(0L)).as("nat"),
          sum(expr(
            "CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))"))
            .as("tot"))
        .select(col("o_year"),
          expr("floor(CAST(nat AS DOUBLE) / tot * 1e6 + 0.5) / 1e6").as("mkt_share"),
          expr("floor(tot / 100.0D + 0.5D) / 100.0D").as("total_rev"))
        .orderBy(col("o_year"))
    }),

    // TPC-H Q21 shape (the only-late-supplier audit — canonically a double-
    // correlated EXISTS / NOT EXISTS over three lineitem self-scans)
    // rewritten collapse-first: both correlated subqueries are per-order
    // facts, so ONE orderkey-domain aggregate computes |suppliers| and
    // |late suppliers| per order and the three self-joins never happen.
    // max(CASE WHEN late) recovers the unique late supplier exactly when
    // late_supps = 1 (the filter guarantees uniqueness), and the supplier
    // dim broadcasts onto the order-sized survivor set. "Late" adapts to the
    // available columns: shipped >365 days after the order date.
    "relational_q21" -> ((s, dir) => {
      val o = t(s, dir, "orders").where(col("o_orderstatus") === "F")
      val lo = t(s, dir, "lineitem")
        // NULL suppkeys must not count toward n_supps: countDistinct
        // excluded them implicitly, the pre-collapsed form must filter
        // (and the oracle's l2.l_suppkey <> l1.l_suppkey drops them too)
        .where(col("l_suppkey").isNotNull)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          expr("l_shipdate > o_orderdate + INTERVAL 365 DAY").as("late"))
      // pre-collapse to the (order, supplier) domain FIRST: the three
      // count-distincts over the raw lineitems planned as a 3× Expand of
      // the joined fact stream (Spark's multi-distinct rewrite); after the
      // collapse the same facts are plain counts/sums over distinct rows.
      // At sf0.1 the join dominates either way (4.0 s → 4.0 s), but the 3×
      // row multiply the Expand puts on the shuffled stream is exactly
      // what must not ride along at 100 TB.
      lo.groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("late")).as("late"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_supps"),
          sum(when(col("late"), 1L).otherwise(0L)).as("late_supps"),
          max(when(col("late"), col("l_suppkey"))).as("late_supp"))
        .where(col("n_supps") >= 2 && col("late_supps") === 1)
        .join(broadcast(t(s, dir, "supplier")), col("late_supp") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    }),

    // TPC-H Q13 shape (customer order-count distribution): the canonical
    // OUTER-join-then-double-aggregate planner pattern — customers with
    // ZERO matching orders must survive as c_count = 0, so the priority
    // filter rides the orders side of the LEFT join (a WHERE would turn it
    // inner and silently drop them). Plan: one shuffle join on custkey, a
    // custkey-domain count (partial-aggregable), then a count-domain
    // histogram — every stage key-bounded, no driver state.
    "relational_q13" -> ((s, dir) => {
      val o = t(s, dir, "orders").where(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"), col("o_orderkey"))
      t(s, dir, "customer").select(col("c_custkey"))
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q17 shape (small-quantity-order revenue): the correlated
    // scalar-avg subquery (l_quantity < 0.2·avg(quantity of the SAME
    // part)) DECORRELATED the way Catalyst would have to anyway — the
    // per-part average is one grouped aggregate over only the brand-
    // filtered lineitems, broadcast back onto the same filtered stream.
    // Exactness: quantities are integral doubles, so the per-part sums are
    // order-independent-exact and avg/0.2·avg are bit-identical across
    // engines; revenue sums in exact cents.
    "relational_q17" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .where(col("p_brand") === "Brand#23" && col("p_size") <= 10)
        .select(col("p_partkey"))
      val filtered = t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val avgq = filtered.groupBy(col("l_partkey").as("a_partkey"))
        .agg(avg(col("l_quantity")).as("avg_qty"))
      filtered.join(broadcast(avgq), col("l_partkey") === col("a_partkey"))
        .where(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(
          expr("floor(CAST(coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT)), 0L) AS DOUBLE)" +
            " / 7.0D / 100.0D * 1e4 + 0.5D) / 1e4").as("avg_yearly"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q20 shape (excess-stock suppliers — canonically a THREE-deep
    // nested IN/scalar-subquery chain over partsupp): with no partsupp
    // table, the (part, supplier) relationship is derived from 1995
    // shipments, and "availqty > half the shipped quantity" becomes
    // "supplier shipped > 20% of the part's total". The nesting collapses
    // to aggregates + ONE left-semi join: promo parts broadcast into the
    // windowed lineitem scan, per-(part,supp) and per-part sums are two
    // key-bounded aggregates, and the supplier table is LEFT-SEMI joined
    // against the qualifying suppkeys (never row-multiplied), with the
    // nation filter riding a broadcast. Integral-double quantity sums keep
    // the 20% comparison engine-exact.
    "relational_q20" -> ((s, dir) => {
      val p = t(s, dir, "part").where(col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val li95 = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= expr("TIMESTAMP '1995-01-01 00:00:00'") &&
          col("l_shipdate") < expr("TIMESTAMP '1996-01-01 00:00:00'"))
      val ps = li95.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("sq"))
      val tot = ps.groupBy(col("l_partkey").as("t_partkey")).agg(sum(col("sq")).as("tq"))
      val qualified = ps.join(tot, col("l_partkey") === col("t_partkey"))
        .where(col("sq") > col("tq") * lit(0.2))
        .select(col("l_suppkey"))
      t(s, dir, "supplier")
        .join(qualified, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(t(s, dir, "nation").where(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"), round(col("s_acctbal"), 2).as("acctbal"))
        .orderBy(col("s_name"))
    }),

    // TPC-H Q2 shape (min-cost supplier — canonically a correlated MIN
    // subquery over partsupp): the (part, supplier) unit cost is derived
    // from lineitem as min(extendedprice/quantity) in exact cents-per-unit
    // scaled integers, the correlated MIN decorrelates to a per-part
    // aggregate broadcast back (the Q17 pattern with MIN), and suppliers
    // achieving their part's minimum join broadcast dims for the report.
    // Every aggregate is key-bounded; only the lineitem scan is data-sized.
    "relational_q2" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .where(col("p_size") === 15 && col("p_type") === "PROMO")
        .select(col("p_partkey"), col("p_name"))
      // exact unit cost in milli-cents: round(price*100)*1000 DIV quantity
      // (quantities are integral doubles) — pure BIGINT, engine-identical
      val cost = t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(expr(
          "CAST(round(l_extendedprice * 100) AS BIGINT) * 1000 DIV CAST(l_quantity AS BIGINT)"))
          .as("unit_mc"))
      val minCost = cost.groupBy(col("l_partkey").as("m_partkey"))
        .agg(min(col("unit_mc")).as("min_mc"))
      cost.join(broadcast(minCost),
          col("l_partkey") === col("m_partkey") && col("unit_mc") === col("min_mc"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"), col("n_name"), col("l_partkey").as("p_partkey"),
          col("unit_mc"))
        .orderBy(col("s_name"), col("p_partkey"))
    }),

    // TPC-H Q11 shape (important stock — group share vs a GLOBAL scalar):
    // per-part 1995 shipped value in exact cents, kept only when the part's
    // value exceeds fraction·(total value). The global total is ONE extra
    // reduction over the SAME per-part aggregate (no second corpus scan)
    // riding a 1-row broadcast; the comparison cross-multiplies exact
    // BIGINTs (value·10000 > total) — no rate division, no float boundary.
    "relational_q11" -> ((s, dir) => {
      val li95 = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= expr("TIMESTAMP '1995-01-01 00:00:00'") &&
          col("l_shipdate") < expr("TIMESTAMP '1996-01-01 00:00:00'"))
      val perPart = li95.groupBy(col("l_partkey"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("value_cents"))
      val tot = broadcast(perPart.agg(sum(col("value_cents")).as("total_cents")))
      perPart.crossJoin(tot)
        .where(col("value_cents") * 10000L > col("total_cents"))
        .select(col("l_partkey").as("p_partkey"), col("value_cents"))
        .orderBy(col("value_cents").desc, col("p_partkey"))
    }),

    // TPC-H Q15 shape (top supplier — the revenue view + scalar-max join):
    // quarterly per-supplier revenue aggregates once in exact cents, its
    // max rides a 1-row broadcast back onto the SAME aggregate, and ties
    // all surface (the Q15 contract — no arbitrary limit-1). Supplier dim
    // broadcasts onto the (rare) winners only.
    "relational_q15" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
          col("l_shipdate") < expr("TIMESTAMP '1996-04-01 00:00:00'"))
        .groupBy(col("l_suppkey"))
        .agg(sum(expr(
          "CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))"))
          .as("rev_c4"))
      val mx = broadcast(rev.agg(max(col("rev_c4")).as("max_c4")))
      rev.crossJoin(mx).where(col("rev_c4") === col("max_c4"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          expr("floor(rev_c4 / 100.0D + 0.5D) / 100.0D").as("total_rev"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q6 shape (forecast revenue change): the pure filtered aggregate
    // — every predicate sargable and pushed to the parquet scan, one
    // map-side-combined sum, a 1-row answer. Revenue in exact cents×cents
    // BIGINTs (price_cents · disc_cents bounded far below 2⁶³).
    "relational_q6" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
          col("l_shipdate") < expr("TIMESTAMP '1997-01-01 00:00:00'") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24.0)
        .agg(
          (floor(coalesce(sum(expr(
            "CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT)")),
            lit(0L)) / 10000.0 * 1e2 + 0.5) / 1e2).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q9 shape (product-type profit by nation and year — canonically
    // part⋈partsupp⋈lineitem⋈orders⋈supplier⋈nation with mixed-sign
    // profit): with no partsupp, unit cost is the part's retail price at a
    // fixed margin, keeping the SHAPE — a LIKE-filtered part dim broadcast
    // into the fact⋈fact join, supplier+nation broadcasts, and a
    // (nation, year)-bounded aggregate over profit that can be NEGATIVE
    // (exact signed cents — the sign mix is what Q9 stresses).
    "relational_q9" -> ((s, dir) => {
      val p = t(s, dir, "part").where(col("p_name").like("%a%"))
        .select(col("p_partkey"),
          expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("rp_cents"))
      t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast(LongType).as("o_year"))
        .agg((floor(sum(expr(
          "CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))" +
            " - rp_cents * 80 * CAST(l_quantity AS BIGINT)"))
          / 10000.0 * 1e2 + 0.5) / 1e2).as("profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // TPC-H Q12 shape (shipping-priority audit): orders⋈lineitem with a
    // lateness window, conditional counts of urgent vs non-urgent order
    // priorities per return flag (standing in for l_shipmode). The
    // lateness predicate rides the join as a residual; ONE conditional
    // aggregate produces both counts — Q12's signature pattern.
    "relational_q12" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .where(col("l_shipdate") > expr("o_orderdate + INTERVAL 60 DAY") &&
          col("l_shipdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
          col("l_shipdate") < expr("TIMESTAMP '1997-01-01 00:00:00'"))
        .groupBy(col("l_returnflag").as("flag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
            .as("low_line_count"))
        .orderBy(col("flag"))
    }),

    // TPC-H Q22 shape (global-relation anti-join): LAPSED customers — an
    // above-average positive balance and NO orders since mid-2000 (every
    // synthetic customer has SOME order, so the canonical no-orders-ever
    // predicate would be vacuously empty) — grouped by nation (standing in
    // for the phone country code). Two planner patterns the other shapes
    // miss together: a LEFT ANTI join against a filtered fact table and a
    // global-scalar (avg) filter riding a 1-row broadcast. The avg divides
    // two exact BIGINTs once (engine-identical IEEE); customers stream
    // through one anti shuffle join.
    "relational_q22" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_cents"))
      val avgBal = broadcast(c.where(col("bal_cents") > 0L)
        .agg((sum(col("bal_cents")).cast(DoubleType) / count(lit(1))).as("avg_cents")))
      val recent = t(s, dir, "orders")
        .where(col("o_orderdate") >= expr("TIMESTAMP '2000-07-01 00:00:00'"))
        .select(col("o_custkey"))
      c.crossJoin(avgBal)
        .where(col("bal_cents").cast(DoubleType) > col("avg_cents"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntry"))
        .agg(count(lit(1)).as("numcust"),
          (floor(sum(col("bal_cents")) / 100.0 * 1e2 + 0.5) / 1e2).as("totacctbal"))
        .orderBy(col("cntry"))
    }))

  val oracle: Map[String, String] = Map(
    "scan_source" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity >= 48.0 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "filter_pred" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, round(l_extendedprice, 2) AS price FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity > 45.0 AND l_discount <= 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "select_columns" ->
      "SELECT c_mktsegment, c_custkey FROM customer ORDER BY c_custkey",
    "sort_limit" ->
      "SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20",
    "agg_group" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_distinct" ->
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS d_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS d_supps,
        |  CAST(count(DISTINCT (l_returnflag, l_linestatus)) AS BIGINT) AS d_flag_status
        |FROM lineitem""".stripMargin,
    "agg_approx_distinct" ->
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS d_parts,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS d_orders,
        |  TRUE AS parts_ok, TRUE AS orders_ok
        |FROM lineitem""".stripMargin,
    "agg_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag, coalesce(l_linestatus, 'ALL') AS status,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
        |  round(sum(l_quantity), 2) AS sum_qty, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY flag, status, g_flag, g_status""".stripMargin,
    "join_inner" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "join_left" ->
      """WITH per_cust AS (
        |  SELECT c_custkey, c_mktsegment, count(o_orderkey) AS cnt
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey, c_mktsegment)
        |SELECT c_mktsegment, round(avg(cnt), 4) AS avg_orders,
        |  CAST(sum(CASE WHEN cnt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_orderless
        |FROM per_cust GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "join_semi_anti" ->
      """SELECT CAST((SELECT count(*) FROM customer WHERE EXISTS
        |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS BIGINT) AS n_with_orders,
        |  CAST((SELECT count(*) FROM customer WHERE NOT EXISTS
        |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS BIGINT) AS n_without_orders""".stripMargin,
    "join_broadcast" ->
      """SELECT r_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "window_rank" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS best_price FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "window_frame" ->
      """SELECT event_id, user_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum
        |FROM events ORDER BY event_id""".stripMargin,
    "set_ops" ->
      """SELECT
        |  CAST((SELECT count(*) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |    INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')) AS BIGINT) AS n_intersect,
        |  CAST((SELECT count(*) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |    EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')) AS BIGINT) AS n_except,
        |  CAST((SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders
        |    WHERE o_orderstatus IN ('F','O'))) AS BIGINT) AS n_union""".stripMargin,
    "scalar_funcs" ->
      """SELECT o_orderkey, upper(o_orderpriority) AS pri_upper,
        |  substring(o_orderpriority, 1, 1) AS pri_code,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS o_month,
        |  CAST(length(o_orderstatus) AS BIGINT) AS status_len,
        |  round(abs(o_totalprice - 100000.0), 2) AS price_delta,
        |  concat_ws('|', o_orderstatus, o_orderpriority) AS tag
        |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin,
    "json_extract" ->
      """SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "join_full" ->
      """WITH f AS (SELECT o_custkey, count(*) AS n_f FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
        |     o AS (SELECT o_custkey, count(*) AS n_o FROM orders WHERE o_orderstatus = 'O' GROUP BY 1)
        |SELECT coalesce(f.o_custkey, o.o_custkey) AS custkey,
        |  CAST(coalesce(n_f, 0) AS BIGINT) AS n_f, CAST(coalesce(n_o, 0) AS BIGINT) AS n_o,
        |  CASE WHEN n_f IS NULL THEN 'o_only' WHEN n_o IS NULL THEN 'f_only' ELSE 'both' END AS side
        |FROM f FULL JOIN o ON f.o_custkey = o.o_custkey ORDER BY custkey""".stripMargin,
    "join_cross" ->
      """WITH grid AS (
        |  SELECT c_mktsegment, o_orderpriority
        |  FROM (SELECT DISTINCT c_mktsegment FROM customer)
        |  CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders)),
        |actual AS (
        |  SELECT c_mktsegment, o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2)
        |SELECT grid.c_mktsegment AS segment, grid.o_orderpriority AS priority,
        |  CAST(coalesce(n, 0) AS BIGINT) AS n, coalesce(rev, 0.0) AS rev
        |FROM grid LEFT JOIN actual
        |  ON grid.c_mktsegment = actual.c_mktsegment AND grid.o_orderpriority = actual.o_orderpriority
        |ORDER BY segment, priority""".stripMargin,
    "relational_q5" ->
      """SELECT n_name,
        |  floor(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 100.0 + 0.5) / 100.0 AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "relational_q10" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    floor(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |        * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 100.0 + 0.5) / 100.0 AS revenue
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY o_custkey)
        |SELECT c_custkey, c_name, n_name, round(c_acctbal, 2) AS acctbal, revenue
        |FROM rev JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "relational_q3" ->
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin,
    "relational_q18" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS sum_qty FROM lineitem
        |  GROUP BY 1 HAVING sum(l_quantity) > 180.0)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate,
        |  floor(o_totalprice * 100 + 0.5) / 100.0 AS total_price, sum_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_price DESC, o_orderkey LIMIT 10""".stripMargin,
    "relational_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type NOT LIKE 'MEDIUM%'
        |  AND p_size IN (1, 9, 17, 25, 33, 41, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "relational_q4" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "relational_q14" ->
      """WITH agg AS (
        |  SELECT CAST(month(l_shipdate) AS BIGINT) AS l_month,
        |    CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(round(l_extendedprice * 100) AS BIGINT)
        |        * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |      ELSE 0 END) AS BIGINT) AS promo,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS tot
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY 1)
        |SELECT l_month,
        |  floor(CAST(promo AS DOUBLE) / tot * 1e6 + 0.5) / 1e6 AS promo_share,
        |  floor(tot / 100.0 + 0.5) / 100.0 AS total_rev
        |FROM agg ORDER BY l_month""".stripMargin,
    "relational_q19" ->
      """SELECT floor(coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100) AS BIGINT))), 0) / 100.0 + 0.5) / 100.0 AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 10 AND 25)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 50
        |       AND l_quantity BETWEEN 20 AND 31)""".stripMargin,
    "relational_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  floor(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 100.0 + 0.5) / 100.0 AS revenue
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        |   OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "relational_q8" ->
      """WITH agg AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(sum(CASE WHEN ns.n_name = 'NATION_3'
        |      THEN CAST(round(l_extendedprice * 100) AS BIGINT)
        |        * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |      ELSE 0 END) AS BIGINT) AS nat,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS tot
        |  FROM lineitem
        |    JOIN part ON l_partkey = p_partkey
        |    JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation nc ON c_nationkey = nc.n_nationkey
        |    JOIN region ON nc.n_regionkey = r_regionkey
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN nation ns ON s_nationkey = ns.n_nationkey
        |  WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
        |    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY 1)
        |SELECT o_year,
        |  floor(CAST(nat AS DOUBLE) / tot * 1e6 + 0.5) / 1e6 AS mkt_share,
        |  floor(tot / 100.0 + 0.5) / 100.0 AS total_rev
        |FROM agg ORDER BY o_year""".stripMargin,
    // Independent formulation on purpose: the oracle keeps the canonical
    // double-correlated EXISTS / NOT-EXISTS shape, so it cross-checks the
    // collapse-first aggregate rewrite rather than restating it.
    "relational_q21" ->
      """SELECT s_name, CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
        |FROM lineitem l1
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 365 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 365 DAY)
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin,
    "relational_q13" ->
      """WITH o AS (SELECT o_custkey, o_orderkey FROM orders
        |  WHERE o_orderpriority <> '1-URGENT'),
        |pc AS (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN o ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM pc GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // canonical correlated form on purpose: DuckDB decorrelates the scalar
    // subquery itself, cross-checking the explicit aggregate+join rewrite
    "relational_q17" ->
      """WITH f AS MATERIALIZED (SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#23' AND p_size <= 10)
        |SELECT floor(CAST(coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT)), 0) AS DOUBLE)
        |    / 7.0 / 100.0 * 1e4 + 0.5) / 1e4 AS avg_yearly,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM f f1
        |WHERE l_quantity < (SELECT 0.2 * avg(f2.l_quantity) FROM f f2
        |                    WHERE f2.l_partkey = f1.l_partkey)""".stripMargin,
    // canonical nested-IN form on purpose: the Spark side runs the
    // collapsed aggregate + left-semi plan, the oracle the subquery chain
    "relational_q20" ->
      """WITH li AS (SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-01-01'),
        |ps AS MATERIALIZED (SELECT l_partkey, l_suppkey, sum(l_quantity) AS sq
        |  FROM li WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        |  GROUP BY l_partkey, l_suppkey),
        |tot AS (SELECT l_partkey, sum(sq) AS tq FROM ps GROUP BY l_partkey)
        |SELECT s_name, round(s_acctbal, 2) AS acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3'
        |  AND s_suppkey IN (SELECT l_suppkey FROM ps JOIN tot USING (l_partkey)
        |                    WHERE sq > tq * 0.2)
        |ORDER BY s_name""".stripMargin,
    // canonical CORRELATED-MIN form on purpose (the decorrelated aggregate
    // is the Spark side): DuckDB decorrelates it itself
    "relational_q2" ->
      """WITH cost AS MATERIALIZED (
        |  SELECT l_partkey, l_suppkey,
        |    min(CAST(round(l_extendedprice * 100) AS BIGINT) * 1000
        |        // CAST(l_quantity AS BIGINT)) AS unit_mc
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_size = 15 AND p_type = 'PROMO'
        |  GROUP BY l_partkey, l_suppkey)
        |SELECT s_name, n_name, c1.l_partkey AS p_partkey, unit_mc
        |FROM cost c1
        |JOIN supplier ON c1.l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE unit_mc = (SELECT min(c2.unit_mc) FROM cost c2
        |                 WHERE c2.l_partkey = c1.l_partkey)
        |ORDER BY s_name, p_partkey""".stripMargin,
    "relational_q11" ->
      """WITH pp AS MATERIALIZED (
        |  SELECT l_partkey, sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS v
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-01-01'
        |  GROUP BY l_partkey)
        |SELECT l_partkey AS p_partkey, CAST(v AS BIGINT) AS value_cents
        |FROM pp WHERE v * 10000 > (SELECT sum(v) FROM pp)
        |ORDER BY value_cents DESC, p_partkey""".stripMargin,
    "relational_q15" ->
      """WITH rev AS MATERIALIZED (
        |  SELECT l_suppkey,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |        * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_c4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, floor(rev_c4 / 100.0 + 0.5) / 100.0 AS total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_c4 = (SELECT max(rev_c4) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "relational_q6" ->
      """SELECT floor(coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * CAST(round(l_discount * 100) AS BIGINT)), 0) / 10000.0 * 1e2 + 0.5) / 1e2 AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24.0""".stripMargin,
    "relational_q9" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  floor(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |      - CAST(round(p_retailprice * 100) AS BIGINT) * 80
        |        * CAST(l_quantity AS BIGINT)) / 10000.0 * 1e2 + 0.5) / 1e2 AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%a%'
        |GROUP BY n_name, year(o_orderdate)
        |ORDER BY nation, o_year DESC""".stripMargin,
    "relational_q12" ->
      """SELECT l_returnflag AS flag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY flag ORDER BY flag""".stripMargin,
    // canonical NOT-EXISTS form on purpose (the Spark side is a left-anti)
    "relational_q22" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents FROM customer),
        |a AS (SELECT CAST(sum(bal_cents) AS DOUBLE) / count(*) AS avg_cents
        |  FROM c WHERE bal_cents > 0)
        |SELECT c_nationkey AS cntry, CAST(count(*) AS BIGINT) AS numcust,
        |  floor(sum(bal_cents) / 100.0 * 1e2 + 0.5) / 1e2 AS totacctbal
        |FROM c CROSS JOIN a
        |WHERE CAST(bal_cents AS DOUBLE) > avg_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-07-01')
        |GROUP BY c_nationkey ORDER BY cntry""".stripMargin)
}

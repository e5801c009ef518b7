package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** General relational breadth on the star schema: multi-way joins,
  * semi/anti joins, grouped aggregation with full agg-function coverage.
  * These are the query shapes the reference's SQL surface implies (filters,
  * joins, group-bys, top-k) exercised at TPC-H-like complexity so the
  * engine is complete for users beyond the candle tables.
  *
  * Scale discipline: dimension tables (region/nation/customer/supplier/part)
  * are broadcast; only lineitem-sized facts shuffle, always on their join
  * key. Dates are output as `CAST(... AS DATE)` strings to stay
  * engine-neutral.
  */
object Tpch {
  private type Q = (SparkSession, String) => DataFrame

  /** TPC-H Q1-shaped pricing summary: the canonical wide aggregation. */
  private val q1: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_extendedprice")), 6).as("avg_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** Q3-shaped shipping priority: 3-way join, group, top-k. The customer
    * dimension is broadcast; orders⋈lineitem shuffles on orderkey only.
    */
  private val q3: Q = (s, dir) => {
    val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"))
      .select(col("l_orderkey"),
        col("o_orderdate").cast("date").cast("string").as("o_orderdate"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Q5-shaped 5-way join down the region→nation→customer→orders→lineitem
    * chain; everything but orders⋈lineitem broadcasts.
    */
  private val q5: Q = (s, dir) => {
    val dims = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(dims), col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Anti join: customers with no urgent orders (NOT EXISTS). */
  private val qAnti: Q = (s, dir) =>
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))

  /** Semi join + grouped having: parts that appear in lineitem more than
    * twice (EXISTS + aggregate filter).
    */
  private val qSemi: Q = (s, dir) => {
    val hot = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("uses"))
      .filter(col("uses") > 2)
    Tables.part(s, dir)
      .join(hot, col("p_partkey") === col("l_partkey"), "left_semi")
      .select(col("p_partkey"), col("p_brand"), col("p_type"))
  }

  /** Agg-function coverage: count distinct, conditional aggregation,
    * min/max over strings and numerics, grouped on a computed key.
    */
  private val qAggFns: Q = (s, dir) =>
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("o_custkey")).as("n_cust"),
        round(sum(when(col("o_orderpriority") === "1-URGENT", col("o_totalprice"))
          .otherwise(lit(0.0))), 4).as("urgent_value"),
        round(min(col("o_totalprice")), 2).as("min_price"),
        round(max(col("o_totalprice")), 2).as("max_price"),
        min(col("o_orderpriority")).as("first_priority"))

  /** Correlated-scalar shape: each order vs its customer's average order
    * value (decorrelates to an aggregate + self-join).
    */
  private val qAboveAvg: Q = (s, dir) => {
    val ord = Tables.orders(s, dir)
    val custAvg = ord.groupBy(col("o_custkey").as("k"))
      .agg(avg(col("o_totalprice")).as("avg_price"), count(lit(1)).as("n_ord"))
      .filter(col("n_ord") >= 3)
    ord.join(custAvg, col("o_custkey") === col("k"))
      .filter(col("o_totalprice") > col("avg_price") * 1.5)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"),
        round(col("avg_price"), 6).as("cust_avg"))
  }

  /** Q2-shaped min-cost supplier: for each part in a size slice, the
    * supplier(s) offering the lowest observed unit price. The correlated
    * `= (SELECT min(...))` decorrelates to a per-part window-min over the
    * already-aggregated (part, supplier) offer set — one shuffle on
    * (partkey, suppkey) for the aggregate, one on partkey for the window,
    * both over offer-cardinality (≪ fact) data. (The classic Q2 runs on
    * partsupp, absent from this star schema; lineitem-observed prices are
    * the equivalent supply relation.)
    */
  private val q2: Q = (s, dir) => {
    // Optimization r14 (guide §3.2 pre-filter the big side): the p_size
    // slice is the query's only selective predicate, so semi-join
    // lineitem against the broadcast part slice BEFORE the aggregate —
    // the (part, supplier) aggregation and the per-part window then run
    // over the sliced offers only. The later inner join to the same part
    // slice makes this lossless by construction.
    val smallParts = Tables.part(s, dir).filter(col("p_size") <= 10)
    val offers = Tables.lineitem(s, dir)
      .filter(col("l_quantity") > 0)
      .join(broadcast(smallParts.select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_price"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
    offers.withColumn("best_price", min(col("unit_price")).over(w))
      .filter(col("unit_price") === col("best_price"))
      .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("p_brand"), col("s_name"), col("n_name"),
        (floor(col("unit_price") * 1e6 + 0.5) / 1e6).as("unit_price"))
  }

  /** Q4-shaped order-priority check: correlated EXISTS whose predicate
    * spans both sides (lineitem shipped after its order's date) — the
    * decorrelated form is a semi join with a mixed condition.
    */
  private val q4: Q = (s, dir) => {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    ord.join(Tables.lineitem(s, dir),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** Q6-shaped forecasting revenue: the highly selective scan-only
    * aggregate — every predicate must reach the parquet scan.
    */
  private val q6: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.02, 0.06) && col("l_quantity") < 10)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4)
        .as("revenue"),
        count(lit(1)).as("n_lines"))

  /** Q7-shaped volume shipping: supplier-nation × customer-nation trade
    * volume per ship year — a 6-way join where only orders⋈lineitem
    * shuffles; both nation sides and supplier/customer broadcast.
    */
  private val q7: Q = (s, dir) => {
    val suppNation = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val custNation = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(custNation), col("o_custkey") === col("c_custkey"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("volume"))
      .filter(col("supp_nation") < col("cust_nation"))
  }

  /** Q10-shaped returned-item revenue: which customers returned the most
    * value. Fact⋈fact shuffles on orderkey; the customer⋈nation dimension
    * broadcasts; final top-k is driver-safe (|customers| rows).
    */
  private val q10: Q = (s, dir) => {
    val custDim = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"))
    Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custDim), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Q13-shaped customer order-count distribution: left outer join then a
    * double aggregation (orders per customer → customers per order count).
    * Second agg is over |customers| rows — cheap at any scale.
    */
  private val q13: Q = (s, dir) =>
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  /** Q14-shaped promo revenue share: global conditional-sum ratio over a
    * date-windowed fact scan with a broadcast part dimension.
    */
  private val q14: Q = (s, dir) => {
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-06-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-09-01").cast("timestamp"))
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .agg(round(lit(100.0) * sum(when(col("p_type") === "PROMO", rev)
        .otherwise(lit(0.0))) / sum(rev), 6).as("promo_revenue_pct"),
        count(lit(1)).as("n_lines"))
  }

  /** Q15-shaped top supplier: per-supplier revenue, keep the max-revenue
    * row(s) via a scalar-max self-comparison — the decorrelated form of
    * `HAVING total = (SELECT max(...))`. The window over the aggregated
    * (|suppliers|-row) side is single-partition but tiny.
    */
  private val q15: Q = (s, dir) => {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("total_revenue"))
    val mx = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    rev.withColumn("mx", max(col("total_revenue")).over(mx))
      .filter(col("total_revenue") === col("mx"))
      .join(broadcast(Tables.supplier(s, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  /** Q16-shaped supplier-count distribution: distinct suppliers per part
    * attribute bucket, excluding a brand and a NOT-IN supplier blacklist
    * (negative balances). The blacklist anti join and the filtered part
    * dimension both broadcast; the fact shuffles once for the distinct
    * aggregation. (partsupp-less variant — lineitem is the supply
    * relation, as in h02.)
    */
  private val q16: Q = (s, dir) => {
    val badSupp = Tables.supplier(s, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val dims = Tables.part(s, dir)
      .filter(col("p_brand") =!= "Brand#5" &&
        col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    Tables.lineitem(s, dir)
      .join(broadcast(dims), col("l_partkey") === col("p_partkey"))
      .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** Q17-shaped small-quantity revenue: lines under 50% of their part's
    * average quantity — correlated aggregate decorrelated to a per-part
    * aggregate joined back to the fact.
    */
  private val q17: Q = (s, dir) => {
    val partAvg = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("pk"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
    val brand = Tables.part(s, dir).filter(col("p_brand") === "Brand#1")
    Tables.lineitem(s, dir)
      .join(broadcast(brand), col("l_partkey") === col("p_partkey"))
      .join(partAvg, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .agg(round(sum(col("l_extendedprice")) / 7.0, 4).as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  /** Q18-shaped large-volume orders: group-having on the fact, then joins
    * back to orders and customer for context — the "top buyers" report.
    */
  private val q18: Q = (s, dir) => {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey").as("bk"))
      .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
      .filter(col("total_qty") > 150)
    Tables.orders(s, dir)
      .join(big, col("o_orderkey") === col("bk"))
      .join(broadcast(Tables.customer(s, dir)),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").cast("string").as("o_orderdate"),
        round(col("o_totalprice"), 2).as("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      // NB: o_totalprice here is already the rounded output column, so the
      // sort key is identical in both engines (DuckDB ORDER BY resolves the
      // output alias).
  }

  /** Q19-shaped disjunctive predicates: OR-of-ANDs across the fact and a
    * broadcast dimension — exercises CNF conversion / partial pushdown
    * (the common-conjunct `p_size >= 1` and the join key still reach the
    * scans even though the disjunction can't).
    */
  private val q19: Q = (s, dir) => {
    val j = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
    val c1 = col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
      col("l_quantity").between(1, 20)
    val c2 = col("p_brand") === "Brand#7" && col("p_size").between(1, 25) &&
      col("l_quantity").between(10, 30)
    val c3 = col("p_brand") === "Brand#13" && col("p_size").between(1, 35) &&
      col("l_quantity").between(20, 40)
    j.filter(c1 || c2 || c3)
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Q8-shaped national market share: one nation's share of yearly trade
    * volume into a region, for one part type. Every dimension side
    * (filtered part, region-restricted customer keys, supplier→nation)
    * broadcasts; the only shuffles are orders⋈lineitem on orderkey and the
    * per-year aggregate. The share ratio uses the half-up floor idiom for
    * cross-engine rounding parity.
    */
  private val q8: Q = (s, dir) => {
    val custInRegion = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val suppNation = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir).filter(col("p_type") === "STANDARD")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custInRegion),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        (floor(sum(when(col("supp_nation") === "NATION_7", vol)
          .otherwise(lit(0.0))) / sum(vol) * 1e6 + 0.5) / 1e6).as("mkt_share"),
        count(lit(1)).as("n_lines"))
  }

  /** Q21-shaped waiting-supplier report: suppliers who were the ONLY
    * supplier with returned ('R') lines on a finalized multi-supplier
    * order — the hardest TPC-H decorrelation (EXISTS + NOT EXISTS both
    * correlated to the outer lineitem with an inequality). Decorrelates to
    * a semi join and an anti join on orderkey with a suppkey-inequality
    * residual; all three sides are distinct (orderkey, suppkey) pairs, so
    * every shuffle is on orderkey over deduplicated data.
    */
  private val q21: Q = (s, dir) => {
    // Optimization r14 (guide §3.4 rewrite-the-join): the EXISTS/NOT
    // EXISTS pair decorrelates to per-order AGGREGATES instead of a
    // suppkey-inequality semi + anti join. Over the distinct (orderkey,
    // suppkey) pairs with a has-returned flag: "some OTHER supplier on
    // the order" ⟺ n_supp ≥ 2, and "no OTHER supplier with returned
    // lines" ⟺ n_ret = 1 (the row's own pair is returned, so it is the
    // only one). One lineitem pass + one reaggregation replaces three
    // lineitem-derived join sides; both shuffles stay on orderkey.
    // Result-identical (the h21 oracle is unchanged and green).
    val pairs = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("has_r"))
    val perOrder = pairs.groupBy(col("l_orderkey").as("ok"))
      .agg(count(lit(1)).as("n_supp"), sum(col("has_r")).as("n_ret"))
    pairs.filter(col("has_r") === 1)
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .join(perOrder, col("l_orderkey") === col("ok"))
      .filter(col("n_supp") > 1 && col("n_ret") === 1)
      .join(broadcast(Tables.supplier(s, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
  }

  /** Q22-shaped idle wealthy customers: scalar-subquery threshold (global
    * average positive balance) + anti join against orders, grouped by
    * segment. The scalar aggregate broadcasts as a 1-row cross join.
    */
  private val q22: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg(avg(col("c_acctbal")).as("avg_bal"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1998-09-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        round(sum(col("c_acctbal")), 2).as("totacctbal"))
  }

  /** Grouping-set aggregation: ROLLUP over (returnflag, linestatus) with
    * subtotal rows — the OLAP cube surface. Spark plans this as one Expand
    * + hash aggregate: still a single fact scan and one shuffle.
    */
  private val qRollup: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_price"))

  /** Exact grouped quantiles (linear interpolation — `percentile` in Spark,
    * `quantile_cont` in DuckDB share the (n-1)·q rank formula). Exact
    * quantiles buffer every value of a group inside the aggregate — fine at
    * oracle scale, an executor OOM at 100 TB. [[qQuantilesApprox]] is the
    * production form; this one exists for exact DuckDB parity.
    */
  private val qQuantiles: Q = (s, dir) => {
    // NOT the `percentile` aggregate: that buffers every group value in an
    // in-memory map on both the partial and final aggregate (2.5 s at
    // sf0.1, and the same executor-OOM shape at 100 TB the scaladoc above
    // warns about). Instead rank the values with row_number windows — one
    // shuffle on the group key, Tungsten external sorts (spillable) — and
    // select the two boundary rows per quantile; interpolation is Spark's
    // own `Percentile` formula (lower·(hi−pos) + upper·(pos−lo)), so the
    // result is bit-identical to the aggregate it replaces.
    import org.apache.spark.sql.expressions.Window
    val byRf = Window.partitionBy("l_returnflag")
    val ranked = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_extendedprice").as("price"),
        col("l_quantity").as("qty"))
      .withColumn("n", count(lit(1)).over(byRf))
      .withColumn("rp", row_number().over(byRf.orderBy(col("price"))))
      .withColumn("rq", row_number().over(byRf.orderBy(col("qty"))))
    def boundary(rn: Column, v: Column, q: Double, off: Int): Column =
      max(when(rn === floor((col("n") - 1).cast("double") * q) + off, v))
    val agged = ranked.groupBy(col("l_returnflag")).agg(
      max(col("n")).as("n"),
      boundary(col("rp"), col("price"), 0.5, 1).as("p50p_lo"),
      boundary(col("rp"), col("price"), 0.5, 2).as("p50p_hi"),
      boundary(col("rp"), col("price"), 0.95, 1).as("p95p_lo"),
      boundary(col("rp"), col("price"), 0.95, 2).as("p95p_hi"),
      boundary(col("rq"), col("qty"), 0.5, 1).as("p50q_lo"),
      boundary(col("rq"), col("qty"), 0.5, 2).as("p50q_hi"))
    def interp(q: Double, loC: String, hiC: String): Column = {
      val pos = (col("n") - 1).cast("double") * q
      val lo = floor(pos).cast("double")
      val hi = ceil(pos).cast("double")
      val v = when(lo === hi, col(loC))
        .otherwise(col(loC) * (hi - pos) + col(hiC) * (pos - lo))
      floor(v * 1e6 + 0.5) / 1e6
    }
    agged.select(col("l_returnflag"),
      interp(0.5, "p50p_lo", "p50p_hi").as("p50_price"),
      interp(0.95, "p95p_lo", "p95p_hi").as("p95_price"),
      interp(0.5, "p50q_lo", "p50q_hi").as("p50_qty"),
      col("n"))
  }

  /** The scale-safe twin of [[qQuantiles]]: `percentile_approx`
    * (Greenwald-Khanna, bounded sketch state per group, map-side partial
    * merge) — the form a 100 TB job registers. No DuckDB oracle: sketch
    * implementations differ across engines, so the driver applies the
    * rows+schema gate and TpchQuantileSpec pins the approx values against
    * the exact aggregate within the sketch's rank-error bound.
    */
  private val qQuantilesApprox: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        (floor(expr("percentile_approx(l_extendedprice, 0.5, 10000)") * 1e6 + 0.5) / 1e6)
          .as("p50_price"),
        (floor(expr("percentile_approx(l_extendedprice, 0.95, 10000)") * 1e6 + 0.5) / 1e6)
          .as("p95_price"),
        (floor(expr("percentile_approx(l_quantity, 0.5, 10000)") * 1e6 + 0.5) / 1e6)
          .as("p50_qty"),
        count(lit(1)).as("n"))

  /** Q11-shaped important-stock identification over the derived partsupp
    * ([[Tables.partsupp]]): per-part supply value within one nation,
    * kept when above a fixed share of the nation's total — the classic
    * scalar-subquery HAVING, decorrelated to a 1-row broadcast
    * (`CROSS JOIN` against the grand total, the Q22 idiom).
    *
    * Scale: partsupp is row-local off the part scan; supplier and nation
    * broadcast; the only shuffles are the two aggregations over
    * offer-cardinality data. The shared nation-supply projection sits
    * behind [[Tables.barrier]] so the per-part and grand-total aggregates
    * read one materialization instead of re-deriving the relation.
    */
  private val q11: Q = (s, dir) => {
    val natSupply = Tables.barrier(Tables.partsupp(s, dir)
      .join(broadcast(Tables.supplier(s, dir)),
        col("ps_suppkey") === col("s_suppkey"))
      // nation group rather than one name: the sf0.001 fixture has only 10
      // suppliers over 25 nations, so any single nation can be empty there
      .join(broadcast(Tables.nation(s, dir)
        .filter(col("n_nationkey") % 4 === 3)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("ps_partkey"),
        (col("ps_supplycost") * col("ps_availqty")).as("v")))
    val byPart = natSupply.groupBy(col("ps_partkey"))
      .agg(sum(col("v")).as("value"))
    val threshold = natSupply.agg((sum(col("v")) * 0.0002).as("threshold"))
    byPart.crossJoin(broadcast(threshold))
      .filter(col("value") > col("threshold"))
      .select(col("ps_partkey"), round(col("value"), 2).as("value"))
  }

  /** Q20-shaped supply-surplus suppliers over the derived partsupp:
    * suppliers of a part-name slice whose availqty exceeds half the 1997
    * shipped quantity of that (part, supplier) pair — TPC-H's nested
    * semi over supply (the correlated `> (SELECT 0.5*sum ...)` is the
    * inner join against the pre-aggregated shipped relation; pairs with
    * no shipments drop out, the reference NULL-compare semantics).
    *
    * Scale: the part-name slice broadcasts; `shipped` is the one fact
    * shuffle, keyed (partkey, suppkey) and pre-aggregated map-side; the
    * eligible set reduces to distinct suppkeys and semi-joins the small
    * supplier dim.
    */
  private val q20: Q = (s, dir) => {
    val hot = Tables.part(s, dir)
      .filter(col("p_name").startsWith("hot")).select(col("p_partkey"))
    val shipped = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg((sum(col("l_quantity")) * 0.5).as("half_qty"))
    val eligible = Tables.partsupp(s, dir)
      .join(broadcast(hot), col("ps_partkey") === col("p_partkey"))
      .join(shipped, col("ps_partkey") === col("l_partkey") &&
        col("ps_suppkey") === col("l_suppkey"))
      .filter(col("ps_availqty") > col("half_qty"))
      .select(col("ps_suppkey")).distinct()
    Tables.supplier(s, dir)
      .join(eligible, col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin("NATION_19", "NATION_2", "NATION_8", "NATION_4"))
      .select(col("s_name"), col("n_name"),
        round(col("s_acctbal"), 2).as("s_acctbal"))
  }

  val queries: Map[String, Q] = Map(
    "h01_pricing_summary" -> q1,
    "h02_min_cost_supplier" -> q2,
    "h03_shipping_priority" -> q3,
    "h04_order_priority" -> q4,
    "h05_region_revenue" -> q5,
    "h06_forecast_revenue" -> q6,
    "h07_volume_shipping" -> q7,
    "h08_customers_no_orders" -> qAnti,
    "h09_hot_parts_semi" -> qSemi,
    "h10_agg_functions" -> qAggFns,
    "h11_above_avg_orders" -> qAboveAvg,
    "h12_returned_revenue" -> q10,
    "h13_order_histogram" -> q13,
    "h14_promo_share" -> q14,
    "h15_top_supplier" -> q15,
    "h16_supplier_counts" -> q16,
    "h17_small_qty_revenue" -> q17,
    "h18_large_orders" -> q18,
    "h19_disjunctive_preds" -> q19,
    "h20_market_share" -> q8,
    "h21_waiting_supplier" -> q21,
    "h22_idle_customers" -> q22,
    "h23_rollup_agg" -> qRollup,
    "h24_group_quantiles" -> qQuantiles,
    "h24b_group_quantiles_approx" -> qQuantilesApprox,
    "h25_important_stock" -> q11,
    "h26_surplus_suppliers" -> q20)

  val oracle: Map[String, String] = Map(
    "h01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_extendedprice), 6) AS avg_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "h02_min_cost_supplier" ->
      """WITH offers AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(l_extendedprice / l_quantity) AS unit_price
        |  FROM lineitem WHERE l_quantity > 0 GROUP BY 1, 2),
        |best AS (
        |  SELECT l_partkey, l_suppkey, unit_price,
        |    min(unit_price) OVER (PARTITION BY l_partkey) AS best_price
        |  FROM offers)
        |SELECT p_partkey, p_brand, s_name, n_name,
        |  floor(unit_price * 1e6 + 0.5) / 1e6 AS unit_price
        |FROM best
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE unit_price = best_price AND p_size <= 10""".stripMargin,
    "h03_shipping_priority" ->
      """SELECT l_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
        |  o_orderpriority,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "h04_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin,
    "h06_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 10""".stripMargin,
    "h07_volume_shipping" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS volume
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |GROUP BY 1, 2, 3
        |HAVING sn.n_name < cn.n_name""".stripMargin,
    "h05_region_revenue" ->
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "h08_customers_no_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin,
    "h09_hot_parts_semi" ->
      """SELECT p_partkey, p_brand, p_type FROM part
        |WHERE p_partkey IN (
        |  SELECT l_partkey FROM lineitem GROUP BY l_partkey HAVING count(*) > 2)""".stripMargin,
    "h10_agg_functions" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  count(DISTINCT o_custkey) AS n_cust,
        |  round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0.0 END), 4) AS urgent_value,
        |  round(min(o_totalprice), 2) AS min_price,
        |  round(max(o_totalprice), 2) AS max_price,
        |  min(o_orderpriority) AS first_priority
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "h11_above_avg_orders" ->
      """WITH custavg AS (
        |  SELECT o_custkey AS k, avg(o_totalprice) AS avg_price, count(*) AS n_ord
        |  FROM orders GROUP BY o_custkey HAVING count(*) >= 3)
        |SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice,
        |  round(avg_price, 6) AS cust_avg
        |FROM orders JOIN custavg ON o_custkey = k
        |WHERE o_totalprice > avg_price * 1.5""".stripMargin,
    "h12_returned_revenue" ->
      """SELECT c_custkey, c_name, n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "h13_order_histogram" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,
    "h14_promo_share" ->
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
        |  / sum(l_extendedprice * (1.0 - l_discount)), 6) AS promo_revenue_pct,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-06-01'
        |  AND l_shipdate < TIMESTAMP '1997-09-01'""".stripMargin,
    "h15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-07-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin,
    "h16_supplier_counts" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,
    "h17_small_qty_revenue" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN (SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty
        |      FROM lineitem GROUP BY l_partkey) ON l_partkey = pk
        |WHERE p_brand = 'Brand#1' AND l_quantity < 0.5 * avg_qty""".stripMargin,
    "h18_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
        |  round(o_totalprice, 2) AS o_totalprice, total_qty
        |FROM orders
        |JOIN (SELECT l_orderkey AS bk, round(sum(l_quantity), 2) AS total_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING round(sum(l_quantity), 2) > 150) ON o_orderkey = bk
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "h19_disjunctive_preds" ->
      """SELECT round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin,
    "h20_market_share" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  floor(sum(CASE WHEN sn.n_name = 'NATION_7'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
        |    / sum(l_extendedprice * (1.0 - l_discount)) * 1e6 + 0.5) / 1e6
        |    AS mkt_share,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE p_type = 'STANDARD'
        |  AND EXISTS (SELECT 1 FROM customer
        |              JOIN nation cn ON c_nationkey = cn.n_nationkey
        |              JOIN region ON cn.n_regionkey = r_regionkey
        |              WHERE c_custkey = o_custkey AND r_name = 'ASIA')
        |GROUP BY 1""".stripMargin,
    "h21_waiting_supplier" ->
      """SELECT s_name, count(*) AS numwait FROM (
        |  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
        |  FROM lineitem l1
        |  JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
        |  WHERE l1.l_returnflag = 'R'
        |    AND EXISTS (SELECT 1 FROM lineitem l2
        |                WHERE l2.l_orderkey = l1.l_orderkey
        |                  AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                    WHERE l3.l_orderkey = l1.l_orderkey
        |                      AND l3.l_suppkey <> l1.l_suppkey
        |                      AND l3.l_returnflag = 'R'))
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name""".stripMargin,
    "h23_rollup_agg" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "h24_group_quantiles" ->
      """SELECT l_returnflag,
        |  floor(quantile_cont(l_extendedprice, 0.5) * 1e6 + 0.5) / 1e6 AS p50_price,
        |  floor(quantile_cont(l_extendedprice, 0.95) * 1e6 + 0.5) / 1e6 AS p95_price,
        |  floor(quantile_cont(l_quantity, 0.5) * 1e6 + 0.5) / 1e6 AS p50_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "h22_idle_customers" ->
      """SELECT c_mktsegment, count(*) AS numcust,
        |  round(sum(c_acctbal), 2) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1998-09-01')
        |GROUP BY c_mktsegment""".stripMargin,
    "h25_important_stock" ->
      s"""WITH ${graft.Tables.PartsuppSql},
        |natsupp AS (
        |  SELECT ps_partkey, ps_supplycost * ps_availqty AS v
        |  FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_nationkey % 4 = 3)
        |SELECT ps_partkey, round(sum(v), 2) AS value
        |FROM natsupp GROUP BY ps_partkey
        |HAVING sum(v) > (SELECT sum(v) * 0.0002 FROM natsupp)""".stripMargin,
    "h26_surplus_suppliers" ->
      s"""WITH ${graft.Tables.PartsuppSql},
        |hot AS (SELECT p_partkey FROM part WHERE p_name LIKE 'hot%'),
        |shipped AS (
        |  SELECT l_partkey, l_suppkey, 0.5 * sum(l_quantity) AS half_qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        |eligible AS (
        |  SELECT DISTINCT ps_suppkey FROM partsupp
        |  JOIN hot ON ps_partkey = p_partkey
        |  JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |  WHERE ps_availqty > half_qty)
        |SELECT s_name, n_name, round(s_acctbal, 2) AS s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT ps_suppkey FROM eligible)
        |  AND n_name IN ('NATION_19', 'NATION_2', 'NATION_8', 'NATION_4')""".stripMargin)
}

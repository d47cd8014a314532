package graft.relational

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Generalized relational surface over the TPC-H-ish tables (SURVEY.md §7.2
  * step 6). The reference has exactly one query shape; these exercise the
  * full operator set a user of a real analytics engine needs — joins of
  * every flavor, aggregation, windows, set ops, rollup — all as declarative
  * DataFrame plans so Catalyst supplies pushdown, pruning, join selection
  * and AQE at scale.
  *
  * Determinism contract with the DuckDB oracle (driver t2 gate):
  * double aggregates are `round(_, 2)`; top-k cuts order by the rounded
  * measure with an integer-key tiebreak; timestamps leave results only as
  * formatted strings.
  */
object RelationalQueries {

  import Tables.load

  /** TPC-H Q1 shape: pricing summary. One wide scan → partial agg →
    * 4-group final agg; no shuffle beyond the single agg exchange. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-12-31"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg("l_quantity"), 2).as("avg_qty"),
        round(avg("l_extendedprice"), 2).as("avg_price"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3 shape: shipping priority — 3-way join, group, top-10 by
    * revenue (deterministic: rounded measure + orderkey tiebreak). */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val customer = load(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val orders = load(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-06-01"))
    val lineitem = load(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1998-06-01"))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderkey")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q7 shape: cross-nation shipping volume — the SAME dimension
    * joined TWICE under different roles (supplier's nation vs customer's
    * nation), the alias-disambiguation pattern Q5's single-role join
    * never exercises, with the symmetric either-direction predicate and
    * a per-(pair, year) census. Both nation sides broadcast; the only
    * shuffle is lineitem ⋈ orders and the final tiny aggregate. */
  def q7NationVolume(
      spark: SparkSession, dir: String,
      nationA: String = "NATION_13", nationB: String = "NATION_19"): DataFrame = {
    val nations = load(spark, dir, "nation")
      .filter(col("n_name").isin(nationA, nationB))
    val suppNation = nations
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val custNation = nations
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    load(spark, dir, "lineitem")
      .join(load(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(load(spark, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(load(spark, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("s_nk"))
      .join(broadcast(custNation), col("c_nationkey") === col("c_nk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q5 shape: local supplier volume in ASIA — 6-way join with the
    * c_nationkey = s_nationkey co-location constraint; dims broadcast. */
  def q5LocalSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val region = load(spark, dir, "region").filter(col("r_name") === "ASIA")
    val nation = load(spark, dir, "nation")
    val customer = load(spark, dir, "customer")
    val supplier = load(spark, dir, "supplier")
    val orders = load(spark, dir, "orders")
    val lineitem = load(spark, dir, "lineitem")
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(customer),
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
  }

  /** TPC-H Q6 shape: forecast revenue — pure scan + filter + scalar agg;
    * every predicate must reach the parquet scan as a pushed filter. */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount").between(0.02, 0.08) &&
        col("l_quantity") < 25)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
        .as("revenue"))

  /** Broadcast-join fact→dim + per-brand stats. */
  def qPartBrandStats(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .join(broadcast(load(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_items"),
        round(sum("l_quantity"), 2).as("total_qty"),
        round(avg("l_extendedprice"), 2).as("avg_price"))

  /** Left-outer join with null-preserving aggregation: order stats per
    * customer including customers with zero orders. */
  def qCustomerOrderStats(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "customer")
      .join(load(spark, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey", "c_mktsegment")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("total_spent"))

  /** Left-semi join: customers with at least one urgent order
    * (EXISTS — the `worker_found` probe pattern, SURVEY.md §2.4 J1). */
  def qSemiCustomersWithUrgent(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "customer")
      .join(load(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_mktsegment")

  /** Anti join: customers with no orders at all. */
  def qAntiCustomersNoOrders(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "customer")
      .join(load(spark, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  /** Window rank: top-5 customers by spend within each market segment
    * (row_number with rounded-measure + key tiebreak for determinism). */
  def qTopCustomersPerSegment(spark: SparkSession, dir: String): DataFrame = {
    val spend = load(spark, dir, "customer")
      .join(load(spark, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .groupBy("c_custkey", "c_mktsegment")
      .agg(round(sum("o_totalprice"), 2).as("total_spent"))
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("total_spent").desc, col("c_custkey"))
    spend.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
  }

  /** [[qTopCustomersPerSegment]] through the native
    * [[graft.plans.TopKPerKey]] operator instead of a Window: bounded
    * per-key heaps with a map-side partial pass, shuffling only
    * `partitions × keys × k` rows where the Window shuffles and sorts ALL
    * of them. Same result relation (and the same oracle) as the Window
    * form — the column order differs only because the operator appends
    * `rnk` last. */
  def qTopKNative(spark: SparkSession, dir: String): DataFrame = {
    val spend = load(spark, dir, "customer")
      .join(load(spark, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .groupBy("c_custkey", "c_mktsegment")
      .agg(round(sum("o_totalprice"), 2).as("total_spent"))
    graft.plans.TopK.topKPerKey(spend,
      keys = Seq(col("c_mktsegment")),
      order = Seq(col("total_spent").desc, col("c_custkey").asc),
      k = 5)
  }

  /** `rank() <= k` through the native operator's tie-aware mode: top-3
    * sizes per brand with ALL boundary ties kept (the order spec has no
    * tiebreak on purpose — tie handling IS the semantics under test).
    * Group pruning keeps k order-value groups + ties, so no sort touches
    * more than the surviving rows; result set is deterministic because
    * ties are kept in full, not cut arbitrarily. */
  def qRankTies(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    graft.plans.TopK.topKPerKey(
      load(spark, dir, "part").select("p_partkey", "p_brand", "p_size"),
      keys = Seq(col("p_brand")),
      order = Seq(col("p_size").desc),
      k = k,
      mode = graft.plans.RankMode)

  /** `dense_rank() <= k` through the native operator: every part in the
    * 2 smallest distinct sizes per brand. */
  def qDenseRankGroups(spark: SparkSession, dir: String, k: Int = 2): DataFrame =
    graft.plans.TopK.topKPerKey(
      load(spark, dir, "part").select("p_partkey", "p_brand", "p_size"),
      keys = Seq(col("p_brand")),
      order = Seq(col("p_size").asc),
      k = k,
      mode = graft.plans.DenseRankMode)

  /** Running (cumulative) monthly revenue per order priority — frame-ordered
    * window aggregation over pre-rounded values keeps the fold exact. */
  def qRunningMonthlyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val monthly = load(spark, dir, "orders")
      .groupBy(col("o_orderpriority"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(round(sum("o_totalprice"), 2).as("revenue"))
    val w = Window.partitionBy("o_orderpriority").orderBy("month")
    monthly.withColumn("cum_revenue", round(sum("revenue").over(w), 2))
  }

  /** ROLLUP aggregation (status × priority hierarchy + grand total). */
  def qRollupOrders(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))

  /** CUBE: all 4 grouping combinations in one pass (completes the
    * rollup / grouping-sets / cube trio). */
  def qCubeOrders(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))

  /** FULL OUTER join: nations' customer/supplier presence side by side —
    * rows survive from either side (completes inner/left/semi/anti). */
  def qFullOuterNations(spark: SparkSession, dir: String): DataFrame = {
    val c = load(spark, dir, "customer")
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_customers"))
    val s = load(spark, dir, "supplier")
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_suppliers"))
    c.join(s, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
  }

  /** UNION (distinct): every nation key appearing on either side. */
  def qUnionNations(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .union(load(spark, dir, "supplier")
        .select(col("s_nationkey").as("nationkey")))
      .distinct()

  /** Sliding window frame: 3-month moving average of monthly revenue per
    * priority (rowsBetween frame — the frame variant qRunningMonthly's
    * unbounded-preceding default doesn't cover). */
  def qMovingAvgRevenue(spark: SparkSession, dir: String): DataFrame = {
    val monthly = load(spark, dir, "orders")
      .groupBy(col("o_orderpriority"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(round(sum("o_totalprice"), 2).as("revenue"))
    val w = Window.partitionBy("o_orderpriority").orderBy("month")
      .rowsBetween(-2, Window.currentRow)
    monthly.withColumn("avg_3mo", round(avg("revenue").over(w), 2))
  }

  /** Set op: nation keys present among BOTH customers and suppliers. */
  def qIntersectNations(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .intersect(load(spark, dir, "supplier")
        .select(col("s_nationkey").as("nationkey")))

  /** Set op: nation keys with customers but NO suppliers. */
  def qExceptNations(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .except(load(spark, dir, "supplier")
        .select(col("s_nationkey").as("nationkey")))

  /** Distinct projection over a join (dedup of a derived pair set). */
  def qDistinctSegmentPriority(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "customer")
      .join(load(spark, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .select("c_mktsegment", "o_orderpriority")
      .distinct()

  /** Exact revenue cents for one line item: the per-row product is one
    * deterministic IEEE double expression, `floor(x·100 + ½)` fixes the
    * point, and everything downstream is integer — sums commute and
    * oracle bit-exact in any engine (the q_value_clip discipline; plain
    * `round(sum(double))` is order- and engine-dependent at ulp edges). */
  private def revenueCents: Column =
    floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
      .cast("long")

  /** TPC-H Q10 shape: revenue lost to returned items, per customer —
    * fact filter (returnflag) → fact⋈fact shuffle join on orderkey →
    * broadcast dims → top-20. The returned-lineitem side filters BEFORE
    * the join (pushed to the scan), so the shuffle carries only the ~25%
    * returned fraction. */
  def q10ReturnedRevenue(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(load(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(load(spark, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(load(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sum(revenueCents).as("revenue_cents"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue_cents").desc, col("c_custkey"))
      .limit(20)

  /** TPC-H Q14 shape: promo revenue share — conditional aggregation over
    * a broadcast dim join, with the share as an exact integer ppm
    * (decimal(38,0) intermediate: cents·10⁶ outgrows a long at real SF). */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .join(broadcast(load(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", revenueCents).otherwise(0L))
          .as("promo_cents"),
        sum(revenueCents).as("total_cents"))
      .select(col("promo_cents"), col("total_cents"),
        expr("cast((cast(promo_cents as decimal(38,0)) * 1000000)" +
          " div total_cents as bigint)").as("promo_ppm"))

  /** TPC-H Q15 shape: the top supplier(s) by shipped revenue — an
    * aggregated view probed by its own max (scalar subquery against a
    * derived relation). Exact integer cents make the `= max` equality
    * safe cross-engine; ties all surface, deterministically. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1996-04-01"))
      .groupBy("l_suppkey")
      .agg(sum(revenueCents).as("revenue_cents"))
    rev
      .crossJoin(broadcast(rev.agg(max("revenue_cents").as("max_cents"))))
      .filter(col("revenue_cents") === col("max_cents"))
      .join(broadcast(load(spark, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("revenue_cents"))
  }

  /** TPC-H Q18 shape: large-volume orders — a HAVING-gated fact
    * aggregation joined back to its parents. `l_quantity` is
    * integer-valued, so the per-order sum is exact in doubles; it exits
    * as a long. The gated order set is tiny ⇒ it broadcasts into the
    * orders probe rather than shuffling the fact table again. */
  def q18LargeOrders(spark: SparkSession, dir: String,
      minQty: Double = 250.0): DataFrame = {
    val big = load(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(sum("l_quantity").as("sum_qty"))
      .filter(col("sum_qty") > minQty)
    load(spark, dir, "orders")
      .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(load(spark, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("sum_qty").cast("long").as("sum_qty"))
  }

  /** TPC-H Q17 shape: small-quantity-order revenue — the correlated
    * per-group average (`qty < 0.2·avg(qty) over the part`) expressed
    * as ONE window over the brand-filtered join instead of a second
    * scan + self-join. The average is exact: quantities are
    * integer-valued doubles, so the sum is exact and `0.2·(sum/count)`
    * is the same two IEEE ops in any engine. */
  def q17SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val byPart = Window.partitionBy("l_partkey")
    load(spark, dir, "lineitem")
      .join(broadcast(load(spark, dir, "part")
        .filter(col("p_brand") === "Brand#4")),
        col("l_partkey") === col("p_partkey"))
      .withColumn("avg_qty", avg("l_quantity").over(byPart))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(sum(revenueCents).as("revenue_cents"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q22 shape: high-balance customers with no URGENT order — a
    * scalar aggregate threshold feeding a filtered anti join (on this
    * lake every customer has SOME order, so the classic no-order form
    * is constant-empty; the urgent gate keeps the shape and the rows).
    * The threshold is the EXACT integer mean (`sum(cents) div count`
    * over positive balances), so the boundary can never flip between
    * engines the way a floating `avg` of arbitrary doubles can. */
  def q22NoOrderRich(spark: SparkSession, dir: String): DataFrame = {
    val cust = load(spark, dir, "customer")
      .withColumn("bal_cents",
        floor(col("c_acctbal") * 100 + 0.5).cast("long"))
    val threshold = cust.filter(col("bal_cents") > 0)
      .agg(expr("sum(bal_cents) div count(1)").as("avg_cents"))
    cust.crossJoin(broadcast(threshold))
      .filter(col("bal_cents") > col("avg_cents"))
      .join(load(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum("bal_cents").as("total_cents"))
  }

  /** TPC-H Q19 shape: disjunctive brand/size/quantity predicates — the
    * OR-of-ANDs filter Catalyst must keep partially pushable (the common
    * `p_partkey = l_partkey` equi-key stays a broadcast hash join; the
    * residual disjunction evaluates post-join, inside codegen). */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .join(broadcast(load(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#4" && col("p_size").between(1, 10) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#19" && col("p_size").between(6, 15) &&
          col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(11, 20) &&
          col("l_quantity").between(20, 40)))
      .agg(sum(revenueCents).as("revenue_cents"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q13 shape: customer order-count distribution. (Q2/Q9/Q11/
    * Q16/Q20 classically need partsupp and Q4/Q12 need commit/receipt
    * dates — columns the synthetic lake doesn't carry; their SHAPES are
    * preserved below via a lineitem-derived supply relation and a
    * ship-latency predicate.) The LEFT OUTER join is the
    * point: customers with NO qualifying order must appear with
    * c_count = 0, which an inner-join groupBy silently drops. Orders
    * are gated on priority so the zero bucket is non-empty at every
    * scale factor. Two aggregations, each a key-hashed exchange; the
    * outer join itself is the only fact-sized shuffle, and at 100 TB
    * both sides hash-partition on the join key (no broadcast — both
    * sides are fact-scale), which AQE then right-sizes. */
  def q13CustDistribution(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "customer")
      .join(load(spark, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))

  /** TPC-H Q8 (national market share): of the revenue a region's
    * customers spent on one part type per year, the share supplied by
    * one nation. The deepest classic join tree this schema carries —
    * lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region on the demand side,
    * ⋈ part and ⋈ supplier ⋈ nation (the same dim under a second role)
    * on the supply side. Every dimension chain broadcasts; the only
    * fact-sized exchange is lineitem⋈orders on orderkey, and the part
    * type / order-year filters cut the fact before it. Share is exact
    * integer ppm over cents (the q14 discipline), so the oracle matches
    * bit-for-bit. */
  def q8MarketShare(spark: SparkSession, dir: String,
      region: String = "ASIA", nation: String = "NATION_12",
      ptype: String = "ECONOMY"): DataFrame = {
    val demandNations = broadcast(load(spark, dir, "nation")
      .join(load(spark, dir, "region")
          .filter(col("r_name") === region),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cust_nationkey")))
    val supplyNation = broadcast(load(spark, dir, "supplier")
      .join(load(spark, dir, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    load(spark, dir, "lineitem")
      .join(broadcast(load(spark, dir, "part")
          .filter(col("p_type") === ptype)),
        col("l_partkey") === col("p_partkey"))
      .join(load(spark, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1998-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(load(spark, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(demandNations,
        col("c_nationkey") === col("cust_nationkey"))
      .join(supplyNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
      .agg(
        sum(when(col("supp_nation") === nation, revenueCents)
          .otherwise(0L)).as("nation_cents"),
        sum(revenueCents).as("total_cents"))
      .select(col("yr"), col("nation_cents"), col("total_cents"),
        expr("cast((cast(nation_cents as decimal(38,0)) * 1000000)" +
          " div total_cents as bigint)").as("mkt_share_ppm"))
  }

  /** TPC-H Q21 shape (the only-failing-supplier double correlation):
    * suppliers that were the SOLE supplier with a returned line in a
    * multi-supplier order. The classic form is EXISTS (another supplier
    * in the order) AND NOT EXISTS (another supplier with a fault) —
    * two correlated subqueries, i.e. a semi and an anti self-join of
    * the fact table. Here both correlations collapse into ONE per-order
    * aggregation (distinct suppliers, distinct faulty suppliers) joined
    * back to the per-(order, supplier) fault flags: two exchanges on
    * orderkey total, where the textbook plan pays four fact-sized
    * shuffles. The returned-lines side and the per-order census reuse
    * the same key partitioning, so AQE plans them into one stage chain. */
  def q21SoleFaultSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_returnflag") === "R").as("fault"))
    val perPair = li.groupBy("l_orderkey", "l_suppkey")
      .agg(max(col("fault")).as("has_fault"))
    val perOrder = perPair.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_supps"),
        sum(when(col("has_fault"), 1L).otherwise(0L)).as("n_fault_supps"))
    perPair.filter(col("has_fault"))
      .join(perOrder.filter(col("n_supps") >= 2 &&
          col("n_fault_supps") === 1),
        Seq("l_orderkey"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(load(spark, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(20)
  }

  /** Decile census per order priority — the remaining rank-family
    * window functions in one bounded relation: `ntile(10)` buckets,
    * with `percent_rank` and `cume_dist` sampled at each bucket's
    * boundaries. The window orders by (exact cents, orderkey) — a
    * TOTAL order, so tie behavior can never differ between engines —
    * and the census collapses to priorities × 10 rows. percent_rank
    * and cume_dist are exact rationals of (rank−1)/(n−1) and
    * rank/n; they round at 6 only to cross the parquet boundary. */
  def qNtileDeciles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("total_cents"), col("o_orderkey"))
    load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long")
          .as("total_cents"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .groupBy("o_orderpriority", "decile")
      .agg(count(lit(1)).as("n_orders"),
        min("total_cents").as("min_cents"),
        max("total_cents").as("max_cents"),
        round(min("pr"), 6).as("pr_lo"),
        round(max("pr"), 6).as("pr_hi"),
        round(max("cd"), 6).as("cd_hi"))
  }

  /** NULL-semantics battery — the three places engines classically
    * disagree, pinned against the oracle on a DERIVED nullable key
    * (the lake itself is non-null): (1) GROUP BY collects NULL keys
    * into one real group; (2) `count(col)` skips NULLs while
    * `count(*)` doesn't, and `sum` over an all-NULL slice is NULL
    * (surfaced via coalesce(-1) so the sentinel crosses parquet);
    * (3) the self-join on the group key uses NULL-SAFE equality
    * (`<=>` / IS NOT DISTINCT FROM) — a plain equi-join silently drops
    * the NULL group, which is exactly the bug class this query
    * exists to catch. */
  def qNullSemantics(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
      .select(nullif(col("event_type"), lit("error")).as("k"),
        when(col("event_type") =!= "signup",
          floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    val g = ev.groupBy("k")
      .agg(count(lit(1)).as("n_rows"),
        count(col("cents")).as("n_nonnull"),
        coalesce(sum("cents"), lit(-1L)).as("sum_cents"))
    g.alias("a")
      .join(g.alias("b"), expr("a.k <=> b.k"))
      .select(coalesce(col("a.k"), lit("<null>")).as("k"),
        col("a.n_rows").as("n_rows"),
        col("a.n_nonnull").as("n_nonnull"),
        col("b.sum_cents").as("sum_cents"))
  }

  /** Exact integer quantity units for one line item (quantities are
    * integer-valued doubles in this lake; `floor(x + ½)` pins the cast
    * against truncation-vs-rounding divergence across engines). */
  private def qtyUnits: Column =
    floor(col("l_quantity") + 0.5).cast("long")

  /** Undiscounted price cents — the supply-cost proxy for the Q2/Q9
    * shapes (the lake carries no partsupp table, so per-(part, supplier)
    * cost is DERIVED from observed line items). */
  private def priceCents: Column =
    floor(col("l_extendedprice") * 100 + 0.5).cast("long")

  /** TPC-H Q2 shape: minimum-cost supplier per part — the correlated
    * scalar-min subquery (`cost = (SELECT min(cost) ... WHERE partkey =
    * outer.partkey)`). The partsupp relation is derived from lineitem:
    * per-(part, supplier) unit cost = undiscounted cents·10⁶ div units,
    * exact integer so the `= min` equality is engine-safe and ties all
    * surface. Physical shape: ONE fact aggregation keyed (part, supp);
    * the Europe-supplier and filtered-part dims broadcast into it; the
    * per-part min then reuses the part-key partitioning, and the
    * min-probe join back is a same-key shuffle AQE right-sizes. The
    * textbook plan re-scans partsupp for the subquery — this pays one
    * fact pass total. */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val europeSupp = broadcast(load(spark, dir, "supplier")
      .join(load(spark, dir, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      .join(load(spark, dir, "region").filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name")))
    val wantedParts = broadcast(load(spark, dir, "part")
      .filter(col("p_type") === "STANDARD" && col("p_size").between(1, 15))
      .select(col("p_partkey"), col("p_name")))
    val supply = load(spark, dir, "lineitem")
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(priceCents).as("supply_cents"), sum(qtyUnits).as("units"))
      .select(col("l_partkey"), col("l_suppkey"),
        expr("cast((cast(supply_cents as decimal(38,0)) * 1000000)" +
          " div units as bigint)").as("cost_ppm"))
      .join(europeSupp, col("l_suppkey") === col("s_suppkey"))
      .join(wantedParts, col("l_partkey") === col("p_partkey"))
    val minCost = supply.groupBy(col("l_partkey").as("mc_partkey"))
      .agg(min("cost_ppm").as("min_ppm"))
    supply
      .join(minCost, col("l_partkey") === col("mc_partkey") &&
        col("cost_ppm") === col("min_ppm"))
      .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
        col("s_name"), col("n_name"), col("cost_ppm"))
      .orderBy(col("p_partkey"), col("s_suppkey"))
      .limit(50)
  }

  /** TPC-H Q4 shape: order-priority checking — the correlated EXISTS
    * (an order counts iff SOME line item shipped more than 60 days
    * after it was placed; the lake has no commit/receipt dates, so the
    * lateness predicate stands in for `commitdate < receiptdate`).
    * Physically a LEFT SEMI join on orderkey with the inequality as a
    * residual: the lineitem side projects exactly two columns before
    * the exchange, and the quarter filter cuts orders at the scan. */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1997-04-01"))
      .join(load(spark, dir, "lineitem").select("l_orderkey", "l_shipdate"),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")

  /** TPC-H Q9 shape: product-type profit by nation and year — profit =
    * discounted revenue − supply cost, where cost (no partsupp in this
    * lake) is proxied at 60% of the part's retail price per unit, in
    * exact integer cents (`(retail_cents · units · 6) div 10`). The
    * part-name filter cuts the fact at the broadcast join; supplier →
    * nation chains broadcast; the one fact-sized exchange is
    * lineitem ⋈ orders on orderkey for the order year. */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .join(broadcast(load(spark, dir, "part")
          .filter(col("p_name").like("%red%"))
          .select(col("p_partkey"),
            floor(col("p_retailprice") * 100 + 0.5).cast("long")
              .as("retail_cents"))),
        col("l_partkey") === col("p_partkey"))
      .join(load(spark, dir, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(load(spark, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(load(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        (revenueCents -
          expr("(retail_cents * " +
            "cast(floor(l_quantity + 0.5) as bigint) * 6) div 10"))
          .as("profit_cents"))
      .groupBy("nation", "o_year")
      .agg(sum("profit_cents").as("sum_profit_cents"))
      .orderBy(col("nation"), col("o_year").desc)

  /** TPC-H Q11 shape: important stock — per-part supply value for one
    * nation's suppliers, kept iff the part's value exceeds TWICE the
    * mean per-part value: a HAVING gate against a scalar subquery over
    * the SAME aggregate. The classic query divides its fraction by SF
    * because a fixed share of the grand total empties as the part
    * universe grows; gating on the mean is the scale-free form (the
    * result stays a stable tail fraction at any SF). The scalar
    * re-aggregates the per-part relation (one row per part) and
    * broadcasts via crossJoin; the gate cross-multiplies in
    * decimal(38,0) so cents·n_parts can never wrap. */
  def q11ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    val nationSupp = broadcast(load(spark, dir, "supplier")
      .join(load(spark, dir, "nation")
          .filter(col("n_name") === "NATION_12"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey")))
    val perPart = load(spark, dir, "lineitem")
      .join(nationSupp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(sum(priceCents).as("value_cents"))
    perPart
      .crossJoin(broadcast(perPart.agg(
        sum("value_cents").as("total_cents"),
        count(lit(1)).as("n_parts"))))
      .filter(expr("cast(value_cents as decimal(38,0)) * n_parts" +
        " > cast(total_cents as decimal(38,0)) * 2"))
      .select(col("p_partkey"), col("value_cents"))
      .orderBy(col("value_cents").desc, col("p_partkey"))
  }

  /** TPC-H Q12 shape: shipping-latency census — the lake carries no
    * l_shipmode, so the Q12 group key becomes the ship-latency bucket
    * (days from order to ship: <30 FAST, <90 MEDIUM, else SLOW), with
    * Q12's signature conditional aggregation: high- vs low-priority
    * order counts per bucket. One fact ⋈ fact shuffle on orderkey; the
    * year filter cuts lineitem at the scan; datediff on midnight
    * timestamps is exact. */
  def q12ShipLatency(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .select("l_orderkey", "l_shipdate")
      .join(load(spark, dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        when(datediff(col("l_shipdate"), col("o_orderdate")) < 30, "FAST")
          .when(datediff(col("l_shipdate"), col("o_orderdate")) < 90,
            "MEDIUM")
          .otherwise("SLOW").as("latency_bucket"),
        col("o_orderpriority"))
      .groupBy("latency_bucket")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy("latency_bucket")

  /** TPC-H Q16 shape: supplier census per part attribute — DISTINCT
    * supplier counts with Q16's NOT IN exclusion subquery (suppliers
    * with negative balance stand in for the comment-flagged complaint
    * set) expressed as a broadcast anti join ahead of the aggregation.
    * The (part, supplier) relation derives from lineitem; brand/size
    * filters ride the broadcast part dim. */
  def q16SupplierCensus(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .select("l_partkey", "l_suppkey")
      .join(broadcast(load(spark, dir, "part")
          .filter(col("p_brand") =!= "Brand#4" &&
            col("p_size").isin(1, 5, 11, 15, 21, 25, 28, 37))
          .select("p_partkey", "p_brand", "p_type", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(load(spark, dir, "supplier")
          .filter(col("s_acctbal") < 0).select("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))

  /** TPC-H Q20 shape: suppliers holding a heavy share of a part's
    * volume — the nested IN chain (`s_suppkey IN (… partkey IN (…))`)
    * flattened into one aggregation tree: per-(part, supplier) shipped
    * units for name-filtered parts in one year, kept where the pair
    * exceeds 30% of the part's total (exact integer cross-multiply),
    * then a LEFT SEMI probe into supplier. The per-part total reuses
    * the pair aggregation's partitioning; no fact re-scan. */
  def q20HeavySuppliers(spark: SparkSession, dir: String): DataFrame = {
    val pairQty = load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .join(broadcast(load(spark, dir, "part")
          .filter(col("p_name").like("small%")).select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(qtyUnits).as("pair_units"))
    val partQty = pairQty.groupBy(col("l_partkey").as("pt_partkey"))
      .agg(sum("pair_units").as("part_units"))
    val heavy = pairQty
      .join(partQty, col("l_partkey") === col("pt_partkey"))
      .filter(col("pair_units") * 10 > col("part_units") * 3)
      .select(col("l_suppkey"))
    load(spark, dir, "supplier")
      .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(load(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy("s_suppkey")
  }

  /** Frequent 3-itemsets over order baskets (Apriori level 3) — the
    * association-mining step past [[graft.graph.GraphOps.qCopurchase]]'s
    * pairs. The level-wise prune is what makes this survive 100 TB:
    * items below minSupport leave the basket stream FIRST (no infrequent
    * item can appear in a frequent pair), then only occurrences of
    * FREQUENT pairs (a semi join against the level-2 survivors) are
    * extended by a third basket item, and the two new sub-pairs of each
    * candidate are pruned against the same frequent-pair set before the
    * final count — the downward-closure property makes every prune
    * lossless, so a DuckDB oracle can skip the pruning and count the
    * naive triple join; identical rows. The candidate fan-out per basket
    * is bounded by (frequent items per basket)³ instead of (basket
    * size)³·orders. */
  def qFreqTriples(
      spark: SparkSession, dir: String, minSupport: Int = 2): DataFrame = {
    val li = load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val freqItems = li.groupBy("pk").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minSupport).select("pk")
    val li1 = li.join(freqItems, Seq("pk"), "left_semi")
    val pairOcc = li1.select(col("ok"), col("pk").as("p1"))
      .join(li1.select(col("ok"), col("pk").as("p2")), Seq("ok"))
      .filter(col("p1") < col("p2"))
    val freqPairs = pairOcc.groupBy("p1", "p2")
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= minSupport).select("p1", "p2")
    pairOcc
      .join(freqPairs, Seq("p1", "p2"), "left_semi")
      .join(li1.select(col("ok"), col("pk").as("p3")), Seq("ok"))
      .filter(col("p2") < col("p3"))
      // downward closure: both new sub-pairs must be frequent too
      .join(freqPairs.select(col("p1"), col("p2").as("p3")),
        Seq("p1", "p3"), "left_semi")
      .join(freqPairs.select(col("p1").as("p2"), col("p2").as("p3")),
        Seq("p2", "p3"), "left_semi")
      .groupBy("p1", "p2", "p3")
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }

  /** RFM (recency / frequency / monetary) customer segmentation — the
    * classic CRM cut: per customer, days since last order (vs the
    * lake's max order date), order count, and lifetime cents, each
    * scored into quartiles, concatenated into the 111..444 segment code.
    *
    * Scale-safe quartiles: scores do NOT come from a global `ntile`
    * (a corpus-sized single-partition window); instead the three
    * quartile THRESHOLD values are extracted by the distributed
    * total-order pattern (`repartitionByRange` + `zipWithIndex`, the
    * qGlobalShuffle shape) at ranks ⌈n/4⌉ ⌈n/2⌉ ⌈3n/4⌉ and broadcast
    * back as a kilobyte literal — scoring is then a stateless
    * comparison, `1 + #(thresholds < value)`. The tie contract differs
    * from ntile's on purpose: equal metric values always land in the
    * same quartile (ntile splits ties by rank), which is the
    * reproducible-segmentation property a production CRM wants, and
    * what makes the DuckDB replay exact. Recency scores INVERT
    * (most-recent = 4). */
  def qRfm(spark: SparkSession, dir: String): DataFrame = {
    val cut = graft.Cut(load(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as long)").as("cents"))
      .groupBy("o_custkey")
      .agg(max("o_orderdate").as("last_order"),
        count(lit(1)).as("frequency"), sum("cents").as("monetary_cents"))
      .crossJoin(broadcast(
        load(spark, dir, "orders").agg(max("o_orderdate").as("d1"))))
      .select(col("o_custkey"),
        datediff(col("d1"), col("last_order")).cast("long")
          .as("recency_days"),
        col("frequency"), col("monetary_cents")))
    val per = cut.df
    val n = cut.rows
    val ranks = Set((n + 3) / 4, (n + 1) / 2, (3 * n + 3) / 4)
    val parts = math.max(spark.sparkContext.defaultParallelism, 1)
    def thresholds(metric: String): Array[Long] =
      per.select(col(metric).cast("long"), col("o_custkey"))
        .repartitionByRange(parts, col(metric), col("o_custkey"))
        .sortWithinPartitions(metric, "o_custkey")
        .rdd.zipWithIndex()
        .filter { case (_, i) => ranks.contains(i + 1) }
        .map(_._1.getLong(0)).collect().sorted
    def score(metric: String, ts: Array[Long]): org.apache.spark.sql.Column =
      ts.foldLeft(lit(1L))((acc, t) =>
        acc + when(col(metric) > t, 1L).otherwise(0L))
    val (rt, ft, mt) = (thresholds("recency_days"), thresholds("frequency"),
      thresholds("monetary_cents"))
    // thresholds are now driver literals; the final projection may lazily
    // recompute `per` once after the release — one cheap aggregate —
    // rather than pinning cache across the caller's lifetime
    cut.release()
    per.select(col("o_custkey"), col("recency_days"),
        col("frequency"), col("monetary_cents"),
        (lit(5L) - score("recency_days", rt)).as("r_score"),
        score("frequency", ft).as("f_score"),
        score("monetary_cents", mt).as("m_score"))
      .withColumn("segment",
        expr("r_score * 100 + f_score * 10 + m_score"))
  }
}

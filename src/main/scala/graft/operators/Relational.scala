package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Portable._
import graft.sources.Tables

/** Relational analytics over the TPC-H-ish star schema. The reference
  * has no relational layer (SURVEY.md §2.2) — these queries are the
  * extended surface, expressed as pure declarative DataFrame plans so
  * Catalyst gets every optimization: filter/projection pushdown into the
  * Parquet scans, broadcast joins for the small dimensions (nation,
  * customer, supplier are tiny at every sf), partial aggregation before
  * the single shuffle.
  *
  * All double sums go through Portable.dsum (decimal accumulation) —
  * identical results at any partition count, which is what makes them
  * oracle-hashable AND cluster-size-invariant at 100 TB.
  */
object Relational {

  /** TPC-H Q1-style pricing summary over lineitem: one wide aggregate,
    * map-side partial agg then a 6-group shuffle. Linear scan, no join.
    */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("date"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsumRounded(col("l_quantity")).as("sum_qty"),
        dsumRounded(col("l_extendedprice")).as("sum_base_price"),
        dsumRounded(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsumRounded(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        dmean(col("l_quantity")).as("avg_qty"),
        dmean(col("l_extendedprice")).as("avg_price"),
        dmean(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** Revenue by nation: lineitem ⋈ orders ⋈ customer ⋈ nation.
    * customer+nation are broadcast (small dims); the only real shuffle
    * is lineitem⋈orders on orderkey, then an agg with 25 groups.
    */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val nat = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        dsumRounded(col("rev")).as("revenue"),
        count(lit(1)).as("n_lineitems"))
  }

  /** Order-priority distribution by month — orders-only rollup. */
  def ordersByPriority(orders: DataFrame): DataFrame =
    orders
      .groupBy(
        date_trunc("month", col("o_orderdate")).cast("date").as("month"),
        col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        dsumRounded(col("o_totalprice")).as("sum_price"))

  /** Top revenue parts: lineitem ⋈ part (broadcast), grouped on brand.
    * Part is a broadcastable dim at every sf (200 rows at sf0.001).
    */
  def revenueByBrand(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val part = Tables.part(spark, dir).select("p_partkey", "p_brand")
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        dsumRounded(col("rev")).as("revenue"),
        dsumRounded(col("l_quantity")).as("sum_qty"))
  }

  /** TPC-H Q3-style shipping priority: BUILDING-segment orders placed
    * before the pivot date, revenue from lineitems shipped after it,
    * top 10 by revenue. Customer is broadcast; both date filters are
    * pushed into the Parquet scans; final top-k is
    * TakeOrderedAndProject.
    */
  def shippingPriority(spark: SparkSession, dir: String, pivot: String = "1998-01-01"): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit(pivot).cast("date"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit(pivot).cast("date"))
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(dsumRounded(col("rev")).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
      // date output (not raw ltz timestamp) so both engines print alike
      .select(col("l_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_orderpriority"), col("revenue"))
  }

  private val quantilePs = Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99))

  /** Exact interpolated percentiles of extended price per return flag
    * (linear interpolation, matches DuckDB quantile_cont and Spark's
    * `percentile()` bit-for-bit — same `p·(n-1)` position arithmetic).
    *
    * Scale shape: `percentile()` buffers EVERY value of a group in one
    * in-memory aggregation buffer — linear memory, executor OOM at
    * 100×. This form instead ranks values with a window sort (Tungsten
    * sort-based, spills to disk), keeps only the ≤2 boundary rows per
    * requested percentile, and interpolates. Memory is bounded
    * regardless of group size; the residual cost is one sort whose
    * parallelism is bounded by the group count (use
    * [[priceQuantilesApprox]] when that sort dominates).
    */
  def priceQuantiles(lineitem: DataFrame): DataFrame = {
    val w = Window.partitionBy("l_returnflag").orderBy("v")
    val ranked = lineitem
      .select(col("l_returnflag"), col("l_extendedprice").as("v"))
      .withColumn("rk0", row_number().over(w) - lit(1)) // 0-based rank
    val counts = ranked.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    val withN = ranked.join(broadcast(counts), Seq("l_returnflag"))
    // 0-based position pos = p·(n-1): the exact arithmetic percentile()
    // and quantile_cont share, so interpolated values are bit-identical
    def pos(p: Double): Column = lit(p) * (col("n") - lit(1)).cast("double")
    val boundaryAggs = quantilePs.flatMap { case (name, p) =>
      Seq(
        max(when(col("rk0") === floor(pos(p)), col("v"))).as(s"${name}_lo"),
        max(when(col("rk0") === ceil(pos(p)), col("v"))).as(s"${name}_hi"))
    }
    val outs = quantilePs.map { case (name, p) =>
      val frac = pos(p) - floor(pos(p)).cast("double")
      round(col(s"${name}_lo")
        + frac * (col(s"${name}_hi") - col(s"${name}_lo")), 6).as(name)
    }
    withN
      .filter(quantilePs.map { case (_, p) =>
        col("rk0") === floor(pos(p)) || col("rk0") === ceil(pos(p))
      }.reduce(_ || _))
      .groupBy("l_returnflag")
      .agg(max(col("n")).as("n"), boundaryAggs: _*)
      .select(col("l_returnflag") +: outs: _*)
  }

  /** Approximate percentiles (`approx_percentile`, bounded-memory GK
    * sketch — the 1000-executor path when even the per-group window
    * sort of [[priceQuantiles]] is too much). Rank error ≤ n/accuracy
    * per group; no oracle (sketch merge order is not engine-portable),
    * error bound asserted in RelationalSpec against the exact form.
    */
  def priceQuantilesApprox(lineitem: DataFrame, accuracy: Int = 10000): DataFrame =
    lineitem
      .groupBy("l_returnflag")
      .agg(
        round(expr(s"approx_percentile(l_extendedprice, 0.5, $accuracy)"), 6).as("p50"),
        round(expr(s"approx_percentile(l_extendedprice, 0.9, $accuracy)"), 6).as("p90"),
        round(expr(s"approx_percentile(l_extendedprice, 0.99, $accuracy)"), 6).as("p99"))

  /** TPC-H Q5-style local-supplier revenue: revenue from lineitems
    * where the supplying and buying nations coincide, restricted to one
    * region and an order-date year. Six tables; region/nation/customer/
    * supplier are all broadcast dims (region prunes nation BEFORE the
    * broadcast), so the only shuffle of consequence is
    * lineitem⋈orders on orderkey + a ≤25-group aggregate.
    */
  def localSupplierRevenue(spark: SparkSession, dir: String,
                           region: String = "ASIA", year: String = "1996"): DataFrame = {
    val reg = Tables.region(spark, dir)
      .filter(col("r_name") === region).select("r_regionkey")
    val nat = Tables.nation(spark, dir)
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val supp = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(s"$year-01-01").cast("date")
        && col("o_orderdate") < lit(s"${year.toInt + 1}-01-01").cast("date"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(dsumRounded(col("rev")).as("revenue"), count(lit(1)).as("n_lineitems"))
  }

  /** TPC-H Q10-style returned-item revenue: customers ranked by revenue
    * from R-flagged lineitems in an order-date window; nation name
    * joined for the report. Top-k via TakeOrderedAndProject.
    */
  def returnedItemRevenue(spark: SparkSession, dir: String,
                          from: String = "1996-01-01", until: String = "1996-04-01",
                          limit: Int = 20): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(from).cast("date")
        && col("o_orderdate") < lit(until).cast("date"))
      .select("o_orderkey", "o_custkey")
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey", "c_mktsegment")
    val nat = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_mktsegment", "n_name")
      .agg(dsumRounded(col("rev")).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(limit)
  }

  /** Exact distinct-user counts per event type (distinct aggregation —
    * plans as the standard two-phase expand/aggregate).
    */
  def distinctUsers(events: DataFrame): DataFrame =
    events
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  /** Sketch twin of [[distinctUsers]]: HyperLogLog++ approximate
    * distinct counts. The exact form's `countDistinct` expands to a
    * two-shuffle plan (distinct on (group, user) then re-aggregate)
    * whose intermediate state grows with cardinality; the sketch is one
    * fixed-size buffer per group in a single map-side-combined pass —
    * the form that survives billions of distinct keys. No oracle (HLL
    * register layouts differ per engine); the relative-error contract
    * vs exact is pinned in RelationalSpec.
    */
  def distinctUsersApprox(events: DataFrame, rsd: Double = 0.01): DataFrame =
    events
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), rsd).as("n_users_approx"),
        count(lit(1)).as("n_events"))

  /** ROLLUP over (returnflag, linestatus): subtotals + grand total in
    * one pass (Spark expands grouping sets before the single shuffle).
    */
  def rollupPricing(lineitem: DataFrame): DataFrame =
    lineitem
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_items"),
        dsumRounded(col("l_quantity")).as("sum_qty"))

  /** CUBE over (returnflag, linestatus): all 4 grouping-set combinations
    * in ONE pass — Catalyst expands the grouping sets map-side (each row
    * feeds every set's partial aggregate) and shuffles once; the
    * hand-rolled alternative is 4 scans + a union. Complements
    * [[rollupPricing]]'s hierarchy with the full lattice.
    */
  def cubePricing(lineitem: DataFrame): DataFrame =
    lineitem
      .cube("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_items"),
        dsumRounded(col("l_quantity")).as("sum_qty"))

  /** Orders pivoted to one column per priority (fixed value list → the
    * pivot compiles to conditional aggregation in a single pass, no
    * per-value scan and no driver-side distinct-values job). Absent
    * cells are 0, not null — the FILTER-clause count convention the
    * oracle shares.
    */
  def priorityPivot(orders: DataFrame): DataFrame = {
    val vals = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val names = Seq("p_urgent", "p_high", "p_medium", "p_notspec", "p_low")
    val piv = orders.groupBy("o_orderstatus")
      .pivot("o_orderpriority", vals)
      .agg(count(lit(1)))
    piv.select(col("o_orderstatus") +:
      vals.zip(names).map { case (v, n) =>
        coalesce(col(s"`$v`"), lit(0L)).as(n)
      }: _*)
  }

  /** Customers with no orders inside a date window — LEFT ANTI join
    * (the NOT EXISTS shape; the order-date filter pushes into the
    * anti-join's build side scan).
    */
  def customersWithoutOrders(spark: SparkSession, dir: String,
                             from: String = "1996-01-01", until: String = "1996-04-01"): DataFrame = {
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(from).cast("date")
        && col("o_orderdate") < lit(until).cast("date"))
      .select("o_custkey")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
  }

  /** Set-op pipeline: customers ∩ open-order buyers ∖ F-status buyers —
    * exercises INTERSECT/EXCEPT (both plan as aggregated semi/anti
    * joins; no counterpart at all in the reference).
    */
  def openNotFulfilled(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select("c_custkey")
    val ord = Tables.orders(spark, dir)
    cust
      .intersect(ord.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("c_custkey")))
      .except(ord.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("c_custkey")))
  }

  /** Market-segment × order-status matrix (semi-join shaped: customer
    * broadcast into orders, two-column rollup).
    */
  def segmentStatus(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir).select("o_custkey", "o_orderstatus", "o_totalprice")
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
    ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        dsumRounded(col("o_totalprice")).as("sum_price"))
  }

  /** Orders priced above 1.5× their own customer's average — declared
    * as a CORRELATED scalar subquery and left to Catalyst to
    * DECORRELATE: the optimizer rewrites the per-row subquery into one
    * per-customer aggregate joined back on `o_custkey` (plan-pinned —
    * one aggregate + one equi-join, no per-row re-execution, no
    * cartesian product). The point is the optimizer contract: the
    * declarative correlated form costs the same as the hand-written
    * groupBy+join at any scale.
    */
  def ordersAboveCustomerAvg(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_orders_corr")
    // the mean is a DECIMAL-exact sum divided by the count (the
    // Portable.dsum portability rule) so the comparison threshold is
    // bit-identical across engines — a float-summed avg would make
    // boundary rows run-dependent
    spark.sql(
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 6) AS o_totalprice
         FROM graft_orders_corr o
         WHERE o_totalprice > 1.5 * (
           SELECT CAST(sum(CAST(i.o_totalprice AS DECIMAL(38,12))) AS DOUBLE) / count(*)
           FROM graft_orders_corr i
           WHERE i.o_custkey = o.o_custkey)""")
  }
}

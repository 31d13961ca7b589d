package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** General analytical query library over the star schema.
  *
  * Scale notes: every query here is a declarative plan — Catalyst
  * pushes filters/projections into the parquet scan, AQE handles
  * skew/coalescing. Hard `broadcast()` hints are reserved for
  * FIXED-cardinality tables (region=5, nation=25); SF-scaling dims
  * (customer, supplier, part) rely on the size estimate + AQE so the
  * plan degrades to a shuffle join instead of a driver OOM when the
  * SF outgrows the broadcast threshold. While dims fit — every
  * tested SF — fact tables never shuffle for dim joins and the only
  * shuffles are the final aggregations on their group keys
  * (plan-pinned for a2/a3/a11).
  */
object Queries {

  /** TPC-H Q1-style pricing summary: single scan of lineitem with a
    * pushed-down date filter, map-side partial aggregation, one
    * shuffle on the (tiny-cardinality) group key.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 4).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Top-k revenue orders: customer ⋈ orders ⋈ lineitem (TPC-H Q3
    * shape). Join order is selectivity-first: orders joins the
    * BUILDING-segment customers BEFORE meeting lineitem, so the
    * orders side of the orderkey shuffle is pre-shrunk ~5×
    * (Spark's heuristic ReorderJoin won't do this without CBO
    * stats — the order is load-bearing). No hard `broadcast()`
    * hint on customer: it scales with SF, and a hard hint at 100×
    * forces a driver OOM where the planner would have degraded to a
    * shuffle join. Instead the scan-size estimate +
    * autoBroadcastJoinThreshold (and AQE's runtime re-plan, which
    * sees the post-filter size) pick broadcast exactly while it is
    * actually safe — plan-pinned at sf where it must broadcast.
    */
  def topkRevenue(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    ord.join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(li, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(k)
  }

  /** Star join across all six TPC-H-ish tables: dims broadcast,
    * single shuffle for the final group-by on nation name. Hard
    * `broadcast()` hints only on the FIXED-cardinality tables
    * (nation=25, region=5 — safe at any SF); customer and supplier
    * scale with SF, so their join strategy is left to the size
    * estimate + AQE — broadcast while they fit, graceful shuffle
    * join at the SF where a hard hint would OOM the driver.
    */
  def multiJoinVolume(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val n = Tables.nation(spark, dir)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(s, l("l_suppkey") === s("s_suppkey") && c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Top-N per group via window rank: one shuffle to partition by
    * group key; rank computed within partitions, filter prunes early.
    */
  def windowRank(spark: SparkSession, dir: String, n: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= n)
      .orderBy(col("l_suppkey"), col("rn"))
  }

  /** TPC-H Q14-style promo share: lineitem ⋈ part, one conditional
    * aggregate — the classic fact⋈dim ratio query. Part scales with
    * SF, so (like customer/supplier) its join strategy is size-
    * estimated: broadcast while it fits — the fact table then never
    * shuffles at all (single partial+final agg) — degrading to a
    * partkey shuffle join instead of a driver OOM past the
    * threshold.
    */
  def promoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .agg(
        round(sum(when(col("p_type") === "PROMO",
          col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(lit(0.0))), 4)
          .as("promo_revenue"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("total_revenue"),
        round(sum(when(col("p_type") === "PROMO",
          col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(lit(0.0))) * 100.0 /
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("promo_pct"))
  }

  /** a17 (TPC-H Q17 shape): revenue share of small-quantity orders
    * for one brand's parts — the classic CORRELATED SUBQUERY
    * ("quantity below 20% of this part's average") decorrelated the
    * Spark-first way: the naive spelling recomputes the per-part
    * average in a groupBy + join-back (second scan of the brand's
    * lineitems + an extra shuffle); here the brand's lineitems are
    * selected once through a broadcast semi-join on the filtered dim
    * (part scales with SF — size-estimated, not hard-hinted, a2's
    * rule) and the per-part average rides a window over the SAME
    * partkey shuffle the comparison needs. One fact scan, one
    * shuffle, at any SF.
    */
  def smallQtyRevenue(spark: SparkSession, dir: String,
                      brand: String = "Brand#1"): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") === brand).select(col("p_partkey"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val w = Window.partitionBy(col("l_partkey"))
    li.join(p, li("l_partkey") === p("p_partkey"), "left_semi")
      .withColumn("avg_qty", avg(col("l_quantity")).over(w))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(round(sum(col("l_extendedprice")) / 7.0, 4).as("avg_yearly"))
  }

  /** a19: TPC-H Q21-shape "sole blocking supplier" — for finished
    * multi-supplier orders, the supplier whose last shipment is the
    * UNIQUE latest (every other supplier shipped strictly earlier),
    * counted per supplier. The textbook spelling is a correlated
    * EXISTS (another supplier in the order) + NOT EXISTS (another
    * supplier as late or later) — TWO fact self-joins; the oracle
    * replays exactly that spelling, so DuckDB itself proves the
    * decorrelation below equivalent.
    *
    * Spark-first decorrelation: shuffle lineitem ONCE on l_orderkey
    * (the explicit repartition makes the (orderkey, suppkey) agg,
    * the orders join and BOTH whole-order windows all reuse that one
    * exchange — hashpartitioning(orderkey) satisfies each step's
    * clustering requirement, where a bare groupBy(orderkey, suppkey)
    * would shuffle on the pair and again for the join). Both EXISTS
    * quantifiers collapse into whole-partition window aggregates:
    * n_supp ≥ 2 ⟺ EXISTS(other supplier), s_max = order max with a
    * unique argmax ⟺ NOT EXISTS(other as-late supplier). No
    * self-join: the fact table is scanned once and shuffled once.
    */
  def waitingSupplier(spark: SparkSession, dir: String): DataFrame = {
    val perSupp = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("l_shipdate")).as("s_max"))
    val finished = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    val w = Window.partitionBy(col("l_orderkey"))
    perSupp
      .join(finished, perSupp("l_orderkey") === finished("o_orderkey"))
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("o_max", max(col("s_max")).over(w))
      .withColumn("n_at_max",
        count(when(col("s_max") === col("o_max"), lit(1))).over(w))
      .filter(col("n_supp") >= 2 && col("s_max") === col("o_max") &&
        col("n_at_max") === 1)
      .groupBy(col("l_suppkey").as("suppkey"))
      .agg(count(lit(1)).cast("long").as("waiting_count"))
      .orderBy(col("waiting_count").desc, col("suppkey"))
      .limit(100)
  }

  /** Exact distinct + conditional aggregation per order priority. */
  def distinctStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        round(sum(when(col("o_orderstatus") === "F", col("o_totalprice")).otherwise(lit(0.0))), 4).as("finished_value"),
        round(avg(col("o_totalprice")), 4).as("avg_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Semi/anti join: customers with orders (EXISTS) and without
    * (NOT EXISTS) — Spark's left_semi/left_anti avoid materializing
    * the join product entirely.
    */
  def semiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).select(col("o_custkey"))
    val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit(true).as("has_orders"))
    val withoutOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit(false).as("has_orders"))
    withOrders.unionAll(withoutOrders).orderBy(col("c_custkey"))
  }

  /** Exact percentiles (linear interpolation — matches DuckDB's
    * quantile_cont). For 100 TB use approx_percentile (t-digest) —
    * same call shape, bounded memory; exact form kept for the oracle.
    */
  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(percentile(col("l_extendedprice"), lit(0.25)).as("p"),
        percentile(col("l_extendedprice"), lit(0.5)).as("q"),
        percentile(col("l_extendedprice"), lit(0.75)).as("r"),
        percentile(col("l_quantity"), lit(0.5)).as("s"))
      .select(col("l_returnflag"),
        round(col("p"), 4).as("price_p25"),
        round(col("q"), 4).as("price_p50"),
        round(col("r"), 4).as("price_p75"),
        round(col("s"), 4).as("qty_p50"))
      .orderBy(col("l_returnflag"))
  }

  /** a5b: the 100 TB count-distinct path — approx_count_distinct
    * (HyperLogLog++: fixed sketch memory, map-side mergeable, no
    * distinct shuffle of the key universe) gated against the exact
    * count inside the query, same tolerance-flag pattern as a8b: the
    * oracle states `true`, so sketch drift past 5% fails the hash
    * compare. rsd 0.02 makes 5% a ≈2.5σ bound.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_custkey")).as("exact_custs"),
        approx_count_distinct(col("o_custkey"), rsd = 0.02).as("approx_custs"))
      .select(col("o_orderpriority"), col("exact_custs"),
        (abs(col("approx_custs") - col("exact_custs"))
          <= col("exact_custs") * 0.05).as("approx_within_5pct"))
      .orderBy(col("o_orderpriority"))
  }

  /** a8b: the 100 TB percentile path — approx_percentile (bounded
    * sketch memory, map-side mergeable partials, no per-group sort)
    * gated against the exact value INSIDE the query: the verified
    * output carries the exact percentile plus a boolean per quantile
    * asserting the sketch landed within 1% relative error, so the SQL
    * oracle (which states `true`) fails the moment the approximation
    * degrades. accuracy=10000 bounds rank error at n/10000.
    */
  def approxPercentiles(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_percentile(col("l_extendedprice"), lit(0.5), lit(10000)).as("a50"),
        approx_percentile(col("l_extendedprice"), lit(0.95), lit(10000)).as("a95"),
        percentile(col("l_extendedprice"), lit(0.5)).as("e50"),
        percentile(col("l_extendedprice"), lit(0.95)).as("e95"))
      .select(col("l_returnflag"),
        round(col("e50"), 4).as("price_p50_exact"),
        round(col("e95"), 4).as("price_p95_exact"),
        (abs(col("a50") - col("e50")) <= col("e50") * 0.01).as("p50_within_tol"),
        (abs(col("a95") - col("e95")) <= col("e95") * 0.01).as("p95_within_tol"))
      .orderBy(col("l_returnflag"))
  }

  /** Second-moment statistics: stddev/variance/correlation per group
    * (single-pass streaming aggregators; map-side partials).
    */
  def momentStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .groupBy(col("l_linestatus"))
      .agg(
        round(stddev_samp(col("l_extendedprice")), 4).as("price_sd"),
        round(var_samp(col("l_quantity")), 6).as("qty_var"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("qty_disc_cov"))
      .orderBy(col("l_linestatus"))
  }

  /** lag/lead navigation within ordered partitions: per-supplier
    * shipment deltas.
    */
  def lagLeadDeltas(spark: SparkSession, dir: String): DataFrame = {
    // l_extendedprice completes a TOTAL order: the sf0.1 corpus has
    // duplicate (suppkey, shipdate, orderkey, linenumber) rows with
    // different prices, and without a total order the lag/lead
    // partners are engine-dependent
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
    Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_extendedprice"))
      .withColumn("prev_price", lag(col("l_extendedprice"), 1).over(w))
      .withColumn("next_price", lead(col("l_extendedprice"), 1).over(w))
      .withColumn("delta_prev", round(col("l_extendedprice") - col("prev_price"), 4))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("prev_price"), col("next_price"), col("delta_prev"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
  }

  /** ROLLUP aggregation: subtotals + grand total in one pass
    * (Catalyst expands grouping sets; still a single shuffle).
    */
  def rollupStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 4).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** a14: CUBE grouping sets — every (returnflag × linestatus)
    * marginal in one pass, tagged with `grouping_id()` so consumers
    * can tell a grouped NULL from a data NULL. Like a7's rollup this
    * is a single shuffle: Catalyst expands the grouping sets
    * map-side (Expand) and aggregates once on the expanded key; the
    * 4× row fan-out is over the post-aggregation key space, not the
    * fact table, so it is as 100 TB-safe as the plain groupBy.
    */
  def cubeStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().cast("int").as("gid"),
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_price"),
        count(lit(1)).as("n"))
      .select(col("gid"), col("l_returnflag"), col("l_linestatus"),
        col("sum_qty"), col("sum_price"), col("n"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** a18: arbitrary (non-hierarchical) GROUPING SETS — the shape
    * rollup/cube can't express: a detailed (flag, status) breakdown,
    * an independent ship-year breakdown, and the grand total, in ONE
    * scan and one shuffle (Catalyst expands the sets map-side
    * exactly as a7/a14; the alternative is three scans UNION ALLed).
    * grouping_id() disambiguates expansion NULLs from data NULLs.
    */
  def groupingSetsStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("ship_year", year(col("l_shipdate")))
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("ship_year")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"), col("ship_year"))
      .agg(
        grouping_id().cast("int").as("gid"),
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        count(lit(1)).as("n"))
      .select(col("gid"), col("l_returnflag"), col("l_linestatus"),
        col("ship_year"), col("sum_qty"), col("n"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first, col("ship_year").asc_nulls_first)

  /** a15: window FRAMES — running total and a trailing 3-row sum per
    * user over the event stream, the cumulative-metrics shape (a4 and
    * a10 cover ranking and navigation; this is the third window
    * family, running aggregates). Order is (ts, event_id): provably
    * total, so frame contents are engine-portable. Sums run on
    * DECIMAL(18,2) — windowed double sums are NOT replayable across
    * engines (DuckDB aggregates frames via a segment tree, Spark
    * accumulates in row order; binary-float addition is
    * order-sensitive) while decimal sums are exact in any order; the
    * final cast back to double is exact and deterministic. One
    * shuffle on user_id; both frames share the same window ordering
    * (single sort).
    */
  def runningTotals(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val dec = col("value").cast("decimal(18,2)")
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("running_sum",
        sum(dec).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .withColumn("trailing3_sum",
        sum(dec).over(w.rowsBetween(-2, Window.currentRow)).cast("double"))
      .orderBy(col("event_id"))
  }

  /** a16: cohort retention — the day-grain retention triangle over
    * the event stream: users are cohorted by their first-seen day,
    * and each (cohort_day, day_offset) cell counts the distinct
    * cohort members active that many days later, plus the retention
    * ratio against the cohort's day-0 size.
    *
    * Scale shape: ONE scan of the fact table (the classic spelling —
    * min-day aggregate joined back — scans it twice; here the cohort
    * day is a whole-partition `min` window over user_id instead, so
    * the activity rows and their cohort assignment ride the same
    * shuffle), then a distinct-count on (cohort_day, day_offset),
    * whose key space is days², not rows. The ratio's denominator is
    * the cohort's own offset-0 cell via a window over the triangle —
    * post-aggregation rows, never the fact table. Retention =
    * active/cohort_size on exact longs, rounded once.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val perUser = Window.partitionBy(col("user_id"))
    val triangle = ev
      .withColumn("cohort_day", min(col("d")).over(perUser))
      .groupBy(col("cohort_day"),
        datediff(col("d"), col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
    val w = Window.partitionBy(col("cohort_day")).orderBy(col("day_offset"))
    triangle
      .withColumn("cohort_size", first(col("active_users")).over(w))
      .withColumn("retention",
        round(col("active_users").cast("double") / col("cohort_size"), 6))
      .withColumn("cohort_day", col("cohort_day").cast("string"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** a13: pivot — long→wide reshape, daily mean value per event type
    * as columns. The pivot values are EXPLICIT, which matters twice:
    * Catalyst skips the extra distinct-collection job it otherwise
    * runs to discover the column set, and at 100 TB an unbounded
    * pivot is a schema explosion — production pivots pin their
    * domain. Single shuffle on the group key; the pivot itself is a
    * map-side conditional aggregation.
    */
  def pivotDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .groupBy(col("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      // exact-sum average: discrete 2-decimal data rounds on half
      // boundaries where engine drift flips the digit (see goldWindow)
      .agg(round(sum(col("value")), 2) / count(lit(1)))
      .withColumnsRenamed(Map(
        "click" -> "avg_click", "error" -> "avg_error", "purchase" -> "avg_purchase",
        "signup" -> "avg_signup", "view" -> "avg_view"))
      .withColumn("day", col("day").cast("string"))
      .orderBy(col("day"))

  /** a12: co-located fact⋈fact join over BUCKETED tables — per-order
    * revenue for urgent orders. Both facts are bucketed and
    * bucket-sorted on the orderkey ([[graft.sources.Lake
    * .bucketedOrderTables]]), so the merge join consumes the bucket
    * layout directly and the per-order aggregation inherits the join's
    * partitioning: the WHOLE plan runs with zero hash exchanges
    * (PlanShapeSpec-asserted). This is the 100 TB answer to "we join
    * these two facts on this key every day": one bucketed write,
    * every subsequent join/agg on the key shuffle-free. The `merge`
    * hint pins SMJ — broadcast would be correct but would bench the
    * wrong thing at small SF.
    */
  def bucketJoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    val (ot, lt) = graft.sources.Lake.bucketedOrderTables(spark, dir)
    spark.table(ot)
      .filter(col("o_orderpriority") === "1-URGENT")
      .hint("merge")
      .join(spark.table(lt), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderkey"))
  }

  /** a20: item co-occurrence with PMI — the co-engagement statistic
    * embedding pretraining and recsys negative-sampling tables are
    * built from. The quadratic is CAPPED by construction: each user
    * contributes at most `cap` items (their most frequent, count-desc
    * then item-asc so the cut is deterministic), so the within-user
    * self-join emits ≤ cap²/2 pairs per user no matter how hot the
    * user — the 100 TB guard is the cap, not salting, because a
    * power-law user would otherwise square. Pair counting shuffles on
    * user_id (equi-join, never a cross product); the item marginals
    * join back onto the pair frame un-hinted — items scale with the
    * catalog, not the corpus, but they DO scale, so the broadcast
    * choice rides the size estimate + AQE (a2's contract); only the
    * 1-row user total keeps its hint.
    */
  def itemCooccurrence(events: DataFrame, cap: Int = 20): DataFrame = {
    val it = events
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("int").as("item"))
      .where(col("item").isNotNull)
      .groupBy(col("user_id"), col("item")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("c").desc, col("item"))
    val capped = it.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap).select(col("user_id"), col("item"))
    val nu = capped.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    val nUsers = capped.agg(countDistinct(col("user_id")).as("n_users"))
    val pairs = capped
      .join(capped.withColumnRenamed("item", "item_v"), Seq("user_id"))
      .where(col("item") < col("item_v"))
      .groupBy(col("item").as("item_u"), col("item_v"))
      .agg(count(lit(1)).as("n_cooccur"))
    pairs
      .join(nu.select(col("item").as("item_u"), col("n_item").as("n_u")), Seq("item_u"))
      .join(nu.select(col("item").as("item_v"), col("n_item").as("n_v")), Seq("item_v"))
      .crossJoin(broadcast(nUsers))
      .select(col("item_u"), col("item_v"), col("n_cooccur"),
        round(log(col("n_cooccur").cast("double") * col("n_users") /
          (col("n_u") * col("n_v").cast("double"))), 4).as("pmi"))
  }

  /** Verified entry (a20). Sort is oracle-determinism only. */
  def a20(spark: SparkSession, dir: String): DataFrame =
    itemCooccurrence(Tables.events(spark, dir))
      .orderBy(col("item_u"), col("item_v"))

  /** National market share (TPC-H Q8 shape): within one region's
    * market for one part type, the share of revenue supplied by a
    * target nation, by order year. Selectivity-first join order on
    * BOTH fact reductions: orders meets the ASIA-customer dim chain
    * (customer ⋈ nation ⋈ region-filter) BEFORE the orderkey
    * shuffle (~1/5 region selectivity — a2's lesson), and lineitem
    * meets the PROMO-filtered part BEFORE orders (~1/6 type
    * selectivity), so the big orderkey exchange carries doubly-
    * pre-shrunk sides. Hard broadcast hints only on fixed-cardinality
    * nation/region; part/customer/supplier scale with SF and are left
    * to the size estimate + AQE (hint-forced OOM vs planned
    * degradation — a2's contract). Share = conditional sum over the
    * same single agg, no second pass.
    */
  def marketShare(spark: SparkSession, dir: String,
                  region: String = "ASIA", pType: String = "PROMO",
                  nation: String = "NATION_3"): DataFrame = {
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir).filter(col("r_name") === region)
    val custAsia = Tables.customer(spark, dir)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
      .join(custAsia, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    val partP = Tables.part(spark, dir).filter(col("p_type") === pType)
      .select(col("p_partkey"))
    val supN = Tables.supplier(spark, dir)
      .join(broadcast(n.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    Tables.lineitem(spark, dir)
      .join(partP, col("l_partkey") === col("p_partkey"))
      .join(supN, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("__rev", col("l_extendedprice") * (lit(1) - col("l_discount")))
      .groupBy(col("o_year"))
      .agg(
        round(sum(when(col("supp_nation") === nation, col("__rev"))
          .otherwise(lit(0.0))), 4).as("nation_revenue"),
        round(sum(col("__rev")), 4).as("market_revenue"),
        round(sum(when(col("supp_nation") === nation, col("__rev"))
          .otherwise(lit(0.0))) / sum(col("__rev")), 6).as("mkt_share"))
  }

  /** Verified entry (a21). Sort is oracle-determinism only. */
  def a21(spark: SparkSession, dir: String): DataFrame =
    marketShare(spark, dir).orderBy(col("o_year"))

  /** Dormant high-balance customers (TPC-H Q22 shape): customers
    * whose balance sits above the positive-balance average yet have
    * placed no order since a cutoff — per nation, how many and how
    * much parked capital. The two classic decorrelations: the scalar
    * AVG subquery becomes a 1-row broadcast cross join (no
    * re-scan per row), and NOT EXISTS becomes a LEFT ANTI join
    * against the date-pruned orders side (the o_orderdate predicate
    * pushes to the scan, so the anti join's build side is the
    * recent-orders slice, not the full history). One agg shuffle on
    * the tiny nation key.
    */
  def dormantCustomers(spark: SparkSession, dir: String,
                       since: String = "2000-01-01"): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg(avg(col("c_acctbal")).as("__avg_bal"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(since).cast("date"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("__avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_custs"),
        round(sum(col("c_acctbal")), 4).as("total_bal"))
  }

  /** Verified entry (a22). Sort is oracle-determinism only. */
  def a22(spark: SparkSession, dir: String): DataFrame =
    dormantCustomers(spark, dir).orderBy(col("c_nationkey"))

  /** Large-volume orders (TPC-H Q18 shape): orders whose total
    * line-item quantity clears a threshold, with their customer. The
    * IN-subquery decorrelates to aggregate-then-join: lineitem
    * shuffles ONCE on l_orderkey into a map-side-combined sum, the
    * HAVING filter cuts that orders-cardinality frame to the ~1%
    * tail BEFORE any join, so the orders⋈qty join's build side is
    * the filtered aggregate (AQE sees the post-filter size and picks
    * broadcast; a hard hint would lie at a lower threshold). The
    * customer decoration joins the already-tiny result. The fact
    * table never self-joins and never shuffles for a dim.
    */
  def bigOrders(spark: SparkSession, dir: String, minQty: Double = 250.0): DataFrame = {
    val qty = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > minQty)
    Tables.orders(spark, dir)
      .join(qty, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_day"),
        col("o_totalprice"), round(col("sum_qty"), 4).as("sum_qty"))
  }

  /** Verified entry (a23). Sort is oracle-determinism only. */
  def a23(spark: SparkSession, dir: String): DataFrame =
    bigOrders(spark, dir).orderBy(col("o_orderkey"))

  /** Customer order-count distribution (TPC-H Q13 shape): how many
    * customers placed 0, 1, 2, … orders. Orders pre-aggregates to a
    * per-customer count (one shuffle on o_custkey, map-side
    * combined), then CUSTOMER keeps the zero-order population via a
    * LEFT join — the classic outer-join-then-count-the-nulls. The
    * final histogram groups a customer-cardinality frame on a tiny
    * integer key. Neither input shuffles twice; no hint on the
    * SF-scaling counts side (size estimate + AQE decide).
    */
  def orderCountHistogram(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
    Tables.customer(spark, dir)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("n_custs"))
  }

  /** Verified entry (a24). Sort is oracle-determinism only. */
  def a24(spark: SparkSession, dir: String): DataFrame =
    orderCountHistogram(spark, dir).orderBy(col("c_count"))

  /** Returned-item revenue ranking (TPC-H Q10 shape): customers who
    * returned the most revenue in a quarter. Selectivity-first on
    * both facts: the return-flag predicate pushes to the lineitem
    * scan (~1/3) and the quarter predicate to the orders scan
    * (~1/25) BEFORE the orderkey equi-join, so the join moves only
    * the doubly-filtered slices; the per-customer agg reduces to
    * customer cardinality before the decoration joins (customer by
    * size estimate, fixed nation hard-broadcast). Top-k spells
    * orderBy+limit → TakeOrderedAndProject, never a global sort.
    */
  def returnedRevenue(spark: SparkSession, dir: String,
                      from: String = "1996-01-01", until: String = "1996-04-01",
                      k: Int = 20): DataFrame = {
    val li = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
        col("o_orderdate") < lit(until).cast("timestamp"))
    val rev = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("returned_rev"))
    rev
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("c_acctbal"), col("returned_rev"))
      .orderBy(col("returned_rev").desc, col("c_custkey"))
      .limit(k)
  }

  /** Verified entry (a25). Result IS the top-k — ordering is part of
    * the contract, spelled identically in the oracle.
    */
  def a25(spark: SparkSession, dir: String): DataFrame =
    returnedRevenue(spark, dir)

  /** Bilateral trade volume (TPC-H Q7 shape): revenue shipped
    * between two nations (supplier side × customer side, both
    * directions) by ship year. Both nation gates collapse their
    * SF-scaling dim BEFORE touching a fact: supplier⋈nation-filter
    * and customer⋈nation-filter shrink to ~1/12 each, the filtered
    * customer side pre-reduces orders, and lineitem meets the
    * filtered supplier map before the orderkey exchange — the one
    * big shuffle carries only rows that can still qualify. Fixed
    * nation is hard-broadcast; supplier/customer ride size estimate.
    */
  def nationTrade(spark: SparkSession, dir: String,
                  nationA: String = "NATION_1", nationB: String = "NATION_2"): DataFrame = {
    val n = Tables.nation(spark, dir)
      .filter(col("n_name").isin(nationA, nationB))
      .select(col("n_nationkey"), col("n_name"))
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = Tables.orders(spark, dir)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    Tables.lineitem(spark, dir)
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("ship_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("volume"),
        count(lit(1)).as("n_items"))
  }

  /** Verified entry (a26). Sort is oracle-determinism only. */
  def a26(spark: SparkSession, dir: String): DataFrame =
    nationTrade(spark, dir)
      .orderBy(col("supp_nation"), col("cust_nation"), col("ship_year"))

  /** Top supplier by windowed revenue (TPC-H Q15 shape): the
    * supplier(s) whose revenue over a ship-date quarter equals the
    * maximum — ties preserved, like the view+MAX-subquery original.
    * The scalar MAX decorrelates to a 1-row broadcast cross join
    * (a22's pattern): one pushed-down-date lineitem pass into a
    * supplier-cardinality agg, the 1-row max rejoins for free, and
    * the comparison happens on the ROUNDED revenue on both engines
    * so fp summation order can't split a tie. Supplier decoration
    * joins the ≤-handful winners (size estimate broadcasts it).
    */
  def topSupplier(spark: SparkSession, dir: String,
                  from: String = "1996-01-01", until: String = "1996-04-01"): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp") &&
        // explicit (vacuous) key guard: the supplier join infers
        // isnotnull(l_suppkey) onto ONE branch's scan otherwise,
        // which de-canonicalizes the two agg subtrees and defeats
        // ReuseExchange — with it spelled here, both the scalar-max
        // and the filter branch share one exchange (plan-pinned)
        col("l_suppkey").isNotNull)
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("total_rev"))
    val mx = rev.agg(max(col("total_rev")).as("__max_rev"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_rev") === col("__max_rev"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
  }

  /** Verified entry (a27). Sort is oracle-determinism only. */
  def a27(spark: SparkSession, dir: String): DataFrame =
    topSupplier(spark, dir).orderBy(col("s_suppkey"))

  /** Customer spend deciles (a28): rank customers into ntile(10)
    * buckets by lifetime spend, then per-decile population, spend
    * range and totals — the whale-curve report behind "top decile
    * drives X% of revenue". Two bounded shuffles: the per-customer
    * spend agg (map-side combined on o_custkey), then the decile
    * window over the ALREADY-AGGREGATED customer-cardinality frame;
    * the final 10-row agg is free. ntile ties resolve by the
    * (spend DESC, custkey ASC) order so bucket boundaries are
    * deterministic on both engines.
    *
    * Scale note (r13): above [[BandedWindowMinBytes]] the decile cut
    * stops being a single-partition ntile window — rank comes from
    * [[bandedRowNumber]] (offsets over a bounded spend-band table,
    * within-band windows) and the bucket from [[ntileFromRank]]'s
    * closed form, so the aggregate frame never funnels through one
    * task at corpus-scale customer counts; below the cutover the
    * plain window stays (it is the cheaper plan at dimension
    * cardinalities). Both spellings are bit-identical (spec- and
    * oracle-pinned).
    */
  /** Exact global row_number distributed via the banded-rank idiom —
    * x10's offsets law applied to a VALUE order (r13; the swap-in the
    * a28/a35/a36 docstrings deferred). `band` must be monotonically
    * non-decreasing along the target order; the per-band count table
    * (bounded by OCCUPIED band values, thousands for the monetary
    * bands below) is the only globally-windowed frame, its prefix
    * counts broadcast back, and rank = band offset + within-band
    * row_number — bit-equal to the global row_number (the same
    * offsets proof st24's sweep and x10's shuffle rank pin). The
    * single-partition WindowExec over the corpus-scale aggregate —
    * the one-task sort t14/t16 already lost — is gone; the window
    * re-clusters by band instead.
    */
  /** Super-band width for the offsets tables' own prefix sums (r14,
    * VERDICT r13 item 5): the monetary $1024/65536-cent bands bound
    * the offsets table by VALUE RANGE, not corpus size, so a
    * pathological spend distribution (astronomically wide range)
    * could grow the band table toward corpus cardinality — and the
    * one remaining `Window.orderBy(__band)` global window with it.
    * The exclusive prefix sum over the band table is therefore
    * two-level: within-super-band running sums (band-table rows
    * window-partitioned by `floor(__band / width)` — any monotone
    * non-decreasing coarsening preserves the prefix identity) plus a
    * broadcast super-band offsets frame, whose global window sees
    * occupied-band cardinality ÷ 2²⁰ rows. Deterministic, no
    * data-dependent probe, bit-identical arithmetic (long sums
    * re-associate across the same ordered prefix). Parameterized per
    * call so the spec can force multi-super-band shapes on small
    * fixtures.
    */
  private[graft] val OffsetsBandWidth: Long = 1L << 20

  /** Exclusive prefix sum of `__bval` along ascending `__band`,
    * returned as (__band, __offset) — the shared offsets law of
    * [[bandedRowNumber]]/[[bandedRunningSum]], spelled two-level so
    * no frame of unbounded cardinality ever crosses a global window
    * (see [[OffsetsBandWidth]]).
    */
  private def prefixOffsets(perBand: DataFrame, sbandWidth: Long): DataFrame = {
    val sb = perBand.withColumn("__sband",
      floor(col("__band") / lit(sbandWidth.toDouble)).cast("long"))
    val sbOffsets = sb.groupBy(col("__sband")).agg(sum(col("__bval")).as("__ssum"))
      .withColumn("__soffset", coalesce(
        sum(col("__ssum")).over(Window.orderBy(col("__sband"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__sband"), col("__soffset"))
    sb
      .withColumn("__inner", coalesce(
        sum(col("__bval")).over(Window.partitionBy(col("__sband"))
          .orderBy(col("__band"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(broadcast(sbOffsets), Seq("__sband"))
      .select(col("__band"), (col("__soffset") + col("__inner")).as("__offset"))
  }

  /** Multi-cut banded rank: each (band, order, out) triple adds a
    * global-rank column. Every offsets branch derives from the SAME
    * input frame `df`, not from the previous cut's output: the r13
    * spelling nested the helpers and let each level's offsets branch
    * re-derive its whole input subtree, which at a35's three nested
    * cuts exploded the physical plan to 62 parquet scans of the fact
    * — a flat ~6 s at any local factor and 27 corpus-scale
    * aggregations at 100 TB. Now every cut's per-band counts come
    * from ONE branch that explodes (cut, band) pairs: it references
    * every band's input columns, so column pruning leaves `df`'s plan
    * as the main chain has it, and Spark computes `df`'s exchange once
    * and re-reads it as a `ReusedExchange` (a per-cut count would
    * prune `df` to that band's columns and re-derive it). Each cut
    * costs one bounded offsets branch plus one band-partitioned window
    * on the main chain. Nothing is persisted, so a second call
    * recomputes. Every row also carries `__rows`, `df`'s row count
    * summed from cut 0's per-band counts, so an ntile cut reads n off
    * the same branch instead of aggregating `df` once more.
    */
  private[graft] def bandedRowNumbers(df: DataFrame,
      cuts: Seq[(Column, Seq[Column], String)],
      sbandWidth: Long = OffsetsBandWidth): DataFrame = {
    val perBand = df
      .select(explode(array(cuts.zipWithIndex.map { case ((band, _, _), i) =>
        struct(lit(i).as("cut"), band.as("band")) }: _*)).as("__cb"))
      .groupBy(col("__cb.cut").as("__cut"), col("__cb.band").as("__band"))
      .agg(count(lit(1)).as("__bval"))
    def cutCounts(i: Int): DataFrame = perBand.filter(col("__cut") === i).drop("__cut")
    cuts.zipWithIndex.foldLeft(df) {
      case (acc, ((band, order, out), i)) =>
        val bc = s"__band$i"
        val offsets = prefixOffsets(cutCounts(i), sbandWidth)
          .withColumnRenamed("__band", bc)
        acc.withColumn(bc, band)
          .join(broadcast(offsets), Seq(bc))
          .withColumn(out, col("__offset") +
            row_number().over(Window.partitionBy(col(bc)).orderBy(order: _*)))
          .drop(bc, "__offset")
    }.crossJoin(broadcast(cutCounts(0).agg(sum(col("__bval")).as("__rows"))))
  }

  private[graft] def bandedRowNumber(df: DataFrame, band: Column,
                              order: Seq[Column], out: String,
                              sbandWidth: Long = OffsetsBandWidth): DataFrame =
    bandedRowNumbers(df, Seq((band, order, out)), sbandWidth)

  /** [[bandedRowNumbers]]'s running-sum flavor (Intervals.runningFromNets'
    * offsets law on a value order): per-band sum prefixes broadcast
    * back, within-band running sum + offset = the global running sum.
    * Nothing is persisted: the offsets branch re-reads `df` within the
    * one returned plan, and Spark reuses `df`'s exchange where both
    * reads keep the same columns (a36's two-column frame does).
    */
  private[graft] def bandedRunningSum(df: DataFrame, band: Column,
                               order: Seq[Column], value: Column,
                               out: String,
                               sbandWidth: Long = OffsetsBandWidth): DataFrame = {
    val offsets = prefixOffsets(
      df.withColumn("__band", band).groupBy(col("__band"))
        .agg(sum(value).as("__bval")), sbandWidth)
    df.withColumn("__band", band)
      .join(broadcast(offsets), Seq("__band"))
      .withColumn(out, col("__offset") +
        sum(value).over(Window.partitionBy(col("__band")).orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__band", "__offset")
  }

  /** Spark's ntile(k) as a closed form of (global rank, n) — integer
    * math only: the first n%k buckets take ceil(n/k) rows, the rest
    * floor(n/k) (one-row buckets when n < k). Lets the quantile cut
    * ride [[bandedRowNumber]]'s distributed rank instead of a
    * single-partition ntile window.
    */
  /** Cutover for the banded-window spelling: inputs whose optimizer
    * size estimate stays under this many bytes keep the plain global
    * window (at dimension-like cardinalities the single-partition
    * window is a sub-second step and the banding machinery — offsets
    * branches, broadcast joins, band exchanges — is fixed stage
    * latency: ~2 s/query at any local factor); above it the banded
    * spelling swaps in so no corpus-scale frame ever funnels through
    * one task. Metadata-only (file-size estimate, no extra pass),
    * deterministic per corpus, and both spellings are bit-identical
    * (spec-pinned) so the switch can never move a result. The same
    * derive-from-input-size law as the IVF family's derivedNumCells —
    * an explicit override pins the spelling for specs and plan
    * replays.
    *
    * Value MEASURED in round 14 (VERDICT r13 item 2; an A/B over
    * customer-scaled orders — the 10× bench corpus keeps customers
    * verbatim, so a dedicated corpus scales o_custkey with the
    * replicas; numbers in commit c7ecb30):
    * plain/banded a28+a35+a36 medians 1.44/7.66 s at 17 MB (116 k
    * customers), 4.07/7.33 s at 69 MB (465 k), 7.60/8.86 s at
    * 137 MB (929 k), 15.06/9.42 s at 275 MB (1.9 M customers) —
    * the crossover sits between the last two rungs; 192 MiB is
    * their geometric middle. The r13 value (1 GiB) was a first-cut
    * constant with no customer-scaled measurement under it.
    */
  private[graft] val BandedWindowMinBytes: Long = 192L << 20

  private[graft] def useBandedWindows(input: DataFrame, minBytes: Long): Boolean =
    input.queryExecution.optimizedPlan.stats.sizeInBytes > minBytes

  private[graft] def ntileFromRank(rank: String, n: String, k: Int): Column =
    expr(
      s"""CASE WHEN ($n div $k) = 0 THEN $rank
         |     WHEN $rank <= ($n % $k) * (($n div $k) + 1)
         |       THEN ($rank + ($n div $k)) div (($n div $k) + 1)
         |     ELSE ($n % $k) +
         |       ($rank - ($n % $k) * (($n div $k) + 1) + ($n div $k) - 1)
         |         div ($n div $k)
         |END""".stripMargin)

  def spendDeciles(spark: SparkSession, dir: String,
                   bandedMinBytes: Long = BandedWindowMinBytes): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val spend = orders
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 4).as("spend"))
    val cut =
      if (!useBandedWindows(orders, bandedMinBytes))
        spend.withColumn("decile",
          ntile(10).over(Window.orderBy(col("spend").desc, col("o_custkey")))
            .cast("long"))
      else {
        // band = $1024-wide spend bucket, negated so ascending bands
        // walk spend DESC; the offsets branch and the main chain read
        // the per-customer aggregate's one exchange (reused within the
        // plan), and n sums the offsets branch's per-band counts
        bandedRowNumber(spend, expr("-floor(spend / 1024.0)"),
          Seq(col("spend").desc, col("o_custkey")), "__rk")
          .withColumn("decile", ntileFromRank("__rk", "__rows", 10).cast("long"))
          .drop("__rk", "__rows")
      }
    cut
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_custs"),
        round(min(col("spend")), 4).as("min_spend"),
        round(max(col("spend")), 4).as("max_spend"),
        round(sum(col("spend")), 4).as("total_spend"))
  }

  /** Verified entry (a28). Sort is oracle-determinism only. */
  def a28(spark: SparkSession, dir: String): DataFrame =
    spendDeciles(spark, dir).orderBy(col("decile"))

  /** Late-shipment aging by priority (a29, TPC-H Q4 spirit): share
    * of orders per priority with at least one line item shipping
    * more than `days` after the order date. The correlated EXISTS
    * decorrelates to ONE per-order lineitem reduction: EXISTS(ship >
    * cutoff) ⟺ max(ship) > cutoff, so lineitem shuffles once on
    * l_orderkey into a max — never a fact×fact inequality join (the
    * semi-join-with-residual spelling moves the whole fact for a
    * per-row comparison the agg answers for free). Orders joins the
    * orders-cardinality max frame on the key, late flag is scalar
    * math, and the final agg groups the tiny priority key.
    */
  def lateShipments(spark: SparkSession, dir: String, days: Int = 90): DataFrame = {
    val maxShip = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate")).as("__max_ship"))
    Tables.orders(spark, dir)
      .join(maxShip, col("o_orderkey") === col("l_orderkey"), "left")
      .withColumn("__late", col("__max_ship").isNotNull &&
        col("__max_ship") > col("o_orderdate") + expr(s"INTERVAL $days DAYS"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(when(col("__late"), 1L).otherwise(0L)).as("n_late_orders"),
        count(lit(1)).as("n_orders"),
        round(sum(when(col("__late"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("late_share"))
  }

  /** Verified entry (a29). Sort is oracle-determinism only. */
  def a29(spark: SparkSession, dir: String): DataFrame =
    lateShipments(spark, dir).orderBy(col("o_orderpriority"))

  /** Year-over-year revenue growth (a30): the trend report — one
    * pushed-down lineitem scan into a years-cardinality agg, then
    * lag + growth math as a window over the TINY aggregated frame
    * (single partition of ~7 rows, not a corpus sort). Growth is
    * computed on the ROUNDED yearly revenue on both engines so the
    * division replays exactly; the first year's growth is null, not
    * zero (no fake baseline).
    */
  def yearlyGrowth(spark: SparkSession, dir: String): DataFrame = {
    val byYear = Tables.lineitem(spark, dir)
      .groupBy(year(col("l_shipdate")).as("ship_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
    val w = Window.orderBy(col("ship_year"))
    byYear
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .withColumn("yoy_growth",
        round(col("revenue") / col("prev_revenue") - 1, 6))
  }

  /** Verified entry (a30). Sort is oracle-determinism only. */
  def a30(spark: SparkSession, dir: String): DataFrame =
    yearlyGrowth(spark, dir).orderBy(col("ship_year"))

  /** Shipping-priority queue (TPC-H Q3 shape): top unshipped orders
    * by revenue for one market segment as of a cutoff date.
    *
    * Scale shape: the segment filter collapses customer to ~1/5
    * BEFORE orders moves — orders meets the filtered customer (size
    * estimate broadcasts it while it fits; no hard hint, customer is
    * SF-scaling — a2's contract) and the date predicates push into
    * BOTH fact scans, so the one orderkey exchange carries only
    * still-qualifying rows. Top-k is orderBy+limit, which Spark
    * plans as TakeOrderedAndProject (per-partition heap + driver
    * merge of k rows) — never a global sort of the revenue frame.
    * Ties can't split nondeterministically: the sort key includes
    * l_orderkey and revenue is rounded before ranking on both
    * engines.
    */
  def shippingPriority(spark: SparkSession, dir: String,
                       segment: String = "BUILDING",
                       cutoff: String = "1998-06-15",
                       k: Int = 10): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === segment)
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(k)
  }

  /** Verified entry (a31). The top-k ordering IS the contract. */
  def a31(spark: SparkSession, dir: String): DataFrame =
    shippingPriority(spark, dir)

  /** Local-supplier volume (TPC-H Q5 shape): revenue by nation for
    * one region and order-year, counting only lineitems whose
    * supplier sits in the customer's own nation.
    *
    * Scale shape: region⋈nation is a fixed-cardinality broadcast
    * (≤25 rows — the one place a hard hint is honest); customer and
    * supplier each meet that broadcast BEFORE any fact moves, so
    * both SF-scaling dims shrink to the region's ~1/5 share on their
    * own scans. Orders (year-pruned at the scan) pre-reduces against
    * the filtered customer, lineitem decorates with the filtered
    * supplier map, and the single orderkey exchange joins the two
    * pre-shrunk sides. The same-nation predicate compares the two
    * carried nation keys — never a second join. Final agg groups a
    * nation-cardinality frame.
    */
  def localSupplierVolume(spark: SparkSession, dir: String,
                          region: String = "ASIA",
                          year0: Int = 1997): DataFrame = {
    val nat = Tables.nation(spark, dir)
      .join(Tables.region(spark, dir).filter(col("r_name") === region),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"))
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(s"$year0-01-01").cast("timestamp") &&
        col("o_orderdate") < lit(s"${year0 + 1}-01-01").cast("timestamp"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    Tables.lineitem(spark, dir)
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Verified entry (a32). Sort is oracle-determinism only. */
  def a32(spark: SparkSession, dir: String): DataFrame =
    localSupplierVolume(spark, dir).orderBy(col("n_name"))

  /** Revenue-change forecast (TPC-H Q6 shape): the what-if scan —
    * revenue delta from eliminating discounts in a band, one year.
    *
    * Scale shape: this is the pure pushdown showcase. All three
    * predicates (shipdate range — spelled as bounds, not year(), so
    * the range reaches the parquet scan as min/max filters —
    * discount band, quantity cap) push into the scan; the plan is
    * scan → map-side partial agg → 1-row final agg. Zero joins, zero
    * hash exchanges on any fact key, and row-group statistics skip
    * whole chunks of a date-sorted lake at scale.
    */
  def revenueForecast(spark: SparkSession, dir: String,
                      year0: Int = 1997,
                      discLo: Double = 0.02, discHi: Double = 0.04,
                      maxQty: Double = 24.0): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(s"$year0-01-01").cast("timestamp") &&
        col("l_shipdate") < lit(s"${year0 + 1}-01-01").cast("timestamp") &&
        col("l_discount").between(discLo, discHi) &&
        col("l_quantity") < maxQty)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4)
        .as("forecast_revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Verified entry (a33): 1-row result, no sort needed. */
  def a33(spark: SparkSession, dir: String): DataFrame =
    revenueForecast(spark, dir)

  /** Order-backlog curve (a34): per day, orders opened, orders fully
    * shipped (every lineitem out the door — the per-order max
    * shipdate, a29's EXISTS⟺max reduction), and the running backlog.
    *
    * Scale shape: each fact reduces FIRST — orders to a
    * day-cardinality opened count, lineitem through one orderkey agg
    * to a day-cardinality closed count — so the full-outer day join
    * and the two cumulative windows run on a ~calendar-sized frame
    * (thousands of rows at any corpus size; the unpartitioned window
    * is bounded by the calendar, not the data — a30's rule). Orders
    * with no lineitems never close: they stay in the backlog, which
    * is the honest report, not an artifact.
    */
  def orderBacklog(spark: SparkSession, dir: String): DataFrame = {
    val opened = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_opened"))
    val closed = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate")).as("__done"))
      .groupBy(to_date(col("__done")).as("day"))
      .agg(count(lit(1)).as("n_closed"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    opened.join(closed, Seq("day"), "full_outer")
      .na.fill(0L, Seq("n_opened", "n_closed"))
      .withColumn("backlog",
        sum(col("n_opened")).over(w) - sum(col("n_closed")).over(w))
  }

  /** Verified entry (a34). Sort is oracle-determinism only. */
  def a34(spark: SparkSession, dir: String): DataFrame =
    orderBacklog(spark, dir).orderBy(col("day"))

  /** RFM customer segmentation (a35) — the marketing/CRM
    * segmentation staple: per customer Recency (days since last
    * order vs the corpus max date), Frequency (order count) and
    * Monetary (lifetime spend), each cut into quintiles (1 = best:
    * most recent / most frequent / highest spend), reported per
    * (r, f, m) cell.
    *
    * Scale shape: ONE o_custkey shuffle reduces orders to a
    * customer-cardinality frame; the corpus max date is a 1-row
    * broadcast (a22's scalar decorrelation). The three quintile cuts
    * ride [[bandedRowNumber]] + [[ntileFromRank]] per dimension
    * (r13 — no single-partition window at any customer count). The
    * final agg groups ≤125 cells. Spend accumulates as exact cent
    * longs (d18's integer micro-unit law) so no double-summation
    * order can move a quintile boundary or a cell total; every
    * ntile order carries o_custkey so ties are total on both
    * engines.
    */
  def rfmSegments(orders: DataFrame,
                  bandedMinBytes: Long = BandedWindowMinBytes): DataFrame = {
    val ref = orders.agg(max(col("o_orderdate")).as("__ref"))
    val cust = orders
      .groupBy(col("o_custkey"))
      .agg(
        max(col("o_orderdate")).as("__last"),
        count(lit(1)).as("freq"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("__cents"))
      .crossJoin(broadcast(ref))
      .withColumn("recency_days",
        datediff(col("__ref"), col("__last")).cast("long"))
    // r13: above the size cutover the three quintile windows ride
    // bandedRowNumber instead of single-partition ntile sorts —
    // recency/freq band on their own bounded-cardinality values,
    // monetary on a 65536-cent-wide bucket; buckets come from
    // ntileFromRank's closed form over n, which bandedRowNumbers sums
    // from its own per-band counts. Bit-identical to the ntile
    // spelling (spec-pinned both ways).
    val quintiled =
      if (!useBandedWindows(orders, bandedMinBytes))
        cust
          .withColumn("r_q", ntile(5).over(
            Window.orderBy(col("recency_days"), col("o_custkey"))).cast("long"))
          .withColumn("f_q", ntile(5).over(
            Window.orderBy(col("freq").desc, col("o_custkey"))).cast("long"))
          .withColumn("m_q", ntile(5).over(
            Window.orderBy(col("__cents").desc, col("o_custkey"))).cast("long"))
      else {
        bandedRowNumbers(cust, Seq(
          (col("recency_days"),
            Seq(col("recency_days"), col("o_custkey")), "__rk_r"),
          (negate(col("freq")),
            Seq(col("freq").desc, col("o_custkey")), "__rk_f"),
          (expr("-(__cents div 65536)"),
            Seq(col("__cents").desc, col("o_custkey")), "__rk_m")))
          .withColumn("r_q", ntileFromRank("__rk_r", "__rows", 5).cast("long"))
          .withColumn("f_q", ntileFromRank("__rk_f", "__rows", 5).cast("long"))
          .withColumn("m_q", ntileFromRank("__rk_m", "__rows", 5).cast("long"))
      }
    quintiled
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(
        count(lit(1)).as("n_custs"),
        round(sum(col("recency_days")).cast("double") / count(lit(1)), 4)
          .as("avg_recency_days"),
        round(sum(col("__cents")).cast("double") / 100.0, 2).as("total_spend"))
  }

  /** Verified entry (a35). Sort is oracle-determinism only. */
  def a35(spark: SparkSession, dir: String): DataFrame =
    rfmSegments(Tables.orders(spark, dir))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))

  /** Pareto / ABC revenue-concentration analysis (a36) — the
    * whale-curve classification behind inventory and account
    * tiering: customers sorted by spend, class A = the head that
    * covers 80% of cumulative revenue, B = to 95%, C = the tail;
    * reported per class.
    *
    * Scale shape: ONE o_custkey shuffle to cent-exact per-customer
    * spend (d18's integer law); the cumulative sum rides
    * [[bandedRunningSum]] under the total (cents DESC, custkey) tie
    * order (r13 — no single-partition window). Class boundaries
    * compare INTEGERS — cum·100 ≤ 80·total — so no floating-point
    * share can flip a customer's class on either engine; shares are
    * derived (one division each) only in the 3-row report.
    */
  def abcClasses(orders: DataFrame,
                 bandedMinBytes: Long = BandedWindowMinBytes): DataFrame = {
    val cust = orders
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("__cents"))
    // r13: above the size cutover the cumulative spend rides
    // bandedRunningSum (per-band sum prefixes + within-band running
    // sums) instead of a single-partition window — same 65536-cent
    // band as a35's monetary cut. Bit-identical either way. r14: the
    // banded branch derives the corpus total from the per-customer
    // frame (sum of per-customer long sums — the same exact integer,
    // read off the reused per-customer exchange, no second fact pass).
    val (withCum, total) =
      if (!useBandedWindows(orders, bandedMinBytes))
        (cust.withColumn("__cum", sum(col("__cents")).over(
          Window.orderBy(col("__cents").desc, col("o_custkey"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))),
          orders.agg(
            sum(round(col("o_totalprice") * 100).cast("long")).as("__total")))
      else {
        (bandedRunningSum(cust, expr("-(__cents div 65536)"),
          Seq(col("__cents").desc, col("o_custkey")), col("__cents"), "__cum"),
          cust.agg(sum(col("__cents")).as("__total")))
      }
    withCum
      .crossJoin(broadcast(total))
      .withColumn("abc_class",
        when(col("__cum") * 100 <= col("__total") * 80, "A")
          .when(col("__cum") * 100 <= col("__total") * 95, "B")
          .otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_custs"),
        round(sum(col("__cents")).cast("double") / 100.0, 2).as("total_spend"),
        round(sum(col("__cents")).cast("double") /
          max(col("__total")).cast("double"), 6).as("spend_share"))
  }

  /** Verified entry (a36). Sort is oracle-determinism only. */
  def a36(spark: SparkSession, dir: String): DataFrame =
    abcClasses(Tables.orders(spark, dir)).orderBy(col("abc_class"))

  /** Disjunctive-predicate revenue (TPC-H Q19 shape, a37): total
    * discounted revenue over an OR of per-branch (brand, size band,
    * quantity band) conjunctions — the "special promotions" audit
    * whose predicate spans BOTH the fact and the dim inside each
    * disjunct, so nothing pushes down as written.
    *
    * Scale shape: the Spark-first move is the hand-derived predicate
    * HULL. Catalyst cannot infer single-table envelopes from a
    * cross-table OR (no constraint propagation through a disjunction
    * of conjunctions), so the operator derives them itself: the
    * brand IN-list + covering size range push to the part scan, the
    * covering quantity range pushes to the lineitem scan — each scan
    * reads only rows that can satisfy SOME branch (row-group stats
    * skip whole chunks of a size/quantity-clustered lake), and the
    * exact disjunction re-applies post-join, so the hull is
    * semantics-free (the oracle replays the plain OR with no hull,
    * proving it). Filtered part is size-estimated into a broadcast
    * join (SF-scaling dim — no hard hint, a2's contract); the only
    * exchange after it is the 1-row aggregate. Revenue accumulates
    * as exact 1e-4-dollar integers (price cents × (100 − discount
    * cents), d18's law) so the double materializes once, identically
    * on both engines.
    */
  def disjunctRevenue(spark: SparkSession, dir: String,
                      branches: Seq[(String, Int, Int, Double, Double)] = Seq(
                        ("Brand#12", 1, 10, 1.0, 15.0),
                        ("Brand#23", 5, 25, 10.0, 30.0),
                        ("Brand#4", 15, 45, 25.0, 45.0))): DataFrame = {
    val pHull = col("p_brand").isin(branches.map(_._1): _*) &&
      col("p_size").between(branches.map(_._2).min, branches.map(_._3).max)
    val lHull =
      col("l_quantity").between(branches.map(_._4).min, branches.map(_._5).max)
    val orPred = branches.map { case (b, s1, s2, q1, q2) =>
      col("p_brand") === b && col("p_size").between(s1, s2) &&
        col("l_quantity").between(q1, q2)
    }.reduce(_ || _)
    val rev_e4 = round(col("l_extendedprice") * 100.0, 0).cast("long") *
      (lit(100L) - round(col("l_discount") * 100.0, 0).cast("long"))
    Tables.lineitem(spark, dir).filter(lHull)
      .join(Tables.part(spark, dir).filter(pHull),
        col("l_partkey") === col("p_partkey"))
      .filter(orPred)
      .agg(count(lit(1)).as("n_lines"),
        round(sum(rev_e4).cast("double") / 10000.0, 2).as("revenue"))
  }

  /** Verified entry (a37): 1-row result, no sort needed. */
  def a37(spark: SparkSession, dir: String): DataFrame =
    disjunctRevenue(spark, dir)

  /** Supplier-diversity report (TPC-H Q16 shape, a38): distinct
    * supplier count per surviving (brand, type, size) bucket, with a
    * NOT-IN supplier exclusion (Q16's complaints list, stood in by
    * negative-balance suppliers) — the sourcing-risk table ("how many
    * independent suppliers back each part family").
    *
    * Scale shape: the part-supplier relation derives from lineitem
    * (no partsupp table at this SF), and every reduction happens
    * BEFORE the distinct-aggregate shuffle moves it: the part gate
    * (brand/type/size — all pushed to the part scan) rides a
    * size-estimated broadcast join so only qualifying lineitems
    * survive, and the exclusion list is a LEFT ANTI against the tiny
    * negative-balance supplier slice (decorrelated NOT IN — never a
    * per-row subquery). The exact distinct count then pays the
    * standard two-phase pair of keyed exchanges ((bucket, suppkey)
    * partial dedupe — map-side combine collapses each task's repeat
    * pairs — then bucket); approx_count_distinct drops it to one
    * exchange at 100 TB (a5b's trade, p14's spelling).
    */
  def supplierDiversity(spark: SparkSession, dir: String,
                        excludeBrand: String = "Brand#5",
                        excludeType: String = "PROMO",
                        sizes: Seq[Int] = Seq(1, 4, 9, 14, 19, 23, 36, 45)): DataFrame = {
    val pt = Tables.part(spark, dir)
      .filter(col("p_brand") =!= excludeBrand && col("p_type") =!= excludeType &&
        col("p_size").isin(sizes: _*))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val excluded = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(pt, col("l_partkey") === col("p_partkey"))
      .join(excluded, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** Verified entry (a38). Ordering (count DESC then bucket) is part
    * of the Q16 report contract.
    */
  def a38(spark: SparkSession, dir: String): DataFrame =
    supplierDiversity(spark, dir)
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))

  /** Spend-decile migration matrix (a39): each customer's spend
    * decile in the first half of the order log vs the second half,
    * counted per (from, to) cell — the CRM movement report behind
    * "are whales churning / are mid-tier customers upgrading".
    * Customers active in only one half survive with a null decile on
    * the other side (new vs churned — dropping them would hide
    * exactly the movement the report exists to show). Deciles use
    * a28's tie law (spend DESC, custkey) on cent-exact longs; the
    * halves split at the midpoint date, derived once.
    *
    * Scale shape: ONE (custkey, half) aggregation shuffles the fact
    * table to a ≤2×customers frame (the midpoint rides a 1-row
    * broadcast, a22's scalar decorrelation); each half's ntile is a
    * window over its ALREADY-AGGREGATED half (a28's rule — the sort
    * is customer-cardinality, never the fact; x10's banded rank is
    * the extreme-cardinality lever); the FULL OUTER join meets on
    * custkey (two customer-cardinality exchanges) and the matrix agg
    * groups ≤121 cells.
    */
  def decileMigration(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("__d"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("__cents"))
    val mid = ord.agg(
      date_add(min(col("__d")),
        (datediff(max(col("__d")), min(col("__d"))) / 2).cast("int")).as("__mid"))
    val spend = ord.crossJoin(broadcast(mid))
      .groupBy(col("o_custkey"),
        when(col("__d") < col("__mid"), "h1").otherwise("h2").as("__half"))
      .agg(sum(col("__cents")).as("__spend"))
    def deciles(half: String, as: String) = {
      val w = Window.partitionBy(col("__half"))
        .orderBy(col("__spend").desc, col("o_custkey"))
      spend.filter(col("__half") === half)
        .withColumn(as, ntile(10).over(w).cast("long"))
        .select(col("o_custkey"), col(as))
    }
    deciles("h1", "from_decile")
      .join(deciles("h2", "to_decile"), Seq("o_custkey"), "full_outer")
      .groupBy(col("from_decile"), col("to_decile"))
      .agg(count(lit(1)).as("n_custs"))
  }

  /** Verified entry (a39). Sort is oracle-determinism only. */
  def a39(spark: SparkSession, dir: String): DataFrame =
    decileMigration(spark, dir)
      .orderBy(col("from_decile").asc_nulls_first, col("to_decile").asc_nulls_first)

  /** Market-basket brand lift (a40): brand pairs co-purchased in the
    * same order with support, confidence and lift — a20's
    * co-occurrence shape on the purchase side (a20 mines event
    * streams for embedding co-engagement; this mines order baskets
    * for the assortment/recommendation table). Kept rows are the
    * deterministic support-floored SET (no fp-ranked top-k cut).
    *
    * Scale shape (r14, guide §2.4 — two exchanges keyed compatibly
    * share one): the fact is hash-partitioned on okey ONCE; the
    * (okey, brand) dedup aggregates within okey partitions
    * (hashpartitioning(okey) satisfies the composite clustering) and
    * the within-order pair self-join reuses the SAME partitioning —
    * the r13 shape paid a (okey, brand) dedup exchange AND an okey
    * join exchange back-to-back. The raw basket rows crossing the
    * single exchange exceed the deduped rows by at most the
    * lines-per-order dedup factor (a schema constant ≤7), strictly
    * less than what the second full exchange cost. The pair join's
    * per-key width stays bounded by the order's distinct-brand count
    * (never a cross product); both self-join sides carry
    * `shuffle_hash` so the basket exchange computes once and
    * ReusedExchange feeds both (d4's trick). Brand marginals re-agg
    * the basket frame on the tiny brand key and broadcast back; the
    * order count rides a 1-row broadcast. Lift's numerator and
    * denominator are exact integers; the division happens once.
    */
  def basketLift(spark: SparkSession, dir: String,
                 minSupport: Long = 10): DataFrame = {
    val baskets = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("okey"), col("p_brand").as("brand"))
      .repartition(col("okey"))
      .distinct()
    val a = baskets.hint("shuffle_hash").alias("a")
    val b = baskets.hint("shuffle_hash").alias("b")
    val pairs = a.join(b, col("a.okey") === col("b.okey") &&
        col("a.brand") < col("b.brand"))
      .groupBy(col("a.brand").as("brand_a"), col("b.brand").as("brand_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    val marg = baskets.groupBy(col("brand")).agg(count(lit(1)).as("n"))
    val total = baskets.agg(countDistinct(col("okey")).as("__n_orders"))
    pairs
      .join(marg.select(col("brand").as("brand_a"), col("n").as("n_a")), Seq("brand_a"))
      .join(marg.select(col("brand").as("brand_b"), col("n").as("n_b")), Seq("brand_b"))
      .crossJoin(broadcast(total))
      .select(col("brand_a"), col("brand_b"), col("n_ab"), col("n_a"), col("n_b"),
        round(col("n_ab").cast("double") / col("__n_orders"), 6).as("support"),
        round(col("n_ab").cast("double") * col("__n_orders")
          / (col("n_a") * col("n_b")), 6).as("lift"))
  }

  /** Verified entry (a40). Sort is oracle-determinism only. */
  def a40(spark: SparkSession, dir: String): DataFrame =
    basketLift(spark, dir).orderBy(col("brand_a"), col("brand_b"))

  /** a41 (TPC-H Q2's correlated-min shape, adapted — no partsupp
    * table, so lineitem is the part↔supplier bridge): for every part,
    * the supplier selling it at the lowest average unit price,
    * decorated with the supplier's nation. The Q2 lesson at scale:
    * spell the correlated MIN as an agg + SAME-KEYED join-back, not a
    * per-part subquery. avg unit price as exact micro-cents per
    * 1000·qty — integer, so the MIN and the equality join-back are
    * portable (no FP law).
    *
    * Plan shape: ONE fact shuffle on (l_partkey, l_suppkey); the
    * per-part MIN re-aggregates WITHOUT a new exchange (group keys
    * prefix-subset the partitioning) and joins back on the same keys;
    * supplier/nation decorate via broadcast. Ties break to the
    * smallest suppkey (min_by with a struct order).
    */
  def minCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        round(col("l_extendedprice") * 100).cast("long").as("__cents"),
        col("l_quantity").cast("long").as("__qty"))
    val perSupp = li
      .repartition(col("l_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("__cents")).as("__c"), sum(col("__qty")).as("__q"))
      // exact unit price in micro-cents: (cents * 10000) div qty
      .withColumn("unit_ucents", expr("(__c * 10000) div __q"))
    val best = perSupp
      .groupBy(col("l_partkey"))
      .agg(min(struct(col("unit_ucents"), col("l_suppkey"))).as("__b"))
      .select(col("l_partkey"), col("__b.unit_ucents").as("unit_ucents"),
        col("__b.l_suppkey").as("l_suppkey"))
    best
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("l_partkey").as("p_partkey"), col("s_suppkey"),
        col("s_name"), col("n_name"), col("unit_ucents"))
  }

  /** Verified entry (a41). Sort is oracle-determinism only. */
  def a41(spark: SparkSession, dir: String): DataFrame =
    minCostSupplier(spark, dir).orderBy(col("p_partkey"))

  /** a42 (TPC-H Q11's important-stock shape): per (supplier-nation,
    * part) shipped value, keeping parts that carry more than
    * `meanMultiple`× the nation's MEAN part share — the group-wise
    * HAVING against a group total. The threshold is distribution-
    * relative (an absolute ppm floor silently empties as the part
    * count grows — caught by the sf0.1 oracle), the nation total and
    * part count ride ONE WINDOW over the already-aggregated
    * (nation, part) frame, never a second fact pass; exact cents
    * arithmetic, integer cross-multiplication (value·n_parts >
    * k·total — no division, no FP).
    */
  def importantStock(spark: SparkSession, dir: String,
                     meanMultiple: Long = 3L): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        round(col("l_extendedprice") * 100).cast("long").as("__cents"))
    val byNation = li
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("l_partkey"))
      .agg(sum(col("__cents")).as("value_cents"))
    val w = Window.partitionBy(col("n_name"))
    byNation
      .withColumn("nation_cents", sum(col("value_cents")).over(w))
      .withColumn("n_parts", count(lit(1)).over(w))
      .filter(col("value_cents") * col("n_parts") >
        lit(meanMultiple) * col("nation_cents"))
      .select(col("n_name"), col("l_partkey").as("p_partkey"),
        col("value_cents"), col("nation_cents"))
  }

  /** Verified entry (a42). Sort is oracle-determinism only. */
  def a42(spark: SparkSession, dir: String): DataFrame =
    importantStock(spark, dir).orderBy(col("n_name"), col("p_partkey"))

  /** a43 (TPC-H Q4, order-priority checking): orders in a quarter
    * with at least one line shipped AFTER the order date (the
    * late-commitment EXISTS), counted per priority. The EXISTS spells
    * as a LEFT SEMI with the non-equi predicate inside the join
    * condition — the fact side ships only (orderkey, shipdate) into
    * the semi probe, and the quarter filter prunes orders at the
    * scan.
    */
  def priorityChecking(spark: SparkSession, dir: String,
                       qStart: String = "1995-01-01",
                       qEnd: String = "1995-04-01"): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(qStart) && col("o_orderdate") < lit(qEnd))
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_shipdate"))
    o.join(li,
        o("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") > o("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** Verified entry (a43). Sort is oracle-determinism only. */
  def a43(spark: SparkSession, dir: String): DataFrame =
    priorityChecking(spark, dir).orderBy(col("o_orderpriority"))

  /** a44 (TPC-H Q22's global-sales-opportunity shape): customers with
    * above-average positive balance and no orders in the final 24
    * months of the corpus — per nation, how many such lapsed-rich
    * customers and their total balance. The scalar average AND the
    * recency cutoff broadcast as 1-row frames (a22's decorrelation;
    * the cutoff is data-derived so the entry tracks any vintage), the
    * lapsed test is a LEFT ANTI against the recent-orderer key set,
    * and the per-nation rollup rides the small customer side.
    * Balance in exact cents; the cutoff month-shifts the DATE (both
    * engines truncate the same way).
    */
  def salesOpportunity(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .withColumn("__bal_cents", round(col("c_acctbal") * 100).cast("long"))
    val avgPos = c.filter(col("__bal_cents") > 0)
      .agg(sum(col("__bal_cents")).as("__sum_cents"),
        count(lit(1)).as("__n_pos"))
    val o = Tables.orders(spark, dir)
    val cutoff = o.agg(
      add_months(max(col("o_orderdate")).cast("date"), -24).as("__cut"))
    val recent = o.select(col("o_custkey"), col("o_orderdate"))
      .crossJoin(broadcast(cutoff))
      .filter(col("o_orderdate") >= col("__cut"))
      .select(col("o_custkey"))
    // bal > sum/n spelled integer-exact as bal*n > sum (d18/a36's
    // compare-integers law; no FP boundary to drift cross-engine).
    // Headroom: bal ≤ 1e6 cents, so bal*n overflows only past ~9e12
    // positive-balance customers.
    c.crossJoin(broadcast(avgPos))
      .filter(col("__bal_cents") * col("__n_pos") > col("__sum_cents"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_custs"),
        sum(col("__bal_cents")).as("total_bal_cents"))
  }

  /** Verified entry (a44). Sort is oracle-determinism only. */
  def a44(spark: SparkSession, dir: String): DataFrame =
    salesOpportunity(spark, dir).orderBy(col("n_name"))

  /** a45 (TPC-H Q20's nested-semi shape): suppliers who moved more
    * than `minQty` units of PROMO-type parts — the "who can actually
    * supply the promotion" probe. Inner: lineitem semi-filtered to
    * PROMO parts via broadcast, aggregated per supplier with a
    * HAVING; outer: suppliers SEMI-join that bounded key set. The
    * fact shuffles once on suppkey, pre-shrunk by the broadcast part
    * filter.
    */
  def promoSuppliers(spark: SparkSession, dir: String,
                     minQty: Long = 500L): DataFrame = {
    val promoParts = Tables.part(spark, dir)
      .filter(col("p_type") === "PROMO").select(col("p_partkey"))
    val qualified = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("promo_qty"))
      .filter(col("promo_qty") > lit(minQty))
    Tables.supplier(spark, dir)
      .join(qualified, col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("promo_qty"))
  }

  /** Verified entry (a45). Sort is oracle-determinism only. */
  def a45(spark: SparkSession, dir: String): DataFrame =
    promoSuppliers(spark, dir).orderBy(col("s_suppkey"))

  /** a46 (TPC-H Q9's product-type-profit shape, adapted — no
    * partsupp, so unit cost proxies as 60% of p_retailprice): profit
    * on name-matched parts by (supplier nation, order year). All
    * arithmetic is exact integer 1e-4 units: extendedprice and
    * discount both carry ≤2 decimals, so revenue
    * `round(extprice·(1−disc)·10⁴)` is integral before rounding
    * (never a halfway case — a44's integer-compare law applied to
    * money), and cost `retail_cents·60·qty` never divides at all.
    * Join order is selectivity-first (a21's contract): the
    * name-substring filter shrinks part BEFORE lineitem meets it, so
    * the fact's one orderkey exchange carries only matched lines;
    * supplier→nation decorates via broadcast chain; orders ships
    * only (orderkey, year). One agg shuffle on the tiny
    * (nation, year) key.
    */
  def productProfit(spark: SparkSession, dir: String,
                    nameToken: String = "bolt"): DataFrame = {
    val matched = Tables.part(spark, dir)
      .filter(col("p_name").contains(nameToken))
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("__retail_cents"))
    val supN = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("__qty"),
        col("l_extendedprice"), col("l_discount"))
      .join(matched, col("l_partkey") === col("p_partkey"))
      .join(supN, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("__rev_e4",
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
          .cast("long"))
      .withColumn("__cost_e4", col("__retail_cents") * lit(60L) * col("__qty"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(sum(col("__rev_e4") - col("__cost_e4")).as("profit_e4"),
        sum(col("__rev_e4")).as("revenue_e4"),
        count(lit(1)).as("n_lines"))
  }

  /** Verified entry (a46). Sort is oracle-determinism only. */
  def a46(spark: SparkSession, dir: String): DataFrame =
    productProfit(spark, dir).orderBy(col("n_name"), col("o_year"))

  /** PageRank (power iteration, fixed rounds) over the co-engagement
    * item graph — the one canonical ITERATIVE graph computation the
    * surface lacked: importance scores for recsys candidate ranking /
    * crawl-frontier prioritization, computed as repeated
    * join-aggregate rounds (exactly how GraphX/Pregel spell it on
    * Spark, minus the framework).
    *
    * Graph: a20's user-capped co-occurrence pairs (the cap is the
    * 100 TB guard — a power-law user contributes ≤ cap²/2 edges, so
    * the edge list is corpus-linear), made undirected by emitting
    * both directions. Rank mass is INTEGER end to end: each node
    * starts at 1e9 micro-mass; one round is
    *   r' = (1−d)·1e9 + d · Σ_in (r_src div deg_src)
    * with d = 85/100 spelled as integer multiply-then-div (the Σ
    * widened through decimal(38,0) so a 1e9-node catalog cannot
    * overflow the ×85) — floor-div on non-negative operands agrees
    * across engines, so three rounds stay bit-identical. Dangling
    * (isolated) nodes keep the base term and leak their residual —
    * the unredistributed-dangling variant, stated, not hidden.
    *
    * Scale shape: the edge list (+out-degree) is the only
    * corpus-derived input the loop touches. It is not persisted:
    * every round reads the same edge and node subtrees, whose
    * exchanges Spark computes once and reuses across the rounds of
    * the one returned plan (one events scan per call; a second call
    * recomputes). Each round is ONE equi-join of ranks onto edges
    * keyed by src (node-keyed shuffle) and ONE map-combined sum keyed by
    * dst, then a left join back to the node frame. Iterations chain
    * 3 such rounds in a single lazy plan; nothing driver-side, no
    * collect, rank frame stays |nodes|-sized throughout.
    */
  def pageRank(events: DataFrame, iters: Int = 3, cap: Int = 20): DataFrame = {
    val it = events
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("int").as("item"))
      .where(col("item").isNotNull)
      .groupBy(col("user_id"), col("item")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("c").desc, col("item"))
    val capped = it.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap).select(col("user_id"), col("item"))
    val und = capped
      .join(capped.withColumnRenamed("item", "item_v"), Seq("user_id"))
      .where(col("item") < col("item_v"))
      .select(col("item").as("src"), col("item_v").as("dst")).distinct()
    val edges = und.unionByName(und.select(col("dst").as("src"), col("src").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // read by every round; their exchanges are reused across rounds
    val edgesD = edges.join(deg, Seq("src"))
    val nodes = capped.select(col("item")).distinct()
    var rank = nodes.select(col("item"), lit(1000000000L).as("r"))
    for (_ <- 1 to iters) {
      val sums = edgesD
        .join(rank.withColumnRenamed("item", "src"), Seq("src"))
        .select(col("dst"), expr("r div deg").as("__c"))
        .groupBy(col("dst")).agg(sum(col("__c")).as("__s"))
      rank = nodes
        .join(sums.withColumnRenamed("dst", "item"), Seq("item"), "left")
        .select(col("item"),
          expr("cast(150000000 as bigint) + cast((85 * cast(coalesce(__s, 0) as decimal(38,0))) div 100 as bigint)").as("r"))
    }
    rank
      .join(deg.withColumnRenamed("src", "item"), Seq("item"), "left")
      .select(col("item"), col("r").as("rank_e9"),
        coalesce(col("deg"), lit(0L)).as("degree"))
  }

  /** Verified entry (a47). Sort is oracle-determinism only. */
  def a47(spark: SparkSession, dir: String): DataFrame =
    pageRank(Tables.events(spark, dir)).orderBy(col("item"))

  /** Trailing-window daily revenue via a RANGE frame (a48) — the one
    * window-frame KIND the surface lacked: every other window entry
    * rides ROWS frames (a15) or unbounded spans; a trailing "last 7
    * CALENDAR days" must be a RANGE frame over the date ordinal,
    * because a ROWS frame silently miscounts whenever days are
    * missing from the series (exactly the gap a calendar-day grain
    * hits at every low-volume priority class). Emits per (priority,
    * day): that day's exact cents, the 7-day trailing sum, and the
    * number of days PRESENT in the frame — shipped as sum + count
    * (never a pre-divided average), d18's law, so the reader divides
    * at display time and the engines never round.
    *
    * Scale shape: the fact collapses to the (priority, day) grain in
    * ONE map-combined agg (the shuffle carries groups, not orders);
    * the RANGE window then sorts the tiny day-grain frame per
    * priority — the window never touches fact rows (a34's rule:
    * windows ride grains, not facts).
    */
  def trailingRevenue(orders: DataFrame, days: Int = 7): DataFrame = {
    val byDay = orders
      .select(col("o_orderpriority"),
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long")
          .as("epoch_day"),
        round(col("o_totalprice") * 100).cast("long").as("__cents"))
      .groupBy(col("o_orderpriority"), col("epoch_day"))
      .agg(sum(col("__cents")).as("day_cents"), count(lit(1)).as("n_orders"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("epoch_day"))
      .rangeBetween(-(days - 1).toLong, 0L)
    byDay
      .withColumn("trail_cents", sum(col("day_cents")).over(w))
      .withColumn("trail_days", count(lit(1)).over(w))
  }

  /** Verified entry (a48). Sort is oracle-determinism only. */
  def a48(spark: SparkSession, dir: String): DataFrame =
    trailingRevenue(Tables.orders(spark, dir))
      .orderBy(col("o_orderpriority"), col("epoch_day"))
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.OracleSafe._
import graft.streaming.EventStreams

/** Relational/analytic engine surface: scan→filter→agg pipelines,
  * grouping sets, pivot, running windows, sessionization, percentiles.
  * These are the query shapes the reference's analytics views imply at
  * warehouse scale; all are single-exchange plans (partial aggregation
  * map-side, one shuffle on the group key).
  */
object Analytics {

  /** TPC-H Q1 shape: wide scan + timestamp predicate (pushed to
    * parquet) + 8 aggregates in one pass.
    */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum2(col("l_quantity")).as("sum_qty"),
        sum2(col("l_extendedprice")).as("sum_base_price"),
        sum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        sum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
             * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        avg2(col("l_quantity")).as("avg_qty"),
        avg2(col("l_extendedprice")).as("avg_price"),
        avg2(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q3 shape: selective dim filter (size-guarded broadcast) ⋈
    * orders ⋈ lineitem, revenue agg, deterministic top-10. When
    * customer broadcasts, the two big tables shuffle only for their
    * own equi-join keys; a design-scale customer table falls back to
    * AQE's decision (see [[Hints.maybeBroadcast]]).
    */
  def q3TopUnshipped(s: SparkSession, dir: String): DataFrame = {
    val c  = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val o  = Tables.orders(s, dir)
      .filter(col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > to_timestamp(lit("1998-01-01 00:00:00")))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(Hints.maybeBroadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("orderdate"),
               col("o_orderpriority"))
      .agg(sum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q4 shape: EXISTS decorrelated to a LEFT-SEMI join — count
    * orders by priority that have at least one returned line. The semi
    * join is the point: it probes lineitem as a FILTER, shuffling only
    * `l_orderkey` (8 bytes/row after the pushed `l_returnflag='R'`
    * scan filter), never duplicates an order however many lines match,
    * and needs no distinct — the three failure modes of the naive
    * inner-join + dedup formulation. At 100 TB both sides shuffle on
    * the join key (no broadcast: lineitem's key set grows with the
    * fact table); the aggregate over the surviving orders is partial.
    * Complements [[QualityOps.fkOrphans]]'s anti-join (NOT EXISTS) —
    * together they are both halves of the (de)correlated-subquery
    * surface.
    */
  def q4PriorityExists(s: SparkSession, dir: String): DataFrame = {
    val returned = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey")
    Tables.orders(s, dir)
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q5 shape: the region-local volume question — revenue per
    * nation where the CUSTOMER and the SUPPLIER sit in the same nation
    * of one region. The signature constraint `c_nationkey =
    * s_nationkey` ties the two dimension paths together, which is what
    * distinguishes this from a star-join: lineitem⋈orders is the one
    * fact-fact shuffle (both on the order key), every dimension hop
    * (supplier+nation+region pre-joined, customer) rides a size-guarded
    * broadcast, and the equal-nation predicate is evaluated row-local
    * inside the customer broadcast join — no extra exchange. The final
    * aggregate runs over a |nations|-bounded key space, partial
    * map-side. At 100 TB: dims broadcast by construction (they scale
    * with entities, not events), facts shuffle once each on their
    * shared key.
    */
  def q5RegionVolume(s: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      .select("r_regionkey")
    val n = Tables.nation(s, dir)
      .join(Hints.maybeBroadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val su = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      .join(Hints.maybeBroadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_nationkey", "n_name")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= to_timestamp(lit("1997-01-01 00:00:00")) &&
              col("o_orderdate") <  to_timestamp(lit("1998-01-01 00:00:00")))
      .select("o_orderkey", "o_custkey")
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(Hints.maybeBroadcast(su), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Hints.maybeBroadcast(c),
            col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(sum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q10 shape: top-20 customers by revenue LOST to returns in a
    * quarter — the "who should the account team call" list. Returned
    * lines (scan-pushed `l_returnflag = 'R'`) join the quarter's orders
    * on the shared order key (the one fact-fact shuffle), then the
    * customer and nation dimensions broadcast onto the aggregate's
    * input. Grouping carries the customer's display attributes
    * (name/acctbal/nation) in the key — they are functionally
    * dependent on `c_custkey`, so the key space stays |customers| —
    * and the deterministic top-20 is a TakeOrderedAndProject, never a
    * global sort.
    */
  def q10ReturnedRevenue(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= to_timestamp(lit("1998-01-01 00:00:00")) &&
              col("o_orderdate") <  to_timestamp(lit("1998-04-01 00:00:00")))
      .select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
    Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Hints.maybeBroadcast(c), col("o_custkey") === col("c_custkey"))
      .join(Hints.maybeBroadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(sum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q7 shape: cross-border trade volume between every
    * customer-nation / supplier-nation pair by ship year — the
    * two-dimension-table star join. The fact table joins orders on
    * its key (the one big-big shuffle), then picks up customer,
    * supplier, and BOTH nation legs through size-guarded broadcasts —
    * at any scale the plan shuffles lineitem+orders once and
    * broadcasts everything else; the group key space is
    * |nations|²×years, bounded, so the aggregate partial-combines to
    * almost nothing map-side. Same-nation trade is filtered out
    * (domestic rows are Q7's explicit exclusion); revenue through the
    * decimal-exact [[graft.functions.OracleSafe.sum4]].
    */
  def q7NationVolume(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val n1 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    val n2 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Hints.maybeBroadcast(c), col("o_custkey") === col("c_custkey"))
      .join(Hints.maybeBroadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(Hints.maybeBroadcast(n1), col("c_nationkey") === col("cn_key"))
      .join(Hints.maybeBroadcast(n2), col("s_nationkey") === col("sn_key"))
      .filter(col("cust_nation") =!= col("supp_nation"))
      .groupBy(col("cust_nation"), col("supp_nation"),
               year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("volume"))
      .orderBy("cust_nation", "supp_nation", "l_year")
  }

  /** TPC-H Q18 shape: large-quantity orders (the HAVING-on-aggregate
    * semi-filter). The detail table first collapses to per-order
    * quantity totals — partial aggregation makes the shuffle carry
    * (key, partial-sum) pairs, not raw lines — and the HAVING survivor
    * set (rare by construction: the threshold sits in the distribution
    * tail) then joins orders on its key. The aggregate-THEN-join order
    * is the entire point: joining first would duplicate every order
    * row per line and re-aggregate the blowup. Customer display
    * attributes broadcast last onto the already-tiny survivor rows.
    * Quantities are integral by data contract, so the total is an
    * exact BIGINT — hash-identical on any engine.
    */
  def q18LargeOrders(s: SparkSession, dir: String, minQty: Long = 250L): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_quantity")
      .groupBy("l_orderkey")
      .agg(sumLong(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > minQty)
    Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Hints.maybeBroadcast(
              Tables.customer(s, dir).select("c_custkey", "c_name")),
            col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
              to_date(col("o_orderdate")).as("orderdate"),
              col("o_totalprice"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q6 shape: the forecast-revenue-change scan — one fact
    * table, three range predicates, one global sum. The POINT of this
    * query is what is absent: no join, no group key, no window — a
    * correct plan is a parquet scan with every predicate PUSHED
    * (shipdate range, discount band, quantity cap all reach
    * PushedFilters; ReadSchema carries exactly the four referenced
    * columns), a partial sum per partition, and a 1-row exchange.
    * At 100 TB this is the query shape where pushdown is the whole
    * performance story: row-group min/max stats skip every
    * out-of-window month of a date-clustered table. Revenue is
    * price×discount — exact through the DECIMAL road
    * ([[graft.functions.OracleSafe.sum4]]).
    */
  def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
              col("l_shipdate") <  to_timestamp(lit("1997-01-01 00:00:00")) &&
              col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
              col("l_quantity") < 24.0)
      .agg(sum4(col("l_extendedprice") * col("l_discount")).as("revenue"))
  }

  /** TPC-H Q14 shape: promo-revenue share of a month — the
    * conditional-aggregate ratio. One month of lineitem (pushed range
    * scan) joins the part dimension through a size-guarded broadcast;
    * both the promo-only and total revenue accumulate in the SAME
    * partial aggregate pass (a conditional sum is free once the rows
    * are flowing — the anti-pattern is two scans or a self-join). The
    * ratio is integral end to end: per-row revenue is floored to
    * micro-units (identical IEEE product both engines, then floor —
    * the repo's money convention), and the share is a parts-per-million
    * BIGINT via exact DECIMAL(38) multiply-divide, never a float
    * division whose final rounding could differ across engines.
    */
  def q14PromoShare(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).select("p_partkey", "p_type")
    val rev = floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1e6)
      .cast("long")
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-03-01 00:00:00")) &&
              col("l_shipdate") <  to_timestamp(lit("1997-04-01 00:00:00")))
      .select(col("l_partkey"), rev.as("rev_micro"))
      .join(Hints.maybeBroadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(sum(when(col("p_type") === "PROMO", col("rev_micro")).otherwise(0L))
             .as("promo_micro"),
           sum(col("rev_micro")).as("total_micro"))
      .select(col("promo_micro"), col("total_micro"),
        call_function("div",
          col("promo_micro").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * 1000000,
          col("total_micro").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("long").as("promo_ppm"))
  }

  /** TPC-H Q15 shape: the top supplier by quarter revenue — an
    * aggregate compared against ITS OWN maximum (the correlated
    * `= (SELECT max(...))` subquery, decorrelated). Per-supplier
    * revenue is one partial-agg shuffle over the quarter's pushed
    * scan; the 1-row maximum then broadcasts back over the per-supplier
    * frame (the repo's documented broadcast-1-row-total idiom — a
    * window max over an unpartitioned frame would funnel the supplier
    * set through one task at scale, and a self-join on the max value
    * shuffles twice). Ties all surface, deterministically ordered —
    * TPC-H's own spec keeps every max-revenue supplier. Revenue in
    * exact micro-units so the equality against the max is integer,
    * not a float compare.
    */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1e6)
      .cast("long")
    val perSupp = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
              col("l_shipdate") <  to_timestamp(lit("1996-04-01 00:00:00")))
      .select(col("l_suppkey"), rev.as("rev_micro"))
      .groupBy("l_suppkey")
      .agg(sum(col("rev_micro")).as("total_rev_micro"))
    val best = perSupp.agg(max(col("total_rev_micro")).as("max_rev_micro"))
    perSupp.crossJoin(broadcast(best))
      .filter(col("total_rev_micro") === col("max_rev_micro"))
      .join(Hints.maybeBroadcast(
              Tables.supplier(s, dir).select("s_suppkey", "s_name")),
            col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev_micro"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q19 shape: disjunctive bracket pricing — revenue over an OR
    * of three (brand, size-range, quantity-range) conjuncts that each
    * SPAN the join (part attributes AND lineitem attributes in one
    * bracket). The disjunction cannot be pushed whole, and that is the
    * query's lesson: Catalyst still derives the per-side residuals it
    * CAN push (quantity ∈ [covering hull] on the scan side, size/brand
    * hull on the dimension side) and evaluates the full OR row-local
    * inside the broadcast-hash join — one pass, no fact shuffle at
    * all when part broadcasts. The naive translation (three separate
    * scan+join branches unioned) reads the fact table three times for
    * identical output.
    */
  def q19DiscountedRevenue(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).select("p_partkey", "p_brand", "p_size")
    def bracket(brand: String, sizeMax: Int, qtyLo: Double, qtyHi: Double) =
      col("p_brand") === brand &&
      col("p_size") >= 1 && col("p_size") <= sizeMax &&
      col("l_quantity") >= qtyLo && col("l_quantity") <= qtyHi
    Tables.lineitem(s, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(Hints.maybeBroadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(bracket("Brand#12", 5, 1, 11) ||
              bracket("Brand#23", 10, 10, 20) ||
              bracket("Brand#3", 15, 20, 30))
      .agg(sum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
             .as("revenue"))
  }

  /** TPC-H Q8 shape: national market share — of the revenue an ASIA
    * customer market spends on STANDARD parts, what fraction does one
    * supplier nation capture, per order year? The teaching point is
    * the same as Q14 at five-join scale: the share's numerator and
    * denominator accumulate in ONE conditional aggregate pass over a
    * single fact pipeline (lineitem⋈orders is the one fact-fact
    * shuffle; part/customer-nation-region/supplier-nation all ride
    * size-guarded broadcasts) — the naive two-query form scans and
    * joins everything twice to subtract. Share as ppm BIGINT via
    * exact DECIMAL(38) multiply-divide on micro-floored revenue.
    */
  def q8MarketShare(s: SparkSession, dir: String,
                    targetNation: String = "NATION_2"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val p = Tables.part(s, dir).filter(col("p_type") === "STANDARD")
      .select("p_partkey")
    val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      .select("r_regionkey")
    val n = Tables.nation(s, dir)
      .join(Hints.maybeBroadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      .join(Hints.maybeBroadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_orderdate")
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      .join(Hints.maybeBroadcast(
              Tables.nation(s, dir)
                .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    val rev = floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1e6)
      .cast("long")
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), rev.as("rev_micro"))
      .join(Hints.maybeBroadcast(p), col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Hints.maybeBroadcast(c), col("o_custkey") === col("c_custkey"))
      .join(Hints.maybeBroadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(when(col("supp_nation") === targetNation, col("rev_micro"))
                 .otherwise(0L)).as("target_rev_micro"),
           sum(col("rev_micro")).as("total_rev_micro"))
      .select(col("o_year"), col("target_rev_micro"), col("total_rev_micro"),
        call_function("div",
          col("target_rev_micro").cast(dec) * 1000000,
          col("total_rev_micro").cast(dec)).cast("long").as("share_ppm"))
      .orderBy("o_year")
  }

  /** TPC-H Q22 shape: lapsed wealthy customers — above-average
    * account balance and NO orders in the recent window (this corpus
    * gives every customer SOME order, so the vacuous "never ordered"
    * form is re-aimed at "gone quiet since `sinceDate`" — the shape
    * Q22 teaches survives intact). Two classic decorrelations in one
    * query: the scalar `avg` subquery becomes a 1-row broadcast with
    * the comparison done in INTEGERS (`bal·n > Σbal` — no float
    * average to round differently across engines), and `NOT EXISTS
    * (recent orders)` becomes a LEFT-ANTI join that shuffles only the
    * key column of a date-pruned scan — completing the
    * (de)correlated-subquery triptych with [[q4PriorityExists]]'s
    * semi join and [[QualityOps.fkOrphans]]'s integrity anti. The
    * anti probe runs AFTER the balance filter: the rare rich-customer
    * survivors probe orders, never the whole customer table.
    */
  def q22UntappedCustomers(s: SparkSession, dir: String,
                           sinceDate: String = "1999-01-01 00:00:00"): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"),
              floor(col("c_acctbal") * 100).cast("long").as("bal_cents"))
    val thr = cust.filter(col("bal_cents") > 0)
      .agg(sum("bal_cents").as("pos_sum"), count(lit(1)).as("pos_n"))
    cust.crossJoin(broadcast(thr))
      .filter(col("bal_cents") * col("pos_n") > col("pos_sum"))
      .join(Tables.orders(s, dir)
              .filter(col("o_orderdate") >= to_timestamp(lit(sinceDate)))
              .select("o_custkey"),
            col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").cast("long").as("nation_key"))
      .agg(count(lit(1)).as("n_customers"), sum("bal_cents").as("total_bal_cents"))
      .orderBy("nation_key")
  }

  /** Projection + predicate that must reach the parquet scan
    * (PushedFilters / 3-column ReadSchema in the plan).
    */
  def filterPushdown(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_quantity") >= 48.0 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** ROLLUP grouping sets — subtotals + grand total in one shuffle. */
  def rollupFlagStatus(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), sum2(col("l_extendedprice")).as("sum_price"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n_rows"), col("sum_price"))
      .orderBy("returnflag", "linestatus")
  }

  /** Pivot event types to wide counts per user (missing combos
    * coalesced to 0 so the shape is engine-independent).
    */
  def pivotEventTypes(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val wide = Tables.events(s, dir)
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
    wide.select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("user_id")
  }

  /** Running sum per user over event time — exact DECIMAL accumulation
    * inside the window so the result is order-of-evaluation-proof.
    */
  def windowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
    Tables.events(s, dir)
      .select(
        col("event_id"), col("user_id"),
        sum(col("value").cast(DecimalType(18, 2)))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast(DoubleType).as("running_value"),
        row_number().over(w).as("seq"))
      .orderBy("user_id", "seq")
  }

  /** Trailing time-horizon aggregate via a RANGE window frame: per
    * event, the exact-decimal sum and count of the same user's events
    * in the trailing hour INCLUDING this one — the "activity in the
    * last N minutes" feature every fraud/abuse scorer derives. RANGE
    * frames bound by the ORDER-BY VALUE (here epoch ns), not by row
    * offsets: same-instant rows share one frame and the window
    * widens/narrows with event density, which a ROWS frame cannot
    * express. Still ONE sort-shuffle on the user key — the frame walk
    * is two pointers over the sorted run, never a self-join; the
    * range-join formulation of the same feature shuffles candidate
    * PAIRS and explodes with density. Exact decimal inside the frame
    * sum, so the double result is partition-order-proof. Frame
    * arithmetic at µs (the oracle reader's native precision): a pair
    * sitting within 1 µs of exactly one hour apart must land on the
    * same side of the boundary in both engines.
    */
  def windowTimeRange(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-hourUs, 0)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"),
              expr("ts_ns div 1000").as("ts_us"))
      .select(
        col("event_id"), col("user_id"),
        expr("ts_us div 1000000").as("ts_s"),
        sum(col("value").cast(DecimalType(18, 2))).over(w)
          .cast(DoubleType).as("trailing_1h_value"),
        count(lit(1)).over(w).as("trailing_1h_events"))
      .orderBy("event_id")
  }

  /** Gap-based sessionization (30-min inactivity): lag → new-session
    * flag → running count = session id → per-session rollup. Two window
    * passes over one (user_id, ts) sort — a single exchange. Written
    * apart from [[EventStreams.sessionize]], whose typed per-user state
    * has no batch plan; the session ids here come from a per-event lag
    * spine.
    */
  def sessionizeEvents(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
    val ev = Tables.events(s, dir)
      .withColumn("ts_s", epochS(col("ts")))
    val gap = col("ts_s") - lag(col("ts_s"), 1).over(byUser)
    ev.withColumn("is_new", when(gap.isNull || gap > 1800, 1).otherwise(0))
      .withColumn("session_seq",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_s")).as("session_start_s"),
        max(col("ts_s")).as("session_end_s"),
        sum2(col("value")).as("session_value"))
      .orderBy("user_id", "session_seq")
  }

  /** Cohort retention matrix — the canonical product-analytics rollup
    * (signup-week cohorts × weeks since signup × distinct active
    * users; weekly because that is calendar-arithmetic-free —
    * epoch-days div 7 — and the test window spans one month). Three
    * stages, each one key-partitioned shuffle:
    * (1) cohort assignment = min signup timestamp per user — a plain
    * partial-aggregated groupBy, (2) activity join on user_id — the
    * cohort table is keyed and sized by USERS (not events), and at
    * 100 TB both sides hash-partition on user_id (no broadcast: the
    * user dimension grows with the data), (3) distinct
    * (cohort, offset, user) then count — Spark plans the distinct as a
    * partial-deduplicating aggregate, so the user-explosion never
    * crosses the wire un-combined. Events before the user's signup
    * week (offset < 0) are excluded by contract.
    */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    // epoch-days/7 floored: non-negative small ints, exact in double on
    // every engine (the DuckDB mirror is FLOOR(datediff/7.0))
    def weekKey(c: Column) = floor(datediff(c, to_date(lit("1970-01-01"))) / 7.0)
    val cohorts = ev.filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min(col("ts_ns")).as("signup_ns"))
      .select(col("user_id"),
              weekKey(to_date(expr("timestamp_micros(signup_ns div 1000)"))).cast("long").as("cohort_w"))
    val active = ev.select(col("user_id"), weekKey(to_date(col("ts"))).cast("long").as("act_w"))
    cohorts.join(active, "user_id")
      .filter(col("act_w") >= col("cohort_w"))
      .select(col("cohort_w"), (col("act_w") - col("cohort_w")).as("weeks_since"), col("user_id"))
      .distinct()
      .groupBy("cohort_w", "weeks_since")
      .agg(count(lit(1)).as("n_active_users"))
      .orderBy("cohort_w", "weeks_since")
  }

  /** Rolling `windowDays`-day distinct active users per activity day —
    * the DAU/WAU dashboard primitive. Exact distinct-over-sliding-
    * window is the trap: a naive self-range-join shuffles the event
    * table against itself. Here the corpus first collapses to the
    * DISTINCT (day, user) table (one partial-agg shuffle, bounded by
    * users×days, ≪ events), each pair then explodes into the ≤
    * `windowDays` window-end days it contributes to, and one more
    * distinct+count lands the answer — the explode factor is the
    * window length, applied AFTER the heavy dedup, and no row ever
    * carries more than (day, user_id). Reported only for days with
    * observed activity (semi-join against the day set).
    */
  def rollingActiveUsers(s: SparkSession, dir: String, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val dayUser = Tables.events(s, dir)
      .select(datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
                .cast("long").as("day"),
              col("user_id"))
      .distinct()
    val days = dayUser.select(col("day").as("win_day")).distinct()
    dayUser
      .select(explode(sequence(col("day"), col("day") + lit(windowDays - 1)))
                .as("win_day"),
              col("user_id"))
      .distinct()
      .join(days, Seq("win_day"), "left_semi")
      .groupBy("win_day")
      .agg(count(lit(1)).as("active_users"))
      .orderBy("win_day")
  }

  /** Ordered conversion funnel (signup → view → purchase): per user,
    * the earliest time each step completes STRICTLY AFTER the previous
    * step — the sequential-pattern primitive behind conversion
    * dashboards. Each stage is one aggregate + one key-partitioned
    * join against the (small) per-user frontier of the previous stage
    * — never a window over the full event stream and never a
    * cross-stage self-join of raw events; the event table is scanned
    * once per step with the step's type filter pushed to the scan.
    * Timestamps compare at full ns precision and report as epoch
    * seconds.
    */
  def funnelSteps(s: SparkSession, dir: String,
                  steps: Seq[String] = Seq("signup", "view", "purchase")): DataFrame =
    funnelOver(Tables.events(s, dir), steps).orderBy("user_id")

  /** [[funnelSteps]]'s core over any (user_id, ts_ns, event_type)
    * frame — factored so partial-completion funnels are unit-testable
    * on crafted logs (the fixture corpus completes every step for
    * every user, which exercises none of the null handling).
    */
  def funnelOver(ev: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    def stepMin(stepType: String, frontier: Option[DataFrame]): DataFrame = {
      val typed = ev.filter(col("event_type") === stepType)
        .select(col("user_id"), col("ts_ns"))
      val bounded = frontier match {
        case None => typed
        case Some(f) =>
          typed.join(f.select(col("user_id"), col("prev_ns")), "user_id")
            .filter(col("ts_ns") > col("prev_ns"))
      }
      bounded.groupBy("user_id").agg(min(col("ts_ns")).as("prev_ns"))
    }
    val frontiers = steps.foldLeft(Vector.empty[DataFrame]) { (acc, st) =>
      acc :+ stepMin(st, acc.lastOption)
    }
    val out = frontiers.zipWithIndex
      .map { case (f, i) =>
        f.select(col("user_id"), expr("prev_ns div 1000000000").as(s"t${i + 1}_s")) }
      .reduceLeft((a, b) => a.join(b, Seq("user_id"), "left"))
    out.withColumn("completed_steps",
      steps.indices.map(i => when(col(s"t${i + 1}_s").isNotNull, 1L).otherwise(0L))
        .reduce(_ + _))
  }

  /** Per-group z-score anomaly flags — the outlier-filter stage every
    * ingest pipeline runs before values feed training or dashboards.
    * Group moments come from EXACT decimal sums (Σv, Σv² — the same
    * engine-neutral-aggregation rule as every oracle query here:
    * partial-aggregated, partition-order-independent); mean/std/z are
    * then derived in double with ONE fixed operation order mirrored
    * textually by the oracle, so floor(100·z) is bit-identical across
    * engines. The 5-row stats table broadcasts back onto the stream —
    * two scans, one tiny shuffle, no window.
    */
  def anomalyZscore(s: SparkSession, dir: String, zX100Cut: Long = 300): DataFrame =
    zscoreFlags(Tables.events(s, dir), "event_id", "event_type", "value", zX100Cut)
      .orderBy("event_id")

  /** [[anomalyZscore]]'s core, factored for testability on crafted
    * frames. Degenerate groups are defined, not undefined: a group
    * whose variance term is ≤ 0 (constant values — including the
    * tiny-NEGATIVE term double rounding can produce, where Spark's
    * sqrt would yield NaN but the oracle engine ERRORS) or with a
    * single row (n-1 = 0) gets std = 0, and std = 0 maps every member
    * to z = 0 / not-outlier — no NULL verdicts, no NaN, and the
    * guard structure is mirrored textually in the oracle SQL.
    */
  def zscoreFlags(df: DataFrame, idCol: String, groupCol: String, valueCol: String,
                  zX100Cut: Long): DataFrame = {
    val variance =
      (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)
    val stats = df.groupBy(groupCol).agg(
      count(lit(1)).cast("double").as("n"),
      sum(col(valueCol).cast(DecimalType(18, 2))).cast("double").as("s1"),
      sum((col(valueCol) * col(valueCol)).cast(DecimalType(27, 4))).cast("double").as("s2"))
      .select(col(groupCol), (col("s1") / col("n")).as("mean"),
              when(col("n") > 1 && variance > 0, sqrt(variance)).otherwise(0.0).as("std"))
    df.join(Hints.maybeBroadcast(stats), groupCol)
      .select(
        col(idCol), col(groupCol),
        when(col("std") > 0,
          floor(lit(100.0) * (col(valueCol) - col("mean")) / col("std")).cast("long"))
          .otherwise(0L).as("z_x100"))
      .withColumn("is_outlier", abs(col("z_x100")) >= zX100Cut)
  }

  /** Robust MAD outlier flags — [[anomalyZscore]]'s median twin: a
    * z-score's mean/std are themselves dragged by the outliers they
    * hunt, so the robust detector scores |x − median| against the
    * Median Absolute Deviation. ALL-INTEGRAL in exact cents (the
    * engine-portable discipline: an interpolated float median puts an
    * ulp between the engines; the discrete median is an input VALUE,
    * `quantile_disc(0.5)`-compatible at every group size), and both
    * per-type medians come from [[DistRank.withPrefix]] ranks — a
    * per-type `row_number` window would sort a whole event type's
    * corpus-scaling rows in one task (the exact shape the plan net
    * forbids); the two-stage rank keeps every sort one range
    * partition wide. Flag: 100·|x−med| > kX100·MAD (k=3 at the
    * default print scale); MAD = 0 (constant group) flags any
    * deviation, mirrored in the oracle.
    */
  def anomalyMad(s: SparkSession, dir: String, kX100: Long = 300): DataFrame =
    madFlags(Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents")), kX100)
      .orderBy("event_id")

  /** [[anomalyMad]]'s core over an explicit (event_id, event_type,
    * cents) frame — factored for crafted-median specs. */
  def madFlags(eIn: DataFrame, kX100: Long): DataFrame = {
    // Referenced three times (median rank, deviation join, output) —
    // one shared scan; likewise dev feeds both the MAD rank and the
    // final projection.
    val e = graft.Caches.cached(eIn)
    // discrete median per type: the unique row at rank (n+1) div 2 of
    // the (cents, event_id) total order carries the median VALUE
    val medRow = DistRank.withPrefix(e, Seq("event_type"),
        Seq(col("cents"), col("event_id")), lit(1L), "__rk",
        groupTotalOut = Some("__n"))
      .filter(col("__rk") === expr("(__n + 1) div 2"))
      .select(col("event_type"), col("cents").as("med_cents"))
    val dev = graft.Caches.cached(
      e.join(Hints.maybeBroadcast(medRow), "event_type")
        .withColumn("adev_cents", abs(col("cents") - col("med_cents"))))
    val madRow = DistRank.withPrefix(
        dev.select(col("event_type"), col("event_id"), col("adev_cents")),
        Seq("event_type"), Seq(col("adev_cents"), col("event_id")), lit(1L), "__rk",
        groupTotalOut = Some("__n"))
      .filter(col("__rk") === expr("(__n + 1) div 2"))
      .select(col("event_type"), col("adev_cents").as("mad_cents"))
    dev.join(Hints.maybeBroadcast(madRow), "event_type")
      .select(col("event_id"), col("event_type"), col("cents"),
        col("adev_cents"), col("mad_cents"),
        (col("adev_cents") * 100 > lit(kX100) * col("mad_cents")).as("is_outlier"))
  }

  /** Tukey IQR-fence outlier flags — the third member of the outlier
    * family ([[anomalyZscore]] assumes normality, [[anomalyMad]]
    * resists the outliers themselves; Tukey's fences are the boxplot
    * rule every monitoring dashboard draws): flag values outside
    * [Q1 − k·IQR, Q3 + k·IQR], k=1.5. Discrete quartiles at ranks
    * ⌈n/4⌉ and ⌈3n/4⌉ of the (cents, event_id) total order — actual
    * data values, integral, engine-exact; fences compared at ×100 so
    * k=1.5 stays in integer arithmetic.
    *
    * ONE [[DistRank.withPrefix]] pass yields both quartile rows
    * (where MAD needs two — deviation re-ranking), a bounded per-type
    * pivot picks them out, and the fences broadcast back: never a
    * per-type window sorting a corpus-scaling event type in one task.
    */
  def anomalyTukey(s: SparkSession, dir: String, kX100: Long = 150): DataFrame =
    tukeyFlags(Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents")), kX100)
      .orderBy("event_id")

  /** [[anomalyTukey]]'s core over an explicit (event_id, event_type,
    * cents) frame — factored for crafted-quartile specs. */
  def tukeyFlags(eIn: DataFrame, kX100: Long): DataFrame = {
    val e = graft.Caches.cached(eIn)
    val quartiles = DistRank.withPrefix(e, Seq("event_type"),
        Seq(col("cents"), col("event_id")), lit(1L), "__rk",
        groupTotalOut = Some("__n"))
      .filter(col("__rk") === expr("(__n + 3) div 4") ||
              col("__rk") === expr("(3 * __n + 3) div 4"))
      .groupBy("event_type")
      .agg(min(when(col("__rk") === expr("(__n + 3) div 4"), col("cents")))
             .as("q1_cents"),
           min(when(col("__rk") === expr("(3 * __n + 3) div 4"), col("cents")))
             .as("q3_cents"))
    e.join(Hints.maybeBroadcast(quartiles), "event_type")
      .select(col("event_id"), col("event_type"), col("cents"),
        col("q1_cents"), col("q3_cents"),
        (col("q3_cents") - col("q1_cents")).as("iqr_cents"),
        (col("cents") * 100 < col("q1_cents") * 100 - lit(kX100) * (col("q3_cents") - col("q1_cents")) ||
         col("cents") * 100 > col("q3_cents") * 100 + lit(kX100) * (col("q3_cents") - col("q1_cents")))
          .as("is_outlier"))
  }

  /** Per-event percentile STANDING within its type — percent_rank as
    * a feature column (the "is this purchase big FOR ITS KIND"
    * normalizer a scoring pipeline joins back onto events). The
    * textbook formulation is `percent_rank() OVER (PARTITION BY
    * event_type ORDER BY value)` — and event_type is exactly the
    * low-cardinality/corpus-scaling key where that window funnels a
    * billion-row type through ONE sort task. Here the rank comes from
    * [[DistRank.withPrefix]] (range partition → in-cell prefix →
    * bounded offsets broadcast back): no task ever holds more than a
    * range slice, same two-stage shape as [[anomalyMad]]'s medians
    * and customer_rfm's quintiles.
    *
    * Exactness: the (cents, event_id) order is total (no ties), so
    * rank == row_number on both engines, and the percentile is the
    * INTEGRAL micro-unit (rk−1)·1e6 div (n−1) — a pure function of
    * two exact integers, hash-identical where percent_rank's double
    * quotient invites ulp drift. Singleton types (n=1) yield null —
    * "standing among peers" needs a peer, mirrored in the oracle.
    */
  def windowPercentileRank(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"),
              floor(col("value") * 100).cast("long").as("cents"))
    DistRank.withPrefix(ev, Seq("event_type"),
        Seq(col("cents"), col("event_id")), lit(1L), "rk",
        groupTotalOut = Some("n"))
      .select(col("event_type"), col("event_id"), col("cents"),
        when(col("n") > 1,
          expr("((rk - 1) * 1000000) div (n - 1)")).as("pct_x1e6"))
      .orderBy("event_type", "event_id")
  }

  /** Exact interpolated percentiles per group — exact by spec for
    * oracle parity (bounded group count here). At 100 TB the same plan
    * shape swaps `percentile` for `approx_percentile(value, p, acc)`
    * (t-digest state, partial-aggregated, bounded memory) instead of
    * buffering each group's values.
    */
  def percentileValue(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** Exact equi-depth binning (quartiles by default): each event lands
    * in one of `k` equal-count bins of `value` within its event_type —
    * the discretization step behind score calibration and monotone
    * feature binning. `ntile` over the total order (value, event_id) is
    * engine-portable: the SQL-standard fill (first n mod k bins take
    * one extra row) plus the deterministic tie-break makes bin
    * assignment a pure function of the data. Emitted per (group, bin):
    * count and the bin's [min, max] value range as floor(100·x) ints.
    *
    * Scale note: ntile needs each GROUP sorted in one partition — fine
    * while groups are many or bounded (here: event types), but this is
    * the global-sort funnel for few-huge-group data. The 100 TB swap is
    * the same as [[percentileValue]]'s: approx_percentile cut points
    * (t-digest, partial-aggregated) joined back and bucketed row-local
    * — equal-count only approximately, but shuffle-free. Exactness here
    * is oracle-mandated.
    */
  def quantileBins(s: SparkSession, dir: String, k: Int = 4): DataFrame = {
    require(k > 0, s"bin count $k must be positive")
    val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("bin", ntile(k).over(w).cast("long"))
      .groupBy("event_type", "bin")
      .agg(
        count(lit(1)).as("n_rows"),
        floor(lit(100.0) * min("value")).cast("long").as("min_val_x100"),
        floor(lit(100.0) * max("value")).cast("long").as("max_val_x100"))
      .orderBy("event_type", "bin")
  }

  /** The 100 TB form of [[quantileBins]], made concrete rather than a
    * doc note: per-group cut points from `approx_percentile` (t-digest
    * style Greenwald-Khanna state, partial-aggregated, bounded memory
    * per group) broadcast back through the size guard, each row then
    * bucketed ROW-LOCALLY by counting cuts below its value (a
    * bounded-array HOF — no window, no per-group global sort). Where
    * [[quantileBins]]'s ntile funnels every group through one sorted
    * partition, this plan is two scans + one tiny-key-space shuffle
    * regardless of group sizes. Equal-count only approximately
    * (rank error ≤ n/accuracy, plus boundary ties all land in the
    * lower bin) → rows-only for the driver; AnalyticsSpec pins the
    * per-bin counts against the exact operator's.
    */
  def quantileBinsApprox(s: SparkSession, dir: String, k: Int = 4,
                         accuracy: Int = 10000): DataFrame = {
    require(k > 0, s"bin count $k must be positive")
    require(accuracy > 0, s"accuracy $accuracy must be positive")
    val ps = (1 until k).map(i => i.toDouble / k).mkString(", ")
    val cuts = Tables.events(s, dir)
      .groupBy("event_type")
      .agg(expr(s"approx_percentile(value, array($ps), $accuracy)").as("cuts"))
    Tables.events(s, dir)
      .join(Hints.maybeBroadcast(cuts), "event_type")
      .select(col("event_type"),
              (lit(1) + expr("size(filter(cuts, c -> value > c))")).cast("long").as("bin"),
              col("value"))
      .groupBy("event_type", "bin")
      .agg(
        count(lit(1)).as("n_rows"),
        floor(lit(100.0) * min("value")).cast("long").as("min_val_x100"),
        floor(lit(100.0) * max("value")).cast("long").as("max_val_x100"))
      .orderBy("event_type", "bin")
  }

  /** The REPLAYABLE at-scale approximate quantile (r19) — the road
    * [[quantileBinsApprox]]'s adjudication leaves open: GK summaries
    * are merge-shape-dependent (honestly not hash-verifiable), but a
    * DETERMINISTIC-HASH SAMPLE is a pure set function of the data, so
    * exact quantiles OF THE SAMPLE give an order-free approximate
    * quantile the DuckDB oracle replays bit-for-bit — this key is
    * hash-verified, closing the family's verification gap from the
    * side the math allows.
    *
    * Plan: (1) sample = rows where `xxhash64(event_id) ≡ 0 (mod
    * sampleMod)` — hash-based, so the sample is unbiased even when
    * values correlate with id order, and the SQL replay rides the
    * established XXH64.hashLong CTE chain (`SqlU64.xxh64Long`, the
    * band-fold machinery). (2) Exact k-quantile cuts of the sample
    * per group: [[DistRank.withPrefix]] (value, event_id) ranks —
    * window-free — keeping sample rows at ranks (m·j) div k; a group
    * with fewer than k sample rows keeps one bin. (3) Every corpus
    * row buckets ROW-LOCALLY against its group's broadcast cut list
    * ((k−1)·|groups| structs) by counting cuts strictly below its
    * (value, event_id) pair — the lexicographic tie-break makes the
    * binning exact-deterministic, not just value-deterministic.
    * Rank error vs true quantiles is the sampling error
    * (O(sqrt(sampleMod/n)) relative), priced in AnalyticsSpec against
    * the exact operator. At 100 TB: one pushdown-friendly sample
    * filter, rank passes over n/sampleMod rows, a KB-scale cut
    * broadcast, one final agg — no global sort, no per-group funnel,
    * no sketch-merge nondeterminism.
    */
  def quantileBinsSampled(s: SparkSession, dir: String, k: Int = 4,
                          sampleMod: Int = 8): DataFrame = {
    // k >= 2: a 1-bin quantile is degenerate, and k=1 would make the
    // cut filter's sequence(1, 0) return Spark's DESCENDING [1, 0] —
    // j=1 then matches rank m and every group's last sample row becomes
    // a spurious cut (2 bins instead of 1; r19 ADVICE).
    require(k >= 2, s"bin count $k must be >= 2")
    require(sampleMod > 0, s"sampleMod $sampleMod must be positive")
    val ev = graft.Caches.cached(Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), col("value")))
    val sample = ev.filter(pmod(xxhash64(col("event_id")), lit(sampleMod)) === 0)
    val ranked = DistRank.withPrefix(sample, Seq("event_type"),
      Seq(col("value"), col("event_id")), lit(1L), "r", groupTotalOut = Some("m"))
    val cuts = ranked
      .filter(col("m") >= k)
      .withColumn("js", expr(s"filter(sequence(1, $k - 1), j -> (m * j) div $k = r)"))
      .filter(size(col("js")) > 0)
      .withColumn("j", explode(col("js")))
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("value").as("cv"),
                                          col("event_id").as("cid")))).as("cuts"))
    // Unconditional broadcast is CORRECT here, unlike SF-growing dims:
    // the cut table is structurally bounded at (k−1)·|event types|
    // rows regardless of corpus size (the same bounded-aggregate
    // argument as annFilteredIvf's occupancy table). The size-guarded
    // hint declines it anyway — DistRank's ExistingRDD output has no
    // usable stats — and the fallback SMJ re-exchanges the whole
    // corpus on a |types|-ary key: the one plan this operator exists
    // to avoid (pinned in PlanQualitySpec).
    ev.join(broadcast(cuts), Seq("event_type"), "left")
      .select(col("event_type"),
              when(col("cuts").isNull, lit(1L))
                .otherwise(lit(1) + expr(
                  "size(filter(cuts, c -> c.cv < value OR (c.cv = value AND c.cid < event_id)))"))
                .cast("long").as("bin"),
              col("value"))
      .groupBy("event_type", "bin")
      .agg(
        count(lit(1)).as("n_rows"),
        floor(lit(100.0) * min("value")).cast("long").as("min_val_x100"),
        floor(lit(100.0) * max("value")).cast("long").as("max_val_x100"))
      .orderBy("event_type", "bin")
  }

  /** Interval coalescing (merge overlapping intervals per key) — the
    * classic episode builder behind SLA windows, machine-uptime
    * stitching and inventory-hold reports. Intervals here are order
    * fulfillment spans: [o_orderdate, last l_shipdate of the order],
    * merged per customer into contiguous procurement episodes
    * (intervals that overlap or touch on a day fuse).
    *
    * Shape: last-ship is ONE partial-aggregated shuffle on orderkey;
    * the orders⋈last_ship join is key-partitioned on orderkey (both
    * sides grow — nothing broadcasts); the merge itself is the
    * running-max-end trick — sort each customer's intervals by start,
    * a row opens a new episode iff its start exceeds the max end seen
    * so far, episode id = running sum of those flags. One window
    * shuffle on custkey; the episode rollup reuses that partitioning
    * (grouping keys are a superset). No self-join, no explosion — the
    * naive interval-overlap self-join is O(n²) per key and never
    * appears.
    */
  def mergeIntervals(s: SparkSession, dir: String): DataFrame =
    mergeIntervalsOver(fulfillmentSpans(s, dir), "o_custkey")
      .orderBy("o_custkey", "episode")

  /** The (key, start_day, end_day) fulfillment spans both
    * [[mergeIntervals]] and [[backlogOverTime]] consume: order date →
    * last shipment, day-granular, clamped so end ≥ start holds
    * whatever the generator did (fulfillment can't end before it
    * starts).
    */
  def fulfillmentSpans(s: SparkSession, dir: String): DataFrame = {
    val epoch = to_date(lit("1970-01-01"))
    val lastShip = Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(max(to_date(col("l_shipdate"))).as("last_ship"))
    Tables.orders(s, dir)
      .join(lastShip, col("o_orderkey") === col("l_orderkey"))
      .select(
        col("o_custkey"),
        datediff(to_date(col("o_orderdate")), epoch).cast("long").as("start_day"),
        greatest(
          datediff(to_date(col("o_orderdate")), epoch).cast("long"),
          datediff(col("last_ship"), epoch).cast("long")).as("end_day"))
  }

  /** [[mergeIntervals]]'s core over any (keyCol, start_day, end_day)
    * frame — factored so PropertySpec can drive seeded random interval
    * sets through it against a brute-force union reference.
    */
  def mergeIntervalsOver(iv: DataFrame, keyCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col("start_day"), col("end_day"))
    val prevMax = max(col("end_day")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    iv.withColumn("is_new", when(prevMax.isNull || col("start_day") > prevMax, 1).otherwise(0))
      .withColumn("episode",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(keyCol), col("episode"))
      .agg(
        min("start_day").as("episode_start_day"),
        max("end_day").as("episode_end_day"),
        count(lit(1)).as("n_intervals"))
  }

  /** Open-order backlog over time (event-sourcing cumsum): how many
    * orders were simultaneously in flight on each change day — the
    * inventory/backlog/occupancy primitive. The scale-correct shape is
    * ±1 DELTAS, never an interval×calendar join: each fulfillment span
    * emits (+1 at open, −1 the day after close), deltas partial-
    * aggregate to the BOUNDED day key space first, and only then does
    * a running sum order the days — the global sort ranks |days| rows
    * (thousands), not |orders| (billions). Same fulfillment intervals
    * as [[mergeIntervals]]; `open_orders` is the running balance as of
    * each day with activity.
    */
  def backlogOverTime(s: SparkSession, dir: String): DataFrame =
    backlogOver(fulfillmentSpans(s, dir)).orderBy("day")

  /** [[backlogOverTime]]'s core over any (start_day, end_day) interval
    * frame (inclusive bounds) — factored for the PropertySpec
    * coverage-count cross-check.
    */
  def backlogOver(iv: DataFrame): DataFrame = {
    val deltas = iv.select(col("start_day").as("day"), lit(1L).as("delta"))
      .unionAll(iv.select((col("end_day") + 1L).as("day"), lit(-1L).as("delta")))
    val byDay = deltas.groupBy("day").agg(sum("delta").as("net_change"))
    byDay
      .withColumn("open_orders",
        sum(col("net_change")).over(
          Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** CUBE grouping sets with `grouping_id` — [[rollupFlagStatus]]'s
    * sibling covering ALL 2^n subtotal combinations (rollup emits only
    * the hierarchy's prefixes), with the bitmask exposing which
    * dimensions each row aggregates away. Still one shuffle: Spark
    * plans grouping sets as a single Expand + partial-aggregated
    * hash aggregate.
    */
  def cubeFlagStatus(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"),
           count(lit(1)).as("n_rows"), sum2(col("l_extendedprice")).as("sum_price"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("gid"), col("n_rows"), col("sum_price"))
      .orderBy("gid", "returnflag", "linestatus")
  }

  /** Day-of-week × hour activity matrix with share-of-total — the
    * seasonality heatmap behind capacity planning. Weekday comes from
    * ENGINE-NEUTRAL integer arithmetic ((epoch_days + 3) mod 7, 0 =
    * Monday — 1970-01-01 was a Thursday) rather than each engine's
    * dayofweek(), whose 0/1-base and week start differ. One
    * partial-aggregated shuffle over the 7×24-bounded key space; the
    * 1-row total broadcasts back (constant size).
    */
  def seasonalityProfile(s: SparkSession, dir: String): DataFrame = {
    val cells = graft.Caches.cached(
      Tables.events(s, dir)
        .select(
          pmod(datediff(to_date(col("ts")), to_date(lit("1970-01-01"))) + 3, lit(7))
            .cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hour_of_day"))
        .groupBy("dow", "hour_of_day")
        .agg(count(lit(1)).as("n_events")))
    val total = cells.agg(sum("n_events").as("total_events"))
    cells.crossJoin(broadcast(total))
      .select(col("dow"), col("hour_of_day"), col("n_events"),
              floor(lit(10000.0) * col("n_events") / col("total_events"))
                .cast("long").as("share_x10000"))
      .orderBy("dow", "hour_of_day")
  }

  /** Zero-filled daily series per user (gap fill): every day between a
    * user's first and last activity gets a row, absent days as
    * (0, 0.0) — the densification step dashboards and forecasting
    * models need before windowed math. The dense day spine is
    * generated ROW-LOCALLY per user (`sequence` + explode over the
    * user's own [min, max] span — never a calendar-dim cross join),
    * so the explode factor is each user's span, not a global range.
    * The daily rollup is cached: spans derive from it and the fill
    * left-joins back to it, and without the cache Spark would re-run
    * the events scan + aggregation for each reference. Both joins are
    * key-partitioned on user_id; nothing broadcasts (users grow with
    * the data).
    */
  def gapFillDays(s: SparkSession, dir: String): DataFrame = {
    val daily = graft.Caches.cached(
      Tables.events(s, dir)
        .select(col("user_id"),
                datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
                  .cast("long").as("day"),
                col("value"))
        .groupBy("user_id", "day")
        .agg(count(lit(1)).as("n_events"), sum2(col("value")).as("day_value")))
    val spans = daily.groupBy("user_id").agg(min("day").as("d0"), max("day").as("d1"))
    spans.select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
              coalesce(col("n_events"), lit(0L)).as("n_events"),
              coalesce(col("day_value"), lit(0.0)).as("day_value"))
      .orderBy("user_id", "day")
  }

  /** Event-type transition matrix (first-order Markov counts): for
    * each user's time-ordered stream, count (previous type → type)
    * adjacencies, with the per-source transition probability as
    * floor(10000·n/total) — the path-analysis primitive behind "what
    * do users do after X". One window shuffle on user_id (lag over
    * the per-user sort), then a partial-aggregated groupBy on the
    * pair key whose result is bounded by |types|² — the probability
    * window runs over that tiny table, not the stream. The division
    * is evaluated in double in one fixed order (10000·n then ÷),
    * exact below 2^53, so the floor is engine-identical.
    */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
    val counts = Tables.events(s, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n_transitions"))
    counts
      .withColumn("p_x10000",
        floor(lit(10000.0) * col("n_transitions")
              / sum(col("n_transitions")).over(Window.partitionBy("prev_type")))
          .cast("long"))
      .orderBy("prev_type", "event_type")
  }

  /** Heavy-hitter skew report: the `topK` hottest keys with their row
    * counts and share of the table (floor(10000·n/total)) — the
    * diagnostic run before choosing salting factors or AQE skew
    * thresholds (the `salted_join_skew` operator's sizing input).
    * Per-key counts are one partial-aggregated shuffle (bounded by
    * |keys|, ≪ rows, and cached because the global total re-reads
    * it); the total is a 1-row aggregate broadcast back — a
    * constant-size broadcast, legitimate at any scale, unlike a
    * growing-dimension one. Top-k lands as TakeOrderedAndProject:
    * partial top-k per partition, never a global sort.
    */
  def skewReport(s: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val perKey = graft.Caches.cached(
      Tables.events(s, dir).groupBy("user_id").agg(count(lit(1)).as("n_rows")))
    val total = perKey.agg(sum("n_rows").as("total_rows"))
    perKey.crossJoin(broadcast(total))
      .select(col("user_id"), col("n_rows"),
              floor(lit(10000.0) * col("n_rows") / col("total_rows"))
                .cast("long").as("share_x10000"))
      .orderBy(col("n_rows").desc, col("user_id"))
      .limit(topK)
  }

  /** Mergeable HLL sketch states — the incremental form of
    * [[approxDistinctUsers]]: distinct users are sketched PER DAY
    * (`hll_sketch_agg`, a partial-aggregated DataSketches state), the
    * daily states union per type (`hll_union_agg`), and only then
    * does the estimate read out. At 100 TB this is the
    * reaggregatable-rollup contract: day sketches persist once and
    * any horizon (week/month/all-time) is a cheap union of states —
    * the raw stream is never rescanned, which no exact distinct can
    * offer. Approximate by construction → rows-only for the driver;
    * AnalyticsSpec pins the estimates against exact distincts and
    * proves merge-order invariance.
    */
  def hllStates(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .select(col("event_type"),
              datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
                .cast("long").as("day"),
              col("user_id"))
      .groupBy("event_type", "day")
      .agg(expr("hll_sketch_agg(user_id)").as("day_sketch"))
      .groupBy("event_type")
      .agg(
        expr("hll_sketch_estimate(hll_union_agg(day_sketch))").as("merged_users"),
        count(lit(1)).as("n_days"))
      .orderBy("event_type")
  }

  /** EXACT mergeable distinct counts via 64-bit word bitmaps — the
    * middle ground between `COUNT(DISTINCT)` (exact, but its partial
    * state is the value set itself) and HLL (constant state, ~2%
    * error): user ids pack into words of 64 presence bits
    * (word = id div 64, bit = id mod 64), `bit_or` merges words
    * map-side, and popcounts sum to the exact distinct. Both levels
    * partial-aggregate; state is 8 bytes per 64 ids SEEN — like the
    * HLL-states rollup, day/source partials of these words merge by
    * plain `bit_or` without rescanning the stream, but the answer is
    * exact. Assumes reasonably dense ids (state scales with id RANGE
    * /64, the classic roaring-bitmap refinement territory when ids
    * are sparse). Fully oracle-checkable, unlike any sketch.
    *
    * PRECONDITION: ids must be non-negative. Spark's integral `div`
    * truncates toward zero while the oracle's `//` floors, so a
    * negative id would land in a different word per engine (-1 div 64
    * = 0 vs -1). events.user_id is non-negative by construction; a
    * signed key needs an explicit floor-div word index.
    */
  def bitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy(col("event_type"), expr("user_id div 64").as("word_idx"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT)))").as("word"))
      .groupBy("event_type")
      .agg(
        sum(expr("bit_count(word)")).cast("long").as("n_distinct_users"),
        count(lit(1)).as("n_words"))
      .orderBy("event_type")
  }

  /** [[bitmapDistinct]] for SPARSE (or negative) id domains — the
    * documented limit of the dense road removed: ids are
    * dictionary-encoded to dense 0-based ranks first (one global
    * distinct + [[DistRank.withPrefix]] rank — the window-free global
    * row_number), and the word bitmap is built over RANKS, so word
    * occupancy is maximal regardless of how the raw id space is
    * shaped: 10⁹ ids scattered over a 64-bit hash domain still pack
    * into ~10⁹/64 words, where the dense road would key a word per
    * OCCUPIED 64-id stripe of the raw domain (fine) but break
    * outright on negative ids (shiftleft of a negative mod) and lose
    * all packing on hash-shaped ids (one bit per word → the bitmap
    * saves nothing for the overlap join). This is the roaring-style
    * two-level idea with the dictionary AS the container map; the
    * dictionary is the reusable per-corpus artifact a production
    * deployment keeps next to the corpus (the same
    * build-once/serve-many contract as the IVF/codebook models).
    * Cost: one distinct + one rank pass + one equi-join on user_id —
    * all key-partitioned shuffles, nothing driver-held, nothing
    * broadcast at corpus scale.
    */
  def bitmapDistinctSparse(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val dict = DistRank.withPrefix(
      ev.select(col("user_id")).distinct(), Nil,
      Seq(col("user_id")), lit(1L), "rank")
    ev.select("event_type", "user_id").join(dict, "user_id")
      .groupBy(col("event_type"), expr("(rank - 1) div 64").as("word_idx"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST((rank - 1) % 64 AS INT)))").as("word"))
      .groupBy("event_type")
      .agg(
        sum(expr("bit_count(word)")).cast("long").as("n_distinct_users"),
        count(lit(1)).as("n_words"))
      .orderBy("event_type")
  }

  /** Audience overlap between event types, EXACTLY, via the
    * [[bitmapDistinct]] machinery: |A∩B| is the popcount of the
    * bitwise AND of the two types' presence-bit words, |A∪B| derives
    * as n_a + n_b − common, and the pair's Jaccard follows — the
    * "how many users did BOTH" analysis that HLL sketches can only
    * approximate via inclusion-exclusion (with compounding error) and
    * exact COUNT(DISTINCT) can only answer by re-shuffling the raw
    * stream per pair. Here the stream is scanned ONCE into the cached
    * word table; the pair join is word-aligned (key = word_idx,
    * bounded by id-range/64), per-type totals are a types-bounded
    * frame joined back through the size guard. Same dense-id /
    * non-negative-id preconditions as [[bitmapDistinct]].
    */
  def bitmapOverlap(s: SparkSession, dir: String): DataFrame = {
    val words = graft.Caches.cached(
      Tables.events(s, dir)
        .groupBy(col("event_type"), expr("user_id div 64").as("word_idx"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT)))").as("word")))
    val totals = words.groupBy("event_type")
      .agg(sum(expr("bit_count(word)")).cast("long").as("n"))
    val a = words.select(col("event_type").as("type_a"), col("word_idx"), col("word").as("wa"))
    val b = words.select(col("event_type").as("type_b"), col("word_idx"), col("word").as("wb"))
    a.join(b, Seq("word_idx"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(sum(expr("bit_count(wa & wb)")).cast("long").as("common_users"))
      .filter(col("common_users") > 0)
      .join(Hints.maybeBroadcast(totals.select(col("event_type").as("type_a"), col("n").as("n_a"))), Seq("type_a"))
      .join(Hints.maybeBroadcast(totals.select(col("event_type").as("type_b"), col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("common_users"),
              floor(lit(10000.0) * col("common_users")
                    / (col("n_a") + col("n_b") - col("common_users")))
                .cast("long").as("jaccard_x10000"))
      .orderBy("type_a", "type_b")
  }

  /** HLL approximate distinct — the 100 TB way to count users.
    * Hash-verified since r17: approximate does NOT mean unreplayable —
    * Spark's HLL++ is a deterministic function of the input set, so
    * the oracle replays it end to end (XXH64.hashLong registers,
    * exact-integer zInverse, the published bias tables' k=6
    * interpolation, both estimator branches; see SparkEntry's HLL
    * oracle generator and SURVEY §5's last-ulp caveat).
    */
  def approxDistinctUsers(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")
  }

  /** Batch twin of [[EventStreams.windowedCounts]]: the stream's own
    * plan over the bounded events table (the analyzer drops its
    * watermark on a batch source), window start in epoch seconds.
    */
  def streamWindowedCounts(s: SparkSession, dir: String): DataFrame =
    EventStreams.windowedCounts(Tables.events(s, dir))
      .select(epochS(col("window_start")).as("window_start_s"),
              col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_start_s", "event_type")

  /** Batch twin of the streaming quarantine front door
    * ([[EventStreams.quarantineCounts]], run over the bounded events
    * table): per day window × type, row/ok/quarantined counts under
    * [[EventStreams.quarantineOk]], the verdict whose lifetime totals
    * [[EtlOps.ingestQuarantine]] reports per type.
    */
  def streamQuarantine(s: SparkSession, dir: String): DataFrame =
    EventStreams.quarantineCounts(Tables.events(s, dir))
      .select(epochS(col("window_start")).as("window_start_s"),
              col("event_type"), col("n_rows"), col("n_ok"), col("n_quarantined"))
      .orderBy("window_start_s", "event_type")

  /** Batch twin of the streaming windowed heavy-hitters sketch
    * ([[EventStreams.windowHeavyHitters]], run over the bounded events
    * table). Oracle-exact per window because k=64 exceeds the
    * event-type cardinality (see [[topkHeavyHitters]]).
    */
  def streamHeavyHitters(s: SparkSession, dir: String, k: Int = 64): DataFrame =
    EventStreams.windowHeavyHitters(Tables.events(s, dir), k)
      .select(epochS(col("window_start")).as("window_start_s"),
              col("item"), col("est_count"))
      .orderBy("window_start_s", "item")

  /** Sliding-window counts (1-hour windows every 15 minutes), the batch
    * twin of [[EventStreams.slidingCounts]] run over the bounded events
    * table: each event belongs to exactly width/slide = 4 overlapping
    * windows, so the aggregate's input replicates 4× BEFORE the
    * shuffle — that multiplier is the sliding window's intrinsic cost
    * and the reason production dashboards prefer tumbling + rollup
    * when freshness allows; when they don't, this is the shape, and
    * the partial aggregation still combines map-side so only (window,
    * type) partials cross the wire. Windows are epoch-aligned,
    * matching the oracle's slide-floor arithmetic exactly.
    */
  def streamSlidingCounts(s: SparkSession, dir: String): DataFrame =
    EventStreams.slidingCounts(Tables.events(s, dir))
      .select(epochS(col("window_start")).as("window_start_s"),
              col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_start_s", "event_type")

  /** Batch twin of the native session_window aggregation
    * ([[EventStreams.sessionWindowCounts]], run over the bounded events
    * table): one session-merging aggregate per user, session end =
    * last event + 30 min gap, end-exclusive (events exactly a gap
    * apart split). Complements [[sessionizeEvents]], which keeps
    * PER-EVENT rows via the manual lag+cumsum spine — this form is the
    * per-SESSION rollup, and at 100 TB it is one partial-merging
    * shuffle on the user key with constant state per open session.
    */
  def streamSessionWindows(s: SparkSession, dir: String): DataFrame =
    EventStreams.sessionWindowCounts(Tables.events(s, dir))
      .select(col("user_id"),
              epochS(col("session_start")).as("session_start_s"),
              epochS(col("session_end")).as("session_end_s"),
              col("n_events"), col("session_value"))
      .orderBy("user_id", "session_start_s")

  /** Batch-equivalent of the stream-static enrichment
    * (graft.streaming.EventStreams.enrich — identical join, bounded
    * source): each event left-joins its user's customer segment
    * through the size-guarded broadcast.
    */
  def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val c = Tables.customer(s, dir)
    EventStreams.enrich(e, c)
      .select(col("event_id"), col("user_id"), col("segment"), col("value"))
      .orderBy("event_id")
  }

  /** Batch-equivalent of the stream-stream event-time interval join
    * (graft.streaming.EventStreams.intervalJoin — purchases matched to
    * each signup within (0, horizon]): equi-join on the user key with
    * the time bound as a post-filter, at full ns precision — written
    * apart from the streaming twin, which compares at Spark's µs
    * timestamp grain. One
    * key-partitioned shuffle per side; the per-user pair expansion is
    * the interval join's intrinsic output, bounded by each user's own
    * signup×purchase counts — never a time-range cross join across
    * users.
    */
  def streamIntervalJoin(s: SparkSession, dir: String, horizonSec: Long = 3600): DataFrame = {
    val ev = Tables.events(s, dir)
    val sg = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_event_id"),
              col("ts_ns").as("s_ns"))
    val pu = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
              col("ts_ns").as("p_ns"), col("value"))
    sg.join(pu, Seq("user_id"))
      .filter(col("p_ns") > col("s_ns")
        && col("p_ns") <= col("s_ns") + lit(horizonSec * 1000000000L))
      .select(col("user_id"), col("signup_event_id"), col("purchase_event_id"),
              expr("s_ns div 1000000000").as("signup_s"),
              expr("p_ns div 1000000000").as("purchase_s"),
              col("value").as("purchase_value"))
      .orderBy("user_id", "signup_event_id", "purchase_event_id")
  }

  /** Batch-equivalent of the streaming CDC latest-wins register
    * (graft.streaming.EventStreams.cdcState — same change→state
    * collapse on a bounded source): per key, the change log's latest
    * row by the (ts_ns, event_id) total order, `error` events as
    * tombstones; `is_live=false` IS the delete, kept visible so a
    * sink can propagate it. One window shuffle on the key with
    * WindowGroupLimit pruning (rn=1); value in exact cents for the
    * hash oracle. Where [[graft.operators.EtlOps.cdcApply]] merges
    * the collapsed log onto a base snapshot, this key is the collapse
    * itself — the state the stream twin holds per key. Written apart
    * from [[EventStreams.cdcState]], a typed per-key register that a
    * batch source has no plan for.
    */
  def streamCdcApply(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ns").desc, col("event_id").desc)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_ns"),
              when(col("event_type") === "error", "D").otherwise("U").as("op"),
              floor(col("value") * 100).cast("long").as("cents"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
              expr("ts_ns div 1000000000").as("last_ts_s"),
              col("op").as("last_op"), (col("op") =!= "D").as("is_live"),
              col("cents").as("last_value_cents"))
      .orderBy("user_id")
  }

  /** Batch-equivalent of streaming dropDuplicates: first occurrence per
    * (user_id, event_type) by event time. Written apart from
    * [[EventStreams.dedupIds]], which keeps the first ARRIVAL (the same
    * row only for an in-order replay).
    */
  def streamDedupIds(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts_ns"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
              col("event_id").as("first_event_id"),
              epochS(col("ts")).as("first_ts_s"))
      .orderBy("user_id", "event_type")
  }

  /** Heavy hitters of the event-type stream via the engine's
    * [[graft.functions.FreqSketch]] Misra-Gries aggregate — the
    * frequency member of the sketch family ([[hllStates]] distinct,
    * [[bitmapDistinct]] membership): top items in ONE pass with ≤ k
    * counters per (partition, group) of state, where exact
    * `groupBy(item).count` shuffles the item cardinality (at 100 TB
    * the hot-key question must not cost a full-cardinality shuffle —
    * that shuffle IS the skew being diagnosed). Partial sketches
    * merge through ObjectHashAggregate like any built-in aggregate.
    *
    * Oracle-checkable because k=64 exceeds the event-type
    * cardinality, where Misra-Gries provably degenerates to the
    * EXACT count map (no decrement ever fires, so the sketch is
    * order-independent); the approximation regime's guarantee
    * (undercount ≤ n/(k+1), every item with count > n/(k+1)
    * present) is spec-pinned on adversarial streams instead.
    */
  def topkHeavyHitters(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    graft.plans.GraftFunctions.ensureRegistered(s)
    Tables.events(s, dir)
      .agg(call_function("graft_freq_sketch", col("event_type"), lit(k)).as("sketch"))
      .select(explode(col("sketch")).as(Seq("item", "est_count")))
      .orderBy("item")
  }

  /** Per-user lag features over the purchase stream — the feature-
    * engineering primitive every churn/LTV training table starts
    * from (previous amount, spend delta, inter-purchase gap, running
    * purchase index). All three window functions share ONE window
    * spec, so the whole feature block costs a single user-keyed
    * sort-shuffle and lands in one Window operator (the [[scd2Build]]
    * shared-window discipline). Cents are exact longs and the gap is
    * integral seconds from the ns clock — engine-portable where
    * float money/time never hash. First-purchase rows carry null
    * prev/delta/gap (nothing to look back at ≠ zero).
    */
  def windowLagFeatures(s: SparkSession, dir: String): DataFrame =
    lagFeaturesOver(
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_ns"),
          floor(col("value") * 100).cast("long").as("cents")))
      .orderBy("user_id", "seq")

  /** [[windowLagFeatures]]'s window body over an explicit purchase
    * frame (user_id, event_id, ts_ns, cents) — factored so
    * PropertySpec can drive it with arbitrary generated sequences
    * (tied timestamps at any grain, single-purchase users, shuffled
    * input order) against a single-node recompute.
    */
  def lagFeaturesOver(purchases: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
    purchases
      .withColumn("seq", row_number().over(w).cast("long"))
      .withColumn("prev_cents", lag("cents", 1).over(w))
      .withColumn("delta_cents", col("cents") - col("prev_cents"))
      .withColumn("prev_ns", lag("ts_ns", 1).over(w))
      // integral div: a double ns quotient loses exactness past 2^53
      .withColumn("gap_s", expr("(ts_ns - prev_ns) div 1000000000"))
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000000000").as("ts_s"),
        col("cents"), col("seq"), col("prev_cents"), col("delta_cents"), col("gap_s"))
  }

  /** Trailing-window DISCRETE median of purchase value per user — the
    * robust running level (a median shrugs off the outlier spike that
    * drags [[userEwmaSpend]]'s mean-family signal): over each user's
    * last `win` purchases (ROWS frame), the lower median of exact
    * cents, computed as element (n+1)/2 of the sorted frame — an INPUT
    * VALUE, never an interpolation, so it hash-matches DuckDB's
    * `quantile_disc(0.5)` whose index floor(0.5·(n−1)) lands on the
    * same element for every n. One sort-shuffle on the user key; the
    * collect_list frame state is bounded by `win`, not history.
    */
  def rollingMedianSpend(s: SparkSession, dir: String, win: Int = 5): DataFrame =
    rollingMedianOver(
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_ns"),
          floor(col("value") * 100).cast("long").as("cents")),
      win)
      .orderBy("user_id", "event_id")

  /** [[rollingMedianSpend]]'s window body over an explicit purchase
    * frame (user_id, event_id, ts_ns, cents) — factored so
    * PropertySpec can drive it with arbitrary generated sequences
    * (frame edges n=1..win, tied timestamps) against a single-node
    * sliding lower-median recompute.
    */
  def rollingMedianOver(purchases: DataFrame, win: Int): DataFrame = {
    require(win >= 1, s"window $win must be >= 1")
    val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
      .rowsBetween(-(win - 1), 0)
    purchases
      .withColumn("frame", collect_list(col("cents")).over(w))
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000000000").as("ts_s"), col("cents"),
        size(col("frame")).cast("long").as("n_in_frame"),
        element_at(array_sort(col("frame")),
          ((size(col("frame")) + 1) / 2).cast("int")).as("median_cents"))
  }

  /** Per-user exponentially-weighted spend level — the classic
    * recency-weighted engagement signal (recent purchases count more
    * than old ones), made hash-checkable by keeping the recursion
    * INTEGRAL: values enter as exact cents, each step is
    * acc' = (30·x + 70·acc) div 100 (α = 0.3), and the fold seeds
    * with the FIRST purchase — the same semantics as a list_reduce,
    * so the oracle is one expression. A float EWMA's rounding drifts
    * with evaluation order; the integer recursion cannot.
    *
    * Plan: purchases collapse to one ordered array per user
    * (array_sort over (ts_ns, event_id, cents) structs — per-key
    * state bounded by the user's own purchase history, the same
    * contract as chunk reassembly), then the fold runs row-local via
    * the `aggregate` HOF. One shuffle on the user key, nothing else.
    */
  def userEwmaSpend(s: SparkSession, dir: String): DataFrame =
    ewmaOver(
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_ns"), col("event_id"),
          floor(col("value") * 100).cast("long").as("cents")))
      .orderBy("user_id")

  /** [[userEwmaSpend]]'s fold over an explicit purchase frame
    * (user_id, ts_ns, event_id, cents) — factored so PropertySpec
    * can drive it with arbitrary generated sequences (any input
    * order, tied timestamps, single-purchase users) against a
    * single-node integral fold.
    */
  def ewmaOver(purchases: DataFrame): DataFrame = {
    purchases
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
        array_sort(collect_list(struct(col("ts_ns"), col("event_id"), col("cents"))))
          .as("seq"))
      .select(col("user_id"), col("n_purchases"),
        element_at(col("seq"), -1)("cents").as("last_cents"),
        aggregate(
          expr("slice(seq, 2, size(seq) - 1)"),
          element_at(col("seq"), 1)("cents"),
          // floor == DuckDB's integer // here: purchase cents are
          // non-negative by domain, and the sum stays far below 2^53
          (acc, x) => floor((lit(30L) * x("cents") + lit(70L) * acc) / lit(100L))
            .cast("long"))
          .as("ewma_cents"))
  }

  /** Last-observation-carried-forward imputation per user — the
    * standard time-series gap fill (sensor dropouts, sparse telemetry):
    * here "readings" arrive only on purchase events and every other
    * event carries the user's last known reading forward (null until
    * the first). `last(ignoreNulls)` over the (ts_ns, event_id)
    * user-ordered running frame is ONE sort-shuffle on the user key —
    * the self-join formulation ("latest earlier reading per row") is
    * an as-of join per event, strictly worse. The filled value is a
    * verbatim COPY of an input double (no arithmetic), so the hash
    * compare is exact by construction.
    */
  def gapFillLocf(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_ns"),
        when(col("event_type") === "purchase", col("value")).as("reading"))
      .withColumn("filled", last(col("reading"), ignoreNulls = true).over(w))
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000000000").as("ts_s"),
        col("reading"), col("filled"))
      .orderBy("user_id", "event_id")
  }

  /** Batch twin of the trending-topics pattern: the stream's counts
    * step ([[EventStreams.trendingCounts]]) and its per-snapshot
    * ranking ([[EventStreams.rankTrending]]) run over the bounded
    * events table, so stream and batch cannot drift: hourly tumbling
    * counts per event type, top-k per window by (count desc, type).
    * One windowed partial agg + one rank window whose key space is
    * hours×types, map-side WindowGroupLimit pruning before the
    * exchange.
    */
  def streamTopkTrending(s: SparkSession, dir: String, k: Int = 3): DataFrame =
    EventStreams.rankTrending(EventStreams.trendingCounts(Tables.events(s, dir)), k)
      .select(epochS(col("window_start")).as("window_start_s"),
              col("rank"), col("event_type"), col("n_events"))
      .orderBy("window_start_s", "rank")

  /** RFM customer segmentation (recency / frequency / monetary — the
    * classic warehouse marketing cut) over orders: metrics are ONE
    * per-customer partial agg (monetary in exact cents —
    * floor(100·price) longs, so the sum is order-independent where a
    * double sum of prices never hashes; the reference date is the
    * corpus max order date, broadcast from a 1-row agg, so the result
    * is a pure function of the table), quintiles carry NTILE(5)
    * semantics over the (metric, custkey) total order — the
    * engine-portable exact assignment [[quantileBins]] proved
    * (SQL-standard fill + deterministic tie-break; an
    * interpolated-percentile threshold would put a float ulp between
    * the engines at bucket boundaries). Recency scores INVERT
    * (recent = 5).
    *
    * Scale: the customer key space grows with the corpus, so a bare
    * `ntile(5) OVER (ORDER BY …)` — one task sorting every customer,
    * three times — is the one plan shape this operator must NOT use.
    * Each quintile is instead [[DistRank.withPrefix]]'s two-stage
    * exact rank (range partition → in-cell prefix → bounded offsets
    * frame broadcast back) + [[DistRank.ntileCol]]'s integral NTILE
    * arithmetic: identical bucket assignment (the oracle's NTILE
    * hash-matches), but no task ever sorts more than one range
    * partition's slice. Three metrics → three range shuffles over the
    * (already aggregated, one-row-per-customer) frame.
    */
  def customerRfm(s: SparkSession, dir: String): DataFrame = {
    // Referenced twice (reference-date agg, metric projection) — one
    // shared per-customer aggregate scan.
    val perCust = graft.Caches.cached(Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate"),
        floor(col("o_totalprice") * 100).cast("long").as("price_cents"))
      .groupBy("o_custkey")
      .agg(max(col("o_orderdate")).as("last_order"),
           count(lit(1)).as("frequency"),
           sum(col("price_cents")).as("monetary_cents")))
    val ref = perCust.agg(max(col("last_order")).as("ref_date"))
    val metrics = perCust.crossJoin(broadcast(ref))
      .select(col("o_custkey").as("c_custkey"),
        datediff(col("ref_date"), col("last_order")).cast("long").as("recency_days"),
        col("frequency"), col("monetary_cents"))
    // ONE distributed-rank pass for all three quintiles, not three
    // chained ones (measured 1.78 s → the long-format single pass at
    // ~3× less: DistRank's fixed two-job cost dominates this key, so
    // paying it once over 3n long rows beats paying it three times
    // over n): metrics unpivot row-locally to (customer, metric,
    // value), the metric NAME is the bounded DistRank group key
    // (cardinality 3 — well inside the driver-sync contract), and the
    // per-metric (value, customer) sort order is exactly what each
    // chained pass used, so every quintile boundary — and the hash —
    // is unchanged. One conditional-aggregation pivot folds the three
    // ranked rows back to one row per customer.
    val long = metrics.select(col("c_custkey"), explode(array(
        struct(lit("r").as("metric"), col("recency_days").as("value")),
        struct(lit("f").as("metric"), col("frequency").as("value")),
        struct(lit("m").as("metric"), col("monetary_cents").as("value")))).as("mv"))
      .select(col("c_custkey"), col("mv.metric").as("metric"), col("mv.value").as("value"))
    val ranked = DistRank.withPrefix(long, Seq("metric"),
        Seq(col("value"), col("c_custkey")), lit(1L), "__rfm_rank",
        groupTotalOut = Some("__rfm_n"))
      .withColumn("q", DistRank.ntileCol("__rfm_rank", "__rfm_n", 5))
    def of(m: String, c: String) = max(when(col("metric") === m, col(c)))
    ranked.groupBy("c_custkey")
      .agg(of("r", "value").as("recency_days"),
           of("f", "value").as("frequency"),
           of("m", "value").as("monetary_cents"),
           of("r", "q").as("r_quintile"),
           of("f", "q").as("f_score"),
           of("m", "q").as("m_score"))
      .withColumn("r_score", lit(6L) - col("r_quintile"))
      .withColumn("rfm_segment",
        concat(col("r_score"), col("f_score"), col("m_score")))
      .select("c_custkey", "recency_days", "frequency", "monetary_cents",
              "r_score", "f_score", "m_score", "rfm_segment")
      .orderBy("c_custkey")
  }

  /** 2-D Pareto frontier (skyline) over the part catalog: the parts
    * for which no other part is both cheaper-or-equal AND
    * larger-or-equal with at least one strict — "best price for the
    * size class or better". The textbook formulation is an all-pairs
    * NOT EXISTS dominance test (exactly what the DuckDB oracle runs);
    * at catalog scale that is n² and dead on arrival.
    *
    * The engine instead exploits that the maximize-dimension (p_size)
    * has a BOUNDED domain: one partial-aggregated groupBy yields the
    * per-size min price m[s] (≤ |size domain| rows), a window over
    * that TINY frame computes M[s] = min price over strictly larger
    * sizes (suffix-min — single-partition window, but over a frame
    * bounded by the size domain, not the corpus), and one size-guarded
    * broadcast join back tags every part row-locally:
    * skyline ⇔ price == m[size] ∧ (M[size] null ∨ price < M[size]).
    * Two scans + one bounded shuffle, no self-join of the catalog.
    * Ties at (size, m[size]) all survive — identical points do not
    * dominate each other — matching NOT-EXISTS semantics exactly.
    * For a continuous maximize-dimension the same plan runs on a
    * quantile-grid bucketing of that dimension as a PRUNE (candidates
    * = grid survivors), with the exact dominance test only among the
    * near-frontier remnant.
    *
    * Prices in exact cents (floor ×100) so the frontier is integral
    * arithmetic on both engines.
    */
  def skylinePareto(s: SparkSession, dir: String): DataFrame = {
    val pts = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_size"),
              floor(col("p_retailprice") * 100).cast("long").as("price_cents"))
    val perSize = pts.groupBy("p_size").agg(min("price_cents").as("m"))
    // suffix-min over the bounded per-size frame: M[s] = min m[s'] , s' > s
    val wSuffix = Window.orderBy(col("p_size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perSize.withColumn("bigger_min", min(col("m")).over(wSuffix))
    pts.join(Hints.maybeBroadcast(frontier), Seq("p_size"))
      .filter(col("price_cents") === col("m") &&
              (col("bigger_min").isNull || col("price_cents") < col("bigger_min")))
      .select("p_partkey", "p_size", "price_cents")
      .orderBy("p_size", "p_partkey")
  }

  /** Exact equi-width histogram of order totals — the profile/sketch
    * primitive behind range-partition planning and drift dashboards
    * ([[quantileBins]] is its equi-DEPTH sibling). Bin edges derive
    * from the global [min, max] in integral cents:
    * bin = (cents−mn)·k div (mx−mn+1) — a pure function of three
    * exact integers, so assignment hash-matches any engine.
    *
    * Plan: one partial-aggregated min/max pass reduced to a 1-row
    * frame, broadcast back (the repo's totals-crossJoin idiom), then
    * one row-local bin projection + one bounded-key (≤ k) partial
    * agg. Two scans, one tiny shuffle, nothing corpus-broadcast —
    * the shape survives any scale factor. Observed per-bin min/max
    * ride along so the output doubles as footer-stats evidence.
    * Empty bins are absent (a report row with n=0 has no observed
    * bounds) — mirrored in the oracle.
    */
  def valueHistogram(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    require(k > 0, s"bin count $k must be positive")
    val cents = Tables.orders(s, dir)
      .select(floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val bounds = cents.agg(min("cents").as("mn"), max("cents").as("mx"))
    cents.crossJoin(broadcast(bounds))
      .select(col("cents"),
        expr(s"((cents - mn) * $k) div (mx - mn + 1)").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_orders"),
           min("cents").as("min_cents"), max("cents").as("max_cents"))
      .orderBy("bin")
  }

  /** Conversion-lag distribution — how long signup→purchase takes,
    * as a log2 histogram (the latency-report shape: exponential
    * buckets resolve the fast head without drowning the slow tail).
    * Lag = first purchase STRICTLY after the user's first signup,
    * in whole seconds; bucket = the lag's binary digit count
    * (`length(bin(lag))`, bucket 0 for lag 0) — an INTEGRAL log2
    * every engine computes identically, where `floor(log2(x))`
    * invites libm boundary drift. Complements [[funnelSteps]] (how
    * many convert) with WHEN they convert.
    *
    * Plan: one partial agg for first signups, one key-co-partitioned
    * join + partial agg for first qualifying purchases (user keys
    * scale with the corpus — never broadcast), one bounded-key
    * (≤64 buckets) rollup. No windows.
    */
  def conversionLagHistogram(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts_ns").as("s_ns"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ns").as("p_ns"))
      .join(signups, Seq("user_id"))
      .filter(col("p_ns") > col("s_ns"))
      .groupBy("user_id").agg(min("p_ns").as("p_ns"), min("s_ns").as("s_ns"))
    purchases
      .select(col("user_id"),
        expr("(p_ns - s_ns) div 1000000000").as("delta_s"))
      .select(col("delta_s"),
        when(col("delta_s") === 0, 0L)
          .otherwise(length(bin(col("delta_s"))).cast("long")).as("lag_bucket"))
      .groupBy("lag_bucket")
      .agg(count(lit(1)).as("n_users"),
           min("delta_s").as("min_lag_s"), max("delta_s").as("max_lag_s"))
      .orderBy("lag_bucket")
  }

  /** Last-touch marketing attribution — the channel-credit report the
    * funnel family feeds: every purchase is credited to the LATEST
    * preceding touch event (view/click) of the same user, but only if
    * that touch landed within `lookbackDays` of the purchase;
    * purchases with no in-window touch report as the 'none' channel
    * (organic / out-of-window — the number that tells you how much
    * revenue the touch log cannot explain). Output per channel:
    * conversions, revenue in EXACT CENTS (the [[customerRfm]]
    * floor(100·value) convention — order-independent longs), and the
    * integral ppm share of conversions.
    *
    * Plan: one user-keyed shuffle; the running last-touch is a
    * streamable ROWS frame over (ts_ns, event_id) — the same total
    * order DuckDB replays, so a touch and purchase on a tied
    * timestamp resolve identically in both engines. The channel
    * rollup is a ≤|touch types|+1-key partial agg, and the share
    * denominator is a broadcast 1-row total (never an unpartitioned
    * window). At 100 TB the only data-sized stage is the user
    * partition sort feeding the frame.
    */
  def attributionLastTouch(s: SparkSession, dir: String,
                           lookbackDays: Int = 7): DataFrame = {
    val (events, lookbackNs) = attributionInput(s, dir, lookbackDays)
    attributionOver(events, lookbackNs)
  }

  /** The attribution input both [[attributionLastTouch]] and
    * [[streamAttribution]] read: touch and purchase events (user_id,
    * event_id, ts_ns, event_type, cents in exact floor(100·value)
    * longs), and the lookback in ns.
    */
  private def attributionInput(s: SparkSession, dir: String,
                               lookbackDays: Int): (DataFrame, Long) = {
    require(lookbackDays > 0, s"lookbackDays $lookbackDays must be positive")
    (Tables.events(s, dir)
       .filter(col("event_type").isin("view", "click", "purchase"))
       .select(col("user_id"), col("event_id"), col("ts_ns"), col("event_type"),
               floor(col("value") * 100).cast("long").as("cents")),
     lookbackDays * 86400L * 1000000000L)
  }

  /** [[attributionLastTouch]]'s body over an explicit event frame
    * (user_id, event_id, ts_ns, event_type, cents) — factored so
    * specs can drive crafted fixtures (in-window / expired / missing
    * touches, tied timestamps) against hand-computed credit.
    */
  def attributionOver(events: DataFrame, lookbackNs: Long): DataFrame = {
    val attributed = attributionCreditsOver(events, lookbackNs)
      .select("channel", "cents")
    // Cached: the ≤|touch types|+1-row rollup feeds BOTH the report
    // and the share denominator. Before r21 the denominator was a
    // separate count over `attributed`, and because column pruning
    // makes the two subtrees non-identical, ReuseExchange never fired
    // — the corpus-scale user-keyed sort + window in
    // attributionCreditsOver executed TWICE per invocation (r20
    // verdict: the slowest key in the driver record, 2x its honest
    // cost). Deriving n_total = sum(n_purchases) from the cached
    // bounded rollup executes the window exactly once; the cache
    // holds ≤4 rows and is dropped by the standard Caches.clear()
    // lifecycle.
    val perChannel = graft.Caches.cached(attributed.groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"), sum("cents").as("revenue_cents")))
    val total = perChannel.agg(sum("n_purchases").cast("long").as("n_total"))
    perChannel.crossJoin(broadcast(total))
      .select(col("channel"), col("n_purchases"), col("revenue_cents"),
              expr("1000000 * n_purchases div n_total").as("share_ppm"))
      .orderBy("channel")
  }

  /** The per-PURCHASE credit log both attribution forms share: one row
    * per purchase with its credited channel — [[attributionOver]]
    * rolls it up per channel; the streaming twin
    * ([[graft.streaming.EventStreams.attributionCredits]]) emits
    * exactly these rows continuously. Factored so the credit rule
    * (latest preceding touch in the (ts_ns, event_id) total order,
    * within the lookback, else 'none') exists ONCE.
    */
  def attributionCreditsOver(events: DataFrame, lookbackNs: Long): DataFrame = {
    val isTouch = col("event_type").isin("view", "click")
    val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // ONE window function: the running last-touch is last() over a
    // (ts_ns, type) struct — before r21 this was two separate last()
    // withColumns whose intervening Project blocked CollapseWindow,
    // so the plan carried TWO Window operators walking the same frame
    // (same sort, doubled per-row window-state work). Identical
    // semantics: when(isTouch, struct) is null exactly when the two
    // per-column when()s were, and last(ignoreNulls) picks the same
    // row in the same (ts_ns, event_id) total order.
    events
      .withColumn("lt",
        last(when(isTouch, struct(col("ts_ns").as("ns"), col("event_type").as("ty"))),
             ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_ns"),
        coalesce(when(col("lt.ns") >= col("ts_ns") - lookbackNs, col("lt.ty")),
                 lit("none")).as("channel"),
        col("cents"))
  }

  /** Batch twin of the streaming credit log
    * ([[graft.streaming.EventStreams.attributionCredits]]): the same
    * per-purchase credit rows [[attributionCreditsOver]] defines, at
    * the stream's µs output grain. StreamingSpec pins stream == batch
    * row-for-row, including disorder inside the watermark.
    */
  def streamAttribution(s: SparkSession, dir: String,
                        lookbackDays: Int = 7): DataFrame = {
    val (events, lookbackNs) = attributionInput(s, dir, lookbackDays)
    attributionCreditsOver(events, lookbackNs)
      .select(col("user_id"), col("event_id"),
              expr("ts_ns div 1000").as("ts_us"), col("channel"), col("cents"))
      .orderBy("user_id", "event_id")
  }

  /** Windowed funnel depth (the ClickHouse `windowFunnel` shape): how
    * far each user advances through signup → view → purchase where
    * each step must land within `windowSec` of the PREVIOUS step —
    * the time-bounded strictness [[funnelSteps]] deliberately omits
    * (its steps may be months apart; a campaign analysis wants the
    * chain to happen while the intent is live). First qualifying
    * occurrence per step, ns-precision comparisons, depth 1..3
    * summarized as bounded counts.
    *
    * Plan: one partial agg per step frontier + two user-co-partitioned
    * joins carrying only (user, frontier-ns) — the funnel never
    * windows the raw stream and never self-joins it; the depth rollup
    * is a ≤3-key agg. Late steps outside the window simply fail the
    * range predicate — no watermark machinery needed in batch.
    */
  def funnelWindowDepth(s: SparkSession, dir: String,
                        windowSec: Long = 7 * 86400L): DataFrame = {
    require(windowSec > 0, s"windowSec $windowSec must be positive")
    val horizon = windowSec * 1000000000L
    val ev = Tables.events(s, dir)
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts_ns").as("s_ns"))
    val s2 = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_ns").as("v_ns"))
      .join(s1, Seq("user_id"))
      .filter(col("v_ns") > col("s_ns") && col("v_ns") <= col("s_ns") + lit(horizon))
      .groupBy("user_id").agg(min("v_ns").as("v_ns"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ns").as("p_ns"))
      .join(s2, Seq("user_id"))
      .filter(col("p_ns") > col("v_ns") && col("p_ns") <= col("v_ns") + lit(horizon))
      .groupBy("user_id").agg(min("p_ns").as("p_ns"))
    s1.join(s2.select(col("user_id"), lit(true).as("hit2")), Seq("user_id"), "left")
      .join(s3.select(col("user_id"), lit(true).as("hit3")), Seq("user_id"), "left")
      .select(when(col("hit3"), 3L).when(col("hit2"), 2L).otherwise(1L).as("depth"))
      .groupBy("depth").agg(count(lit(1)).as("n_users"))
      .orderBy("depth")
  }

  /** Time-weighted average of the event `value` per user — the
    * sensor/price-series mean where each reading holds until the next
    * one, so irregular sampling doesn't bias toward burst periods:
    * twa = Σ value·Δt / Σ Δt over consecutive-event intervals.
    *
    * One per-user window (lead over the (ts_ns, event_id) total
    * order) + one per-user partial agg — the [[userEwmaSpend]]
    * precedent: per-user history is activity-bounded, not
    * corpus-bounded, so the window partition key is the right grain
    * at 100 TB. All arithmetic integral: value in cents, Δt in whole
    * seconds (both engines derive them from the same epoch-ns), the
    * weighted sum a cents·seconds long (≤2^50 at any plausible user
    * history), and the average its div quotient — TRUNC division
    * (Spark `div` rounds toward zero; DuckDB's `//` floors, so the
    * oracle spells out the sign handling — negative weighted sums
    * would otherwise diverge by one cent). A user's LAST event
    * has no successor ⇒ no interval; single-event users therefore
    * have no rows, and a zero total duration (all events in one
    * second) yields a null average, never a divide-by-zero.
    */
  def timeWeightedAvg(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts_ns"), col("event_id"),
              floor(col("value") * 100).cast("long").as("cents"),
              expr("ts_ns div 1000000000").as("ts_s"))
    val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    ev.withColumn("next_s", lead(col("ts_s"), 1).over(w))
      .filter(col("next_s").isNotNull)
      .select(col("user_id"), col("cents"), (col("next_s") - col("ts_s")).as("dt_s"))
      .groupBy("user_id")
      .agg(sum(expr("cents * dt_s")).as("num_cent_s"),
           sum("dt_s").as("dur_s"),
           count(lit(1)).as("n_intervals"))
      .withColumn("twa_cents",
        when(col("dur_s") > 0, expr("num_cent_s div dur_s")))
      .orderBy("user_id")
  }

  /** TPC-H Q13 shape: customer order-count distribution — how many
    * customers placed 0, 1, 2, … orders? The teaching point is the
    * AGGREGATE-BEFORE-OUTER-JOIN decorrelation: the textbook form
    * left-joins raw orders to customers and counts per customer
    * (shuffling every order row keyed by customer), but orders
    * collapse to at most |customer| (o_custkey, count) rows FIRST —
    * one partial agg — so the outer join moves a frame bounded by
    * the dimension, not the fact. Zero-order customers surface via
    * the LEFT join's null → coalesce 0 (the row the inner-join form
    * silently drops). Urgent orders are excluded (the reference
    * pattern's "special categories" predicate) BEFORE the collapse,
    * pushed to the parquet scan.
    */
  def q13OrderDistribution(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir)
      .filter(!col("o_orderpriority").startsWith("1-"))
      .groupBy("o_custkey").agg(count(lit(1)).as("c_count"))
    Tables.customer(s, dir).select("c_custkey")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("c_count"), lit(0L)).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q17 shape: small-quantity-order revenue — lines of a
    * brand's small parts whose quantity is below 20% of that part's
    * own average. The correlated scalar subquery
    * `l_quantity < 0.2 * (SELECT AVG(l_quantity) … WHERE l_partkey =
    * p_partkey)` decorrelates to ONE per-part partial aggregate
    * (Σqty, n) joined back to the same filtered line frame — and the
    * 20%-of-average compare stays INTEGRAL by cross-multiplying:
    * `5·qty·n < Σqty` (qty is integral by schema contract), so no
    * float average exists to round differently across engines. Both
    * sides of the self-join carry the part filter (20 parts at sf —
    * broadcast), so the per-part stats frame is bounded by the
    * filtered part list, not the catalog. Output: total revenue in
    * cents and its yearly-average seventh (TPC-H's /7.0 kept as an
    * exact integral div).
    */
  def q17SmallQuantityRevenue(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .filter(col("p_brand") === "Brand#23" && col("p_size") < 15)
      .select("p_partkey")
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
              floor(col("l_extendedprice") * 100).cast("long").as("price_cents"))
      .join(Hints.maybeBroadcast(p), col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "qty", "price_cents")
    val stats = li.groupBy(col("l_partkey").as("sp_key"))
      .agg(sum("qty").as("sum_qty"), count(lit(1)).as("n_lines"))
    li.join(Hints.maybeBroadcast(stats), col("l_partkey") === col("sp_key"))
      .filter(col("qty") * 5 * col("n_lines") < col("sum_qty"))
      .agg(sum("price_cents").as("total_cents"),
           count(lit(1)).as("n_small_lines"))
      .select(col("total_cents"), col("n_small_lines"),
              expr("total_cents div 7").as("avg_yearly_cents"))
  }

  /** TPC-H Q2 shape: minimum-cost supplier per part — for each LARGE
    * part up to a size cap, which EUROPE supplier has quoted the
    * lowest unit price, with the supplier's account standing for the
    * tie-ranked report? The correlated MIN subquery (`ps_supplycost =
    * SELECT MIN(…) WHERE ps_partkey = p_partkey AND europe`)
    * decorrelates to a per-part partial MIN joined back on the part
    * key. Without a partsupp table the (part, supplier) cost relation
    * derives from quoted lines: unit price in EXACT micro-units,
    * `(price_cents · 10000) div qty` — integral division both engines
    * floor identically on non-negative operands, never a double
    * quotient whose boundary ulp could flip a MIN. The EUROPE
    * restriction applies BEFORE the min (the subquery's own
    * predicate), riding the 100-row supplier broadcast; ties on the
    * min all survive, deterministically ordered.
    */
  def q2MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .filter(col("p_type") === "LARGE" && col("p_size") <= 15)
      .select("p_partkey", "p_size")
    val eurSupp = Tables.supplier(s, dir)
      .join(Hints.maybeBroadcast(
              Tables.nation(s, dir).join(
                Hints.maybeBroadcast(
                  Tables.region(s, dir).filter(col("r_name") === "EUROPE")
                    .select("r_regionkey")),
                col("n_regionkey") === col("r_regionkey"))
                .select("n_nationkey", "n_name")),
            col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val quotes = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"),
              expr("(cast(floor(l_extendedprice * 100) as bigint) * 10000) div cast(l_quantity as bigint)")
                .as("unit_micro"))
      .join(Hints.maybeBroadcast(p), col("l_partkey") === col("p_partkey"))
      .join(Hints.maybeBroadcast(eurSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_partkey"), col("p_size"), col("l_suppkey"),
               col("s_name"), col("s_acctbal"), col("n_name"))
      .agg(min("unit_micro").as("pair_min_micro"))
    val partMin = quotes.groupBy(col("p_partkey").as("mp_key"))
      .agg(min("pair_min_micro").as("min_micro"))
    quotes.join(Hints.maybeBroadcast(partMin),
                col("p_partkey") === col("mp_key") &&
                col("pair_min_micro") === col("min_micro"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
              col("p_partkey"), col("p_size"), col("pair_min_micro").as("unit_micro"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q9 shape: product-line profit by supplier nation and order
    * year. Profit per line = revenue − cost, both EXACT integrals:
    * revenue the micro-floored discounted price (the [[q8MarketShare]]
    * convention), cost `retail_cents · qty · 10000` (retail price and
    * integral quantity are schema-exact) standing in for the absent
    * partsupp supplycost. ONE fact-fact shuffle (lineitem ⋈ orders on
    * the order key); the name-filtered part list, supplier→nation map
    * ride size-guarded broadcasts; the final agg groups a bounded
    * (nation × year) key space with map-side partials.
    */
  def q9ProfitByNationYear(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).filter(col("p_name").contains("red"))
      .select("p_partkey", "p_retailprice")
    val sup = Tables.supplier(s, dir)
      .join(Hints.maybeBroadcast(
              Tables.nation(s, dir).select(
                col("n_nationkey"), col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_orderdate")
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
              col("l_quantity").cast("long").as("qty"),
              floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1e6)
                .cast("long").as("rev_micro"))
      .join(Hints.maybeBroadcast(p), col("l_partkey") === col("p_partkey"))
      .join(Hints.maybeBroadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("supp_nation"),
              year(col("o_orderdate")).cast("long").as("o_year"),
              (col("rev_micro") -
               floor(col("p_retailprice") * 100).cast("long") * col("qty") * 10000L)
                .as("profit_micro"))
      .groupBy("supp_nation", "o_year")
      .agg(sum("profit_micro").as("sum_profit_micro"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("supp_nation"), col("o_year").desc)
  }

  /** TPC-H Q11 shape: important-stock screen — parts whose traded
    * value exceeds 1.5× the MEAN part value. TPC-H's own fraction is
    * SF-scaled (0.0001/SF) precisely because a fixed fraction of the
    * total goes vacuous as the catalog grows; anchoring to the mean
    * (`2·val·n_parts > 3·total`) keeps the screen meaningful at ANY
    * scale, and the compare stays INTEGRAL by cross-multiplying — no
    * float fraction or average. The scalar subquery decorrelates to a
    * 1-row broadcast; per-part values and the grand total are the
    * SAME partial-aggregate pass reused (the total aggregates the
    * per-part frame, ≤|part| rows — never a second fact scan).
    */
  def q11ImportantParts(s: SparkSession, dir: String): DataFrame = {
    val perPart = Tables.lineitem(s, dir)
      .select(col("l_partkey"),
              floor(col("l_extendedprice") * 100).cast("long").as("price_cents"))
      .groupBy("l_partkey")
      .agg(sum("price_cents").as("part_value_cents"))
    val total = perPart.agg(sum("part_value_cents").as("total_cents"),
                            count(lit(1)).as("n_parts"))
    val dec = DecimalType(38, 0)
    perPart.crossJoin(broadcast(total))
      // DECIMAL(38) operands: cents·n_parts crosses 2^63 at warehouse
      // scale, and a wrapped long silently inverts the compare
      .filter(col("part_value_cents").cast(dec) * col("n_parts") * 2 >
              col("total_cents").cast(dec) * 3)
      .select(col("l_partkey").as("p_partkey"), col("part_value_cents"))
      .orderBy(col("part_value_cents").desc, col("p_partkey"))
  }

  /** TPC-H Q16 shape: supplier variety per part attribute — how many
    * distinct suppliers have actually shipped each (brand, type, size)
    * combination, excluding one brand and suppliers in bad standing
    * (negative account balance — the "complaints" predicate's
    * data-derivable twin). The raw fact collapses to DISTINCT
    * (partkey, suppkey) pairs FIRST (one partial-deduplicating
    * shuffle bounded by the live pair space, not line count), the
    * bad-supplier list rides a LEFT-ANTI probe of a 6-row frame, and
    * the count-distinct aggregates pair rows — never raw lines.
    */
  def q16SupplierVariety(s: SparkSession, dir: String): DataFrame = {
    val badSupp = Tables.supplier(s, dir)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    val p = Tables.part(s, dir)
      .filter(col("p_brand") =!= "Brand#5" &&
              col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    Tables.lineitem(s, dir)
      .select("l_partkey", "l_suppkey").distinct()
      .join(Hints.maybeBroadcast(badSupp),
            col("l_suppkey") === badSupp("s_suppkey"), "left_anti")
      .join(Hints.maybeBroadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** TPC-H Q12 shape: late-shipment priority audit — among lines
    * shipped more than `lateDays` after their order date (the
    * commit/receipt-date lateness predicate re-expressed on the
    * columns this schema carries), how many belong to critical
    * (URGENT/HIGH) vs other orders, per return flag (standing in for
    * the absent ship mode)? ONE fact-fact join (the only shuffle
    * beyond the bounded-key agg); the priority split is a conditional
    * count in the same aggregate pass — the Q14/Q8 one-pass
    * numerator/denominator discipline. The lateness bound is exact
    * timestamp arithmetic (whole-day interval on µs instants) both
    * engines evaluate identically.
    */
  def q12LateShipments(s: SparkSession, dir: String, lateDays: Int = 120): DataFrame = {
    val o = Tables.orders(s, dir)
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_returnflag", "l_shipdate")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >
              col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"))
      .groupBy("l_returnflag")
      .agg(sum(when(col("o_orderpriority").startsWith("1-") ||
                    col("o_orderpriority").startsWith("2-"), 1L)
                 .otherwise(0L)).as("high_line_count"),
           sum(when(col("o_orderpriority").startsWith("1-") ||
                    col("o_orderpriority").startsWith("2-"), 0L)
                 .otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** TPC-H Q20 shape: dominant suppliers of a part family — suppliers
    * who shipped MORE THAN A FIFTH of the total moved quantity of at
    * least one name-filtered part (the excess-availability semi-join
    * chain, re-derived from shipment history in place of partsupp
    * availability; 20% — not TPC-H's 50% — because this corpus
    * spreads each part across enough suppliers that no one ever
    * crosses half). Per-(part, supplier) quantities and per-part
    * totals are the same partial-agg frame re-aggregated (pair frame
    * is live-pair bounded); the dominance compare is integral
    * cross-multiplication `5·pair_qty > total_qty`; qualifying pair →
    * DISTINCT supplier keys → LEFT-SEMI probe into the supplier dim
    * (the `s_suppkey IN (…)` decorrelation), nation name joined for
    * the report.
    */
  def q20DominantSuppliers(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).filter(col("p_name").contains("red"))
      .select("p_partkey")
    val pairs = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"),
              col("l_quantity").cast("long").as("qty"))
      .join(Hints.maybeBroadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum("qty").as("pair_qty"))
    val totals = pairs.groupBy(col("l_partkey").as("tp_key"))
      .agg(sum("pair_qty").as("total_qty"))
    val dominant = pairs
      .join(Hints.maybeBroadcast(totals), col("l_partkey") === col("tp_key"))
      .filter(col("pair_qty") * 5 > col("total_qty"))
      .select("l_suppkey").distinct()
    Tables.supplier(s, dir)
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(Hints.maybeBroadcast(
              Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "n_name")
      .orderBy("s_suppkey")
  }

  /** TPC-H Q21 shape: the waiting-supplier audit — for finalized
    * ('F') multi-supplier orders, which supplier UNIQUELY shipped
    * last (the order could not close until they did)? Q21's
    * EXISTS(another supplier) / NOT-EXISTS(another equally-late
    * supplier) pair decorrelates to per-order aggregates over the
    * (order, supplier) collapse: distinct-supplier count ≥ 2 is the
    * EXISTS, and "exactly one supplier attains the order's max ship
    * date" is the NOT EXISTS — both conditional counts in ONE
    * order-keyed pass, no correlated probes, no window. The laggard
    * flag joins back to the pair frame on the already-partitioned
    * order key; per-supplier counts aggregate a ≤|supplier| key
    * space.
    */
  def q21WaitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    val fOrders = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F").select("o_orderkey")
    val pairs = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(Hints.maybeBroadcast(fOrders), col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max("l_shipdate").as("supp_last"))
    val perOrder = pairs.groupBy(col("l_orderkey").as("ord_key"))
      .agg(max("supp_last").as("order_last"),
           count(lit(1)).as("n_suppliers"))
    val laggards = pairs
      .join(perOrder, col("l_orderkey") === col("ord_key"))
      .filter(col("n_suppliers") >= 2)
      .groupBy("l_orderkey")
      .agg(max("order_last").as("order_last"),
           sum(when(col("supp_last") === col("order_last"), 1L).otherwise(0L))
             .as("n_at_max"),
           max(when(col("supp_last") === col("order_last"), col("l_suppkey")))
             .as("sole_suppkey"))
      .filter(col("n_at_max") === 1)
    laggards.groupBy(col("sole_suppkey").as("s_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(Hints.maybeBroadcast(
              Tables.supplier(s, dir).select(col("s_suppkey").as("sk"), col("s_name"))),
            col("s_suppkey") === col("sk"))
      .select("s_suppkey", "s_name", "numwait")
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(10)
  }

  /** The shared CUSUM chart over a per-(type, bucket) count collapse —
    * one definition for the daily ([[anomalyCusum]]) and hourly
    * ([[streamCusum]]) grains so a threshold or scaling change can
    * never desynchronize the pair the StreamingSpec twin-test depends
    * on. `counts` must carry (event_type, <bucket>, x) and is CACHED
    * here: spans and the spine join both consume it (the
    * [[gapFillDays]] one-scan discipline).
    */
  private def cusumChart(counts: DataFrame, bucket: String): DataFrame = {
    val c = graft.Caches.cached(counts)
    val spans = c.groupBy("event_type")
      .agg(min(bucket).as("b0"), max(bucket).as("b1"), sum("x").as("t"))
    val spine = spans.select(col("event_type"), col("t"),
        (col("b1") - col("b0") + 1).as("n"),
        explode(sequence(col("b0"), col("b1"))).as(bucket))
    val w = Window.partitionBy("event_type").orderBy(bucket)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(c, Seq("event_type", bucket), "left")
      .select(col("event_type"), col(bucket), col("t"), col("n"),
              coalesce(col("x"), lit(0L)).as("x"))
      .select(col("event_type"), col(bucket), col("t"), col("x"),
        sum(lit(4L) * col("n") * col("x") - lit(5L) * col("t")).over(w).as("pu"),
        sum(lit(3L) * col("t") - lit(4L) * col("n") * col("x")).over(w).as("pd"))
      .select(col("event_type"), col(bucket), col("t"),
        col("x").as("n_events"),
        (col("pu") - least(lit(0L), min("pu").over(w))).as("cusum_up"),
        (col("pd") - least(lit(0L), min("pd").over(w))).as("cusum_dn"))
      .select(col("event_type"), col(bucket), col("n_events"),
        col("cusum_up"), col("cusum_dn"),
        (col("cusum_up") > lit(8L) * col("t")).as("flag_surge"),
        (col("cusum_dn") > lit(8L) * col("t")).as("flag_drop"))
      .orderBy("event_type", bucket)
  }

  /** CUSUM changepoint monitor over the per-type daily event series —
    * the SEQUENTIAL member of the outlier family ([[anomalyZscore]] /
    * [[anomalyMad]] / [[anomalyTukey]] flag individual points; CUSUM
    * accumulates small persistent shifts none of them sees, the
    * Page-1954 control chart every feed monitor runs). Two one-sided
    * statistics: S↑ₜ = max(0, S↑ₜ₋₁ + (xₜ − μ − κ)) catches surges,
    * S↓ the mirror catches silent decays; a flag fires when either
    * exceeds h.
    *
    * The max(0, …) recursion looks inherently sequential, but
    * S↑ₜ = Pₜ − min(0, min_{j≤t} Pⱼ) for the drift-adjusted prefix
    * sum Pₜ — two cumulative windows (running sum, running min),
    * no iterative loop. Windows partition by event TYPE over the
    * DAY-grain frame: partition size is calendar-bounded (days),
    * never corpus-bounded — the daily collapse happens first (one
    * partial-agg shuffle), and zero-event days join in from the
    * per-type day spine ([[gapFillDays]] precedent) because a DROP
    * is precisely a run of days the raw groupBy never emits.
    *
    * ALL-INTEGRAL at scale ×4n (n = spine days, T = type total):
    * with κ = μ/4 and h = 2μ, deviation 4n·xₜ − 5T, threshold 8T —
    * exact longs (4n·x ≤ 4·10⁴·x and prefixes ≤ 4nT ~ 10⁵·T stay
    * far below 2⁶³ at any single-type daily volume), no float mean
    * for engines to round apart.
    */
  def anomalyCusum(s: SparkSession, dir: String): DataFrame =
    cusumChart(
      Tables.events(s, dir)
        .select(col("event_type"),
                datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
                  .cast("long").as("day"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("x")),
      "day")

  /** Batch twin of the streaming CUSUM rate monitor
    * ([[graft.streaming.EventStreams.rateCusum]]): the
    * [[anomalyCusum]] chart at the stream's HOUR-window grain —
    * same prefix-sum/running-min decorrelation, same ×4n integral
    * scale with the corpus-derived per-type mean as center (the
    * reference rate a deployment would periodically re-fit the
    * stream's fixed baseline from). StreamingSpec pins the
    * stream == batch flag agreement on an integral-mean fixture.
    */
  def streamCusum(s: SparkSession, dir: String): DataFrame =
    cusumChart(
      Tables.events(s, dir)
        .select(col("event_type"), expr("ts_ns div 3600000000000").as("win"))
        .groupBy("event_type", "win")
        .agg(count(lit(1)).as("x")),
      "win")
}

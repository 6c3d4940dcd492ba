package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Joins, Views}

/** Join-operator invariants (as-of ordering, range bounds, salted ==
  * plain) and view sanity on sf0.001.
  */
class JoinsViewsSpec extends AnyFunSuite with SparkFixture {

  test("asof join: matched signup is never after the purchase") {
    val out = Joins.asofJoinEvents(spark, sf)
    assert(out.filter(col("last_signup_ts_s") > col("purchase_ts_s")).count() == 0)
  }

  test("range join: every pair is within (0, 3600] seconds") {
    val out = Joins.rangeJoinBuckets(spark, sf)
    assert(out.filter(col("diff_s") <= 0 || col("diff_s") > 3600).count() == 0)
  }

  test("salted join result equals the unsalted plain join") {
    val salted = Joins.saltedJoinSkew(spark, sf)
    val e = Tables.events(spark, sf)
    val c = Tables.customer(spark, sf)
    val plain = e.join(c, e("user_id") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
           graft.functions.OracleSafe.sum2(col("value")).as("sum_value"))
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0)
  }

  test("driver entry point returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key names a registered query") {
    // a typo'd oracle key is DEAD — the driver would silently fall back
    // to the weaker rows-only check for the query it meant to cover
    val dead = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dead.isEmpty, s"oracle entries with no matching query: $dead")
  }

  test("every registered query has rows at sf0.001") {
    // cheap structural guard: no key in the contract silently breaks
    SparkEntry.queries.foreach { case (name, fn) =>
      assert(fn(spark, sf).limit(1).count() == 1, s"$name returned no rows")
    }
  }

  test("asof nearest: crafted sides, exact ties prefer before, no-signup nulls") {
    import spark.implicits._
    val G = 1000000000L
    // user 1: signup@10s, purchase@13s (before, d=3), purchase@2s (after-only, d=8)
    // user 2: signups@10s,@20s, purchase@15s — EXACT tie, before (id 20) wins
    // user 3: purchase with no signup at all → null columns
    // user 4: signup at the same instant as the purchase → before, d=0
    val ev = Seq(
      (1L, 10L * G, 100L, "signup"), (1L, 13L * G, 101L, "purchase"),
      (1L, 2L * G, 102L, "purchase"),
      (2L, 10L * G, 20L, "signup"), (2L, 20L * G, 21L, "signup"),
      (2L, 15L * G, 22L, "purchase"),
      (3L, 5L * G, 30L, "purchase"),
      (4L, 7L * G, 40L, "signup"), (4L, 7L * G, 41L, "purchase")
    ).toDF("user_id", "ts_ns", "event_id", "event_type")
    val out = Joins.asofNearestOver(ev).collect()
      .map(r => r.getLong(0) -> (Option(r.get(3)).map(_.asInstanceOf[Long]),
                                 Option(r.get(5)).map(_.asInstanceOf[Long]))).toMap
    assert(out(101L) == (Some(100L), Some(3L)), "before side at distance 3")
    assert(out(102L) == (Some(100L), Some(8L)), "after-only side at distance 8")
    assert(out(22L) == (Some(20L), Some(5L)), "exact tie must prefer the before side")
    assert(out(30L) == (None, None), "no signup anywhere → nulls")
    assert(out(41L) == (Some(40L), Some(0L)), "same instant is before at distance 0")
  }

  test("asof nearest on real data equals the brute-force min-distance road") {
    val out = Joins.asofJoinNearest(spark, sf)
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("ts_ns").as("pns"))
    val s2 = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("sid"), col("user_id"), col("ts_ns").as("sns"))
    val cand = p.join(s2, Seq("user_id"), "left")
      .withColumn("dist", abs(col("sns") - col("pns")))
      .withColumn("side", when(col("sns") <= col("pns"), 0).otherwise(1))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("pid")
      .orderBy(col("dist"), col("side"),
        when(col("side") === 0, -col("sid")).otherwise(col("sid")))
    val brute = cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("pid").as("purchase_event_id"), col("user_id"),
        expr("pns div 1000000000").as("purchase_ts_s"),
        col("sid").as("nearest_signup_id"),
        expr("sns div 1000000000").as("nearest_signup_ts_s"),
        expr("dist div 1000000000").as("dist_s"))
    assert(out.exceptAll(brute).count() == 0 && brute.exceptAll(out).count() == 0)
  }

  test("v_top_actors ranks by distinct order count, descending") {
    val out = Views.topActors(spark, sf).collect()
    val counts = out.map(_.getAs[Long]("movie_count"))
    assert(counts.sameElements(counts.sortBy(-_)))
  }

  test("temporal scd2 join: union+window carry equals the interval join") {
    import org.apache.spark.sql.expressions.Window
    val out = Joins.temporalJoinScd2(spark, sf)
    // Independent road in-engine: windowed version table, explicit
    // [valid_from, valid_to) interval join — the oracle's formulation.
    val ev = Tables.events(spark, sf)
    val v = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("v_user"), col("ts_ns").as("v_ns"),
              col("event_id").as("state_event_id"), col("event_type").as("state_type"))
      .withColumn("version_seq", row_number().over(
        Window.partitionBy("v_user").orderBy(col("v_ns"), col("state_event_id"))).cast("long"))
      .withColumn("valid_to_ns", lead(col("v_ns"), 1).over(
        Window.partitionBy("v_user").orderBy(col("v_ns"), col("state_event_id"))))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_event_id"), col("user_id"), col("ts_ns"))
    val viaInterval = p.join(v,
        col("v_user") === col("user_id") && col("v_ns") <= col("ts_ns") &&
          (col("valid_to_ns").isNull || col("ts_ns") < col("valid_to_ns")), "left")
      .select(col("purchase_event_id"), col("user_id"),
              expr("ts_ns div 1000").as("purchase_ts_us"),
              col("state_event_id"), col("state_type"), col("version_seq"),
              expr("v_ns div 1000").as("valid_from_us"))
    assert(out.exceptAll(viaInterval).count() == 0 &&
           viaInterval.exceptAll(out).count() == 0)
    // Every purchase appears exactly once (intervals partition the
    // timeline — no fact duplicated, none lost).
    assert(out.count() == p.count())
    assert(out.groupBy("purchase_event_id").count().filter(col("count") > 1).count() == 0)
  }

  test("q5 region volume equals a plain unhinted join reconstruction") {
    val out = graft.operators.Analytics.q5RegionVolume(spark, sf)
    val li = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= to_timestamp(lit("1997-01-01 00:00:00")) &&
              col("o_orderdate") <  to_timestamp(lit("1998-01-01 00:00:00")))
    val c = Tables.customer(spark, sf)
    val su = Tables.supplier(spark, sf)
    val n = Tables.nation(spark, sf)
    val r = Tables.region(spark, sf).filter(col("r_name") === "ASIA")
    val plain = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(su, col("l_suppkey") === col("s_suppkey") &&
                col("c_nationkey") === col("s_nationkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(graft.functions.OracleSafe.sum4(
        col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    assert(out.exceptAll(plain).count() == 0 && plain.exceptAll(out).count() == 0)
    // only nations of the filtered region can appear
    val asiaNations = n.join(r, col("n_regionkey") === col("r_regionkey"))
      .select("n_name").collect().map(_.getString(0)).toSet
    assert(out.select("n_name").collect().map(_.getString(0)).forall(asiaNations))
  }

  test("q10 returned revenue: top-20 by revenue, equals the unlimited recompute's head") {
    val out = graft.operators.Analytics.q10ReturnedRevenue(spark, sf).collect()
    assert(out.length <= 20 && out.nonEmpty)
    val revs = out.map(r => r.getAs[Double]("revenue"))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
    val full = Tables.lineitem(spark, sf).filter(col("l_returnflag") === "R")
      .join(Tables.orders(spark, sf)
              .filter(col("o_orderdate") >= to_timestamp(lit("1998-01-01 00:00:00")) &&
                      col("o_orderdate") <  to_timestamp(lit("1998-04-01 00:00:00"))),
            col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(graft.functions.OracleSafe.sum4(
        col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(out.length).collect()
    assert(out.toSeq == full.toSeq)
  }

  test("q18 large orders: every survivor's quantity total is exact and above the threshold") {
    val out = graft.operators.Analytics.q18LargeOrders(spark, sf)
    assert(out.filter(col("total_qty") <= 250).count() == 0)
    // totals match an independent per-order recompute exactly
    val totals = Tables.lineitem(spark, sf).groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(graft.functions.OracleSafe.sumLong(col("l_quantity")).as("expect_qty"))
    val joined = out.join(totals, "o_orderkey")
    assert(joined.filter(col("total_qty") =!= col("expect_qty")).count() == 0)
    // no order appears twice (aggregate-then-join can't duplicate)
    assert(out.groupBy("o_orderkey").count().filter(col("count") > 1).count() == 0)
  }

  test("q4 exists: semi join equals inner-join+distinct, never inflates") {
    val out = graft.operators.Analytics.q4PriorityExists(spark, sf)
    val o = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf).filter(col("l_returnflag") === "R")
    val viaDistinct = o.join(li.select(col("l_orderkey")).distinct(),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
    assert(out.exceptAll(viaDistinct).count() == 0 &&
           viaDistinct.exceptAll(out).count() == 0)
    // total survivors = distinct orders with a returned line
    val total = out.agg(sum("n_orders")).head.getLong(0)
    val expect = o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi").count()
    assert(total == expect)
  }

  test("q13 distribution: buckets conserve the customer population, zero-bucket exact") {
    val out = graft.operators.Analytics.q13OrderDistribution(spark, sf)
    val nCust = Tables.customer(spark, sf).count()
    assert(out.agg(sum("custdist")).head.getLong(0) == nCust,
      "every customer lands in exactly one count bucket")
    // zero bucket == customers whose every order (if any) is urgent
    val withNonUrgent = Tables.orders(spark, sf)
      .filter(!col("o_orderpriority").startsWith("1-"))
      .select("o_custkey").distinct().count()
    val zeroBucket = out.filter(col("c_count") === 0)
      .agg(coalesce(sum("custdist"), lit(0L))).head.getLong(0)
    assert(zeroBucket == nCust - withNonUrgent)
  }

  test("q17 small-quantity: equals the window-decorrelated recompute") {
    val out = graft.operators.Analytics.q17SmallQuantityRevenue(spark, sf).head
    // independent road: per-part avg via a window over the same frame
    val w = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
    val li = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf)
              .filter(col("p_brand") === "Brand#23" && col("p_size") < 15)
              .select("p_partkey"),
            col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
              floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      .withColumn("sum_qty", sum("qty").over(w))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("qty") * 5 * col("n") < col("sum_qty"))
    val expect = li.agg(coalesce(sum("cents"), lit(0L)), count(lit(1))).head
    assert(out.getAs[Long]("total_cents") == expect.getLong(0))
    assert(out.getAs[Long]("n_small_lines") == expect.getLong(1))
  }

  test("q2 min-cost: every reported row attains its part's true EUROPE minimum") {
    val out = graft.operators.Analytics.q2MinCostSupplier(spark, sf)
    // brute-force per-part min over the same unit-price derivation
    val eurKeys = Tables.supplier(spark, sf)
      .join(Tables.nation(spark, sf), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sf).filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey")
    val brute = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf)
              .filter(col("p_type") === "LARGE" && col("p_size") <= 15)
              .select("p_partkey"),
            col("l_partkey") === col("p_partkey"))
      .join(eurKeys, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .select(col("p_partkey"),
              expr("(cast(floor(l_extendedprice * 100) as bigint) * 10000) div cast(l_quantity as bigint)")
                .as("u"))
      .groupBy("p_partkey").agg(min("u").as("true_min"))
    val joined = out.join(brute, "p_partkey")
    assert(joined.filter(col("unit_micro") =!= col("true_min")).count() == 0)
  }

  test("q12 late shipments: priority split conserves the late-line total") {
    val out = graft.operators.Analytics.q12LateShipments(spark, sf)
    val lateTotal = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 120 DAYS"))
      .count()
    val split = out.agg(sum(col("high_line_count") + col("low_line_count"))).head.getLong(0)
    assert(split == lateTotal)
  }

  test("q21 waiting suppliers: window-ranked recompute agrees on every laggard") {
    // independent road: rank (order, supplier) last-ship times with a
    // window; a laggard is rank-1 in a >=2-supplier order with no tie
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy(col("supp_last").desc)
    val pairs = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf).filter(col("o_orderstatus") === "F")
              .select("o_orderkey"),
            col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max("l_shipdate").as("supp_last"))
    val ranked = pairs
      .withColumn("rk", rank().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("l_orderkey")))
      .withColumn("at_max", sum(when(col("rk") === 1, 1).otherwise(0)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("l_orderkey")))
      .filter(col("rk") === 1 && col("n") >= 2 && col("at_max") === 1)
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(count(lit(1)).as("numwait"))
    val out = graft.operators.Analytics.q21WaitingSuppliers(spark, sf)
      .select("s_suppkey", "numwait")
    // engine output is the top-10 head of the ranked recompute
    val expectTop = ranked.orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(out.count().toInt)
    assert(out.exceptAll(expectTop).count() == 0 &&
           expectTop.exceptAll(out).count() == 0)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Analytics, TextOps}

/** Cross-operator consistency invariants on sf0.001 — cheap internal
  * checks that complement the DuckDB oracle (which already
  * hash-verifies exact values).
  */
class AnalyticsSpec extends AnyFunSuite with SparkFixture {

  test("rollup grand total equals the table row count and the leaf sum") {
    val li = Tables.lineitem(spark, sf).count()
    val out = Analytics.rollupFlagStatus(spark, sf).cache()
    val grand = out.filter(col("returnflag") === "ALL" && col("linestatus") === "ALL")
      .select("n_rows").head().getLong(0)
    val leaves = out.filter(col("returnflag") =!= "ALL" && col("linestatus") =!= "ALL")
      .agg(sum("n_rows")).head().getLong(0)
    assert(grand == li && leaves == li)
    out.unpersist()
  }

  test("pivot counts sum to the events row count") {
    val ev = Tables.events(spark, sf).count()
    val out = Analytics.pivotEventTypes(spark, sf)
    val total = out.select(
      (col("click") + col("error") + col("purchase") + col("signup") + col("view")).as("t"))
      .agg(sum("t")).head().getLong(0)
    assert(total == ev)
  }

  test("final running value per user equals the user's total") {
    val out = Analytics.windowRunning(spark, sf)
    val last = out.groupBy("user_id")
      .agg(max(struct(col("seq"), col("running_value"))).as("m"))
      .select(col("user_id"), col("m.running_value").as("final_run"))
    val totals = Tables.events(spark, sf).groupBy("user_id")
      .agg(graft.functions.OracleSafe.sum2(col("value")).as("total"))
    val bad = last.join(totals, "user_id")
      .filter(abs(col("final_run") - col("total")) > 1e-9)
    assert(bad.count() == 0)
  }

  test("sessionization partitions each user's events exactly") {
    val perUser = Analytics.sessionizeEvents(spark, sf)
      .groupBy("user_id").agg(sum("n_events").as("n"))
    val evPerUser = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("ev_n"))
    assert(perUser.join(evPerUser, "user_id")
      .filter(col("n") =!= col("ev_n")).count() == 0)
  }

  test("cohort retention: week-0 counts equal cohort sizes, offsets never exceed them") {
    val out = Analytics.cohortRetention(spark, sf).cache()
    // weeks_since = 0 row of each cohort counts every cohort member
    // (a user is active in their own signup week by construction)
    val ev = Tables.events(spark, sf)
    val cohortSizes = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts_ns").as("s"))
      .select(floor(datediff(to_date(expr("timestamp_micros(s div 1000)")),
                             to_date(lit("1970-01-01"))) / 7.0).cast("long").as("cohort_w"))
      .groupBy("cohort_w").count()
    val w0 = out.filter(col("weeks_since") === 0)
      .join(cohortSizes, "cohort_w")
      .filter(col("n_active_users") =!= col("count"))
    assert(w0.count() == 0)
    // the matrix actually has depth on the fixture (several offsets)
    assert(out.select("weeks_since").distinct().count() >= 2)
    // retention is a subset of the cohort at every offset
    val over = out.join(cohortSizes, "cohort_w")
      .filter(col("n_active_users") > col("count"))
    assert(over.count() == 0)
    assert(out.filter(col("weeks_since") < 0).count() == 0)
    out.unpersist()
  }

  test("rolling actives: window of 1 equals daily distinct; 7-day never below daily") {
    val daily = Analytics.rollingActiveUsers(spark, sf, windowDays = 1)
    val direct = Tables.events(spark, sf)
      .select(datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
                .cast("long").as("win_day"), col("user_id"))
      .distinct().groupBy("win_day").agg(count(lit(1)).as("active_users"))
    assert(daily.exceptAll(direct).count() == 0 && direct.exceptAll(daily).count() == 0)
    val weekly = Analytics.rollingActiveUsers(spark, sf, windowDays = 7)
    val below = weekly.withColumnRenamed("active_users", "wau")
      .join(direct, "win_day").filter(col("wau") < col("active_users"))
    assert(below.count() == 0)
  }

  test("funnel on crafted log: partial completion, strictly-after bound, out-of-order steps") {
    import spark.implicits._
    val log = Seq(
      // u1: full funnel in order
      (1L, 10L, "signup"), (1L, 20L, "view"), (1L, 30L, "purchase"),
      // u2: view BEFORE signup only -> funnel stops after signup
      (2L, 20L, "view"), (2L, 30L, "signup"),
      // u3: signup+view, purchase BEFORE view -> stops at 2 steps
      (3L, 10L, "signup"), (3L, 30L, "view"), (3L, 20L, "purchase"),
      // u4: never signed up -> absent from the funnel entirely
      (4L, 10L, "view"), (4L, 20L, "purchase"),
      // u5: simultaneous signup+view (ties are NOT strictly after)
      (5L, 10L, "signup"), (5L, 10L, "view"))
      .map { case (u, t, e) => (u, t * 1000000000L, e) }
      .toDF("user_id", "ts_ns", "event_type")
    val out = Analytics.funnelOver(log, Seq("signup", "view", "purchase"))
      .collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), r.getLong(4))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 5L), "only signed-up users appear")
    assert(out(1L) == ((Some(10L), Some(20L), Some(30L), 3L)))
    assert(out(2L) == ((Some(30L), None, None, 1L)), "pre-signup view must not count")
    assert(out(3L) == ((Some(10L), Some(30L), None, 2L)), "pre-view purchase must not count")
    assert(out(5L) == ((Some(10L), None, None, 1L)), "simultaneous is not strictly after")
  }

  test("funnel: step times strictly increase, completed_steps counts non-null prefix") {
    val out = Analytics.funnelSteps(spark, sf).cache()
    // strict ordering wherever a later step exists
    assert(out.filter(col("t2_s").isNotNull && col("t2_s") < col("t1_s")).count() == 0)
    assert(out.filter(col("t3_s").isNotNull && col("t3_s") < col("t2_s")).count() == 0)
    // a later step is never present without the earlier one
    assert(out.filter(col("t3_s").isNotNull && col("t2_s").isNull).count() == 0)
    // completed_steps consistent with the null pattern
    val bad = out.filter(
      col("completed_steps") =!=
        (when(col("t1_s").isNotNull, 1L).otherwise(0L) +
         when(col("t2_s").isNotNull, 1L).otherwise(0L) +
         when(col("t3_s").isNotNull, 1L).otherwise(0L)))
    assert(bad.count() == 0)
    // every user in the funnel signed up
    assert(out.filter(col("t1_s").isNull).count() == 0)
    out.unpersist()
  }

  test("zscoreFlags: constant and single-row groups get z=0/not-outlier, never NULL/NaN") {
    import spark.implicits._
    val df = Seq(
      (1L, "const", 100.0), (2L, "const", 100.0), (3L, "const", 100.0),
      (4L, "single", 7.0),
      (5L, "ok", 1.0), (6L, "ok", 2.0), (7L, "ok", 3.0)).toDF("id", "g", "v")
    val out = Analytics.zscoreFlags(df, "id", "g", "v", 300).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(out.size == 7, "no row may be dropped or nulled out")
    Seq(1L, 2L, 3L, 4L).foreach(id => assert(out(id) == ((0L, false)), s"id $id"))
    // the healthy group standardizes symmetrically around its middle row
    assert(out(6L)._1 == 0L && out(5L)._1 == -out(7L)._1 && out(7L)._1 > 0)
  }

  test("anomaly z-scores are centered and outliers are rare") {
    val out = Analytics.anomalyZscore(spark, sf).cache()
    assert(out.count() == Tables.events(spark, sf).count())
    // standardization sanity: per-type mean of z_x100 ~ 0
    val centers = out.groupBy("event_type").agg(avg("z_x100").as("c")).collect()
    centers.foreach(r => assert(math.abs(r.getDouble(1)) < 20, s"off-center: $r"))
    // |z| >= 3 must be a small tail
    val frac = out.filter(col("is_outlier")).count().toDouble / out.count()
    assert(frac < 0.05, s"outlier fraction $frac")
    out.unpersist()
  }

  test("gopher filter agrees with hand stats on crafted docs") {
    // crafted corpora through the same column pipeline via a temp view
    // is overkill — check threshold logic against the real table
    val out = TextOps.textGopherFilter(spark, sf).cache()
    val viol = out.filter(
      (col("keep") && (col("n_words") < 5 || col("mean_word_len_x100") < 300 ||
        col("mean_word_len_x100") > 1000 || col("alpha_words_x100") < 70)) ||
      (!col("keep") && col("n_words").between(5, 100000) &&
        col("mean_word_len_x100").between(300, 1000) && col("alpha_words_x100") >= 70))
    assert(viol.count() == 0)
    // statistics are internally consistent
    assert(out.filter(col("alpha_words_x100") > 100 || col("mean_word_len_x100") < 0).count() == 0)
    assert(out.count() == Tables.documents(spark, sf).count())
    out.unpersist()
  }

  test("percentiles are ordered and quality scores bounded") {
    assert(Analytics.percentileValue(spark, sf)
      .filter(col("p50") > col("p90")).count() == 0)
    assert(TextOps.textQualityScore(spark, sf)
      .filter(col("quality_score") < 0 || col("quality_score") > 100).count() == 0)
  }

  test("BPE-ish tokenization is at least as fine as whitespace tokenization") {
    assert(TextOps.textTokenCount(spark, sf)
      .filter(col("bpe_tokens") < col("ws_tokens")).count() == 0)
  }

  test("merge_intervals: episodes disjoint, ordered, and account for every interval") {
    val out = Analytics.mergeIntervals(spark, sf).cache()
    // within an episode the bounds are sane
    assert(out.filter(col("episode_start_day") > col("episode_end_day")).count() == 0)
    // consecutive episodes of a customer are strictly separated (a gap
    // of at least one day — touching intervals would have merged)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("episode")
    val overlaps = out
      .withColumn("prev_end", lag(col("episode_end_day"), 1).over(w))
      .filter(col("prev_end").isNotNull && col("episode_start_day") <= col("prev_end"))
    assert(overlaps.count() == 0)
    // every order-with-lineitems interval lands in exactly one episode
    val nIntervals = Tables.orders(spark, sf).select(col("o_orderkey"))
      .join(Tables.lineitem(spark, sf).select(col("l_orderkey")).distinct(),
            col("o_orderkey") === col("l_orderkey"))
      .count()
    val counted = out.agg(sum("n_intervals")).head().getLong(0)
    assert(counted == nIntervals, s"episodes cover $counted of $nIntervals intervals")
    out.unpersist()
  }

  test("gap_fill_days: dense span per user, totals preserved, fills are zero") {
    val out = Analytics.gapFillDays(spark, sf).cache()
    // per user: contiguous day range with no holes or duplicates
    val spanCheck = out.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"),
           count(lit(1)).as("n"), countDistinct(col("day")).as("nd"))
      .filter(col("n") =!= col("d1") - col("d0") + 1 || col("n") =!= col("nd"))
    assert(spanCheck.count() == 0)
    // event totals survive densification
    val total = out.agg(sum("n_events")).head().getLong(0)
    assert(total == Tables.events(spark, sf).count())
    // filled days carry exactly (0, 0.0)
    assert(out.filter(col("n_events") === 0 && col("day_value") =!= 0.0).count() == 0)
    out.unpersist()
    Caches.clear()
  }

  test("event_transitions: counts cover every adjacency, probabilities normalize") {
    val out = Analytics.eventTransitions(spark, sf).cache()
    // each user with n events contributes exactly n-1 transitions
    val perUser = Tables.events(spark, sf).groupBy("user_id").agg(count(lit(1)).as("n"))
    val expected = perUser.agg(sum(col("n") - lit(1))).head().getLong(0)
    assert(out.agg(sum("n_transitions")).head().getLong(0) == expected)
    // probabilities are floor-normalized: each row in [0, 10000], each
    // prev_type's total within |rows| of 10000 (floor loses < 1 per row)
    assert(out.filter(col("p_x10000") < 0 || col("p_x10000") > 10000).count() == 0)
    val sums = out.groupBy("prev_type")
      .agg(sum("p_x10000").as("p"), count(lit(1)).as("k"))
      .filter(col("p") > 10000 || col("p") <= lit(10000) - col("k"))
    assert(sums.count() == 0)
    out.unpersist()
  }

  test("skew_report: shares bounded, ordering matches the true hottest key") {
    val out = Analytics.skewReport(spark, sf).cache()
    assert(out.count() <= 20)
    assert(out.filter(col("share_x10000") < 0 || col("share_x10000") > 10000).count() == 0)
    val topReported = out.orderBy(col("n_rows").desc, col("user_id")).head()
    val trueTop = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id")).head()
    assert(topReported.getAs[Long]("user_id") == trueTop.getAs[Long]("user_id"))
    assert(topReported.getAs[Long]("n_rows") == trueTop.getAs[Long]("n"))
    out.unpersist()
    Caches.clear()
  }

  test("hll_states: merged daily sketches track exact distincts and are deterministic") {
    val out = Analytics.hllStates(spark, sf).cache()
    val exact = Tables.events(spark, sf).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    // DataSketches HLL at default lgK is well under 10% off at these
    // cardinalities; this catches wiring bugs (wrong column, wrong merge)
    val off = out.join(exact, "event_type")
      .filter(abs(col("merged_users") - col("exact_users"))
              > col("exact_users") * 0.1)
    assert(off.count() == 0)
    // sketch build + union is deterministic: a recompute agrees exactly
    val again = Analytics.hllStates(spark, sf)
    assert(out.except(again).isEmpty && again.except(out).isEmpty)
    out.unpersist()
  }

  test("hll_states: the union readout is ORDER-FREE across adversarial input orders (r19 probe)") {
    // The §5 adjudication keeps this key rows-only because DataSketches
    // hashing (murmur3-128, seed 9001) has no DuckDB reconstruction —
    // but the r19 probe showed the union-then-estimate READOUT itself
    // is order-free on real cardinalities (coupon-exact / composite
    // path), so pin that: the registered plan must agree bit-for-bit
    // with rebuilds over repartitioned and re-sorted inputs. If a
    // Spark/DataSketches upgrade ever reintroduces HIP order
    // sensitivity through this path, this test names it immediately.
    val base = Tables.events(spark, sf)
      .select(col("event_type"),
              datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
                .cast("long").as("day"),
              col("user_id"))
    def rebuild(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
      df.groupBy("event_type", "day")
        .agg(expr("hll_sketch_agg(user_id)").as("day_sketch"))
        .groupBy("event_type")
        .agg(expr("hll_sketch_estimate(hll_union_agg(day_sketch))").as("merged_users"),
             count(lit(1)).as("n_days"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val registered = Analytics.hllStates(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val reorderings = Seq(
      base.repartition(7, col("user_id")).sortWithinPartitions(col("user_id").desc),
      base.repartition(13, col("day")).sortWithinPartitions(col("user_id")),
      base.coalesce(1).sortWithinPartitions(col("event_type").desc, col("user_id").desc))
    reorderings.zipWithIndex.foreach { case (df, i) =>
      assert(rebuild(df) == registered, s"input order $i changed the HLL readout")
    }
  }

  test("quantile_bins_sampled tracks the exact bins within sampling error and is order-free") {
    val sampled = Analytics.quantileBinsSampled(spark, sf).cache()
    val exact = Analytics.quantileBins(spark, sf)
      .select(col("event_type"), col("bin"), col("n_rows").as("n_exact"))
    // 1/8 hash sample at these group sizes: per-bin counts within 25%
    // of the group size of the exact bins (the sampling-error band —
    // far looser than observed, tight enough to catch a wiring bug)
    val groupSizes = exact.groupBy("event_type").agg(sum("n_exact").as("n_group"))
    val off = sampled.join(exact, Seq("event_type", "bin"), "full")
      .join(groupSizes, "event_type")
      .filter(abs(coalesce(col("n_rows"), lit(0L)) - coalesce(col("n_exact"), lit(0L)))
              > col("n_group") * 0.25)
    assert(off.count() == 0)
    // bin count respected and totals preserved (binning is a partition)
    val totals = sampled.groupBy("event_type").agg(sum("n_rows").as("n"))
      .join(groupSizes, "event_type")
      .filter(col("n") =!= col("n_group"))
    assert(totals.count() == 0, "sampled binning must partition every group's rows")
    assert(sampled.filter(col("bin") < 1 || col("bin") > 4).count() == 0)
    // deterministic: a recompute agrees exactly (pure set function —
    // the property GK summaries can't give, which is why THIS key is
    // the hash-verified member of the approximate family)
    val again = Analytics.quantileBinsSampled(spark, sf)
    assert(sampled.except(again).isEmpty && again.except(sampled).isEmpty)
    sampled.unpersist()
    graft.Caches.clear()
  }

  test("quantile_bins_approx tracks the exact bins and keeps ranges ordered") {
    val approx = Analytics.quantileBinsApprox(spark, sf).cache()
    val exact = Analytics.quantileBins(spark, sf)
      .select(col("event_type"), col("bin"), col("n_rows").as("n_exact"))
    // at accuracy 10000 on thousands of rows the rank error is ≤ a few
    // rows per cut; allow 5% of the group plus a tie allowance
    val groupSizes = exact.groupBy("event_type").agg(sum("n_exact").as("n_group"))
    val off = approx.join(exact, Seq("event_type", "bin"), "full")
      .join(groupSizes, "event_type")
      .filter(abs(coalesce(col("n_rows"), lit(0L)) - coalesce(col("n_exact"), lit(0L)))
              > col("n_group") * 0.05 + lit(2))
    assert(off.count() == 0)
    // bins are labeled 1..k and value ranges do not cross
    assert(approx.filter(col("bin") < 1 || col("bin") > 4).count() == 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("bin")
    val crossed = approx
      .withColumn("prev_max", lag(col("max_val_x100"), 1).over(w))
      .filter(col("prev_max").isNotNull && col("min_val_x100") < col("prev_max") - 1)
    assert(crossed.count() == 0)
    approx.unpersist()
  }

  test("backlog_over_time: balance stays non-negative and closes to zero") {
    val out = Analytics.backlogOverTime(spark, sf).cache()
    assert(out.filter(col("open_orders") < 0).count() == 0)
    // every order eventually closes, so the final running balance is 0
    val last = out.orderBy(col("day").desc).head()
    assert(last.getAs[Long]("open_orders") == 0L)
    // peak backlog can never exceed the number of orders with lineitems
    val nOrders = Tables.orders(spark, sf).select("o_orderkey")
      .join(Tables.lineitem(spark, sf).select(col("l_orderkey")).distinct(),
            col("o_orderkey") === col("l_orderkey")).count()
    assert(out.agg(max("open_orders")).head().getLong(0) <= nOrders)
    out.unpersist()
  }

  test("cube_flag_status: grand total and per-level row counts are consistent") {
    val out = Analytics.cubeFlagStatus(spark, sf).cache()
    val li = Tables.lineitem(spark, sf).count()
    val grand = out.filter(col("gid") === 3)
    assert(grand.count() == 1 && grand.head().getAs[Long]("n_rows") == li)
    // each grouping level partitions the table
    Seq(0, 1, 2).foreach { g =>
      assert(out.filter(col("gid") === g).agg(sum("n_rows")).head().getLong(0) == li,
        s"gid=$g level does not cover the table")
    }
    out.unpersist()
  }

  test("seasonality_profile: bounded cells, totals and shares consistent") {
    val out = Analytics.seasonalityProfile(spark, sf).cache()
    assert(out.filter(col("dow") < 0 || col("dow") > 6
      || col("hour_of_day") < 0 || col("hour_of_day") > 23).count() == 0)
    assert(out.agg(sum("n_events")).head().getLong(0) ==
      Tables.events(spark, sf).count())
    assert(out.filter(col("share_x10000") < 0 || col("share_x10000") > 10000).count() == 0)
    out.unpersist()
    Caches.clear()
  }

  test("graph_pagerank: mass bounded, floor respected, isolated nodes stay at base") {
    import graft.operators.GraphOps
    val out = GraphOps.pageRank(spark, sf, iters = 3).cache()
    val nCust = Tables.customer(spark, sf).count()
    val nSupp = Tables.supplier(spark, sf).count()
    assert(out.count() == nCust + nSupp)
    // every rank >= the damping base; total mass never exceeds the init
    // (integral truncation only bleeds mass, never creates it)
    assert(out.filter(col("rank") < 150000000000L).count() == 0)
    val mass = out.agg(sum("rank")).head().getLong(0)
    assert(mass <= (nCust + nSupp) * 1000000000000L)
    // customers with no lineitem-bearing orders are isolated -> exactly base
    val connected = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("node")).distinct()
    val isolated = out.join(connected, Seq("node"), "left_anti")
      .filter(col("node") % 2 === 0)
    assert(isolated.filter(col("rank") =!= 150000000000L).count() == 0)
    out.unpersist()
    Caches.clear()
  }

  test("graph_pagerank is bit-identical under different shuffle partitioning") {
    import graft.operators.GraphOps
    // the integral-arithmetic claim, tested: partition count changes
    // summation order, which must not change a single rank
    val conf = spark.conf
    val prev = conf.get("spark.sql.shuffle.partitions")
    val a = GraphOps.pageRank(spark, sf, iters = 3).collect().toSeq
    try {
      conf.set("spark.sql.shuffle.partitions", "7")
      val b = GraphOps.pageRank(spark, sf, iters = 3).collect().toSeq
      assert(a == b)
    } finally conf.set("spark.sql.shuffle.partitions", prev)
    Caches.clear()
  }

  test("window_time_range equals the interval self-join road; frame never empty") {
    val out = Analytics.windowTimeRange(spark, sf)
    val e = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"),
              expr("ts_ns div 1000").as("ts_us"))
    // independent road: explicit (user, pair) interval join — the
    // formulation the RANGE frame replaces
    val viaJoin = e.as("a").join(e.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.ts_us") <= col("a.ts_us") &&
          col("b.ts_us") >= col("a.ts_us") - lit(3600L * 1000000L))
      .groupBy(col("a.event_id").as("event_id"), col("a.user_id").as("user_id"),
               expr("a.ts_us div 1000000").as("ts_s"))
      .agg(sum(col("b.value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
             .cast("double").as("trailing_1h_value"),
           count(lit(1)).as("trailing_1h_events"))
    assert(out.exceptAll(viaJoin).count() == 0 && viaJoin.exceptAll(out).count() == 0)
    // the frame includes the current row, so the count is >= 1
    assert(out.filter(col("trailing_1h_events") < 1).count() == 0)
  }

  test("triangle counts: K4, path, star, and the naive-join road agree") {
    import graft.operators.GraphOps
    import spark.implicits._
    // K4: every node closes 3 triangles; a path and a star close none.
    val k4 = (for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)).toDF("a", "b")
    val k4Out = GraphOps.triangleCounts(k4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k4Out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    assert(GraphOps.triangleCounts(path).count() == 0)
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("a", "b")
    assert(GraphOps.triangleCounts(star).count() == 0)
    Caches.clear()
    // Orientation road == naive x<y<z three-way join on the real graph.
    val out = GraphOps.graphTriangles(spark, sf)
    val pl = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey").distinct()
    val e = pl.as("x").join(pl.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
      .agg(count(lit(1)).as("s")).filter(col("s") >= 2).select("a", "b").cache()
    val t = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val naive = t.select(explode(array(col("x"), col("y"), col("z"))).as("part_key"))
      .groupBy("part_key").agg(count(lit(1)).as("n_triangles"))
    assert(out.exceptAll(naive).count() == 0 && naive.exceptAll(out).count() == 0)
    e.unpersist()
    Caches.clear()
  }

  test("anomaly_mad: crafted medians, robustness to the outlier, MAD=0 constant group") {
    import spark.implicits._
    import graft.operators.Analytics
    // type a: values 1,2,3,4,100 cents — med=3, adevs {2,1,0,1,97},
    // MAD=1 → outlier iff 100·adev > 300, i.e. adev ≥ 4: only the 100.
    // The z-score road would have its mean dragged to 22 by the spike;
    // MAD shrugs. type b: constant — med=value, MAD=0, nothing flags
    // (adev=0 for all; 0 > 0 false).
    val e = Seq(
      (1L, "a", 1L), (2L, "a", 2L), (3L, "a", 3L), (4L, "a", 4L), (5L, "a", 100L),
      (6L, "b", 7L), (7L, "b", 7L), (8L, "b", 7L)
    ).toDF("event_id", "event_type", "cents")
    try {
      val out = Analytics.madFlags(e, kX100 = 300).collect()
        .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
      assert(out(3L) == (0L, 1L, false), "median row: adev 0, MAD 1")
      assert(out(5L) == (97L, 1L, true), "the spike flags")
      assert(Seq(1L, 2L, 4L).forall(!out(_)._3), "in-family rows do not flag")
      assert(Seq(6L, 7L, 8L).forall(id => out(id) == (0L, 0L, false)),
        "constant group: MAD 0, nothing flags")
    } finally Caches.clear() // an assert failure must not leak the cached frames
  }

  test("copurchase substrate memo: materialized table equals the defining plan; second call is a memo hit") {
    import graft.operators.GraphOps
    val fromPlan = GraphOps.pairSupportsPlan(spark, sf, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val first = GraphOps.copurchasePairSupports(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(first.sameElements(fromPlan),
      "parquet-materialized substrate must be bit-identical to its defining plan")
    val misses = Caches.modelMissCount
    val second = GraphOps.copurchasePairSupports(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(Caches.modelMissCount == misses,
      "second substrate call must not re-derive (model-tier memo hit)")
    assert(second.sameElements(fromPlan))
    Caches.clear()
    // the memo deliberately SURVIVES the per-query clear (on-disk
    // derived table, not block-manager state)
    GraphOps.copurchasePairSupports(spark, sf).head()
    assert(Caches.modelMissCount == misses,
      "substrate must survive Caches.clear without re-deriving")
  }

  test("graph_degree_stats: histogram mass equals 2|E| and vertex count; witnesses bound the keys") {
    import graft.operators.GraphOps
    val hist = GraphOps.graphDegreeStats(spark, sf).collect()
    val edges = GraphOps.copurchaseEdges(spark, sf)
    val nEdges = edges.count()
    val nVerts = edges.select(explode(array(col("a"), col("b"))).as("n"))
      .distinct().count()
    // handshake lemma: Σ degree·n_parts = 2|E|; Σ n_parts = |V|
    assert(hist.map(r => r.getLong(0) * r.getLong(1)).sum == 2 * nEdges)
    assert(hist.map(_.getLong(1)).sum == nVerts)
    // degrees strictly ascending (it is a histogram), witnesses ordered
    val degrees = hist.map(_.getLong(0))
    assert(degrees.sameElements(degrees.sorted.distinct))
    hist.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3), "min_part must not exceed max_part")
    }
  }

  test("window_lag_features: per-user replay reproduces every lag/delta/gap") {
    val rows = graft.operators.Analytics.windowLagFeatures(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, userRows) =>
      val ordered = userRows.sortBy(_.getLong(4)) // seq
      ordered.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(4) == i + 1, "seq must be contiguous from 1")
        if (i == 0) {
          assert(r.isNullAt(5) && r.isNullAt(6) && r.isNullAt(7),
            "first purchase carries null prev/delta/gap")
        } else {
          val prev = ordered(i - 1)
          assert(r.getLong(5) == prev.getLong(3), "prev_cents must echo the prior row")
          assert(r.getLong(6) == r.getLong(3) - prev.getLong(3))
          assert(r.getLong(7) >= 0 && r.getLong(7) <= r.getLong(2) - prev.getLong(2) + 1,
            "gap must be the non-negative second-grain distance")
        }
      }
    }
  }

  test("graph_components: edge-consistent labels, exact sizes, crafted shapes") {
    import graft.operators.GraphOps
    import spark.implicits._
    // crafted: two components {1,2,3} (path) and {10,11} + the CC
    // helper itself is proven in DedupSpec; this pins the graph facade
    val crafted = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val ids = crafted.select(col("a").as("k"))
      .unionAll(crafted.select(col("b").as("k"))).distinct()
    val cc = graft.operators.Dedup.connectedComponents(ids, crafted, "k")
    assert(cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    Caches.clear()
    val out = GraphOps.graphComponents(spark, sf).cache()
    // labels are edge-consistent: both endpoints of every co-purchase
    // edge carry the same component
    val edges = GraphOps.copurchaseEdges(spark, sf)
    val la = out.select(col("part_key").as("a"), col("component").as("ca"))
    val lb = out.select(col("part_key").as("b"), col("component").as("cb"))
    assert(edges.join(la, "a").join(lb, "b").filter(col("ca") =!= col("cb")).count() == 0)
    // sizes are exact member counts and the component is its own min member
    val recount = out.groupBy("component").agg(
      count(lit(1)).as("n"), min("part_key").as("mn"))
    assert(out.join(recount, "component")
      .filter(col("component_size") =!= col("n") || col("component") =!= col("mn"))
      .count() == 0)
    out.unpersist()
    Caches.clear()
  }

  test("graph_bfs_hops equals a single-node BFS replay; edge-Lipschitz; seeds at zero") {
    import graft.operators.GraphOps
    val out = GraphOps.graphBfsHops(spark, sf).cache()
    // independent single-node BFS over the collected edge list
    val edges = GraphOps.copurchaseEdges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    val nodes = adj.keySet
    val seeds = Tables.part(spark, sf).filter(col("p_brand") === "Brand#1")
      .select("p_partkey").collect().map(_.getLong(0)).toSet intersect nodes
    var frontier = seeds
    val distMap = scala.collection.mutable.Map(seeds.map(_ -> 0L).toSeq: _*)
    var h = 0L
    while (h < 6 && frontier.nonEmpty) {
      h += 1
      frontier = frontier.flatMap(adj).diff(distMap.keySet)
      frontier.foreach(distMap(_) = h)
    }
    val got = out.collect()
      .map(r => r.getLong(0) ->
        Option(r.getAs[java.lang.Long]("hops")).map(_.longValue)).toMap
    assert(got.keySet == nodes)
    assert(got == nodes.map(n => n -> distMap.get(n)).toMap)
    // BFS distance is 1-Lipschitz along edges: reached endpoints of an
    // edge can differ by at most one hop
    edges.foreach { case (a, b) =>
      (got(a), got(b)) match {
        case (Some(da), Some(db)) => assert(math.abs(da - db) <= 1, s"edge ($a,$b)")
        case _ => ()
      }
    }
    out.unpersist()
    Caches.clear()
  }

  test("graph_similar_parts equals the materialized-neighbor-set road") {
    import graft.operators.GraphOps
    val out = GraphOps.graphSimilarParts(spark, sf)
    // independent road: actually materialize each node's neighbor SET
    // and score true array Jaccard over every candidate pair
    val edges = Tables.lineitem(spark, sf)
      .groupBy("l_orderkey").agg(collect_set(col("l_partkey")).as("parts"))
      .select(array_sort(col("parts")).as("ps")).filter(size(col("ps")) >= 2)
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
             transform(slice(ps, i + 2, size(ps) - i - 1),
                       y -> struct(x AS a, y AS b))))""")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("s")).filter(col("s") >= 2).select("a", "b")
    val sym = edges.unionAll(edges.select(col("b").as("a"), col("a").as("b")))
    val nbrs = sym.groupBy(col("a").as("n")).agg(collect_set(col("b")).as("nb")).cache()
    val pairs = nbrs.select(col("n").as("x"), col("nb").as("nx"))
      .crossJoin(nbrs.select(col("n").as("y"), col("nb").as("ny")))
      .filter(col("x") < col("y"))
      .select(col("x"), col("y"),
        size(array_intersect(col("nx"), col("ny"))).cast("long").as("n_common"),
        floor(lit(1000.0) * size(array_intersect(col("nx"), col("ny")))
          / size(array_union(col("nx"), col("ny")))).cast("long").as("jaccard_x1000"))
      .filter(col("n_common") > 0)
    val bidir = pairs.select(explode(array(
        struct(col("x").as("part_key"), col("y").as("similar_part"),
               col("n_common"), col("jaccard_x1000")),
        struct(col("y").as("part_key"), col("x").as("similar_part"),
               col("n_common"), col("jaccard_x1000")))).as("r"))
      .select("r.part_key", "r.similar_part", "r.n_common", "r.jaccard_x1000")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("part_key").orderBy(col("jaccard_x1000").desc, col("similar_part"))
    val viaSets = bidir.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("part_key", "rank", "similar_part", "n_common", "jaccard_x1000")
    assert(out.exceptAll(viaSets).count() == 0 && viaSets.exceptAll(out).count() == 0)
    assert(out.filter(col("jaccard_x1000") > 1000 || col("jaccard_x1000") < 1).count() == 0)
    nbrs.unpersist()
    Caches.clear()
  }

  test("bitmap_distinct is exact and its words merge like partial states") {
    val out = Analytics.bitmapDistinct(spark, sf)
    val exact = Tables.events(spark, sf).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    assert(out.join(exact, "event_type")
      .filter(col("n_distinct_users") =!= col("exact_users")).count() == 0)
    // word count never exceeds distinct users (≥1 user per set bit word)
    assert(out.filter(col("n_words") > col("n_distinct_users")).count() == 0)
  }

  test("bitmap_distinct_sparse: exact on SPARSE and NEGATIVE ids, ranks pack words maximally") {
    import spark.implicits._
    // the exact domain the dense road can't serve: negative ids (its
    // shiftleft(id % 64) is undefined-wrong there) and hash-shaped
    // sparsity (64-bit-scattered ids — one bit per dense word)
    val ids = Seq(-9007199254740993L, -1L, 0L, 63L, 64L,
                  1L << 40, (1L << 40) + 1, Long.MaxValue - 5, 999999999999L)
    val dir = java.nio.file.Files.createTempDirectory("graft_sparsebm").toString
    ids.zipWithIndex.flatMap { case (uid, i) =>
      val t = if (i % 2 == 0) "click" else "view"
      // duplicates on purpose: distinct-ness is what's being counted
      Seq((i * 2L, f"2024-01-01 00:${i % 60}%02d:00", uid, t, 1.0, "{}"),
          (i * 2L + 1, f"2024-01-01 01:${i % 60}%02d:00", uid, t, 1.0, "{}"))
    }.toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Analytics.bitmapDistinctSparse(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 9 ids alternate click/view: 5 click, 4 view — exact despite the
    // id domain spanning the whole long range
    assert(out("click")._1 == 5L && out("view")._1 == 4L, s"got $out")
    // dictionary ranks are dense 0..8, so each type's bits live in
    // word 0 only — maximal packing regardless of raw-id sparsity
    assert(out("click")._2 == 1L && out("view")._2 == 1L, s"got $out")
    // and on the real testdata the sparse road equals the dense road's counts
    val dense = Analytics.bitmapDistinct(spark, sf)
      .select("event_type", "n_distinct_users")
    val sparse = Analytics.bitmapDistinctSparse(spark, sf)
      .select("event_type", "n_distinct_users")
    assert(dense.exceptAll(sparse).count() == 0 && sparse.exceptAll(dense).count() == 0)
  }

  test("bitmap_overlap matches exact pairwise intersection counts") {
    val out = Analytics.bitmapOverlap(spark, sf).cache()
    val du = Tables.events(spark, sf).select("event_type", "user_id").distinct().cache()
    val exact = du.select(col("event_type").as("type_a"), col("user_id"))
      .join(du.select(col("event_type").as("type_b"), col("user_id")), Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("want"))
    assert(out.join(exact, Seq("type_a", "type_b"), "full")
      .filter(col("common_users").isNull || col("want").isNull
        || col("common_users") =!= col("want")).count() == 0)
    // overlap can never exceed either side's distinct count
    val totals = du.groupBy("event_type").agg(count(lit(1)).as("n"))
    val bad = out
      .join(totals.select(col("event_type").as("type_a"), col("n").as("na")), "type_a")
      .join(totals.select(col("event_type").as("type_b"), col("n").as("nb")), "type_b")
      .filter(col("common_users") > least(col("na"), col("nb"))
        || col("jaccard_x10000") > 10000)
    assert(bad.count() == 0)
    du.unpersist(); out.unpersist()
    Caches.clear()
  }

  test("vocab_encode: ids rank by frequency, encoding round-trips in-vocab tokens") {
    val out = TextOps.vocabEncode(spark, sf).cache()
    // one output row per token occurrence
    val occurrences = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))).count()
    assert(out.count() == occurrences)
    assert(out.filter(col("token_id") < 0 || col("token_id") > 256).count() == 0)
    // id 1 is the corpus-wide most frequent token (lexical tie-break)
    val exploded = Tables.documents(spark, sf)
      .select(col("doc_id"), posexplode(graft.functions.TextFunctions.tokens(col("text")))
        .as(Seq("pos", "token")))
    val top = exploded.groupBy("token").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token")).head().getAs[String]("token")
    val id1Positions = out.filter(col("token_id") === 1)
      .select(col("doc_id"), col("pos"))
    val topPositions = exploded.filter(col("token") === top)
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
    assert(id1Positions.except(topPositions).isEmpty
      && topPositions.except(id1Positions).isEmpty)
    out.unpersist()
    Caches.clear()
  }

  test("label propagation keeps bridge-linked dense communities separate where CC merges them") {
    import spark.implicits._
    import graft.operators.GraphOps
    val dir = java.nio.file.Files.createTempDirectory("graft-lp").toString
    // two triangles {1,2,3} and {10,11,12} joined by the single bridge
    // 3-10; each co-purchase pair appears in 2 orders (support floor)
    val basket = Seq(Seq(1L, 2L, 3L), Seq(10L, 11L, 12L), Seq(3L, 10L))
    val rows = for {
      (parts, b) <- basket.zipWithIndex
      rep <- 0 until 2
      p <- parts
    } yield (b * 2L + rep + 1L, p)
    rows.toDF("l_orderkey", "l_partkey").write.parquet(s"$dir/lineitem.parquet")
    val lp = GraphOps.labelPropagation(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // within-community labels agree...
    assert(Set(1L, 2L, 3L).map(lp).size == 1)
    assert(Set(10L, 11L, 12L).map(lp).size == 1)
    // ...but the two dense regions stay DISTINCT across the bridge
    assert(lp(1L) != lp(11L), s"communities merged: $lp")
    // while connected components merges everything into one family
    val cc = GraphOps.graphComponents(spark, dir).collect().map(_.getLong(1)).distinct
    assert(cc.length == 1)
    graft.Caches.clear()
  }

  test("label-prop winner agg: vote ties break to the SMALLEST label, == the window road") {
    import spark.implicits._
    import graft.operators.GraphOps
    import org.apache.spark.sql.expressions.Window
    // crafted votes: node 100 ties 2-2 between labels 5 and 9 (min
    // wins), node 200 has a strict 2-1 majority for 5, node 300 is
    // isolated (keeps its own label) — the exact surface the r18
    // max_by(struct(cnt, -label)) swap must preserve bit-for-bit
    val sym = Seq((1L, 100L), (2L, 100L), (3L, 100L), (4L, 100L),
                  (1L, 200L), (2L, 200L), (3L, 200L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 100L, 200L, 300L).toDF("node")
    val labels = Seq((1L, 5L), (2L, 5L), (3L, 9L), (4L, 9L),
                     (100L, 100L), (200L, 200L), (300L, 300L)).toDF("node", "label")
    val out = GraphOps.labelPropRound(sym, nodes, labels)
    val m = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(100L) == 5L, s"2-2 tie must break to the smaller label: $m")
    assert(m(200L) == 5L, s"strict majority must win: $m")
    assert(m(300L) == 300L, s"an isolated node keeps its own label: $m")
    // and the agg road equals the retired row_number-window road exactly
    val w = Window.partitionBy("dst").orderBy(col("cnt").desc, col("label"))
    val votes = sym.join(labels, sym("src") === labels("node"))
      .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("dst").as("node"), col("label").as("new_label"))
    val windowRoad = nodes.join(votes, Seq("node"), "left")
      .select(col("node"), coalesce(col("new_label"), col("node")).as("label"))
    assert(out.exceptAll(windowRoad).count() == 0 &&
           windowRoad.exceptAll(out).count() == 0)
  }

  test("label-prop delta-frontier round == full round, per round, on a partial-convergence graph") {
    import spark.implicits._
    import graft.operators.GraphOps
    // two triangles that converge by round 2 (their changed set goes
    // empty — the carry-forward path) next to a 6-node chain that
    // keeps churning (the re-vote path): the exact mix where a buggy
    // frontier restriction would freeze the chain or rewrite the
    // triangles. Drive 4 synchronous rounds; the delta road's changed
    // set comes from ITS OWN previous two rounds, exactly as
    // labelPropagation tracks it.
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L),
                  (10L, 11L), (11L, 12L), (10L, 12L),
                  (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L), (24L, 25L))
    val sym = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val nodes = sym.select(col("src").as("node")).distinct()
    val init = nodes.select(col("node"), col("node").as("label"))
    var full = init
    var delta = init
    var prevDelta = init
    (1 to 4).foreach { r =>
      val fullNext = GraphOps.labelPropRound(sym, nodes, full)
      val deltaNext =
        if (r == 1) GraphOps.labelPropRound(sym, nodes, delta)
        else {
          val changed = delta
            .join(prevDelta.withColumnRenamed("label", "prev_label"), Seq("node"))
            .filter(col("label") =!= col("prev_label")).select("node")
          GraphOps.labelPropRoundDelta(sym, delta, changed)
        }
      val f = fullNext.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val d = deltaNext.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(f == d, s"round $r: delta road diverged from full road\nfull: $f\ndelta: $d")
      prevDelta = delta
      // tiny crafted graph: carrying lineage across 4 rounds is fine
      full = fullNext
      delta = deltaNext
    }
  }

  test("labelPropagation force-delta == force-full on the testdata graph (and the registered default)") {
    import graft.operators.GraphOps
    // deltaDiv=1 switches to delta rounds from round 2 onward
    // (|changed| <= |nodes| always); 1<<30 tracks but can only switch
    // on an empty changed set (where the loop exits anyway), i.e.
    // every executed round is the full road; the default (0) disables
    // tracking entirely — the r18-shape plan the bench key runs.
    val fullRoad = GraphOps.labelPropagation(spark, sf, 5, deltaDiv = 1 << 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.Caches.clear()
    val deltaRoad = GraphOps.labelPropagation(spark, sf, 5, deltaDiv = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.Caches.clear()
    val default = GraphOps.labelPropagation(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.Caches.clear()
    assert(fullRoad == deltaRoad, "delta-frontier road diverged from full-round road at sf0.001")
    assert(default == fullRoad, "the registered default diverged from the forced roads")
  }

  test("graph_modularity: terms recompute from raw edges; separated triangles score high, one blob low") {
    import spark.implicits._
    import graft.operators.GraphOps
    // corpus-level: every community's columns recompute from the edge set
    val edges = GraphOps.copurchaseEdges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val comm = GraphOps.labelPropagation(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m = edges.length.toLong
    val deg = edges.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (n, xs) => n -> xs.length.toLong }
    val out = GraphOps.graphModularity(spark, sf).collect()
    assert(out.length == comm.values.toSet.size)
    var totalTerm = 0L
    out.foreach { r =>
      val c = r.getLong(0)
      val members = comm.collect { case (n, cc) if cc == c => n }.toSet
      assert(r.getLong(1) == members.size)
      val dSum = members.toSeq.map(deg).sum
      assert(r.getLong(2) == dSum, s"community $c degree_sum")
      val eIn = edges.count { case (a, b) => members(a) && members(b) }.toLong
      assert(r.getLong(3) == eIn, s"community $c intra_edges")
      val num = BigInt(1000000000L) * (BigInt(4) * m * eIn - BigInt(dSum) * dSum)
      val den = BigInt(4) * m * m
      assert(BigInt(r.getLong(4)) == num / den, s"community $c term") // BigInt / truncates
      totalTerm += r.getLong(4)
    }
    // Q is bounded in [-1, 1] by construction
    assert(totalTerm.abs <= 1000000000L)
    graft.Caches.clear()

    // crafted shape: two clean triangles (no bridge) are near-ideal
    // communities — Q = 2·(3/6 − (6/12)²) = 0.5 exactly
    val dir = java.nio.file.Files.createTempDirectory("graft-mod").toString
    val basket = Seq(Seq(1L, 2L, 3L), Seq(10L, 11L, 12L))
    val rows = for {
      (parts, b) <- basket.zipWithIndex; rep <- 0 until 2; p <- parts
    } yield (b * 2L + rep + 1L, p)
    rows.toDF("l_orderkey", "l_partkey").write.parquet(s"$dir/lineitem.parquet")
    val ideal = GraphOps.graphModularity(spark, dir).collect()
    assert(ideal.map(_.getLong(4)).sum == 500000000L,
      "two separated triangles must score Q = 0.5 exactly")
    assert(ideal.forall(_.getLong(3) == 3L))
    graft.Caches.clear()
  }

  test("assoc_rules: confidence and lift match a single-node basket recompute") {
    import graft.operators.GraphOps
    val out = GraphOps.assocRules(spark, sf).collect()
    assert(out.nonEmpty)
    val baskets = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = baskets.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val nOrders = byOrder.size.toLong
    val item = baskets.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    def pairSupport(a: Long, b: Long): Long =
      byOrder.values.count(s => s.contains(a) && s.contains(b)).toLong
    out.foreach { r =>
      val (ant, cons, ps) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(ps >= 2 && ps == pairSupport(ant, cons), s"$ant->$cons support")
      assert(r.getLong(3) == item(ant) && r.getLong(4) == item(cons))
      assert(r.getLong(5) == ps * 1000000L / item(ant), s"$ant->$cons confidence")
      assert(r.getLong(6) == ps * nOrders * 1000000L / (item(ant) * item(cons)),
        s"$ant->$cons lift")
    }
    // rules come in direction pairs sharing the same lift (lift is symmetric)
    val byPair = out.groupBy(r => (math.min(r.getLong(0), r.getLong(1)),
                                   math.max(r.getLong(0), r.getLong(1))))
    byPair.values.foreach { rs =>
      assert(rs.length == 2 && rs.map(_.getLong(6)).distinct.length == 1)
    }
  }

  test("rolling_median_spend: lower median of each trailing frame, robust to a spike") {
    import graft.operators.Analytics
    val out = Analytics.rollingMedianSpend(spark, sf, win = 5).collect()
    assert(out.nonEmpty)
    val tsNs = Tables.events(spark, sf).select(col("event_id"), col("ts_ns"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byUser = out.groupBy(_.getLong(0))
    byUser.values.foreach { rows =>
      // replay in the operator's frame order: (ts_ns, event_id)
      val seq = rows.sortBy(r => (tsNs(r.getLong(1)), r.getLong(1)))
      seq.zipWithIndex.foreach { case (r, i) =>
        val frame = seq.slice(math.max(0, i - 4), i + 1).map(_.getLong(3)).sorted
        assert(r.getLong(4) == frame.length)
        assert(r.getLong(5) == frame((frame.length - 1) / 2),
          s"user ${r.getLong(0)} event ${r.getLong(1)}")
      }
    }
    // robustness: a median never exceeds the frame max nor goes below min
    out.foreach(r => assert(r.getLong(5) >= 0))
  }

  test("user_ewma_spend: integral fold matches a single-node replay; bounded by [min,max] cents") {
    import graft.operators.Analytics
    val out = Analytics.userEwmaSpend(spark, sf).collect()
    assert(out.nonEmpty)
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        floor(col("value") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byUser = purchases.groupBy(_._1)
    assert(out.length == byUser.size)
    out.foreach { r =>
      val seq = byUser(r.getLong(0)).sortBy(t => (t._2, t._3)).map(_._4)
      val expected = seq.tail.foldLeft(seq.head)((acc, x) => (30 * x + 70 * acc) / 100)
      assert(r.getLong(1) == seq.length && r.getLong(2) == seq.last)
      assert(r.getLong(3) == expected, s"user ${r.getLong(0)}")
      // EWMA of non-negative cents stays inside the observed range
      assert(r.getLong(3) >= seq.min - 1 && r.getLong(3) <= seq.max)
    }
  }

  test("gap_fill_locf carries the last purchase reading forward, null before the first") {
    import graft.operators.Analytics
    val out = Analytics.gapFillLocf(spark, sf).collect()
    val tsNs = Tables.events(spark, sf).select(col("event_id"), col("ts_ns"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byUser = out.groupBy(_.getLong(0))
    byUser.values.foreach { rows =>
      // replay in the operator's frame order: (ts_ns, event_id)
      val inTime = rows.sortBy(r => (tsNs(r.getLong(1)), r.getLong(1)))
      var lastSeen: Option[Double] = None
      inTime.foreach { r =>
        if (!r.isNullAt(3)) lastSeen = Some(r.getDouble(3))
        (lastSeen, r.isNullAt(4)) match {
          case (None, isNull)    => assert(isNull, s"event ${r.getLong(1)} filled before any reading")
          case (Some(v), false)  => assert(r.getDouble(4) == v, s"event ${r.getLong(1)}")
          case (Some(_), true)   => fail(s"event ${r.getLong(1)} lost the carried value")
        }
      }
    }
    // readings exist and gaps exist (the fixture exercises both paths)
    assert(out.exists(!_.isNullAt(3)) && out.exists(r => r.isNullAt(3) && !r.isNullAt(4)))
  }

  test("window_percentile_rank equals the textbook window formulation; no Window in its own plan") {
    import org.apache.spark.sql.expressions.Window
    val out = Analytics.windowPercentileRank(spark, sf)
    // textbook per-type window (fine at spec scale, the scale trap the
    // operator exists to avoid in production)
    val w = Window.partitionBy("event_type").orderBy(col("cents"), col("event_id"))
    val textbook = Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"),
              floor(col("value") * 100).cast("long").as("cents"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy("event_type")).cast("long"))
      .select(col("event_type"), col("event_id"), col("cents"),
        when(col("n") > 1, expr("((rk - 1) * 1000000) div (n - 1)")).as("pct_x1e6"))
    assert(out.exceptAll(textbook).count() == 0 &&
           textbook.exceptAll(out).count() == 0)
    // bounds: min standing 0, max standing exactly 1e6 per multi-row type
    val ext = out.groupBy("event_type")
      .agg(min("pct_x1e6").as("lo"), max("pct_x1e6").as("hi"),
           count(lit(1)).as("n")).collect()
    ext.foreach { r =>
      if (r.getAs[Long]("n") > 1) {
        assert(r.getAs[Long]("lo") == 0L && r.getAs[Long]("hi") == 1000000L)
      }
    }
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"percentile standing must rank through DistRank, never a per-type window:\n$p")
  }

  test("window_percentile_rank: a singleton type has no standing (null), pairs split 0/1e6") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pctrank").toString
    Seq((1L, "2024-01-01 00:00:00", 10L, "a", 1.00, "{}"),
        (2L, "2024-01-01 00:01:00", 10L, "a", 2.00, "{}"),
        (3L, "2024-01-01 00:02:00", 11L, "b", 5.00, "{}"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Analytics.windowPercentileRank(spark, dir).collect()
      .map(r => (r.getAs[Long]("event_id"),
                 Option(r.getAs[java.lang.Long]("pct_x1e6")).map(_.longValue)))
      .toMap
    assert(got(1L) == Some(0L) && got(2L) == Some(1000000L) && got(3L) == None)
  }

  test("customer_rfm: balanced quintiles, inverted recency, metrics match a recompute") {
    import graft.operators.Analytics
    val out = Analytics.customerRfm(spark, sf).collect()
    assert(out.nonEmpty)
    // each score dimension is a balanced 5-way split (ntile fill rule)
    Seq(4, 5, 6).foreach { i =>
      val sizes = out.groupBy(_.getLong(i)).view.mapValues(_.size)
      assert(sizes.keySet.subsetOf(Set(1L, 2L, 3L, 4L, 5L)))
      assert(sizes.values.max - sizes.values.min <= 1, s"col $i skewed: $sizes")
    }
    // most recent customer scores r=5; highest spender m=5; segment concat
    val mostRecent = out.minBy(_.getLong(1))
    assert(mostRecent.getLong(4) == 5L)
    val topSpender = out.maxBy(_.getLong(3))
    assert(topSpender.getLong(6) == 5L)
    out.foreach { r =>
      assert(r.getString(7) == s"${r.getLong(4)}${r.getLong(5)}${r.getLong(6)}")
    }
    // metric recompute for frequency/monetary on the raw table
    val raw = Tables.orders(spark, sf)
      .select(col("o_custkey"), floor(col("o_totalprice") * 100).cast("long").as("c"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("f"), sum("c").as("m"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    out.foreach { r =>
      val (f, m) = raw(r.getLong(0))
      assert(r.getLong(2) == f && r.getLong(3) == m)
    }
  }

  test("skyline_pareto equals the all-pairs NOT-EXISTS dominance test") {
    val pts = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_size"),
              floor(col("p_retailprice") * 100).cast("long").as("price_cents"))
    // textbook quadratic dominance anti-join — the oracle the bounded-
    // domain frontier plan must reproduce exactly (test-only at sf0.001)
    val b = pts.select(col("p_size").as("b_size"), col("price_cents").as("b_price"))
    val brute = pts.join(b,
        col("b_price") <= col("price_cents") && col("b_size") >= col("p_size") &&
          (col("b_price") < col("price_cents") || col("b_size") > col("p_size")),
        "left_anti")
      .select("p_partkey", "p_size", "price_cents")
    val out = Analytics.skylinePareto(spark, sf)
      .select("p_partkey", "p_size", "price_cents")
    assert(out.exceptAll(brute).isEmpty && brute.exceptAll(out).isEmpty)
    assert(out.count() > 0)
    // frontier is strictly monotone once collapsed to one price per
    // size: larger size => strictly cheaper never happens upward
    val rows = out.select("p_size", "price_cents").distinct()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    rows.sliding(2).foreach {
      case Array((s1, p1), (s2, p2)) =>
        assert(s1 < s2 && p1 < p2, s"frontier not monotone: ($s1,$p1) vs ($s2,$p2)")
      case _ => ()
    }
  }

  test("value_histogram partitions all orders into in-range, ordered bins") {
    val out = Analytics.valueHistogram(spark, sf).collect()
    val n = Tables.orders(spark, sf).count()
    assert(out.map(_.getLong(1)).sum == n, "histogram drops or double-counts rows")
    assert(out.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 20))
    // observed value ranges of successive bins never overlap
    out.sortBy(_.getLong(0)).sliding(2).foreach {
      case Array(a, bb) => assert(a.getLong(3) < bb.getLong(2),
        s"bins ${a.getLong(0)}/${bb.getLong(0)} value ranges overlap")
      case _ => ()
    }
  }

  test("anomaly_tukey: crafted quartiles, fences, and the spike the fences catch") {
    import spark.implicits._
    // one type, values 1..9 plus a spike: n=10 → Q1 at rank 3, Q3 at
    // rank 7 (ceil conventions), IQR known, only the spike flagged
    val rows = ((1L to 9L).map(v => (v, "t", v)) :+ ((100L, "t", 10000L)))
      .toDF("event_id", "event_type", "cents")
    val out = graft.operators.Analytics.tukeyFlags(rows, 150)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toMap
    // n=10: q1 rank (10+3)/4=3 → 3; q3 rank (33)/4=8 → 8
    out.values.foreach { case (q1, q3, iqr, _) =>
      assert(q1 == 3L && q3 == 8L && iqr == 5L)
    }
    // fences ×100: lo = 300 − 750 = −450, hi = 800 + 750 = 1550 →
    // values 1..9 (100..900) inside, the 10000-cent spike out
    assert(out(100L)._4)
    (1L to 9L).foreach(id => assert(!out(id)._4, s"value $id wrongly flagged"))
    // corpus invariants: Q1 ≤ Q3 everywhere; flags are a strict minority
    val corpus = Analytics.anomalyTukey(spark, sf).cache()
    assert(corpus.filter(col("q1_cents") > col("q3_cents")).count() == 0)
    assert(corpus.filter(col("is_outlier")).count() < corpus.count() / 4)
    corpus.unpersist()
    graft.Caches.clear()
  }

  test("q7_nation_volume covers exactly the cross-nation lineitems") {
    val out = Analytics.q7NationVolume(spark, sf)
    // total cross-border revenue recomputed through a different join
    // order (dims first, then the fact), decimal-exact both roads
    val c = Tables.customer(spark, sf).select("c_custkey", "c_nationkey")
    val sup = Tables.supplier(spark, sf).select("s_suppkey", "s_nationkey")
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_custkey").join(c, col("o_custkey") === col("c_custkey"))
    val direct = Tables.lineitem(spark, sf)
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .agg(graft.functions.OracleSafe.sum4(
        col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("t"))
      .head().getDouble(0)
    val total = out.agg(sum("volume")).head().getDouble(0)
    assert(math.abs(total - direct) < 1e-6 * math.max(1.0, math.abs(direct)),
      s"cross-border totals diverge: $total vs $direct")
    // no domestic rows leak through
    assert(out.filter(col("cust_nation") === col("supp_nation")).count() == 0)
  }

  test("funnel_window_depth: conserves signup users, tightens monotonically with the window") {
    def counts(winSec: Long): Map[Long, Long] =
      Analytics.funnelWindowDepth(spark, sf, windowSec = winSec).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wide = counts(3650L * 86400)   // effectively unbounded window
    val narrow = counts(3600L)         // 1 hour
    val signupUsers = Tables.events(spark, sf)
      .filter(col("event_type") === "signup").select("user_id").distinct().count()
    // every signup user lands in exactly one depth, any window
    assert(wide.values.sum == signupUsers && narrow.values.sum == signupUsers)
    // a narrower window can only DEMOTE users: cumulative deep counts shrink
    assert(narrow.getOrElse(3L, 0L) <= wide.getOrElse(3L, 0L))
    assert(narrow.getOrElse(3L, 0L) + narrow.getOrElse(2L, 0L) <=
           wide.getOrElse(3L, 0L) + wide.getOrElse(2L, 0L))
    // the unbounded window reproduces the unconstrained chained funnel
    val ev = Tables.events(spark, sf)
    val s1 = ev.filter(col("event_type") === "signup").groupBy("user_id").agg(min("ts_ns").as("s"))
    val s2 = ev.filter(col("event_type") === "view").join(s1, "user_id")
      .filter(col("ts_ns") > col("s")).groupBy("user_id").agg(min("ts_ns").as("v"))
    val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("ts_ns") > col("v")).select("user_id").distinct()
    assert(wide.getOrElse(3L, 0L) == s3.count())
    assert(wide.getOrElse(3L, 0L) + wide.getOrElse(2L, 0L) == s2.count())
  }

  test("conversion_lag_histogram: buckets cover converters exactly, powers-of-two bounds") {
    val out = Analytics.conversionLagHistogram(spark, sf).collect()
    // independent converter count through a window plan instead of the
    // operator's agg-join shape
    val ev = Tables.events(spark, sf)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val converters = ev.filter(col("event_type").isin("signup", "purchase"))
      .withColumn("s_ns", min(when(col("event_type") === "signup", col("ts_ns"))).over(w))
      .filter(col("event_type") === "purchase" && col("ts_ns") > col("s_ns"))
      .select("user_id").distinct().count()
    assert(out.map(_.getLong(1)).sum == converters, "histogram drops or double-counts converters")
    out.foreach { r =>
      val (b, mn, mx) = (r.getLong(0), r.getLong(2), r.getLong(3))
      if (b == 0) assert(mn == 0 && mx == 0)
      else {
        assert(mn >= (1L << (b - 1).toInt) || b == 1,
          s"bucket $b min $mn below 2^${b - 1}")
        assert(mx < (1L << b.toInt), s"bucket $b max $mx reaches 2^$b")
      }
    }
  }

  test("time_weighted_avg: telescoping duration, interval count, bounded mean") {
    val out = Analytics.timeWeightedAvg(spark, sf)
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("ts_ns div 1000000000").as("ts_s"),
              floor(col("value") * 100).cast("long").as("cents"))
    val perUser = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n_ev"), (max("ts_s") - min("ts_s")).as("span_s"),
           min("cents").as("min_c"), max("cents").as("max_c"))
    val joined = out.join(perUser, "user_id").cache()
    // intervals = events − 1, and their durations telescope to the span
    assert(joined.filter(col("n_intervals") =!= col("n_ev") - 1).count() == 0)
    assert(joined.filter(col("dur_s") =!= col("span_s")).count() == 0)
    // a weighted mean can never leave the value range of its inputs
    assert(joined.filter(col("twa_cents").isNotNull &&
      (col("twa_cents") < col("min_c") || col("twa_cents") > col("max_c"))).count() == 0)
    // single-event users emit no row
    val single = perUser.filter(col("n_ev") === 1).select("user_id")
    assert(out.join(single, Seq("user_id"), "left_semi").count() == 0)
    joined.unpersist()
  }

  test("anomaly_cusum: crafted surge and silent drop both flagged, stable regime never") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cusum").toString
    // type "surge": 10/day for days 0..39, then 30/day for days 40..49
    // type "drop":  10/day for days 0..39, then SILENCE (no rows) 40..49,
    //               then one closing event on day 50 so the spine spans the gap
    // type "flat":  10/day throughout — must never flag
    def day(d: Int, hh: Int, i: Int) = f"2024-01-01 00:00:00".replace(
      "2024-01-01", java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString)
    var id = 0L
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String, Long, String, Double, String)]()
    def emit(t: String, d: Int, n: Int): Unit = (1 to n).foreach { i =>
      id += 1; rows += ((id, day(d, 0, i), 1L, t, 1.0, "{}"))
    }
    (0 until 40).foreach { d => emit("surge", d, 10); emit("drop", d, 10); emit("flat", d, 10) }
    (40 until 50).foreach { d => emit("surge", d, 30); emit("flat", d, 10) }
    emit("drop", 50, 1)
    (50 until 51).foreach { d => emit("flat", d, 10) }
    rows.toSeq.toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Analytics.anomalyCusum(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getBoolean(5), r.getBoolean(6)))).toMap
    val d0 = out.keys.filter(_._1 == "flat").map(_._2).min
    // flat: no flag anywhere
    assert(out.filter(_._1._1 == "flat").forall { case (_, (_, su, sd)) => !su && !sd })
    // surge: up-flag fires somewhere in the raised regime, never before it
    val surgeFlags = out.filter(_._1._1 == "surge").map { case ((_, d), (_, su, _)) => (d - d0, su) }
    assert(surgeFlags.filter(_._1 < 40).forall(!_._2), "no up-flag before the surge")
    assert(surgeFlags.exists { case (d, su) => d >= 40 && su }, "surge must be flagged")
    // drop: down-flag fires inside the silent window (zero-filled days), never before
    val dropFlags = out.filter(_._1._1 == "drop").map { case ((_, d), (_, _, sd)) => (d - d0, sd) }
    assert(dropFlags.filter(_._1 < 40).forall(!_._2), "no down-flag before the silence")
    assert(dropFlags.exists { case (d, sd) => d >= 40 && sd }, "silent decay must be flagged")
    // zero-filled days really exist in the output (the spine join worked)
    assert(out.exists { case ((t, _), (n, _, _)) => t == "drop" && n == 0L })
  }

  test("attribution: in-window/expired/missing touches and tied timestamps credit correctly") {
    import spark.implicits._
    val day = 86400L * 1000000000L
    // (user, event_id, ts_ns, type, cents)
    val events = Seq(
      // u1: click then purchase 1 day later — credited to click
      (1L, 10L, 10 * day, "click", 0L), (1L, 11L, 11 * day, "purchase", 100L),
      // u2: view 10 days before purchase — expired at 7-day lookback → none
      (2L, 20L, 10 * day, "view", 0L), (2L, 21L, 20 * day, "purchase", 200L),
      // u3: no touch at all → none
      (3L, 30L, 10 * day, "purchase", 400L),
      // u4: view long ago, click in window — LAST touch wins
      (4L, 40L, 1 * day, "view", 0L), (4L, 41L, 19 * day, "click", 0L),
      (4L, 42L, 20 * day, "purchase", 800L),
      // u5: touch TIED with the purchase timestamp, smaller event_id →
      // precedes in the (ts_ns, event_id) total order → credited
      (5L, 50L, 30 * day, "view", 0L), (5L, 51L, 30 * day, "purchase", 1600L),
      // u6: tied timestamp but touch has the LARGER event_id → follows
      // the purchase in the total order → not a preceding touch → none
      (6L, 61L, 30 * day, "purchase", 3200L), (6L, 62L, 30 * day, "click", 0L),
      // u7: touch exactly AT the lookback boundary (ts - lookback) counts
      (7L, 70L, 13 * day, "view", 0L), (7L, 71L, 20 * day, "purchase", 6400L))
      .toDF("user_id", "event_id", "ts_ns", "event_type", "cents")
    val out = Analytics.attributionOver(events, 7 * day)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("click") == ((2L, 900L, 285714L)))          // u1, u4
    assert(out("view") == ((2L, 8000L, 285714L)))          // u5, u7
    assert(out("none") == ((3L, 3800L, 428571L)))          // u2, u3, u6
    assert(out.values.map(_._1).sum == 7L, "every purchase credited exactly once")
  }

  test("attribution on the corpus: conservation and share algebra") {
    val out = Analytics.attributionLastTouch(spark, sf).cache()
    val rows = out.collect()
    val purchases = Tables.events(spark, sf).filter(col("event_type") === "purchase")
    val nP = purchases.count()
    assert(rows.map(_.getLong(1)).sum == nP, "conversions partition the purchases")
    val revenue = purchases
      .agg(sum(floor(col("value") * 100).cast("long"))).head().getLong(0)
    assert(rows.map(_.getLong(2)).sum == revenue, "revenue is conserved across channels")
    // integral floor shares: sum in (1e6 - #channels, 1e6]
    val shares = rows.map(_.getLong(3)).sum
    assert(shares > 1000000L - rows.length && shares <= 1000000L)
    assert(rows.map(_.getString(0)).forall(Set("view", "click", "none")))
    out.unpersist()
  }
}

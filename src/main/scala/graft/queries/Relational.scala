package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Core relational suite over the TPC-H-ish driver tables.
  *
  * These exercise the engine substrate every imposm3-derived operator sits
  * on: partial-aggregate groupBy, broadcast vs shuffle joins, semi/anti
  * joins, windows, rollup, union-distinct, top-k. Each query has an exact
  * DuckDB oracle (see `oracles`).
  */
object Relational {

  // -- q1: full-table aggregation (TPC-H Q1 shape; map-side partial agg) ----
  private def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // -- q6: selective filter + single aggregate (predicate pushdown path) ----
  private def q6Revenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.filter(col("l_shipdate") >= lit("1995-01-01") &&
              col("l_shipdate") < lit("1996-01-01") &&
              col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
              col("l_quantity") < 24)
      .agg(coalesce(sum(dec(col("l_extendedprice")) * dec(col("l_discount"))),
                    lit(0).cast("decimal(18,2)"))
             .cast("double").as("revenue"),
           count(lit(1)).as("n_rows"))
  }

  // -- q3: 3-way shuffle join + group by derived year -----------------------
  private def q3RevenueBySegment(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o  = t(s, dir, "orders")
    val c  = t(s, dir, "customer")
    // customer scales with SF (~15M rows at sf100): no forced broadcast —
    // AQE picks broadcast when the build side is actually small.
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"), year(col("o_orderdate")).cast("long").as("order_year"))
      .agg(
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy("c_mktsegment", "order_year")
  }

  // -- q5: star join through nation/region with local-supplier predicate ----
  private def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o  = t(s, dir, "orders")
    val c  = t(s, dir, "customer")
    val su = t(s, dir, "supplier")
    val n  = t(s, dir, "nation")
    val r  = t(s, dir, "region")
    // customer/supplier scale with SF — leave those joins to AQE; only
    // nation (25 rows) and region (5 rows) are bounded forever.
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, li("l_suppkey") === su("s_suppkey") &&
                c("c_nationkey") === su("s_nationkey"))
      .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
             .cast("double").as("revenue"),
           count(lit(1)).as("n_lineitems"))
      .orderBy("r_name", "n_name")
  }

  // -- q4: EXISTS via left-semi join ----------------------------------------
  private def q4SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val o  = t(s, dir, "orders")
    val li = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  // -- anti: NOT EXISTS via left-anti join ----------------------------------
  private def qAntiOrders(s: SparkSession, dir: String): DataFrame = {
    val o  = t(s, dir, "orders")
    val li = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  // -- runtime Bloom-filter join pruning --------------------------------------
  // The dim filter (brand+size) is selective but NOT on the join key, so a
  // plain plan ships every lineitem row into the join. BloomPrune builds a
  // Bloom filter of the 15 surviving part keys with the native distributed
  // BloomFilterAggregate, broadcasts the one-row blob, and drops ~99% of
  // the fact scan BEFORE any exchange (at 100 TB: shuffle bytes scale with
  // matches, not with the fact table). Lossless — Bloom false positives are
  // removed by the real join that follows — so the oracle is the PLAIN
  // join SQL, which is the strongest possible gate for a pruning rewrite.
  private def qBloomPrune(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
      .filter(col("p_brand") === "Brand#3" && col("p_size") < 10)
    graft.operators.BloomPrune.prunedJoin(li, "l_partkey", p, "p_partkey")
      .groupBy(col("p_partkey"))
      .agg(
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("p_partkey")
  }

  // -- window: top-3 orders per customer ------------------------------------
  private def qWindowTop3(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rk")
  }

  // -- same result via the OPTIMIZER REWRITE of the window spelling ----------
  // The user writes the standard row_number window pattern; TopKRewriteRule
  // (registered for just this query's planning) replaces Filter+Window with
  // the bounded-heap TopKPerKeyNode. The require() makes the gate fail
  // loudly if the rewrite ever stops firing — otherwise the query would
  // silently fall back to the (equally correct) window plan and the rule
  // would rot ungated. Planning is forced inside the registration window;
  // Verify's later write reuses the cached QueryExecution.
  private def qWindowTop3Rewrite(s: SparkSession, dir: String): DataFrame = {
    org.apache.spark.sql.graft.TopKPerKey.registerRewrite(s)
    try {
      val o = t(s, dir, "orders")
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val df = o.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn").cast("long").as("rk"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "rk")
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("TopKPerKey"),
        s"window rewrite did not fire:\n$plan")
      df
    } finally org.apache.spark.sql.graft.TopKPerKey.unregisterRewrite(s)
  }

  // -- same result via the custom TopKPerKeyExec (bounded per-key heap) -----
  // Identical semantics and oracle as q_window_top3, but planned through the
  // custom strategy: one hash shuffle, then an O(n log k) heap pass instead
  // of Window's full partition sort.
  private def qWindowTop3TopK(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    graft.operators.TopK.perKey(o, Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
      .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rk")
  }

  // -- q15 shape: top supplier by revenue (scalar-max subquery) --------------
  // Revenue per supplier in exact DECIMAL, the max as a broadcast 1-row
  // cross join, equality ON THE DECIMAL (never the double) so the boundary
  // decision is identical on both engines.
  private def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    val rev = li.groupBy(col("l_suppkey").as("supplier_no"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .as("tr"))
    val mx = rev.agg(max(col("tr")).as("mx"))
    rev.crossJoin(broadcast(mx)).filter(col("tr") === col("mx"))
      .join(sup, col("supplier_no") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("tr").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  // -- q18 shape: large-volume orders (semi join on a grouped HAVING) --------
  private def q18LargeVolume(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val big = li.groupBy("l_orderkey")
      .agg(sum(dec(col("l_quantity"))).as("sum_qty_dec"))
      .filter(col("sum_qty_dec") > 250)
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(big, o("o_orderkey") === big("l_orderkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        col("sum_qty_dec").cast("double").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
  }

  // -- q19 shape: disjunctive brand/size/quantity predicates -----------------
  // The OR-of-ANDs revenue query — the plan-quality point is that the
  // disjunction still prunes: per-branch part predicates reach the part
  // scan, and the join stays a broadcast of the filtered part side.
  private def q19DiscountedRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    val joined = li.join(p, li("l_partkey") === p("p_partkey"))
    val branch1 = col("p_brand") === "Brand#12" &&
      col("p_size").between(1, 5) && col("l_quantity").between(1, 11)
    val branch2 = col("p_brand") === "Brand#23" &&
      col("p_size").between(1, 10) && col("l_quantity").between(10, 20)
    val branch3 = col("p_brand") === "Brand#34" &&
      col("p_size").between(1, 15) && col("l_quantity").between(20, 30)
    joined.filter(branch1 || branch2 || branch3)
      .agg(coalesce(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))),
        lit(0).cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  // -- q21 shape: sole-blame supplier (semi + anti self-correlation) ---------
  // Suppliers with a returned line on a multi-supplier order where NO other
  // supplier returned on that order — TPC-H q21's EXISTS/NOT-EXISTS double
  // self-join correlation, adapted to this schema's returnflag (it has no
  // commit/receipt dates). Both correlations are id-only self joins on
  // l_orderkey: a semi join proving another supplier shipped the order and
  // an anti join excluding any other supplier's return.
  private def q21SoleBlame(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    val l1 = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .distinct()
    val others = li.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
    val othersR = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
    val waited = l1
      .join(others, col("ok") === col("ok2") && col("sk") =!= col("sk2"),
        "left_semi")
      .join(othersR, col("ok") === col("ok3") && col("sk") =!= col("sk3"),
        "left_anti")
    waited.join(sup, col("sk") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(countDistinct(col("ok")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
  }

  // -- same ranking via the custom operator's keyless-global mode -----------
  // A/B partner for q_top_parts: identical semantics and oracle, planned as
  // TopK.global — per-partition partial heaps + one k×partitions-row merge —
  // instead of Catalyst's TakeOrderedAndProject. Same bounded-heap shape;
  // this proves the custom exec covers the global case too.
  private def qTopPartsTopK(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p  = t(s, dir, "part")
    val agg = li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy("p_partkey", "p_brand")
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
             .cast("double").as("revenue"))
    graft.operators.TopK.global(agg,
        Seq(col("revenue").desc, col("p_partkey")), 10)
      .drop("rk")
      .orderBy(col("revenue").desc, col("p_partkey"))
  }

  // -- q2 shape: min-cost supplier (correlated scalar-min subquery) ----------
  // The schema has no partsupp, so the supply relation is derived from
  // lineitem: cost(part, supp) = MIN(extendedprice) over their shipments —
  // the correlated "= (SELECT MIN(...) WHERE same part)" structure is what
  // this gates. The per-part min rides as an equi join against a groupBy
  // (Catalyst's decorrelation target shape); region/nation are broadcast.
  private def q2MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    val p = t(s, dir, "part")
    val ps = li.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(dec(col("l_extendedprice"))).as("cost"))
    val eu = ps.join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select(col("l_partkey"), col("l_suppkey"), col("cost"),
        col("s_name"), col("s_acctbal"), col("n_name"))
    val euMin = eu.groupBy(col("l_partkey").as("m_partkey"))
      .agg(min(col("cost")).as("min_cost"))
    p.filter(col("p_type") === "LARGE" && col("p_size").between(10, 20))
      .join(eu, col("p_partkey") === eu("l_partkey"))
      .join(euMin, col("p_partkey") === col("m_partkey") &&
        col("cost") === col("min_cost"))
      .select(col("p_partkey"), col("l_suppkey").as("s_suppkey"),
        col("s_name"), col("n_name"), col("s_acctbal"),
        col("cost").cast("double").as("supply_cost"))
      .orderBy(col("s_acctbal").desc, col("p_partkey"), col("s_suppkey"))
  }

  // -- q7 shape: volume shipping between two nations (either direction) ------
  // The disjunctive nation-pair predicate sits above two independent
  // broadcast nation joins; everything else is the usual fact-chain shuffle.
  private def q7VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val n1 = n.select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = n.select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
    li.filter(col("l_shipdate") >= lit("1995-01-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
              (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  // -- q8 shape: market share of one supplier nation per order year ----------
  // Conditional share: both the numerator (CASE) and denominator are exact
  // DECIMAL sums, divided as doubles only at the end — one IEEE division,
  // identical on both engines.
  private def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val sup = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    val n1 = n.select(col("n_nationkey").as("n1_key"), col("n_regionkey").as("n1_region"))
    val n2 = n.select(col("n_nationkey").as("n2_key"), col("n_name").as("supp_nation"))
    val volume = dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
    li.join(p.filter(col("p_type") === "ECONOMY"), col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("c_nationkey") === col("n1_key"))
      .join(broadcast(r.filter(col("r_name") === "ASIA")),
        col("n1_region") === col("r_regionkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n2), col("s_nationkey") === col("n2_key"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        (sum(when(col("supp_nation") === "NATION_5", volume)
          .otherwise(lit(0).cast("decimal(18,2)"))).cast("double") /
          sum(volume).cast("double")).as("mkt_share"),
        sum(volume).cast("double").as("total_volume"),
        count(lit(1)).as("n_rows"))
      .orderBy("o_year")
  }

  // -- q9 shape: product-type profit by nation and year (LIKE-filtered) ------
  // No partsupp/supplycost in this schema, so profit is the discounted
  // revenue — the gated shape is the LIKE-pruned part join feeding a
  // 4-table chain grouped on (dimension attribute, derived year).
  private def q9ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    val sup = t(s, dir, "supplier")
    val o = t(s, dir, "orders")
    val n = t(s, dir, "nation")
    li.join(p.filter(col("p_name").like("%bolt%")), col("l_partkey") === col("p_partkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast("double").as("profit"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  // -- q10 shape: top returned-revenue customers in a quarter ----------------
  private def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val li = t(s, dir, "lineitem")
    val n = t(s, dir, "nation")
    c.join(o.filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1997-04-01")),
        col("c_custkey") === col("o_custkey"))
      .join(li.filter(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"), col("c_acctbal"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .select("c_custkey", "c_name", "n_name", "revenue", "c_acctbal")
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  // -- q11 shape: important stock (scalar subquery in HAVING) ----------------
  // The HAVING threshold is a scalar aggregate over the SAME derived frame,
  // broadcast back as a 1-row cross join; the boundary decision is exact
  // (DECIMAL × 1000 vs DECIMAL total), never a float fraction.
  private def q11ImportantStock(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    val v = li
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n.filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("l_partkey").as("partkey"))
      .agg(sum(dec(col("l_extendedprice"))).as("val"))
    val total = v.agg(sum(col("val")).as("total_val"))
    v.crossJoin(broadcast(total))
      .filter(col("val") * 1000 > col("total_val"))
      .select(col("partkey"), col("val").cast("double").as("value"))
      .orderBy(col("value").desc, col("partkey"))
  }

  // -- q12 shape: late shipments split by order priority (CASE counts) -------
  // No shipmode/receiptdate in this schema: "late" = shipped more than 90
  // days after the order date; the gated shape is the join + CASE-bucketed
  // counts per group.
  private def q12LatePriority(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val li = t(s, dir, "lineitem")
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    o.join(li, col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(high, 1L).otherwise(0L)).cast("long").as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).cast("long").as("low_line_count"))
      .orderBy("l_returnflag")
  }

  // -- q14 shape: promo revenue share in one month ---------------------------
  private def q14PromoRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    val volume = dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
    li.filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1997-02-01"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .agg(
        (lit(100.0) * sum(when(col("p_type") === "PROMO", volume)
          .otherwise(lit(0).cast("decimal(18,2)"))).cast("double") /
          sum(volume).cast("double")).as("promo_revenue"),
        count(lit(1)).as("n_rows"))
  }

  // -- q16 shape: supplier count per part group, NOT-IN exclusion ------------
  // The part-supplier relation is the distinct (l_partkey, l_suppkey) pairs
  // from lineitem (no partsupp table); "complaint" suppliers are the
  // negative-balance ones, excluded with a left-anti join — the NOT IN
  // (subquery) plan shape.
  private def q16SupplierCnt(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    val sup = t(s, dir, "supplier")
    val ps = li.select(col("l_partkey"), col("l_suppkey")).distinct()
    val excluded = sup.filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    ps.join(p.filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 5, 15, 25, 35, 45)),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size").cast("long").as("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  // -- q20 shape: suppliers shipping big volumes of LIKE-named parts ---------
  // Nested IN-subqueries become a chain: LIKE-filtered part ids feed a
  // grouped-HAVING aggregate over lineitem, whose supplier ids semi-join
  // the supplier table.
  private def q20PartPromotion(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    val sup = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    val smallParts = p.filter(col("p_name").like("small%")).select(col("p_partkey"))
    val bigShippers = li
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .join(smallParts, col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(dec(col("l_quantity"))).as("sq"))
      .filter(col("sq") > 50)
      .select(col("l_suppkey"))
    sup.join(bigShippers, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy("s_suppkey")
  }

  // -- sessionize: gap>30min sessions from the events stream table ----------
  private def qSessionize(s: SparkSession, dir: String): DataFrame = {
    // ts arrives as a long (ns since epoch) via nanosAsLong; DuckDB sees a
    // TIMESTAMP_NS — the oracle must floor (epoch_ns // 1e9) to match integer
    // DIV here; DuckDB's epoch(ts)::BIGINT rounds and diverges on .5s+.
    val ev = t(s, dir, "events")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
             (expr("ts DIV 1000000000") - expr("prev_ts DIV 1000000000")) > 1800, 1L)
          .otherwise(0L))
      .groupBy("user_id")
      .agg(sum(col("new_sess")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  // -- conversion funnel: first view → first click after → first purchase ----
  // The product-analytics staple: per user, the earliest view, the earliest
  // click strictly after it, the earliest purchase strictly after that —
  // only fully-converted users survive. Three min-aggregates all hashed on
  // user_id, so the exchanges collapse onto one partitioning (Catalyst
  // reuses the shuffle); at 100 TB this is one shuffle of the events table,
  // not three. Time math in µs (DuckDB's parquet reader truncates ns).
  private def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").withColumn("ts_us", expr("ts DIV 1000"))
      .select("user_id", "event_type", "ts_us")
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("view_us"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("ts_us") > col("view_us"))
      .groupBy(col("user_id"), col("view_us"))
      .agg(min(col("ts_us")).as("click_us"))
    ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("ts_us") > col("click_us"))
      .groupBy(col("user_id"), col("view_us"), col("click_us"))
      .agg(min(col("ts_us")).as("purchase_us"))
      .orderBy("user_id")
  }

  // -- retention cohorts: first-event week × weeks-since-cohort --------------
  // The classic cohort table: each user's cohort is their first-activity
  // week; every event then lands in (cohort_week, week_offset) with a
  // distinct-user count. Both the first-event aggregate and the join hash
  // on user_id, so the events table shuffles once and the partitioning is
  // reused; week indices are pure integer µs division — no calendar
  // functions whose week-numbering rules could diverge between engines.
  private def qCohort(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("week", expr("ts DIV 1000 DIV 604800000000"))
      .select("user_id", "week")
    val first = ev.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    ev.join(first, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("cohort_week", "week_offset")
  }

  // -- decile distribution: ntile within each order priority -----------------
  // ntile(10) partitioned by o_orderpriority (deterministic under the
  // unique (o_totalprice, o_orderkey) order), rolled up to per-decile
  // min/max/count — the quantile-bucket report shape. Partitioned windows
  // scale (state is one partition's run, not the table); only GLOBAL
  // ntile would need the PrefixSum spelling.
  private def qDeciles(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    o.withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy("o_orderpriority", "decile")
      .agg(min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority", "decile")
  }

  // -- GLOBAL ntile via the distributed prefix scan --------------------------
  // The scale-safe spelling of a global quantile bucketing: a global
  // NTILE/ROW_NUMBER window collapses to ONE partition; here the 0-based
  // global position comes from PrefixSum (one range shuffle, O(partitions)
  // longs to the driver) and bucket = pos*10 DIV n — pure integer math,
  // identical to the oracle's ROW_NUMBER arithmetic. Complements
  // q_deciles (per-key ntile, where a partitioned Window is fine).
  private def qNtileGlobal(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice")).withColumn("one", lit(1L))
    val pos = graft.operators.PrefixSum.exclusive(o,
      Seq(col("o_totalprice"), col("o_orderkey")), "one", "pos", 0)
    val n = o.agg(count(lit(1)).as("n_total"))
    pos.crossJoin(broadcast(n))
      .withColumn("bucket", expr("pos * 10 DIV n_total") + 1)
      .groupBy("bucket")
      .agg(min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        count(lit(1)).as("n_orders"))
      .orderBy("bucket")
  }

  // -- rank statistics: rank / dense_rank / percent_rank / cume_dist ---------
  // The remaining ranking-window family in one gate. Ordering by the
  // non-unique o_totalprice is deliberate: tie groups share rank and
  // cume_dist, which is exactly where engines disagree if the semantics
  // are off. percent_rank and cume_dist are single divisions of exact
  // integers — bit-identical cross-engine.
  private def qRankStats(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 450000)
    val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice"))
    o.select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        rank().over(w).cast("long").as("rk"),
        dense_rank().over(w).cast("long").as("drk"),
        percent_rank().over(w).as("prk"),
        cume_dist().over(w).as("cd"))
      .orderBy("o_orderpriority", "o_totalprice", "o_orderkey")
  }

  // -- correlated LATERAL subquery with per-row LIMIT ------------------------
  // The SQL spelling of top-N-per-group: each nation row drives a
  // correlated ordered-LIMIT subquery. Catalyst decorrelates the lateral
  // into a window/join plan — the gate pins that the rewrite's semantics
  // (per-group limit + tie order) survive. Expressed through spark.sql
  // because LATERAL has no DataFrame-API equivalent.
  private def qLateralTop2(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "nation").createOrReplaceTempView("v_nation")
    t(s, dir, "customer").createOrReplaceTempView("v_customer")
    s.sql(
      """SELECT n_name, c_custkey, c_acctbal
        |FROM v_nation,
        | LATERAL (SELECT c_custkey, c_acctbal FROM v_customer
        |   WHERE c_nationkey = n_nationkey
        |   ORDER BY c_acctbal DESC, c_custkey LIMIT 2)
        |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin)
  }

  // -- blocked fuzzy match: Levenshtein entity resolution --------------------
  // The dedup-by-typo shape: candidate pairs meet only inside a blocking
  // key (first character — an EQUI join Catalyst extracts, never a
  // cross join) plus a length band, then the edit-distance predicate
  // decides. Levenshtein is pure integer DP, identical on both engines.
  // At scale the blocking key is the whole game: first-char is the demo;
  // production uses phonetic keys or q-gram buckets, same plan shape.
  private def qFuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val names = t(s, dir, "part").select(col("p_name")).distinct()
    val a = names.select(col("p_name").as("name_a"),
      substring(col("p_name"), 1, 1).as("blk_a"), length(col("p_name")).as("len_a"))
    val b = names.select(col("p_name").as("name_b"),
      substring(col("p_name"), 1, 1).as("blk_b"), length(col("p_name")).as("len_b"))
    a.join(b, col("blk_a") === col("blk_b") &&
        abs(col("len_a") - col("len_b")) <= 2 && col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= 3)
      .select(col("name_a"), col("name_b"), col("dist"))
      .orderBy("name_a", "name_b")
  }

  // -- set operations: EXCEPT and INTERSECT (distinct semantics) -------------
  // Spark plans both as distinct + left-anti / left-semi joins; the gate
  // pins the SQL set semantics (dedup, null handling) against the oracle.
  private def qExceptIntersect(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val y97 = o.filter(col("o_orderdate") >= lit("1997-01-01") &&
      col("o_orderdate") < lit("1998-01-01")).select(col("o_custkey"))
    val y98 = o.filter(col("o_orderdate") >= lit("1998-01-01") &&
      col("o_orderdate") < lit("1999-01-01")).select(col("o_custkey"))
    y97.except(y98).withColumn("tag", lit("only_1997"))
      .unionByName(y97.intersect(y98).withColumn("tag", lit("both")))
      .select(col("tag"), col("o_custkey"))
      .orderBy("tag", "o_custkey")
  }

  // -- native session_window gated by a gaps-and-islands oracle --------------
  // q_sessionize hand-rolls sessions with lag(); this gates Spark's NATIVE
  // session_window aggregate against an INDEPENDENT spelling (DuckDB
  // break/cumsum islands) — two different algorithms agreeing on the same
  // session set, including the boundary rule (gap exactly equal ⇒ merge).
  private def qSessionWindow(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("tsts", expr("timestamp_micros(ts DIV 1000)"))
    ev.groupBy(col("user_id"),
        session_window(col("tsts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("total_value"))
      .select(col("user_id"),
        expr("unix_micros(sw.start)").as("start_us"),
        expr("unix_micros(sw.end)").as("end_us"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "start_us")
  }

  // -- native tumbling window() aggregate ------------------------------------
  private def qTumblingHour(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("tsts", expr("timestamp_micros(ts DIV 1000)"))
    ev.groupBy(window(col("tsts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("total_value"))
      .select(expr("unix_micros(w.start)").as("start_us"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy("start_us", "event_type")
  }

  // -- native SLIDING window() aggregate -------------------------------------
  // The overlapping-window sibling of q_tumbling_hour: 1-hour windows
  // every 30 minutes, so each event lands in exactly two windows. Gated
  // against an oracle that derives both covering windows with integer µs
  // arithmetic — an independent spelling of the window-assignment rule,
  // so a slide/width semantics drift fails values, not just types.
  private def qSlidingWindows(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("tsts", expr("timestamp_micros(ts DIV 1000)"))
    ev.groupBy(window(col("tsts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(expr("unix_micros(w.start)").as("start_us"), col("event_type"),
        col("n_events"))
      .orderBy("start_us", "event_type")
  }

  // -- schema-evolution union: unionByName over drifted schemas --------------
  // The ingestion semantic every long-lived corpus hits: a new drop adds
  // a column the old data lacks. unionByName(allowMissingColumns) aligns
  // by NAME and null-fills — positional UNION would silently misalign.
  // Two projections of orders stand in for the two schema generations;
  // DuckDB mirrors with UNION ALL BY NAME.
  private def qUnionEvolve(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val gen1 = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val gen2 = o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"))
    gen1.unionByName(gen2, allowMissingColumns = true)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_totalprice")).as("n_with_price"),
        sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("o_orderpriority")
  }

  // -- FULL OUTER join: reconciling two per-user aggregates ------------------
  // The remaining outer-join class (q13 gates left outer): purchase and
  // error totals per user, full-outer merged so users present on either
  // side survive with NULL-coalesced counts.
  private def qFullOuter(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"))
      .agg(count(lit(1)).as("n_purchase"),
        sum(dec(col("value"))).cast("double").as("purchase_value"))
    val e = ev.filter(col("event_type") === "error")
      .groupBy(col("user_id").as("e_user"))
      .agg(count(lit(1)).as("n_error"))
    p.join(e, col("p_user") === col("e_user"), "full_outer")
      .select(coalesce(col("p_user"), col("e_user")).as("user_id"),
        coalesce(col("n_purchase"), lit(0L)).as("n_purchase"),
        coalesce(col("purchase_value"), lit(0.0)).as("purchase_value"),
        coalesce(col("n_error"), lit(0L)).as("n_error"))
      .orderBy("user_id")
  }

  // -- correlation from exact moment sums ------------------------------------
  // Pearson correlation WITHOUT the engine's corr(): the five moment sums
  // (Σx, Σy, Σxy, Σx², Σy²) are exact DECIMALs — map-side combinable and
  // order-independent, unlike a float corr whose partial merges drift by
  // partition order — and the final formula is a fixed chain of exactly-
  // rounded double ops. This is how a 100 TB job gets DETERMINISTIC
  // statistics: exact integer/decimal moments first, one float expression
  // at the end.
  private def qCorrManual(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val x = dec(col("l_quantity"))
    val y = dec(col("l_extendedprice"))
    li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
      .select(col("l_returnflag"), col("n"), {
        // decimal×long can exceed precision 38 and round engine-specifically,
        // so the FORMULA runs in doubles: each exact decimal moment is cast
        // once (deterministic rounding), then a fixed operation tree
        def d(c: Column) = c.cast("double")
        ((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
          (sqrt(d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
            sqrt(d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))))
          .as("corr_qty_price")
      })
      .orderBy("l_returnflag")
  }

  // -- JSON property extraction (the semi-structured column path) ------------
  // events.props is a JSON string; get_json_object is the codegen'd
  // extraction that at scale replaces a parse-into-struct when only one
  // key is read (no full schema inference pass, predicate stays on the
  // scan).
  private def qJsonProps(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        count(when(col("k") > 50, 1)).as("n_high"))
      .orderBy("event_type")
  }

  // -- CUBE over two dimensions ----------------------------------------------
  private def qCube(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.cube("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("total_price"))
      .orderBy(asc_nulls_first("o_orderpriority"), asc_nulls_first("o_orderstatus"))
  }

  // -- window frames: sliding sum, lead, first/last_value --------------------
  // The frame-specification family under an explicit ROWS frame: a 3-row
  // moving sum (exact DECIMAL), lead(), and first/last_value over a
  // bounded frame — ordered by the unique (user_id, ts, event_id) so every
  // frame content is deterministic.
  private def qWindowFrames(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").withColumn("ts_us", expr("ts DIV 1000"))
      .filter(col("event_type") === "purchase")
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val w3 = w.rowsBetween(-2, 0)
    ev.select(col("user_id"), col("event_id"), col("ts_us"),
        sum(dec(col("value"))).over(w3).cast("double").as("moving_sum3"),
        lead(col("event_id"), 1).over(w).as("next_event"),
        first(col("event_id")).over(w3).as("frame_first"),
        last(col("event_id")).over(w3).as("frame_last"))
      .orderBy("user_id", "ts_us", "event_id")
  }

  // -- PIVOT with an explicit value list -------------------------------------
  // The relational pivot operator proper (q_user_activity does the manual
  // conditional-agg spelling). Values are EXPLICIT: at scale an implicit
  // pivot first runs a distinct scan to discover them, and the output
  // schema stops being static — both are production footguns the explicit
  // list avoids. Empty cells coalesce to 0 (Spark's pivot yields null
  // where FILTER-count yields 0 — a cross-engine trap this query pins).
  private def qPivot(s: SparkSession, dir: String): DataFrame = {
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val p = c.join(o, c("c_custkey") === o("o_custkey"))
      .groupBy("c_mktsegment")
      .pivot("o_orderpriority", prios)
      .agg(count(lit(1)))
    prios.foldLeft(p) { (df, pr) =>
      df.withColumn(pr, coalesce(col(s"`$pr`"), lit(0L)))
    }.orderBy("c_mktsegment")
  }

  // -- UNPIVOT (melt): wide metrics back to long form ------------------------
  private def qUnpivot(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val wide = ev.groupBy("user_id")
      .agg(
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        count(when(col("event_type") === "error", 1)).as("n_error"),
        count(when(col("event_type") === "view", 1)).as("n_view"))
    wide.unpivot(Array(col("user_id")),
        Array(col("n_purchase"), col("n_error"), col("n_view")),
        "metric", "value")
      .orderBy("user_id", "metric")
  }

  // -- multiset set ops: INTERSECT ALL / EXCEPT ALL --------------------------
  // The bag-semantics variants (q_except_intersect gates the distinct
  // forms): duplicates survive by multiplicity — Spark plans these with a
  // count-tracking aggregate + generate, a genuinely different operator
  // than the anti/semi rewrite.
  private def qMultisetOps(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val a = li.filter(col("l_quantity") >= 30).select(col("l_suppkey"))
    val b = li.filter(col("l_returnflag") === "R").select(col("l_suppkey"))
    a.intersectAll(b).groupBy("l_suppkey")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      .unionByName(
        a.exceptAll(b).groupBy("l_suppkey")
          .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all")))
      .select("op", "l_suppkey", "n")
      .orderBy("op", "l_suppkey")
  }

  // -- ordered string aggregation --------------------------------------------
  // listagg/string_agg: Spark spells it sort_array(collect_list) +
  // concat_ws — the deterministic form (bare collect_list order is
  // partition-dependent, the classic silent nondeterminism); DuckDB uses
  // string_agg(... ORDER BY ...). Lengths ride along so a divergence
  // localizes instantly.
  private def qStringAgg(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_acctbal") > 9900)
    c.groupBy("c_nationkey")
      .agg(concat_ws(",", sort_array(collect_list(col("c_name")))).as("names"),
        count(lit(1)).as("n"))
      .withColumn("names_len", length(col("names")).cast("long"))
      .orderBy("c_nationkey")
  }

  // -- q13 shape: outer-join distribution (customers with zero orders) ------
  // -- rank() <= k with ties via the composed group-rank plan ----------------
  // The tie-keeping sibling of q_window_top3_topk: all orders in a
  // priority's top-3 PRICE BUCKETS (coarse buckets force heavy ties, so
  // competition-rank gaps and >k kept rows actually occur). Planned by
  // TopK.perKeyRank — group counts + a partitioned cumulative count over
  // value GROUPS + a join back — because a bounded per-key heap cannot
  // express rank(): ties make the kept set unbounded by design.
  private def qRankTopK(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").withColumn("bucket",
      expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint) DIV 5000000"))
    graft.operators.TopK.perKeyRank(o, Seq("o_orderpriority"),
        Seq((col("bucket"), false)), 3)
      .select(col("o_orderpriority"), col("rk"), col("bucket"),
        col("o_orderkey"))
      .orderBy("o_orderpriority", "rk", "o_orderkey")
  }

  // -- SCD Type-2 dimension build: attribute runs → validity intervals -------
  // The warehouse staple Spark has no native operator for: collapse each
  // user's event stream into maximal runs of the same event_type and emit
  // one row per run with [valid_from, valid_to) — valid_to = the next run's
  // start, NULL while current. Gaps-and-islands: a lag() change flag, a
  // running sum for the island id, then one groupBy — all three windows and
  // the aggregate hash on user_id, so the events table shuffles ONCE and
  // Catalyst reuses the partitioning; per-key window state is one user's
  // run, never the table. Time in µs (DuckDB's parquet reader truncates ns).
  private def qScd2(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").withColumn("ts_us", expr("ts DIV 1000"))
      .select("user_id", "event_type", "ts_us", "event_id")
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val isl = ev
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("chg",
        when(col("prev_type").isNull ||
             col("prev_type") =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("island", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = isl.groupBy("user_id", "island")
      .agg(min(col("event_type")).as("event_type"), // constant within a run
        min(col("ts_us")).as("valid_from_us"),
        count(lit(1)).as("n_events"))
    val w2 = Window.partitionBy("user_id").orderBy("island")
    runs.withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w2))
      .select("user_id", "island", "event_type", "valid_from_us",
        "valid_to_us", "n_events")
      .orderBy("user_id", "island")
  }

  // -- fixed-width histogram: the data-profiling bucket report ---------------
  // width_bucket over o_totalprice in exact money arithmetic: the bucket id
  // is DECIMAL cents DIV width — never double multiplication, whose
  // rounding (0.1·100 = 10.000000000000002) would put edge values in
  // different buckets on different engines. One partial-aggregate groupBy;
  // at 100 TB this is a map-side-combined scan with ~#buckets output rows.
  private def qHistogram(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.withColumn("bucket",
        expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint) DIV 5000000"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .withColumn("bucket_lo", (col("bucket") * 50000L).cast("double"))
      .select("bucket", "bucket_lo", "n_orders", "sum_price")
      .orderBy("bucket")
  }

  // -- ratio-to-report: each nation's share of global revenue ----------------
  // The percent-of-total report WITHOUT the `sum() OVER ()` window — an
  // empty-frame window collapses to a single partition at scale. The
  // global total is a 1-row aggregate broadcast back over the per-nation
  // rollup; the share is one division of two exact-DECIMAL-derived
  // doubles, bit-identical cross-engine.
  private def qShare(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val su = t(s, dir, "supplier")
    val n  = t(s, dir, "nation")
    val rev = li.join(su, li("l_suppkey") === su("s_suppkey"))
      .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .as("rev_d"))
    val tot = rev.agg(sum(col("rev_d")).as("tot_d"))
    rev.crossJoin(broadcast(tot))
      .select(col("n_name"),
        col("rev_d").cast("double").as("revenue"),
        (col("rev_d").cast("double") / col("tot_d").cast("double")).as("share"))
      .orderBy("n_name")
  }

  // -- the spark.sql entry path, gated by the IDENTICAL SQL string -----------
  // Every other gate pairs a DataFrame plan with a DuckDB SQL oracle; this
  // one runs ONE portable ANSI string through BOTH engines — Spark parses
  // it via spark.sql over temp views, DuckDB runs the same text — so the
  // SQL front door (parser → analyzer → same Catalyst plan space) is
  // exercised end-to-end and the dialect subset the engine promises
  // ("your SQL runs unchanged") is pinned by a test.
  private val SqlEntryText =
    """SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_totalprice > 50000
      |GROUP BY c_mktsegment, o_orderstatus
      |ORDER BY c_mktsegment, o_orderstatus""".stripMargin

  private def qSqlEntry(s: SparkSession, dir: String): DataFrame = {
    // the oracle runs the IDENTICAL string, so the view names must be the
    // DuckDB table names; spark.sql analyzes eagerly (the plan binds to
    // the views at sql() time), so dropping them right after leaves no
    // residue in the shared session — unlike every other query fn, this
    // one must touch the catalog at all to exercise the SQL front door
    t(s, dir, "orders").createOrReplaceTempView("orders")
    t(s, dir, "customer").createOrReplaceTempView("customer")
    try s.sql(SqlEntryText)
    finally {
      s.catalog.dropTempView("orders")
      s.catalog.dropTempView("customer")
    }
  }

  // -- first/last-touch attribution via min_by / max_by ----------------------
  // The marketing-attribution primitive and the one aggregate class not
  // otherwise gated: argmin/argmax. Per user, the event type of the
  // earliest and latest event — min_by/max_by over the unique
  // (ts_us, event_id) struct ordering, so ties cannot exist and both
  // engines agree exactly (DuckDB: arg_min/arg_max over the same struct).
  // One shuffle on user_id; at 100 TB this replaces the common
  // row_number-twice-then-join anti-pattern with a single aggregate.
  private def qAttribution(s: SparkSession, dir: String): DataFrame = {
    // ordering key as a zero-padded string: DuckDB's arg_min/arg_max do
    // not take struct orderings, and a padded concat is the one spelling
    // whose comparison semantics are trivially identical on both engines
    val ev = t(s, dir, "events")
      .withColumn("ord", expr(
        "concat(lpad(cast(ts DIV 1000 as string), 20, '0'), '|', " +
          "lpad(cast(event_id as string), 12, '0'))"))
    ev.groupBy("user_id")
      .agg(
        min_by(col("event_type"), col("ord")).as("first_touch"),
        max_by(col("event_type"), col("ord")).as("last_touch"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  // -- deterministic mode: most frequent event type per user -----------------
  // mode() with PINNED tie semantics: native mode() picks an arbitrary
  // value on ties (and engines disagree), so the gateable spelling is a
  // two-level aggregate — count per (user, type), then max_by(type,
  // (cnt, type)): ties go to the lexicographically largest type on BOTH
  // engines. Both aggregates hash on user_id, so the second one reuses
  // the first's partitioning — one shuffle total.
  private def qMode(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    ev.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("user_id")
      .agg(max_by(col("event_type"), expr(
          "concat(lpad(cast(cnt as string), 12, '0'), '|', event_type)"))
          .as("mode_type"),
        max(col("cnt")).as("mode_cnt"))
      .orderBy("user_id")
  }

  // -- z-score outlier detection from exact moment sums ----------------------
  // The data-quality anomaly sweep: flag events more than 3σ from their
  // type's mean. Moments ride ONE map-side-combined aggregate in exact
  // DECIMAL (order-independent — the same trick as q_corr_manual), and
  // mean/std/z are a fixed double formula over those exact sums, so the
  // z-scores are bit-identical cross-engine where native stddev's partial
  // merges would drift with partition order. The per-type stats broadcast
  // back over the corpus — no second shuffle.
  private def qOutliers(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val mean = col("s1").cast("double") / col("n").cast("double")
    val stats = ev.groupBy(col("event_type").as("t"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).as("s1"),
        sum(dec(col("value")) * dec(col("value"))).as("s2"))
      .select(col("t"), mean.as("mean"),
        sqrt((col("s2").cast("double") / col("n").cast("double")) -
          mean * mean).as("std"))
    ev.join(broadcast(stats), col("event_type") === col("t"))
      .withColumn("z", (col("value") - col("mean")) / col("std"))
      .filter(abs(col("z")) > lit(3.0))
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy("event_id")
  }

  // -- per-user exponential moving average (inherently sequential) -----------
  // EMA is a left fold — no windowed/associative spelling exists — so it
  // gets the per-group ordered fold, the same shape as ring assembly (A1):
  // state is ONE user's purchase history, never the table, and the groups
  // parallelize. α = 0.5 on purpose: halving is exact in binary, so every
  // fold step is one correctly-rounded multiply-add and the result is
  // bit-identical to the oracle's recursive CTE walking the same order.
  private def qEma(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").withColumn("ts_us", expr("ts DIV 1000"))
      .filter(col("event_type") === "purchase")
    ev.groupBy("user_id")
      .agg(expr(
        "aggregate(array_sort(collect_list(struct(ts_us, event_id, value))), " +
          "cast(null as double), " +
          "(acc, x) -> if(acc is null, x.value, x.value * 0.5d + acc * 0.5d))")
        .as("ema"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  // -- year-over-year growth: lag over an aggregated grain -------------------
  // The reporting staple: revenue per (segment, year) with the delta vs the
  // previous year. The window runs AFTER aggregation, over segments×years
  // rows — per-key state is a handful of rows regardless of corpus size, so
  // the lag is free; the join+agg below it is q3's one-shuffle shape. The
  // delta is computed in DECIMAL and cast to double at the end (double
  // subtraction of two rounded sums would drift cross-engine).
  private def qYoy(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o  = t(s, dir, "orders")
    val c  = t(s, dir, "customer")
    val rev = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"),
        year(col("o_orderdate")).cast("long").as("order_year"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .as("rev_d"))
    val w = Window.partitionBy("c_mktsegment").orderBy("order_year")
    rev.withColumn("prev_d", lag(col("rev_d"), 1).over(w))
      .select(col("c_mktsegment"), col("order_year"),
        col("rev_d").cast("double").as("revenue"),
        (col("rev_d") - col("prev_d")).cast("double").as("yoy_delta"))
      .orderBy("c_mktsegment", "order_year")
  }

  // -- join-skew advisor --------------------------------------------------------
  // The pre-flight check before a big join: exact per-key counts (one
  // hash aggregate — the same shuffle the join itself would pay), the
  // hottest keys through the bounded-heap top-k, and the derived salt
  // recommendation — ⌈max_key_rows / avg_rows_per_partition⌉, i.e. how
  // many reducers the hottest key needs to not be a straggler. All
  // integer arithmetic; shares are single IEEE divisions.
  private val SkewPartitions = 32L
  private def qSkewAdvisor(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "orders")
      .groupBy(col("o_custkey").as("key"))
      .agg(count(lit(1)).as("cnt"))
    val top = graft.operators.TopK.global(counts,
      Seq(col("cnt").desc, col("key").asc), 5)
    val totals = counts.agg(count(lit(1)).as("n_keys"),
      sum(col("cnt")).as("n_rows")).localCheckpoint(true)
    top.crossJoin(broadcast(totals))
      .select(col("rk").cast("long").as("rk"), col("key"), col("cnt"),
        col("n_keys"), col("n_rows"),
        round(col("cnt").cast("double") / col("n_rows").cast("double"), 6)
          .as("share_r"),
        expr(s"(cnt * $SkewPartitions + n_rows - 1) div n_rows")
          .as("salts_needed"))
      .orderBy("rk")
  }

  // -- hierarchical rollup via pointer doubling --------------------------------
  // The recursive-CTE shape Spark lacks natively (org charts, BOM
  // explosion, category trees): per-node depth and full-subtree rollups.
  // The tree is synthetic — parent(v) = v div 3 over doc ids, ~log3(n)
  // deep — standing in for any adjacency. The scalable spelling is
  // POINTER DOUBLING on the ancestor relation: round k holds every
  // (node, ancestor) pair within 2^k hops, so composing the relation
  // with itself (one equi join per round) closes a depth-d tree in
  // ⌈log2 d⌉ rounds — 26 levels (a trillion ids) needs 5 rounds, where a
  // level-at-a-time loop needs 26. Each round is localCheckpoint'd (the
  // CC.scala discipline: cut lineage, pin results); convergence is a
  // driver-side count (control-plane) with a hard round cap. Rollups are
  // then ONE aggregate over the (node, ancestor) pairs — n·depth rows,
  // the standard path-index trade.
  private def qHierarchy(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val edges = nodes.filter(col("doc_id") > 0)
      .select(col("doc_id").as("v"), expr("doc_id div 3").as("a"))
    var anc = edges.localCheckpoint(true)
    var n = anc.count()
    var rounds = 0
    var grew = true
    while (grew && rounds < 12) {
      val next = anc.as("x")
        .join(anc.as("y"), col("x.a") === col("y.v"))
        .select(col("x.v").as("v"), col("y.a").as("a"))
        .union(anc).distinct()
        .localCheckpoint(true)
      val n2 = next.count()
      grew = n2 != n
      anc = next; n = n2; rounds += 1
    }
    require(!grew, s"ancestor closure did not converge in $rounds rounds")
    val depth = anc.groupBy("v").agg(count(lit(1)).as("depth"))
    val contrib = anc.join(nodes, col("v") === col("doc_id"))
      .groupBy(col("a"))
      .agg(count(lit(1)).as("n_desc"), sum(col("n_chars")).as("desc_chars"))
    nodes
      .join(depth, col("doc_id") === depth("v"), "left")
      .join(contrib, col("doc_id") === contrib("a"), "left")
      .select(col("doc_id"),
        coalesce(col("depth"), lit(0L)).as("depth"),
        coalesce(col("n_desc"), lit(0L)).as("n_desc"),
        (col("n_chars") + coalesce(col("desc_chars"), lit(0L)))
          .as("subtree_chars"))
      .orderBy("doc_id")
  }

  // -- triangle counting with degree-ordered orientation ---------------------
  // The graph primitive behind clustering coefficients and community
  // pre-filters, spelled the way it survives a power-law graph: project the
  // part–supplier bipartite relation into a supplier co-supply graph (edge
  // when two suppliers share ≥150 parts — the HAVING threshold is the
  // projection's density guard, same role as the shingle df cap), then
  // orient every edge from its lower-(degree, id) endpoint to the higher
  // one. Any total order makes the orientation acyclic so the wedge join
  // x→y, y→z closed by x→z finds each triangle EXACTLY once; ordering by
  // degree specifically bounds every out-adjacency list by O(√m), which
  // caps the wedge join's fan-out — the difference between a hub node
  // generating deg² wedges and √m·deg. All equi joins, no cross join; the
  // per-node credit explodes each triangle to its 3 corners and rides one
  // hash aggregate. The oracle counts the same triangles with the simpler
  // id-ordering — triangle identity is orientation-invariant, so the
  // per-node counts agree while the plans differ.
  private def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val ps = t(s, dir, "lineitem")
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sk")).distinct()
    // r12: localCheckpoint'd — under AQE the threshold probe (the .head()
    // below) and the edges job are separate query executions that do NOT
    // share shuffle output, so the ps⋈ps pair join + aggregation (the
    // query's heaviest stage) ran twice per invocation. The checkpointed
    // co-supply graph is ≤ |suppliers|²/2 slim long rows (the density
    // guard keeps the downstream graph far smaller still).
    val weighted = ps.as("a")
      .join(ps.as("b"), col("a.p") === col("b.p") && col("a.sk") < col("b.sk"))
      .groupBy(col("a.sk").as("u"), col("b.sk").as("v"))
      .agg(count(lit(1)).as("shared"))
      .localCheckpoint()
    // r12 optimization: edges/deg/oriented are localCheckpoint'd below.
    // Without the cut, the wedge join inlines the WHOLE co-supply
    // pipeline (lineitem self-join + threshold + two degree joins) once
    // per reference — a 422-operator / 174-Exchange physical plan whose
    // planning plus re-executed subtrees dominated the query (guide §2.4
    // / §3.3 "very wide plans: materialise an intermediate"). The edge
    // set after the density guard is tiny (hundreds of rows), so the
    // checkpoint is effectively free and the wedge join plans against a
    // leaf scan: measured 17.4 s → 6.6 s same-box, plan 422 → ~40 ops.
    // data-derived density guard: keep pairs sharing ≥ 3/4 of the max
    // observed co-supply count, so the graph stays non-trivial at every
    // scale factor instead of going empty/complete under a fixed cutoff.
    // The max is fetched as a driver-side scalar (control-plane, 1 row) —
    // attaching it as a broadcast join would re-evaluate the whole
    // co-supply subtree under every one of the wedge joins' self-join
    // branches, where a literal threshold keeps the plan shared. NULL max
    // (no co-supplying pair at all) degrades to an empty graph; the floor
    // of 2 keeps the guard meaningful when the max itself is 1.
    val mxShared = Option(weighted.agg(max(col("shared"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val edges = weighted
      .filter(col("shared") >= lit(math.max(2L, mxShared * 3 / 4)))
      .select("u", "v").localCheckpoint()
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d")).localCheckpoint()
    val lowFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = edges
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(when(lowFirst, col("u")).otherwise(col("v")).as("s"),
              when(lowFirst, col("v")).otherwise(col("u")).as("t"))
      .localCheckpoint()
    val tris = oriented.select(col("s").as("x"), col("t").as("y"))
      .join(oriented.select(col("s").as("y"), col("t").as("z")), Seq("y"))
      .join(oriented.select(col("s").as("x"), col("t").as("z")), Seq("x", "z"))
    val perNode = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("s_suppkey"), col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .orderBy("s_suppkey")
  }

  // -- deterministic integer-mass PageRank ------------------------------------
  // The classic iterative graph workload, spelled so both engines agree
  // BIT-FOR-BIT: ranks are integer mass (start 1,000,000 per node), each
  // of 3 unrolled iterations routes floor(mass/outdeg) along every edge
  // and damps as newMass = 150000 + (85·inSum) div 100 — all BIGINT, so
  // the per-destination sum is order-independent and no float ever
  // appears. Graph: the supplier↔part bipartite graph from lineitem,
  // symmetrized (both directions), so every node has out-edges and no
  // dangling-mass correction is needed. Node ids disambiguate the two key
  // spaces by parity (supplier → 2k, part → 2k+1).
  // Scale shape: per iteration, ONE groupBy(dst) shuffle of edge
  // contributions; out-degrees join on the same src key the contribution
  // scan already carries. Fixed iteration count keeps the lineage short —
  // an open-ended loop would localCheckpoint per round like
  // ConnectedComponents.
  private def qPagerank(s: SparkSession, dir: String): DataFrame = {
    val sp = t(s, dir, "lineitem")
      .select((col("l_suppkey").cast("long") * 2).as("src"),
        (col("l_partkey").cast("long") * 2 + 1).as("dst"))
      .distinct()
    // the graph is static across rounds but referenced from every one,
    // and exchange reuse does not see through per-reference plan copies
    // (audited: 6 identical distinct-edge exchanges without the persist)
    // — pin ONE (src, dst, outdeg) frame, like the ConnectedComponents
    // loop pins its edge frame. Per round that leaves exactly two stages:
    // the mass join (tiny side broadcasts) and the groupBy(dst) shuffle.
    val edges = sp.unionAll(sp.select(col("dst").as("src"), col("src").as("dst")))
    val g = edges
      .join(edges.groupBy("src").agg(count(lit(1)).as("outdeg")), Seq("src"))
      .persist()
    var mass = g.select(col("src").as("node")).distinct()
      .withColumn("mass", lit(1000000L))
    for (_ <- 1 to 3) {
      // symmetry means every node has in-edges, so the aggregate reaches
      // every node each round — no left-join resurrection needed (the
      // DuckDB mirror keeps the generic LEFT JOIN spelling; identical
      // output on this graph by construction)
      mass = g.join(mass.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), expr("mass div outdeg").as("c"))
        .groupBy("node")
        .agg((lit(150000L) + expr("(85 * sum(c)) div 100")).as("mass"))
    }
    // pin the converged frame: the total-order sort below samples its
    // input for range boundaries, which would otherwise re-run the whole
    // iteration chain a second time
    mass.persist()
      .select(col("node"),
        when(col("node") % 2 === 0, lit("supplier")).otherwise(lit("part")).as("kind"),
        expr("node div 2").as("node_key"), col("mass"))
      .orderBy(col("mass").desc, col("node"))
  }

  private def q13OrderDistribution(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(c("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .groupBy("n_orders")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("n_orders")
  }

  // -- q22 shape: scalar subquery + anti join (idle wealthy customers) ------
  // "above average balance" decided by exact integer cross-multiplication
  // (cents * n > total_cents), never a float average — identical boundary
  // decisions on both engines.
  private def q22IdleBalance(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val cents = (dec(col("c_acctbal")) * 100).cast("long")
    // scalar aggregate rides along as a broadcast 1-row cross join
    val pos = c.filter(col("c_acctbal") > 0)
      .agg(sum(cents).as("total_cents"), count(lit(1)).as("n_pos"))
    val recent = o.filter(col("o_orderdate") >= lit("2000-01-01"))
    c.join(recent, c("c_custkey") === recent("o_custkey"), "left_anti")
      .crossJoin(broadcast(pos))
      .filter(cents * col("n_pos") > col("total_cents"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_custs"),
        sum(dec(col("c_acctbal"))).cast("double").as("total_bal"))
      .orderBy("c_nationkey")
  }

  // -- as-of join: each click gets the latest preceding view per user -------
  // All time math in epoch µs: DuckDB's parquet reader truncates the ns
  // timestamps to µs, so comparing raw ns on the Spark side would let a
  // click and view landing in the same microsecond match in the oracle but
  // not here. Views are first collapsed to one row per (user, µs) — view_id
  // = max, view_value = that row's value — so equal-timestamp ties resolve
  // identically on both engines instead of by ASOF's arbitrary pick.
  private def qAsofViews(s: SparkSession, dir: String): DataFrame = {
    val (clicks, views) = clickView(s, dir)
    graft.operators.AsofJoin
      .asof(clicks, views, Seq("user_id"), "ts_us", "ts_us",
        Seq("view_id", "view_value"))
      .orderBy("click_id")
  }

  /** Shared click/view frames for the three as-of directions (µs-collapsed
    * views: see qAsofViews header).
    */
  private def clickView(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        expr("ts DIV 1000").as("ts_us"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), expr("ts DIV 1000").as("ts_us"),
        col("event_id").as("view_id"), col("value").as("view_value"))
      .groupBy("user_id", "ts_us")
      .agg(max("view_id").as("view_id"),
        expr("max_by(view_value, view_id)").as("view_value"))
    (clicks, views)
  }

  // -- forward as-of: each click gets the earliest following view -----------
  private def qAsofForward(s: SparkSession, dir: String): DataFrame = {
    val (clicks, views) = clickView(s, dir)
    graft.operators.AsofJoin
      .asof(clicks, views, Seq("user_id"), "ts_us", "ts_us",
        Seq("view_id", "view_value"), graft.operators.AsofJoin.Forward)
      .orderBy("click_id")
  }

  // -- nearest as-of: closer of the preceding/following view, ties backward --
  private def qAsofNearest(s: SparkSession, dir: String): DataFrame = {
    val (clicks, views) = clickView(s, dir)
    graft.operators.AsofJoin
      .asof(clicks, views, Seq("user_id"), "ts_us", "ts_us",
        Seq("view_id", "view_value"), graft.operators.AsofJoin.Nearest)
      .orderBy("click_id")
  }

  // -- range join: events inside high-severity error windows ----------------
  private def qRangeWindows(s: SparkSession, dir: String): DataFrame = {
    // all time math in epoch µs: DuckDB's parquet reader truncates the ns
    // timestamps to µs, so comparing in ns would diverge at window edges
    val ev = t(s, dir, "events").withColumn("ts_us", expr("ts DIV 1000"))
    val windows = ev.filter(col("event_type") === "error" && col("value") > 90)
      .select(col("event_id").as("err_id"), col("ts_us").as("w_start"),
        (col("ts_us") + lit(3600000000L)).as("w_end"))
    val points = ev.select(col("event_id"), col("ts_us"), col("value"))
    graft.operators.RangeJoin
      .pointInInterval(points, windows, "ts_us", "w_start", "w_end",
        bucketWidth = 3600000000L)
      .groupBy("err_id")
      .agg(count(lit(1)).as("n_in"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .orderBy("err_id")
  }

  // -- interval-overlap join: error windows × signup windows -----------------
  // The two-sided sibling of q_range_windows: both inputs are interval
  // sets (2-hour windows around high-value error and signup events) and
  // the join asks which pairs OVERLAP. RangeJoin.intervalOverlap
  // bucketizes both sides and keeps each pair only in the bucket holding
  // the overlap's start — exactly-once with no distinct pass, and the
  // plan stays an equi join on the bucket id (a raw inequality join
  // would plan as the O(n·m) BroadcastNestedLoopJoin).
  private def qOverlapWindows(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").withColumn("ts_us", expr("ts DIV 1000"))
    def windows(tpe: String, idCol: String) =
      ev.filter(col("event_type") === tpe && col("value") > 90)
        .select(col("event_id").as(idCol),
          col("ts_us").as(s"${idCol}_s"),
          (col("ts_us") + lit(7200000000L)).as(s"${idCol}_e"))
    val joined = graft.operators.RangeJoin.intervalOverlap(
      windows("error", "err_id"), windows("signup", "sg_id"),
      "err_id_s", "err_id_e", "sg_id_s", "sg_id_e",
      bucketWidth = 7200000000L)
    joined.groupBy("err_id")
      .agg(count(lit(1)).as("n_overlaps"), min(col("sg_id")).as("first_sg"))
      .orderBy("err_id")
  }

  // -- stratified sampling: deterministic per-class keep rates ---------------
  // The training-mix balancer: rare classes kept whole, abundant ones
  // hash-downsampled. The keep decision is a pure function of the row id
  // (md5 bucket), so the sample is reproducible across runs/engines and
  // needs no shuffle, no RNG state, and no driver coordination — at 100 TB
  // it is a narrow filter that predicate-pushes into the scan.
  private def qStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val rates = map(
      lit("error"), lit(100L), lit("signup"), lit(50L),
      lit("click"), lit(25L), lit("purchase"), lit(25L), lit("view"), lit(5L))
    t(s, dir, "events")
      .withColumn("bucket", expr(
        "cast(conv(substring(md5(cast(event_id as string)), 1, 8), 16, 10) as bigint) % 100"))
      .withColumn("rate", coalesce(element_at(rates, col("event_type")), lit(10L)))
      .filter(col("bucket") < col("rate"))
      .select(col("event_id"), col("event_type"), col("bucket"))
      .orderBy("event_id")
  }

  // -- rollup over event_type ------------------------------------------------
  private def qRollupEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    ev.rollup("event_type")
      .agg(count(lit(1)).as("n_events"),
           sum(dec(col("value"))).cast("double").as("total_value"))
      .orderBy(asc_nulls_first("event_type"))
  }

  // -- top-k with deterministic tiebreak ------------------------------------
  private def qTopParts(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p  = t(s, dir, "part")
    // part scales with SF (~20M rows at sf100) — AQE decides the join.
    li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy("p_partkey", "p_brand")
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
             .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("p_partkey"))
      .limit(10)
  }

  // -- union + distinct -------------------------------------------------------
  private def qUnionUsers(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val a = ev.filter(col("event_type") === "purchase" && col("value") > 100)
      .select("user_id")
    val b = ev.filter(col("event_type") === "error").select("user_id")
    a.union(b).distinct().orderBy("user_id")
  }

  // -- conditional aggregation (pivot-shaped) --------------------------------
  private def qUserActivity(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    ev.groupBy("user_id")
      .agg(
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        count(when(col("event_type") === "error", 1)).as("n_error"),
        coalesce(sum(when(col("event_type") === "purchase", dec(col("value")))),
                 lit(0).cast("decimal(18,2)")).cast("double").as("purchase_value"))
      .orderBy("user_id")
  }

  // -- broadcast-join min/max stats ------------------------------------------
  private def qNationStats(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(min(col("c_acctbal")).as("min_bal"),
           max(col("c_acctbal")).as("max_bal"),
           count(lit(1)).as("n_customers"))
      .orderBy("n_name")
  }

  // -- string functions --------------------------------------------------------
  private def qPartTypes(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
    p.groupBy(substring(col("p_type"), 1, 8).as("type_prefix"))
      .agg(count(lit(1)).as("n_parts"),
           min(col("p_name")).as("first_name"),
           max(col("p_size")).cast("long").as("max_size"))
      .orderBy("type_prefix")
  }

  // -- correlated scalar subquery (TPC-H Q17 shape) --------------------------
  // small-quantity orders below 20% of the part's average quantity
  private def qSmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val avgQ = li.groupBy(col("l_partkey").as("ap_partkey"))
      .agg((avg(dec(col("l_quantity"))) * 0.2).as("qty_threshold"))
    // the per-part aggregate has ~|part| rows, which scales with SF — AQE
    // decides; at sf100 this must be a shuffle join on l_partkey.
    li.join(avgQ, li("l_partkey") === avgQ("ap_partkey"))
      .filter(dec(col("l_quantity")) < col("qty_threshold"))
      .agg(
        coalesce(sum(dec(col("l_extendedprice"))), lit(0).cast("decimal(18,2)"))
          .cast("double").as("total_price"),
        count(lit(1)).as("n_rows"))
  }

  // -- grouping sets ----------------------------------------------------------
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
          Seq(col("o_orderpriority")), Seq.empty),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("total_price"))
      .orderBy(asc_nulls_first("o_orderpriority"), asc_nulls_first("o_orderstatus"))
  }

  // -- exact percentiles (linear interpolation on both engines) --------------
  private def qPercentiles(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.groupBy("o_orderpriority")
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.9)").as("p90"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  // -- exact GLOBAL quantiles at scale (value histogram + prefix scan) --------
  // percentile()/quantile aggregates buffer every value of a group in one
  // aggregation buffer — fine per-group, fatal for a corpus-wide exact
  // quantile at 100 TB. The scale-safe spelling: per-VALUE counts
  // (cardinality = DISTINCT values — tiny for genuinely bounded domains
  // like cents or token counts, and never more than the input even for a
  // near-continuous column like this one), a distributed prefix scan for
  // cumulative counts, then each nearest-rank target ceil(p·N/100) selects the one
  // value whose cumulative range covers it. Integer arithmetic end to end
  // ((N·p + 99) DIV 100 — no float rank to disagree on); N attaches as a
  // broadcast 1-row scalar and the percentile fan-out is an array filter
  // riding the scan, so the whole query is one domain-sized aggregate +
  // one range shuffle.
  private def qQuantilesExact(s: SparkSession, dir: String): DataFrame = {
    val vals = t(s, dir, "lineitem")
      .select(expr("CAST(l_extendedprice AS DECIMAL(18,2))").as("v"))
    val counts = vals.groupBy("v").agg(count(lit(1)).as("c"))
    val cum = graft.operators.PrefixSum
      .exclusive(counts, Seq(col("v")), "c", "cum0", 0)
      .withColumn("cum", col("cum0") + col("c"))
    val n = vals.agg(count(lit(1)).as("n_total"))
    cum.crossJoin(broadcast(n))
      .select(col("v"), col("n_total"),
        explode(expr(
          "filter(array(25L, 50L, 75L, 90L, 99L), " +
            "p -> cum0 < (n_total * p + 99) DIV 100 " +
            "AND (n_total * p + 99) DIV 100 <= cum)")).as("pct"))
      .select(col("pct"),
        expr("(n_total * pct + 99) DIV 100").as("rank"),
        col("v").cast("double").as("value"))
      .orderBy("pct")
  }

  // -- incremental materialized-view maintenance ------------------------------
  // The warehouse IVM contract: an hourly (hour, event_type) rollup is
  // materialized once over the base window, and new events update it by
  // merging a DELTA-SIZED rollup — one full-outer join on the view key,
  // count/sum partials added (both are self-mergeable aggregates; the
  // decimal sums stay exact, so split-then-merge is bit-identical to the
  // one-shot rollup the oracle computes). At 100 TB the refresh cost is
  // the delta plus the touched view rows — never a re-scan of the base
  // fact; the materialized artifact is the same build-once parquet
  // lifecycle as IvfIndex/TermIndex.
  // half-past the hour ON PURPOSE: the spanning hour bucket lands in BOTH
  // the base view and the delta, so the merge's matched-key path (partial
  // sums ADDED, not just unioned) is exercised and oracle-checked
  private val IvmCutNs = 1705797000L * 1000000000L // 2024-01-21T00:30Z

  private def qIvmRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("ts"), col("event_type"), col("value"))
    def rollup(df: DataFrame): DataFrame = df
      .groupBy(expr("ts div 3600000000000").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("sv"))
    val viewDir = graft.queries.FixtureArtifacts.cached("ivm", dir)(
      rollup(ev.filter(col("ts") < IvmCutNs))
        .write.mode("overwrite").parquet(_))
    val base = s.read.parquet(viewDir)
      .select(col("hour"), col("event_type"),
        col("n").as("bn"), col("sv").as("bs"))
    val delta = rollup(ev.filter(col("ts") >= IvmCutNs))
      .select(col("hour"), col("event_type"),
        col("n").as("dn"), col("sv").as("ds"))
    base.join(delta, Seq("hour", "event_type"), "full_outer")
      .select(col("hour"), col("event_type"),
        (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_events"),
        (coalesce(col("bs"), lit(0).cast(org.apache.spark.sql.types.DecimalType(18, 2))) +
          coalesce(col("ds"), lit(0).cast(org.apache.spark.sql.types.DecimalType(18, 2))))
          .cast("double").as("sum_value"))
      .orderBy("hour", "event_type")
  }

  // -- time-series resampling: gap fill + forward fill -------------------------
  // The telemetry-regularization step (training-run metrics, usage
  // dashboards): every (user, day) cell exists after resampling, absent
  // days carry n_events = 0, and the value channel is forward-filled from
  // the user's last active day. The day grid comes from ONE 1-row min/max
  // aggregate broadcast onto the distinct users (scalar-attach — never a
  // cartesian against the fact table); the fill is a per-user partitioned
  // running window (user count grows with the corpus — no single-reducer
  // funnel). Gap rows are grid-sized, not fact-sized, and the decimal day
  // sums stay exact so the filled values are bit-stable.
  private def qResample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = t(s, dir, "events")
      .select(col("user_id"), expr("ts div 86400000000000").as("day"),
        dec(col("value")).as("v"))
    val d = e.groupBy("user_id", "day")
      .agg(count(lit(1)).as("n_events"), sum(col("v")).as("sv"))
    val mm = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = e.select("user_id").distinct()
      .crossJoin(broadcast(mm))
      .select(col("user_id"), explode(expr("sequence(d0, d1)")).as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(d, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("sv").cast("double").as("day_value"))
      .withColumn("ffill_value",
        coalesce(last(col("day_value"), ignoreNulls = true).over(w), lit(0.0)))
      .orderBy("user_id", "day")
  }

  val queries: Map[String, QueryFn] = Map(
    "q_resample"            -> (qResample _),
    "q_ivm_rollup"          -> (qIvmRollup _),
    "q_quantiles_exact"     -> (qQuantilesExact _),
    "q2_min_cost_supplier"  -> (q2MinCostSupplier _),
    "q7_volume_shipping"    -> (q7VolumeShipping _),
    "q8_market_share"       -> (q8MarketShare _),
    "q9_product_profit"     -> (q9ProductProfit _),
    "q10_returned_items"    -> (q10ReturnedItems _),
    "q11_important_stock"   -> (q11ImportantStock _),
    "q12_late_priority"     -> (q12LatePriority _),
    "q14_promo_revenue"     -> (q14PromoRevenue _),
    "q16_supplier_cnt"      -> (q16SupplierCnt _),
    "q20_part_promotion"    -> (q20PartPromotion _),
    "q17_small_qty_revenue" -> (qSmallQtyRevenue _),
    "q_grouping_sets"       -> (qGroupingSets _),
    "q_percentiles"         -> (qPercentiles _),
    "q1_pricing_summary"    -> (q1PricingSummary _),
    "q6_filtered_revenue"   -> (q6Revenue _),
    "q3_revenue_by_segment" -> (q3RevenueBySegment _),
    "q5_local_supplier"     -> (q5LocalSupplier _),
    "q4_semi_join"          -> (q4SemiJoin _),
    "q_anti_orders"         -> (qAntiOrders _),
    "q_bloom_prune"         -> (qBloomPrune _),
    "q_hierarchy"           -> (qHierarchy _),
    "q_skew_advisor"        -> (qSkewAdvisor _),
    "q_window_top3"         -> (qWindowTop3 _),
    "q_window_top3_topk"    -> (qWindowTop3TopK _),
    "q_window_top3_rewrite" -> (qWindowTop3Rewrite _),
    "q_sessionize"          -> (qSessionize _),
    "q_funnel"              -> (qFunnel _),
    "q_cohort"              -> (qCohort _),
    "q_deciles"             -> (qDeciles _),
    "q_ntile_global"        -> (qNtileGlobal _),
    "q_rank_stats"          -> (qRankStats _),
    "q_except_intersect"    -> (qExceptIntersect _),
    "q_fuzzy_match"         -> (qFuzzyMatch _),
    "q_lateral_top2"        -> (qLateralTop2 _),
    "q_session_window"      -> (qSessionWindow _),
    "q_tumbling_hour"       -> (qTumblingHour _),
    "q_sliding_windows"     -> (qSlidingWindows _),
    "q_union_evolve"        -> (qUnionEvolve _),
    "q_full_outer"          -> (qFullOuter _),
    "q_corr_manual"         -> (qCorrManual _),
    "q_json_props"          -> (qJsonProps _),
    "q_pivot"               -> (qPivot _),
    "q_multiset_ops"        -> (qMultisetOps _),
    "q_string_agg"          -> (qStringAgg _),
    "q_scd2"                -> (qScd2 _),
    "q_rank_topk"           -> (qRankTopK _),
    "q_histogram"           -> (qHistogram _),
    "q_triangles"           -> (qTriangles _),
    "q_pagerank"            -> (qPagerank _),
    "q_yoy"                 -> (qYoy _),
    "q_outliers"            -> (qOutliers _),
    "q_ema"                 -> (qEma _),
    "q_overlap_windows"     -> (qOverlapWindows _),
    "q_attribution"         -> (qAttribution _),
    "q_mode"                -> (qMode _),
    "q_share"               -> (qShare _),
    "q_sql_entry"           -> (qSqlEntry _),
    "q_unpivot"             -> (qUnpivot _),
    "q_cube"                -> (qCube _),
    "q_window_frames"       -> (qWindowFrames _),
    "q_asof_views"          -> (qAsofViews _),
    "q_asof_forward"        -> (qAsofForward _),
    "q_asof_nearest"        -> (qAsofNearest _),
    "q13_order_distribution" -> (q13OrderDistribution _),
    "q15_top_supplier"      -> (q15TopSupplier _),
    "q18_large_volume"      -> (q18LargeVolume _),
    "q19_discounted_revenue" -> (q19DiscountedRevenue _),
    "q21_sole_blame"        -> (q21SoleBlame _),
    "q22_idle_balance"      -> (q22IdleBalance _),
    "q_range_windows"       -> (qRangeWindows _),
    "q_stratified_sample"   -> (qStratifiedSample _),
    "q_rollup_events"       -> (qRollupEvents _),
    "q_top_parts"           -> (qTopParts _),
    "q_top_parts_topk"      -> (qTopPartsTopK _),
    "q_union_users"         -> (qUnionUsers _),
    "q_user_activity"       -> (qUserActivity _),
    "q_nation_stats"        -> (qNationStats _),
    "q_part_types"          -> (qPartTypes _)
  )

  val oracles: Map[String, String] = Map(
    "q_quantiles_exact" ->
      """WITH c AS (SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS v, COUNT(*) AS c
        |  FROM lineitem GROUP BY 1),
        |cum AS (SELECT v, c, SUM(c) OVER (ORDER BY v) AS cum FROM c),
        |n AS (SELECT COUNT(*) AS n_total FROM lineitem),
        |p AS (SELECT unnest(CAST([25, 50, 75, 90, 99] AS BIGINT[])) AS pct)
        |SELECT pct, (n_total * pct + 99) // 100 AS rank, CAST(v AS DOUBLE) AS value
        |FROM cum, n, p
        |WHERE cum - c < (n_total * pct + 99) // 100
        |  AND (n_total * pct + 99) // 100 <= cum
        |ORDER BY pct""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey, MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
        |  FROM lineitem GROUP BY 1, 2),
        |eu AS (
        |  SELECT l_partkey, l_suppkey, cost, s_name, s_acctbal, n_name
        |  FROM ps JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE')
        |SELECT p_partkey, eu.l_suppkey AS s_suppkey, s_name, n_name, s_acctbal,
        |  CAST(cost AS DOUBLE) AS supply_cost
        |FROM part JOIN eu ON p_partkey = eu.l_partkey
        |WHERE p_type = 'LARGE' AND p_size BETWEEN 10 AND 20
        |  AND cost = (SELECT MIN(cost) FROM eu e2 WHERE e2.l_partkey = p_partkey)
        |ORDER BY s_acctbal DESC, p_partkey, s_suppkey""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | CAST(year(l_shipdate) AS BIGINT) AS l_year,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_rows
        |FROM lineitem
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation n1 ON s_nationkey = n1.n_nationkey
        | JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |  AND l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      """WITH all_n AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
        |    n2.n_name AS supp_nation
        |  FROM lineitem
        |   JOIN part ON l_partkey = p_partkey
        |   JOIN orders ON l_orderkey = o_orderkey
        |   JOIN customer ON o_custkey = c_custkey
        |   JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |   JOIN region ON n1.n_regionkey = r_regionkey
        |   JOIN supplier ON l_suppkey = s_suppkey
        |   JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY')
        |SELECT o_year,
        |  CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |    / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
        |  CAST(SUM(volume) AS DOUBLE) AS total_volume,
        |  COUNT(*) AS n_rows
        |FROM all_n GROUP BY 1 ORDER BY 1""".stripMargin,
    "q9_product_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS profit,
        | COUNT(*) AS n_rows
        |FROM lineitem
        | JOIN part ON l_partkey = p_partkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%bolt%'
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | c_acctbal
        |FROM customer
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
        |GROUP BY 1, 2, 3, 5
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q11_important_stock" ->
      """WITH v AS (
        |  SELECT l_partkey AS partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3' GROUP BY 1)
        |SELECT partkey, CAST(val AS DOUBLE) AS value
        |FROM v
        |WHERE val * 1000 > (SELECT SUM(val) FROM v)
        |ORDER BY value DESC, partkey""".stripMargin,
    "q12_late_priority" ->
      """SELECT l_returnflag,
        | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT
        | 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |     THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |   / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS promo_revenue,
        | COUNT(*) AS n_rows
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-02-01'""".stripMargin,
    "q16_supplier_cnt" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM ps JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 15, 25, 35, 45)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q20_part_promotion" ->
      """SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |    AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 50)
        |ORDER BY s_suppkey""".stripMargin,
    "q17_small_qty_revenue" ->
      """SELECT
        | CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_price,
        | COUNT(*) AS n_rows
        |FROM lineitem l
        |WHERE CAST(l_quantity AS DECIMAL(18,2)) < (
        |  SELECT AVG(CAST(l_quantity AS DECIMAL(18,2))) * 0.2
        |  FROM lineitem WHERE l_partkey = l.l_partkey)""".stripMargin,
    "q_percentiles" ->
      """SELECT o_orderpriority,
        | quantile_cont(o_totalprice, 0.5) AS p50,
        | quantile_cont(o_totalprice, 0.9) AS p90,
        | COUNT(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | COUNT(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q6_filtered_revenue" ->
      """SELECT
        | CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))), 0) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,
    "q3_revenue_by_segment" ->
      """SELECT c_mktsegment, CAST(year(o_orderdate) AS BIGINT) AS order_year,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | COUNT(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q5_local_supplier" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_lineitems
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q4_semi_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_anti_orders" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_skew_advisor" ->
      """WITH c AS (SELECT o_custkey AS key, COUNT(*)::BIGINT AS cnt
        |  FROM orders GROUP BY 1),
        |t AS (SELECT COUNT(*)::BIGINT AS n_keys, SUM(cnt)::BIGINT AS n_rows
        |  FROM c),
        |r AS (SELECT key, cnt,
        |    ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rk FROM c)
        |SELECT rk, key, cnt, n_keys, n_rows,
        |  round(CAST(cnt AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS share_r,
        |  (cnt * 32 + n_rows - 1) // n_rows AS salts_needed
        |FROM r, t WHERE rk <= 5 ORDER BY rk""".stripMargin,
    "q_hierarchy" ->
      """WITH RECURSIVE anc AS (
        |  SELECT doc_id AS v, doc_id // 3 AS a FROM documents WHERE doc_id > 0
        |  UNION
        |  SELECT v, a // 3 FROM anc WHERE a > 0),
        |dep AS (SELECT v, COUNT(*)::BIGINT AS depth FROM anc GROUP BY 1),
        |con AS (SELECT anc.a, COUNT(*)::BIGINT AS n_desc,
        |    SUM(d.n_chars)::BIGINT AS desc_chars
        |  FROM anc JOIN documents d ON anc.v = d.doc_id GROUP BY 1)
        |SELECT n.doc_id,
        |  COALESCE(dep.depth, 0) AS depth,
        |  COALESCE(con.n_desc, 0) AS n_desc,
        |  n.n_chars + COALESCE(con.desc_chars, 0) AS subtree_chars
        |FROM documents n
        |LEFT JOIN dep ON n.doc_id = dep.v
        |LEFT JOIN con ON n.doc_id = con.a
        |ORDER BY n.doc_id""".stripMargin,
    // the PLAIN join — the bloom prune must be invisible in the result
    "q_bloom_prune" ->
      """SELECT p_partkey,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |   (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#3' AND p_size < 10
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_window_top3" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        | FROM orders)
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    // same oracle again — gates the OPTIMIZER-REWRITE path (window spelling
    // auto-rewritten to TopKPerKeyNode; the query require()s the rewrite)
    "q_window_top3_rewrite" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        | FROM orders)
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    // same oracle as q_window_top3 — gates the custom TopKPerKeyExec path
    "q_window_top3_topk" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        | FROM orders)
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    "q_sessionize" ->
      """SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM (
        | SELECT user_id,
        |  CASE WHEN prev_ts IS NULL
        |        OR ((epoch_ns(ts) // 1000000000) - (epoch_ns(prev_ts) // 1000000000)) > 1800 THEN 1 ELSE 0 END AS new_sess
        | FROM (SELECT user_id, ts, event_id,
        |        LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |       FROM events))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |v AS (SELECT user_id, MIN(ts_us) AS view_us
        |  FROM e WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, view_us, MIN(ts_us) AS click_us
        |  FROM e JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND ts_us > view_us GROUP BY 1, 2),
        |p AS (SELECT e.user_id, view_us, click_us, MIN(ts_us) AS purchase_us
        |  FROM e JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND ts_us > click_us GROUP BY 1, 2, 3)
        |SELECT user_id, view_us, click_us, purchase_us FROM p
        |ORDER BY user_id""".stripMargin,
    "q_cohort" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
        |f AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY 1)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        |  COUNT(DISTINCT e.user_id) AS n_users, COUNT(*) AS n_events
        |FROM e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_ntile_global" ->
      """WITH p AS (SELECT o_totalprice,
        |   ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) - 1 AS pos
        | FROM orders),
        |n AS (SELECT COUNT(*) AS n_total FROM orders)
        |SELECT (pos * 10 // n_total) + 1 AS bucket,
        | MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
        | COUNT(*) AS n_orders
        |FROM p, n GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_rank_topk" ->
      """SELECT o_orderpriority, rk, bucket, o_orderkey FROM (
        | SELECT o_orderpriority, o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000000 AS bucket,
        |  CAST(RANK() OVER (PARTITION BY o_orderpriority
        |    ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000000 DESC)
        |   AS BIGINT) AS rk
        | FROM orders)
        |WHERE rk <= 3 ORDER BY o_orderpriority, rk, o_orderkey""".stripMargin,
    "q_scd2" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
        |  FROM events),
        |flagged AS (SELECT user_id, event_type, ts_us, event_id,
        |   CASE WHEN lag(event_type) OVER w IS NULL
        |     OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |isl AS (SELECT user_id, event_type, ts_us,
        |   CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
        | FROM flagged),
        |runs AS (SELECT user_id, island, MIN(event_type) AS event_type,
        |   MIN(ts_us) AS valid_from_us, COUNT(*) AS n_events
        | FROM isl GROUP BY 1, 2)
        |SELECT user_id, island, event_type, valid_from_us,
        | lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY island)
        |   AS valid_to_us,
        | n_events
        |FROM runs ORDER BY user_id, island""".stripMargin,
    "q_histogram" ->
      """SELECT (CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000000)
        |   AS bucket,
        | CAST((CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000000)
        |   * 50000 AS DOUBLE) AS bucket_lo,
        | COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q_overlap_windows" ->
      """WITH err AS (SELECT event_id AS err_id, epoch_us(ts) AS s,
        |   epoch_us(ts) + 7200000000 AS e
        | FROM events WHERE event_type = 'error' AND value > 90),
        |sg AS (SELECT event_id AS sg_id, epoch_us(ts) AS s2,
        |   epoch_us(ts) + 7200000000 AS e2
        | FROM events WHERE event_type = 'signup' AND value > 90)
        |SELECT err_id, COUNT(*) AS n_overlaps, MIN(sg_id) AS first_sg
        |FROM err JOIN sg ON s <= e2 AND s2 <= e
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the SAME string the Spark side executes — see qSqlEntry
    "q_sql_entry" -> SqlEntryText,
    "q_share" ->
      """WITH rev AS (SELECT n_name,
        |   SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |     * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev_d
        | FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        | GROUP BY 1),
        |tot AS (SELECT SUM(rev_d) AS tot_d FROM rev)
        |SELECT n_name, CAST(rev_d AS DOUBLE) AS revenue,
        | CAST(rev_d AS DOUBLE) / CAST(tot_d AS DOUBLE) AS share
        |FROM rev, tot ORDER BY n_name""".stripMargin,
    "q_attribution" ->
      """WITH e AS (SELECT user_id, event_type,
        |   lpad(epoch_us(ts)::VARCHAR, 20, '0') || '|' ||
        |     lpad(event_id::VARCHAR, 12, '0') AS ord
        | FROM events)
        |SELECT user_id,
        | arg_min(event_type, ord) AS first_touch,
        | arg_max(event_type, ord) AS last_touch,
        | COUNT(*) AS n_events
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_mode" ->
      """WITH c AS (SELECT user_id, event_type, COUNT(*) AS cnt
        | FROM events GROUP BY 1, 2)
        |SELECT user_id,
        | arg_max(event_type,
        |   lpad(cnt::VARCHAR, 12, '0') || '|' || event_type) AS mode_type,
        | MAX(cnt) AS mode_cnt
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_outliers" ->
      """WITH m AS (SELECT event_type AS t, COUNT(*) AS n,
        |   SUM(CAST(value AS DECIMAL(18,2))) AS s1,
        |   SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS s2
        | FROM events GROUP BY 1),
        |st AS (SELECT t,
        |   CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |   sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
        |     - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |       * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) AS std
        | FROM m)
        |SELECT event_id, event_type, value, (value - mean) / std AS z
        |FROM events JOIN st ON event_type = st.t
        |WHERE abs((value - mean) / std) > 3.0e0
        |ORDER BY event_id""".stripMargin,
    "q_ema" ->
      """WITH RECURSIVE e AS (SELECT user_id, value,
        |   ROW_NUMBER() OVER (PARTITION BY user_id
        |     ORDER BY epoch_us(ts), event_id) AS rn
        | FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, rn, value AS ema FROM e WHERE rn = 1
        | UNION ALL
        | SELECT e.user_id, e.rn, e.value * 0.5e0 + r.ema * 0.5e0
        | FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1),
        |fin AS (SELECT user_id, MAX(rn) AS n_events FROM e GROUP BY 1)
        |SELECT fin.user_id, r.ema, fin.n_events
        |FROM fin JOIN r ON r.user_id = fin.user_id AND r.rn = fin.n_events
        |ORDER BY fin.user_id""".stripMargin,
    "q_yoy" ->
      """WITH rev AS (SELECT c_mktsegment,
        |   CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |   SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |     * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev_d
        | FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        | GROUP BY 1, 2)
        |SELECT c_mktsegment, order_year,
        | CAST(rev_d AS DOUBLE) AS revenue,
        | CAST(rev_d - lag(rev_d) OVER (PARTITION BY c_mktsegment
        |   ORDER BY order_year) AS DOUBLE) AS yoy_delta
        |FROM rev ORDER BY c_mktsegment, order_year""".stripMargin,
    "q_pagerank" -> {
      // mirror of qPagerank's loop, one CTE per unrolled round
      def iter(i: Int): String =
        s"""m$i AS (SELECT n.node,
           |    150000 + (85 * coalesce(c.in_sum, 0)) // 100 AS mass
           |  FROM n LEFT JOIN (
           |    SELECT e.dst AS node, sum(m.mass // od.outdeg)::BIGINT AS in_sum
           |    FROM e JOIN m${i - 1} m ON e.src = m.node
           |    JOIN od ON e.src = od.src
           |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin
      s"""WITH sp AS (SELECT DISTINCT l_suppkey::BIGINT * 2 AS src,
         |    l_partkey::BIGINT * 2 + 1 AS dst FROM lineitem),
         |e AS (SELECT src, dst FROM sp
         |  UNION ALL SELECT dst AS src, src AS dst FROM sp),
         |n AS (SELECT DISTINCT src AS node FROM e),
         |od AS (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY src),
         |m0 AS (SELECT node, 1000000::BIGINT AS mass FROM n),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT node, CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'part' END AS kind,
         |  node // 2 AS node_key, mass::BIGINT AS mass
         |FROM m3 ORDER BY mass DESC, node""".stripMargin
    },
    "q_triangles" ->
      """WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
        |w AS (SELECT a.sk AS u, b.sk AS v, COUNT(*) AS c
        |  FROM ps a JOIN ps b ON a.p = b.p AND a.sk < b.sk
        |  GROUP BY 1, 2),
        |mx AS (SELECT MAX(c) AS m FROM w),
        |e AS (SELECT u, v FROM w, mx WHERE c >= greatest(2, (m * 3) // 4)),
        |deg AS (SELECT n, COUNT(*) AS degree FROM (
        |    SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
        |  FROM e e1 JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |pn AS (SELECT n, COUNT(*) AS n_triangles FROM (
        |    SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri) GROUP BY 1)
        |SELECT deg.n AS s_suppkey, degree,
        | COALESCE(n_triangles, 0) AS n_triangles
        |FROM deg LEFT JOIN pn ON deg.n = pn.n ORDER BY 1""".stripMargin,
    "q_rank_stats" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        | CAST(RANK() OVER w AS BIGINT) AS rk,
        | CAST(DENSE_RANK() OVER w AS BIGINT) AS drk,
        | PERCENT_RANK() OVER w AS prk,
        | CUME_DIST() OVER w AS cd
        |FROM orders WHERE o_totalprice > 450000
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
        |ORDER BY o_orderpriority, o_totalprice, o_orderkey""".stripMargin,
    "q_session_window" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us,
        |   CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |m AS (SELECT user_id, us, v,
        |  CASE WHEN LAG(us) OVER w IS NULL
        |        OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |g AS (SELECT user_id, us, v,
        |  SUM(brk) OVER (PARTITION BY user_id ORDER BY us
        |    ROWS UNBOUNDED PRECEDING) AS sid
        | FROM m)
        |SELECT user_id, MIN(us) AS start_us, MAX(us) + 1800000000 AS end_us,
        | COUNT(*) AS n_events, CAST(SUM(v) AS DOUBLE) AS total_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin,
    "q_multiset_ops" ->
      """WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_quantity >= 30),
        |b AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'),
        |ia AS (SELECT l_suppkey FROM a INTERSECT ALL SELECT l_suppkey FROM b),
        |ea AS (SELECT l_suppkey FROM a EXCEPT ALL SELECT l_suppkey FROM b)
        |SELECT 'intersect_all' AS op, l_suppkey, COUNT(*) AS n FROM ia GROUP BY 2
        |UNION ALL
        |SELECT 'except_all' AS op, l_suppkey, COUNT(*) AS n FROM ea GROUP BY 2
        |ORDER BY op, l_suppkey""".stripMargin,
    "q_string_agg" ->
      """SELECT c_nationkey,
        | string_agg(c_name, ',' ORDER BY c_name) AS names,
        | COUNT(*) AS n,
        | CAST(len(string_agg(c_name, ',' ORDER BY c_name)) AS BIGINT) AS names_len
        |FROM customer WHERE c_acctbal > 9900
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_pivot" ->
      """SELECT c_mktsegment,
        | COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS "1-URGENT",
        | COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS "2-HIGH",
        | COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
        | COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
        | COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS "5-LOW"
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_unpivot" ->
      """WITH w AS (SELECT user_id,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS n_error,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS n_view
        | FROM events GROUP BY 1)
        |SELECT user_id, metric, value FROM (
        | SELECT user_id, 'n_purchase' AS metric, n_purchase AS value FROM w
        | UNION ALL SELECT user_id, 'n_error', n_error FROM w
        | UNION ALL SELECT user_id, 'n_view', n_view FROM w)
        |ORDER BY user_id, metric""".stripMargin,
    "q_json_props" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        | MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        | COUNT(*) FILTER (WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50) AS n_high
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_cube" ->
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    "q_window_frames" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w3 AS DOUBLE) AS moving_sum3,
        | LEAD(event_id, 1) OVER w AS next_event,
        | FIRST_VALUE(event_id) OVER w3 AS frame_first,
        | LAST_VALUE(event_id) OVER w3 AS frame_last
        |FROM events WHERE event_type = 'purchase'
        |WINDOW
        | w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id),
        | w3 AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, event_id""".stripMargin,
    "q_full_outer" ->
      """WITH p AS (SELECT user_id, COUNT(*) AS n_purchase,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |e AS (SELECT user_id, COUNT(*) AS n_error
        |  FROM events WHERE event_type = 'error' GROUP BY 1)
        |SELECT COALESCE(p.user_id, e.user_id) AS user_id,
        |  COALESCE(n_purchase, 0) AS n_purchase,
        |  COALESCE(purchase_value, CAST(0 AS DOUBLE)) AS purchase_value,
        |  COALESCE(n_error, 0) AS n_error
        |FROM p FULL OUTER JOIN e ON p.user_id = e.user_id
        |ORDER BY user_id""".stripMargin,
    "q_corr_manual" ->
      """WITH m AS (SELECT l_returnflag, COUNT(*) AS n,
        |  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |  SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |  SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
        |  SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |  SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
        | FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        | (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |     * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |  AS corr_qty_price
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "q_tumbling_hour" ->
      """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS start_us,
        | event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_sliding_windows" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |w AS (SELECT event_type,
        |   (us // 1800000000) * 1800000000 - k * 1800000000 AS start_us
        | FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k)
        | WHERE us - ((us // 1800000000) * 1800000000 - k * 1800000000)
        |   < 3600000000)
        |SELECT start_us, event_type, COUNT(*) AS n_events
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_union_evolve" ->
      """WITH u AS (
        | SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderkey % 2 = 0
        | UNION ALL BY NAME
        | SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 1)
        |SELECT o_orderpriority, COUNT(*) AS n_rows,
        | COUNT(o_totalprice) AS n_with_price,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_lateral_top2" ->
      """SELECT n_name, c_custkey, c_acctbal
        |FROM nation,
        | LATERAL (SELECT c_custkey, c_acctbal FROM customer
        |   WHERE c_nationkey = n_nationkey
        |   ORDER BY c_acctbal DESC, c_custkey LIMIT 2)
        |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin,
    "q_fuzzy_match" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM n a JOIN n b
        |  ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
        | AND abs(len(a.p_name) - len(b.p_name)) <= 2
        | AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY name_a, name_b""".stripMargin,
    "q_except_intersect" ->
      """WITH y97 AS (SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'),
        |y98 AS (SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01')
        |SELECT 'only_1997' AS tag, o_custkey FROM (SELECT o_custkey FROM y97 EXCEPT SELECT o_custkey FROM y98)
        |UNION ALL
        |SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM y97 INTERSECT SELECT o_custkey FROM y98)
        |ORDER BY tag, o_custkey""".stripMargin,
    "q_deciles" ->
      """SELECT o_orderpriority, decile,
        | MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
        | COUNT(*) AS n_orders
        |FROM (SELECT o_orderpriority, o_totalprice,
        |   CAST(NTILE(10) OVER (PARTITION BY o_orderpriority
        |     ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS decile
        | FROM orders)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS tr
        |  FROM lineitem GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(tr AS DOUBLE) AS total_revenue
        |FROM supplier JOIN rev ON s_suppkey = supplier_no
        |WHERE tr = (SELECT max(tr) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q18_large_volume" ->
      """WITH big AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
        |  FROM lineitem GROUP BY 1 HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(sq AS DOUBLE) AS sum_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN big ON o_orderkey = big.l_orderkey
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,
    "q19_discounted_revenue" ->
      """SELECT
        | CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 0) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_rows
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q21_sole_blame" ->
      """WITH l1 AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
        |  FROM lineitem WHERE l_returnflag = 'R'),
        |waited AS (
        |  SELECT ok, sk FROM l1
        |  WHERE EXISTS (SELECT 1 FROM lineitem l2
        |      WHERE l2.l_orderkey = l1.ok AND l2.l_suppkey <> l1.sk)
        |    AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |      WHERE l3.l_orderkey = l1.ok AND l3.l_suppkey <> l1.sk
        |        AND l3.l_returnflag = 'R'))
        |SELECT s_suppkey, s_name, COUNT(DISTINCT ok) AS numwait
        |FROM waited JOIN supplier ON sk = s_suppkey
        |GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey""".stripMargin,
    "q13_order_distribution" ->
      """SELECT n_orders, COUNT(*) AS n_customers FROM (
        | SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
        | FROM customer c LEFT JOIN orders o
        |   ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        | GROUP BY 1)
        |GROUP BY 1 ORDER BY n_orders""".stripMargin,
    "q22_idle_balance" ->
      """WITH pos AS (
        |  SELECT CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents,
        |         COUNT(*) AS n_pos
        |  FROM customer WHERE c_acctbal > 0),
        |idle AS (
        |  SELECT * FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= '2000-01-01'))
        |SELECT c_nationkey, COUNT(*) AS n_custs,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM idle, pos
        |WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) * n_pos > total_cents
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_asof_views" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |    MAX(event_id) AS view_id, ARG_MAX(value, event_id) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT c.click_id, c.user_id, c.ts_us, v.view_id, v.view_value
        |FROM c ASOF LEFT JOIN v
        |  ON c.user_id = v.user_id AND c.ts_us >= v.ts_us
        |ORDER BY click_id""".stripMargin,
    "q_asof_forward" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |    MAX(event_id) AS view_id, ARG_MAX(value, event_id) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT c.click_id, c.user_id, c.ts_us, v.view_id, v.view_value
        |FROM c ASOF LEFT JOIN v
        |  ON c.user_id = v.user_id AND c.ts_us <= v.ts_us
        |ORDER BY click_id""".stripMargin,
    "q_asof_nearest" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |    MAX(event_id) AS view_id, ARG_MAX(value, event_id) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |b AS (SELECT c.click_id, c.user_id, c.ts_us,
        |    v.ts_us AS b_ts, v.view_id AS b_id, v.view_value AS b_val
        |  FROM c ASOF LEFT JOIN v
        |    ON c.user_id = v.user_id AND c.ts_us >= v.ts_us),
        |f AS (SELECT c.click_id,
        |    v.ts_us AS f_ts, v.view_id AS f_id, v.view_value AS f_val
        |  FROM c ASOF LEFT JOIN v
        |    ON c.user_id = v.user_id AND c.ts_us <= v.ts_us)
        |SELECT b.click_id, b.user_id, b.ts_us,
        |  CASE WHEN f_ts IS NULL THEN b_id
        |       WHEN b_ts IS NULL THEN f_id
        |       WHEN b.ts_us - b_ts <= f_ts - b.ts_us THEN b_id ELSE f_id
        |  END AS view_id,
        |  CASE WHEN f_ts IS NULL THEN b_val
        |       WHEN b_ts IS NULL THEN f_val
        |       WHEN b.ts_us - b_ts <= f_ts - b.ts_us THEN b_val ELSE f_val
        |  END AS view_value
        |FROM b JOIN f USING (click_id)
        |ORDER BY click_id""".stripMargin,
    "q_range_windows" ->
      """WITH w AS (SELECT event_id AS err_id, epoch_us(ts) AS w_start,
        |    epoch_us(ts) + 3600000000 AS w_end
        |  FROM events WHERE event_type = 'error' AND value > 90)
        |SELECT w.err_id, COUNT(*) AS n_in,
        | CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w JOIN events p
        |  ON epoch_us(p.ts) >= w.w_start AND epoch_us(p.ts) <= w.w_end
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_stratified_sample" ->
      """SELECT event_id, event_type, bucket FROM (
        | SELECT event_id, event_type,
        |  ('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket,
        |  CASE event_type WHEN 'error' THEN 100 WHEN 'signup' THEN 50
        |   WHEN 'click' THEN 25 WHEN 'purchase' THEN 25 WHEN 'view' THEN 5
        |   ELSE 10 END AS rate
        | FROM events)
        |WHERE bucket < rate ORDER BY event_id""".stripMargin,
    "q_resample" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |   CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |d AS (SELECT user_id, day, COUNT(*)::BIGINT AS n_events, SUM(v) AS sv
        | FROM e GROUP BY 1, 2),
        |mm AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM e),
        |u AS (SELECT DISTINCT user_id FROM e),
        |grid AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day
        | FROM u, mm),
        |j AS (SELECT grid.user_id, grid.day,
        |   COALESCE(n_events, 0) AS n_events, CAST(sv AS DOUBLE) AS day_value
        | FROM grid LEFT JOIN d USING (user_id, day))
        |SELECT user_id, day, n_events, day_value,
        | COALESCE(last_value(day_value IGNORE NULLS) OVER (
        |   PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING), 0.0)
        |   AS ffill_value
        |FROM j ORDER BY user_id, day""".stripMargin,
    // oracle = the NAIVE one-shot rollup over all events: the incremental
    // base+delta merge must be indistinguishable from a full recompute
    "q_ivm_rollup" ->
      """SELECT epoch_us(ts) // 3600000000 AS hour, event_type,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q_rollup_events" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY ROLLUP(event_type)
        |ORDER BY event_type NULLS FIRST""".stripMargin,
    "q_top_parts" ->
      """SELECT p_partkey, p_brand,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2 ORDER BY revenue DESC, p_partkey LIMIT 10""".stripMargin,
    "q_top_parts_topk" ->
      """SELECT p_partkey, p_brand,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2 ORDER BY revenue DESC, p_partkey LIMIT 10""".stripMargin,
    "q_union_users" ->
      """SELECT DISTINCT user_id FROM (
        | SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 100
        | UNION ALL
        | SELECT user_id FROM events WHERE event_type = 'error')
        |ORDER BY user_id""".stripMargin,
    "q_user_activity" ->
      """SELECT user_id,
        | COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        | COUNT(*) FILTER (WHERE event_type = 'error') AS n_error,
        | CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS purchase_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_nation_stats" ->
      """SELECT n_name, MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
        | COUNT(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_part_types" ->
      """SELECT substr(p_type, 1, 8) AS type_prefix, COUNT(*) AS n_parts,
        | MIN(p_name) AS first_name, CAST(MAX(p_size) AS BIGINT) AS max_size
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin
  )
}

package graft.queries

import org.apache.spark.sql.execution.ExplainMode

import graft.SparkSpecBase

/** Plan-shape regression gates for the headline queries: the properties
  * that make them survive a 100× scale-up — filters and projections
  * reaching the parquet scan, small dimensions broadcast, per-row
  * pipelines staying exchange-free — asserted on the actual physical
  * plans so a refactor that silently loses one fails a test, not a
  * benchmark round.
  */
class PlanAuditSpec extends SparkSpecBase {

  private def planOf(name: String): String =
    graft.SparkEntry.queries(name)(spark, sf001)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def scanLinesFor(plan: String, table: String): String =
    plan.split("\n\n").find(s =>
        s.contains(s"$table.parquet") && s.contains("ReadSchema"))
      .getOrElse(fail(s"no $table scan section in:\n$plan"))

  test("q6: every predicate and the 4-column projection reach the scan") {
    val scan = scanLinesFor(planOf("q6_filtered_revenue"), "lineitem")
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(scan.contains(s"IsNotNull($c)") || scan.contains(s"$c)"),
        s"$c not pushed:\n$scan")
    val read = scan.split("\n").find(_.contains("ReadSchema")).get
    // projection pruning: only the filter + aggregate columns are read
    assert(Seq("l_shipdate", "l_discount", "l_quantity", "l_extendedprice")
      .forall(read.contains), read)
    assert(!read.contains("l_comment") && !read.contains("l_orderkey"), read)
  }

  test("q1: scan reads only the aggregate's 6 columns") {
    val read = scanLinesFor(planOf("q1_pricing_summary"), "lineitem")
      .split("\n").find(_.contains("ReadSchema")).get
    assert(Seq("l_returnflag", "l_linestatus", "l_quantity",
      "l_extendedprice", "l_discount").forall(read.contains), read)
    assert(!read.contains("l_partkey") && !read.contains("l_shipdate"), read)
  }

  test("q5: region and nation dimensions broadcast, never shuffled") {
    val plan = planOf("q5_local_supplier")
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the two tiny dimensions must not appear under a hash exchange
    val hashExchanges = plan.split("\n\n").filter(_.contains("Exchange hashpartitioning"))
    assert(!hashExchanges.exists(s => s.contains("region") || s.contains("nation")),
      s"dimension under a hash exchange:\n$plan")
  }

  test("per-row pipelines run with zero exchanges") {
    for (name <- Seq("d_mix_weighted", "d_pii_scrub")) {
      // the output orderBy (presentation-only, for the oracle diff) plans
      // as a RANGE exchange; the operator body itself must never
      // hash-shuffle — a per-row filter/rewrite has no grouping to pay for
      val p = graft.SparkEntry.queries(name)(spark, sf001)
        .queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"), s"$name shuffles:\n$p")
    }
  }

  test("q19: the disjunctive part predicates reach the part scan") {
    val scan = scanLinesFor(planOf("q19_discounted_revenue"), "part")
    // the OR-of-ANDs must be extracted per side: every branch constrains
    // p_brand + p_size, so their disjunction is pushable to the part scan
    assert(scan.contains("Or("), s"no disjunction pushed:\n$scan")
    assert(scan.contains("p_brand") && scan.contains("p_size"), scan)
  }

  test("q9: the LIKE predicate reaches the part scan; nation broadcasts") {
    val plan = planOf("q9_product_profit")
    val scan = scanLinesFor(plan, "part")
    // StringContains('%bolt%') must prune part BEFORE the 4-table chain —
    // at sf100 this is the difference between joining 2M and 20M part rows
    assert(scan.contains("Contains(p_name,bolt)") || scan.contains("bolt"),
      s"LIKE not pushed:\n$scan")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q2: the correlated min decorrelates to joins, never a cartesian") {
    val plan = planOf("q2_min_cost_supplier")
    assert(!plan.contains("CartesianProduct"), plan)
    // the part filter (p_type, p_size) must reach the part scan
    val scan = scanLinesFor(plan, "part")
    assert(scan.contains("p_type") && scan.contains("p_size"), scan)
  }

  test("q16: the NOT-IN exclusion plans as a broadcast anti join") {
    val plan = planOf("q16_supplier_cnt")
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q_funnel: the three user_id aggregates reuse one partitioning") {
    // partial aggregates satisfy distribution-over-subset: hashing on
    // user_id serves all three groupBys, so the events table must not be
    // hash-exchanged three times (the range exchange is the output orderBy)
    val p = graft.SparkEntry.queries("q_funnel")(spark, sf001)
      .queryExecution.executedPlan.toString
    val nHash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(nHash <= 2, s"funnel shuffles $nHash times:\n$p")
  }

  test("q_ntile_global: no single-partition window anywhere in the plan") {
    val p = graft.SparkEntry.queries("q_ntile_global")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"global window crept in:\n$p")
    assert(!p.contains("Exchange SinglePartition") ||
      // the 1-row count aggregate is allowed to single-partition; the data
      // path must not — assert the orders scan feeds a range partitioning
      p.contains("Exchange rangepartitioning"), p)
  }

  test("s_ann_ivfpq and d_sparse_cosine: no cartesian, no nested-loop join") {
    for (name <- Seq("s_ann_ivfpq", "d_sparse_cosine")) {
      val p = graft.SparkEntry.queries(name)(spark, sf001)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      // the one legal BNLJ is a broadcast of the tiny centroid table in the
      // coarse IVF stage; the candidate/fine stages must all be hash joins
      assert(!p.contains("BroadcastNestedLoopJoin") ||
        name == "s_ann_ivfpq", s"$name:\n$p")
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
        p.contains("ShuffledHashJoin"), s"$name has no real join:\n$p")
    }
  }

  test("q_fuzzy_match: the blocking key plans as an equi join") {
    val p = graft.SparkEntry.queries("q_fuzzy_match")(spark, sf001)
      .queryExecution.executedPlan.toString
    // first-char blocking must be extracted as the join key — a fuzzy
    // match that degrades to BNLJ/cartesian is the classic scale accident
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s_cosine_topk: queries broadcast against a single corpus scan") {
    val plan = planOf("s_cosine_topk")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    // corpus side: one scan of embeddings, no self-shuffle before scoring
    assert(plan.split("embeddings.parquet").length - 1 >= 1, plan)
  }

  test("q_triangles: every graph join is an equi join, never a cartesian") {
    val p = graft.SparkEntry.queries("q_triangles")(spark, sf001)
      .queryExecution.executedPlan.toString
    // the co-supply projection and both wedge joins must stay equi joins —
    // a triangle count that degrades to a cross join is O(n³) at scale
    // (the density threshold is a driver-side literal, so no BNLJ at all)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("runtime bloom filter: selective dim side reduces the fact scan") {
    // Spark's InjectRuntimeFilter is the engine-native semi-join reduction:
    // when a shuffle join's small side carries a selective predicate, the
    // optimizer plants a bloom filter of its join keys on the big side's
    // scan, so at 100 TB the fact table drops non-matching rows BEFORE the
    // exchange. This gate pins the conditions under which it fires (shuffle
    // join + selective creation side) so a config or plan refactor that
    // silently loses the reduction fails here, not in a fleet profile.
    import org.apache.spark.sql.functions.col
    val c = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> c.getOption(k))
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // local test files are tiny; the fleet default (10GB) is the real guard
      c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      val o = spark.read.parquet(s"$sf001/orders.parquet")
        .filter(col("o_totalprice") > 400000 &&
                col("o_orderpriority") === "1-URGENT")
      val j = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.toLowerCase.contains("bloom"),
        s"no runtime bloom filter injected:\n$opt")
    } finally saved.foreach { case (k, v) => v.fold(c.unset(k))(c.set(k, _)) }
  }

  test("dynamic partition pruning: dim filter prunes the fact's partitions") {
    // The partition-table sibling of the bloom gate: when the fact table is
    // partitioned on the join key and the dim side carries a selective
    // filter, Spark plants a dynamicpruning subquery in the fact scan's
    // PartitionFilters — at 100 TB the scan reads only the partitions the
    // filtered dim can match instead of every file. Gate the mechanism on
    // a partitioned copy of orders so a conf/plan regression fails here.
    import org.apache.spark.sql.functions.{col, lit}
    val dir = java.nio.file.Files.createTempDirectory("dpp-orders-").toString
    spark.read.parquet(s"$sf001/orders.parquet")
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(dir)
    val fact = spark.read.parquet(dir)
    // the dim must be a file scan with a surviving Filter node — a local
    // relation constant-folds the predicate away and DPP sees nothing
    // selective to prune with
    // NOTE: a boolean `keep = true` filter gets simplified to a bare
    // attribute, which isLikelySelective() does not count — the predicate
    // must survive as a real comparison for DPP to consider the dim side
    val dimDir = java.nio.file.Files.createTempDirectory("dpp-dim-").toString
    spark.createDataFrame(Seq(
        ("1-URGENT", "keep"), ("2-HIGH", "keep"), ("3-MEDIUM", "drop"),
        ("4-NOT SPECIFIED", "drop"), ("5-LOW", "drop")))
      .toDF("pr", "action").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("action") === lit("keep"))
    val j = fact.join(dim, fact("o_orderpriority") === dim("pr"))
      .groupBy("pr").count()
    val opt = j.queryExecution.optimizedPlan.toString
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning\noptimized:\n$opt\nphysical:\n$plan")
  }

  test("AQE splits a skewed join partition at runtime") {
    // the fourth AQE gate beside bloom/DPP/coalescing: when one reducer
    // partition of a shuffle join dwarfs the median, OptimizeSkewedJoin
    // splits it into advisory-sized chunks and replicates the other side —
    // the engine-native cure for hot keys, with no hand-rolled salting.
    // Thresholds are lowered to fire on a test-sized build; the gate pins
    // that a 90%-hot key is detected and split, so a conf regression (or
    // an accidental skewJoin.enabled=false) fails here instead of in a
    // fleet profile.
    import org.apache.spark.sql.functions._
    // NOTE: isolated session — graft.Main's builder applies its own
    // shuffle.partitions to the shared session via getOrCreate when
    // MainSpec runs in the same JVM, and suites execute in parallel, so
    // conf written on the shared session mid-test is not trustworthy.
    // newSession() shares the SparkContext but owns its SQLConf.
    val s2 = spark.newSession()
    val c = s2.conf
    c.set("spark.sql.shuffle.partitions", "8")
    c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    c.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // 90% of rows on one key, with incompressible md5 payloads (shuffle
    // sizes are post-compression — a repetitive literal deflates under
    // the 8KB threshold). The aggregate MUST touch v post-join, otherwise
    // column pruning drops the payload before the exchange and every
    // partition lands under the 8KB floor: that reducer partition is ~MBs
    // while the median is KBs, over both absolute and factor thresholds.
    val left = s2.range(0, 40000).select(
      when(col("id") % 10 === 0, col("id")).otherwise(lit(0L)).as("k"),
      md5(col("id").cast("string")).as("v"))
    val right = s2.range(0, 200).select(col("id").as("k"), lit("dim").as("d"))
    val j = left.join(right, "k").groupBy("d")
      .agg(count(lit(1)).as("count"), max(length(col("v"))).as("vlen"))
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true") || plan.contains("skewed"),
      s"no skew-join split in:\n$plan")
  }

  test("AQE coalesces an over-partitioned tiny shuffle") {
    // the runtime half of the shuffle-partitions story: the static setting
    // only has to be roughly right because AQE folds near-empty reducer
    // partitions together after seeing map output sizes — the mechanism
    // that keeps shuffle.partitions=<cluster-sized> sane on small stages
    val df = spark.read.parquet(s"$sf001/orders.parquet")
      .groupBy("o_orderpriority").count()
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead coalesced") ||
      plan.contains("CoalescedShuffleRead"), s"no AQE coalescing in:\n$plan")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Plan-shape assertions: the optimizations we design for at 100 TB must be
  * visible in the physical plan at any scale — column pruning reaching the
  * parquet scan, predicate pushdown, broadcast joins for small dims, and
  * whole-stage codegen over the hot expressions.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  private def optimizedOf(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.optimizedPlan.toString

  test("projected scan prunes columns at the parquet reader") {
    val plan = planOf("s2_projected_scan")
    assert(plan.contains("ReadSchema: struct<c_custkey:bigint,c_name:string>"),
      s"column pruning missing:\n$plan")
  }

  test("filtered scan pushes the predicate into the scan") {
    val plan = planOf("s3_filtered_scan")
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), " +
      "GreaterThanOrEqual(l_quantity,45.0)]"),
      s"predicate pushdown missing:\n$plan")
  }

  test("column mapping reads only mapped source columns") {
    val plan = planOf("p1_column_mapping")
    assert(plan.contains("ReadSchema: struct<c_custkey:bigint," +
      "c_name:string,c_mktsegment:string>"),
      s"mapping should prune to 3 columns:\n$plan")
  }

  test("dimension lookup join broadcasts the small side") {
    val plan = planOf("j2_broadcast_lookup")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast:\n$plan")
  }

  test("anti-destination resolves to a real anti join, not a filter scan") {
    val plan = planOf("j4_anti_destination")
    assert(plan.contains("LeftAnti"), s"expected LeftAnti join:\n$plan")
  }

  test("semi guard resolves to LeftSemi") {
    val plan = planOf("j5_semi_guard")
    assert(plan.contains("LeftSemi"), s"expected LeftSemi join:\n$plan")
  }

  test("q1 aggregation is whole-stage codegen'd with partial aggregation") {
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    df.collect() // finalize the adaptive plan so codegen spans materialize
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"codegen missing:\n$plan") // *(n) = codegen stage
    assert(plan.contains("HashAggregate"), s"hash agg missing:\n$plan")
    // partial + final pair → map-side combine before the exchange
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final HashAggregate:\n$plan")
  }

  test("minhash LSH pair join is an equality join on the band key") {
    val df = SparkEntry.queries("d2_minhash_lsh")(spark, sf)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    // no join may have an empty (cross) condition
    assert(joins.nonEmpty)
    assert(joins.forall(_.condition.isDefined),
      "found a condition-less (cross) join in the LSH pipeline")
  }

  test("fused dedup expressions sit inside whole-stage codegen projections") {
    val df = SparkEntry.queries("d2_minhash_lsh")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WordShingles.compute"),
      s"fused shingles missing:\n$plan")
    assert(plan.contains("MinHashSig.compute"),
      s"fused signature missing:\n$plan")
    assert(plan.contains("*("), s"codegen missing around the sketch:\n$plan")
  }

  test("IVF probe join is an equality hash join; salted join stays " +
    "equality-shaped") {
    val ivf = SparkEntry.queries("n3_ann_ivf")(spark, sf)
    ivf.collect()
    val ivfPlan = ivf.queryExecution.executedPlan.toString
    // the PROBE join (cell = cell) must be hash, never nested-loop; the
    // nCells-row assignment cross join is the one sanctioned BNLJ
    assert(ivfPlan.contains("BroadcastHashJoin"),
      s"probe join should be a hash join:\n$ivfPlan")
    val salted = SparkEntry.queries("k1_skew_salted_join")(spark, sf)
    val joins = salted.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty && joins.forall(_.condition.isDefined),
      "salted join lost its equality condition")
  }

  test("q5 five-way join broadcasts the dimension tables") {
    val df = SparkEntry.queries("q5_region_revenue")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dims should broadcast:\n$plan")
    // the fact side must not be broadcast: at least one shuffle join or
    // reused exchange for orders⋈lineitem at real scale is fine either way
    // at sf0.001, but every region/nation join must be broadcast-shaped.
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 3,
      s"expected >=3 broadcast joins in the 5-way plan:\n$plan")
  }

  test("top-k compiles to TakeOrderedAndProject, not a full sort") {
    val plan = planOf("l7_topk")
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected top-k physical operator:\n$plan")
  }

  test("partitioned layout prunes partitions at plan time") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_part").toString + "/orders_by_status"
    graft.etl.Sinks.partitionedParquet(
      Tables.load(spark, sf, "orders"), tmp, Seq("o_orderstatus"))
    val pruned = spark.read.parquet(tmp)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"partition pruning missing:\n$plan")
    // pruned scan must match the unpartitioned filter count
    val expected = Tables.load(spark, sf, "orders")
      .filter(col("o_orderstatus") === "F").count()
    assert(pruned.count() === expected)
  }

  test("bucketed tables join without any shuffle exchange") {
    for (t <- Seq("b_orders", "b_lineitem")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:"), t)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    graft.etl.Sinks.bucketedTable(Tables.load(spark, sf, "orders"),
      "b_orders", buckets = 4, keys = Seq("o_orderkey"))
    graft.etl.Sinks.bucketedTable(
      Tables.load(spark, sf, "lineitem")
        .withColumnRenamed("l_orderkey", "o_orderkey"),
      "b_lineitem", buckets = 4, keys = Seq("o_orderkey"))
    // disable broadcast so the planner must pick the co-located path (at
    // real scale both sides are too big to broadcast anyway)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"),
        s"expected a co-located join:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"scan should be bucket-aware:\n$plan")
      // same result as the unbucketed join
      val expected = Tables.load(spark, sf, "orders").join(
        Tables.load(spark, sf, "lineitem"),
        col("o_orderkey") === col("l_orderkey")).count()
      assert(joined.count() === expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("rolling hash expression participates in codegen") {
    val df = Tables.load(spark, sf, "documents")
      .select(expr("rolling_hash(text)").as("h"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [static_invoke(" +
        "graft.functions.RollingHash.hash"),
      s"rolling_hash fell out of codegen:\n$plan")
  }

  test("domain cap plans a WindowGroupLimit (map-side top-k pre-prune)") {
    val plan = planOf("t13_domain_cap")
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=cap filter should push a group limit below the window:\n$plan")
  }

  test("decontamination broadcasts the bench-gram vocabulary") {
    val plan = planOf("d11_decontaminate")
    assert(plan.contains("BroadcastHashJoin"),
      s"train side must stream against a broadcast bench side:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"non-equi join crept in:\n$plan")
  }

  test("heavy hitters recount joins against a broadcast candidate list") {
    val df = SparkEntry.queries("a12_heavy_hitters")(spark, sf)
    df.collect() // adaptive: finalize
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate recount must not shuffle the corpus:\n$plan")
    assert(plan.contains("misra_gries") || plan.contains("MisraGries"),
      s"native MG aggregate missing from the plan:\n$plan")
  }

  test("sequence packing runs one shard-partitioned window, no global sort") {
    val plan = planOf("c6_pack_sequences")
    // partitioned by shard → a window over [shard] exists...
    assert(plan.contains("Window"), s"expected a window:\n$plan")
    // ...and no single-partition exchange feeds it (the orderBy in the
    // gate query sorts the final result, which is fine; the WINDOW itself
    // must not demand a global ordering).
    assert(!plan.contains("Exchange SinglePartition"),
      s"packing window must not serialize on one partition:\n$plan")
  }

  test("correlated EXISTS rewrites to one semi join, not N subqueries") {
    val plan = planOf("q4_exists_late")
    assert(plan.contains("LeftSemi"),
      s"EXISTS should plan as a left-semi join:\n$plan")
    assert(!plan.toLowerCase.contains("subquery"),
      s"subquery survived into the physical plan:\n$plan")
  }

  test("paragraph dedup: both shuffles are hash exchanges, no cartesian") {
    val plan = planOf("d12_paragraph_dedup")
    assert(!plan.contains("CartesianProduct"), s"cartesian crept in:\n$plan")
    assert(plan.contains("hashpartitioning(chunk"),
      s"first-wins pass should hash-partition on the segment:\n$plan")
  }

  // ---- TPC-H breadth suite: the shapes that matter at 100 TB --------------

  test("q7/q8 dual-role nation joins broadcast every dimension side") {
    for (name <- Seq("q7_nation_volume", "q8_market_share")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: dims should broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name: non-equi join crept in:\n$plan")
    }
  }

  test("q11/q15 global-scalar threshold joins back as a one-row broadcast") {
    for (name <- Seq("q11_important_parts", "q15_top_supplier")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      // the deliberate one-row cross join must be broadcast-shaped, never
      // a shuffled cartesian over the fact side
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("BroadcastHashJoin"),
        s"$name: scalar side must broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$name: shuffled cartesian crept in:\n$plan")
    }
  }

  test("q13 outer-join aggregation keeps the join-side predicate pushed") {
    val plan = planOf("q13_cust_distribution")
    // the priority filter must reach the orders scan, not sit above the
    // outer join (where it would break the count-0 semantics anyway)
    assert(plan.contains("Not(EqualTo(o_orderpriority,4-NOT SPECIFIED))"),
      s"orders-side filter should reach the scan:\n$plan")
  }

  test("q19 OR-of-ANDs stays one scan with a single composite predicate") {
    val df = SparkEntry.queries("q19_branch_revenue")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the OR must not union three scans (AQE prints the scan subtree in
    // both the initial and final plan, so count Unions, not scans)
    assert(!plan.contains("Union"), s"OR must not become a union:\n$plan")
    // the full OR-of-ANDs tree is pushed into BOTH parquet scans: quantity
    // ranges to lineitem, brand/size branches to part
    assert(plan.contains("PushedFilters: [IsNotNull(l_partkey), Or(Or(And(" +
      "GreaterThanOrEqual(l_quantity,1.0)"),
      s"quantity disjunction should push to the lineitem scan:\n$plan")
    assert(plan.contains("Or(Or(And(EqualTo(p_brand"),
      s"brand disjunction should push to the part scan:\n$plan")
  }

  test("q20 aggregated-subquery membership plans as a left-semi join") {
    val plan = planOf("q20_promo_suppliers")
    assert(plan.contains("LeftSemi"), s"expected LeftSemi:\n$plan")
  }

  test("q21 decorrelated EXISTS/NOT EXISTS is all equality joins") {
    val df = SparkEntry.queries("q21_waiting_supplier")(spark, sf)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty && joins.forall(_.condition.isDefined),
      "q21: found a condition-less join")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q21 must stay equality-joined:\n$plan")
  }

  test("q22 no-urgent-orders guard is a real anti join") {
    val plan = planOf("q22_idle_customers")
    assert(plan.contains("LeftAnti"), s"expected LeftAnti:\n$plan")
  }

  test("naive band join re-plans to a bucket equality join") {
    val df = SparkEntry.queries("x4_auto_band_join")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"band join stayed a nested loop:\n$plan")
    assert(plan.contains("__graft_band"),
      s"bucket key missing — rewrite did not produce the band plan:\n$plan")
  }

  test("ANALYZE statistics flow into plan costing (CBO plumbing)") {
    spark.sql("DROP TABLE IF EXISTS stats_nation")
    Tables.load(spark, sf, "nation").write.mode("overwrite")
      .saveAsTable("stats_nation")
    spark.sql("ANALYZE TABLE stats_nation COMPUTE STATISTICS")
    val prev = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.table("stats_nation")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(25)),
        s"ANALYZE row count missing from plan stats: $stats")
      // a join against the stats'd table broadcasts it without any hint
      val joined = Tables.load(spark, sf, "customer")
        .join(spark.table("stats_nation"),
          col("c_nationkey") === col("n_nationkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"stats'd dimension should broadcast:\n$plan")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prev)
      spark.sql("DROP TABLE IF EXISTS stats_nation")
    }
  }

  test("NOT IN plans as a null-aware anti join, not a nested loop probe") {
    Tables.registerAll(spark, sf)
    val df = spark.sql("SELECT count(*) FROM orders WHERE " +
      "o_orderpriority NOT IN (SELECT nullif(o_orderpriority, '5-LOW') " +
      "FROM orders)")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // single-column NOT IN optimizes to a broadcast hash join whose
    // trailing flag is isNullAware=true — never a nested loop probe
    assert(plan.contains("LeftAnti, BuildRight, true"),
      s"expected a null-aware anti hash join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"NOT IN degraded to a nested loop:\n$plan")
  }

  test("null-safe equality still plans as a hash join") {
    val df = SparkEntry.queries("p18_null_safe_join")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"<=> must stay an equi-key:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"null-safe join degraded to nested loop:\n$plan")
  }

  test("date-partitioned write prunes to one partition at planning time") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_prune").toString + "/ev"
    Tables.load(spark, sf, "events")
      .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("event_date").parquet(tmp)
    val df = spark.read.parquet(tmp)
      .filter(col("event_date") === "2024-01-15")
      .agg(count(lit(1)).as("n"))
    val physical = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = physical.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no file scan in plan"))
    // directory-level pruning: exactly one of the ~30 date partitions read
    assert(scan.metadata("PartitionFilters").contains("event_date"),
      s"partition filter missing: ${scan.metadata}")
    assert(scan.selectedPartitions.partitionCount === 1,
      s"expected 1 pruned partition, got " +
        s"${scan.selectedPartitions.partitionCount}")
  }

  test("windowed count-distinct rewrite shares one exchange across both " +
      "window passes") {
    val plan = planOf("a18_windowed_distinct")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1,
      s"both windows partition by event_type — expected exactly one " +
        s"hash exchange, got $exchanges:\n$plan")
    assert("Window".r.findAllIn(plan).length >= 2,
      s"expected two window operators:\n$plan")
  }

  test("custom DSv2 source narrows scan bounds from pushed range filters") {
    val df = SparkEntry.queries("s16_custom_source")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graftseq[100000,300000)"),
      s"range filters should narrow the source scan at planning time:\n" +
        plan.take(3000))
  }

  test("complete COUNT(*) pushdown reaches the custom source") {
    val df = SparkEntry.queries("s17_source_agg_pushdown")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graftseq-count[100000,50000000)"),
      s"count should be answered by the source, not a row scan:\n" +
        plan.take(3000))
  }

  test("AQE converts a statically-planned SMJ to broadcast at runtime") {
    // Static planning must NOT broadcast (threshold off); the adaptive
    // threshold stays on, so the runtime-measured small side converts the
    // sort-merge join to a broadcast join mid-query — the mechanism that
    // rescues a misestimated dim side at 100 TB without a manual hint.
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
    try {
      val dim = Tables.load(spark, sf, "orders")
        .filter(col("o_totalprice") > 400000)
        .select("o_orderkey", "o_orderpriority")
      val df = Tables.load(spark, sf, "lineitem")
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      assert(df.queryExecution.executedPlan.toString
          .contains("SortMergeJoin"),
        "static plan should start as a sort-merge join")
      df.collect()
      val finalPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      assert(finalPlan.contains("BroadcastHashJoin"),
        s"AQE should have converted to broadcast:\n$finalPlan")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // Complement of deterministic salting (k1/k2): with thresholds scaled
    // to test data, AQE detects the oversized partition post-shuffle and
    // splits it (skew=true in the final plan) — no query rewrite needed.
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100b")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "100b")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    try {
      // one hot key (~60% of rows) + a long tail: the hot post-shuffle
      // partition dwarfs the 8 KB threshold, the tail ones don't
      // multiple map tasks matter: AQE splits a skewed reduce partition
      // along MAP-output boundaries, so a single-mapper shuffle (one
      // input file) is unsplittable no matter how skewed it is
      val skewed = Tables.load(spark, sf, "lineitem")
        .repartition(8)
        .select(when(col("l_orderkey") % 10 =!= 0, lit(0L))
            .otherwise(col("l_orderkey")).as("k"),
          col("l_extendedprice"))
      val dim = Tables.load(spark, sf, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderpriority"))
      val df = skewed.join(dim, "k")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice")).as("px"))
      df.collect()
      val finalPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      assert(finalPlan.contains("skew=true"),
        s"expected a skew-split SMJ in the adaptive plan:\n" +
          finalPlan.take(3000))
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      conf.unset(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
      conf.unset("spark.sql.adaptive.forceOptimizeSkewedJoin")
    }
  }

  test("join-driven prune key plans a dynamic partition pruning subquery") {
    val df = SparkEntry.queries("j9_dpp")(spark, sf)
    // DPP is visible pre-execution: the fact scan's PartitionFilters carry
    // a dynamicpruning expression fed by the dim side's filtered scan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamic partition pruning filter on the fact scan:\n" +
        plan.take(4000))
  }

  test("substring dedup plans no join at all — window over the gram " +
      "partition, never a doc-pair materialization") {
    val plan = planOf("d18_substring_dup")
    assert(!plan.contains("Join"), s"d18 must not join:\n$plan")
    assert(plan.contains("Window"), s"expected a window count:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan should prune to (doc_id, text):\n$plan")
  }

  test("unigram surprisal broadcasts the vocabulary count table") {
    val plan = planOf("t17_unigram_surprisal")
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab join should broadcast:\n$plan")
  }

  test("filtered ANN pushes the metadata predicate into the parquet scan") {
    val plan = planOf("n13_ann_filtered")
    // label % 2 = 0 itself isn't a source filter, but its IsNotNull guard
    // must reach the scan and the modulo must sit in the scan's Filter
    // node, before any scoring project
    assert(plan.contains("PushedFilters: [IsNotNull(label)]") ||
      plan.contains("IsNotNull(label)"),
      s"label filter should reach the candidate scan:\n$plan")
  }

  test("audio header decode is map-only: no hash exchange before the " +
      "presentation sort") {
    val plan = planOf("m6_audio_meta")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"header sniffing must not shuffle:\n${plan.take(4000)}")
  }

  test("nearest as-of runs both directional carries on ONE exchange") {
    val plan = planOf("x8_asof_nearest")
    // one hash exchange for the union'd key partition (plus the final
    // presentation sort's range exchange) — a second hashpartitioning on
    // the key would mean the two window frames split the shuffle
    val hashExchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).size
    assert(hashExchanges == 1,
      s"expected exactly 1 hash exchange, got $hashExchanges:\n" +
        plan.take(4000))
  }

  test("interpolation as-of shares the single-exchange shape of nearest") {
    val plan = planOf("x9_asof_interpolate")
    // all four carries (backward/forward time and value) are frames over
    // the same partition + sort — one hash exchange total
    val hashExchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).size
    assert(hashExchanges == 1,
      s"expected exactly 1 hash exchange, got $hashExchanges:\n" +
        plan.take(4000))
  }

  test("range search broadcasts the query side — no post-join exchange") {
    val plan = planOf("n14_range_search")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"query side should broadcast:\n${plan.take(4000)}")
    // scoring and the radius filter must add no exchange of their own:
    // the plan prints top-down, so nothing above the join line may hash-
    // partition (the only hash exchanges allowed are the spread()
    // repartition INSIDE the cached candidate relation — a no-op on a
    // real multi-split corpus)
    val aboveJoin = plan.substring(0, plan.indexOf("Join"))
    assert(!aboveJoin.contains("Exchange hashpartitioning"),
      s"scoring must not shuffle the candidate corpus:\n${plan.take(4000)}")
  }

  test("backoff surprisal broadcasts both unigram sides; only the bigram " +
      "model and the doc windows hash-partition") {
    val plan = planOf("t19_backoff_surprisal")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    // tok-side vocab, prev-side vocab, and the one-row total
    assert(broadcasts >= 2,
      s"expected the two vocab joins to broadcast, got $broadcasts:\n" +
        plan.take(4000))
  }

  test("gopher rule battery is a pure projection — zero exchanges before " +
      "the presentation sort") {
    val plan = planOf("t22_gopher_rules")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"rule evaluation must not shuffle:\n${plan.take(4000)}")
    assert(!plan.contains("Join"), s"no join belongs here:\n${plan.take(4000)}")
  }

  test("boolean search prunes postings to the query terms BEFORE the " +
      "doc-keyed intersection aggregate") {
    val plan = planOf("t23_boolean_search")
    // the In(term) filter must sit under the first HashAggregate — i.e.
    // appear in the plan text AFTER it (formatted plans list operators
    // top-down, children after parents in the tree section)
    assert(plan.contains("spark,join,hash") || plan.contains("term IN"),
      s"expected the query-term In filter:\n${plan.take(4000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"posting intersection must aggregate, not join:\n${plan.take(4000)}")
  }

  test("k-anonymity audit is one QID-keyed aggregation pass — no joins, " +
      "no windows") {
    val plan = planOf("v1_k_anonymity")
    assert(!plan.contains("Join"), s"audit must not join:\n${plan.take(4000)}")
    assert(!plan.contains("Window"),
      s"audit must not window:\n${plan.take(4000)}")
  }

  test("temperature mixture broadcasts the quota table — corpus side " +
      "exchanges only on the stratum key") {
    val plan = planOf("s18_temperature_mix")
    assert(plan.contains("BroadcastHashJoin"),
      s"quota join should broadcast:\n${plan.take(4000)}")
  }

  test("TWAP: the doc-keyed aggregate reuses the window's exchange — " +
      "ONE hash exchange end to end") {
    val plan = planOf("e16_twap")
    val n = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(n == 1, s"expected 1 hash exchange, got $n:\n${plan.take(4000)}")
  }

  test("incremental merge: two partial-summary exchanges, the merge " +
      "itself adds none, and nothing joins") {
    val plan = planOf("j12_delta_agg")
    assert(!plan.contains("Join"), s"maintenance must not join:\n" +
      plan.take(4000))
    val n = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(n == 2,
      s"expected the 2 partial exchanges only, got $n:\n${plan.take(4000)}")
  }

  test("url dedup: canonicalization is projection-only; one hash " +
      "exchange for the canonical-key aggregate") {
    val plan = planOf("d20_url_dedup")
    assert(!plan.contains("Join"), s"no join belongs here:\n" +
      plan.take(4000))
    val n = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(n == 1, s"expected 1 hash exchange, got $n:\n${plan.take(4000)}")
  }

  test("media near-dup: the bit_count predicate is re-planned to the " +
      "pigeonhole chunk equi-join — no cartesian, no BNLJ") {
    val plan = planOf("m8_media_neardup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"hamming rewrite must fire:\n${plan.take(4000)}")
    assert(plan.contains("hammingle") || plan.contains("HammingLE") ||
      plan.contains("chunk"),
      s"expected chunked hamming join markers:\n${plan.take(4000)}")
  }

  test("zipf fit: vocab top-K is TakeOrderedAndProject, not a global sort") {
    val plan = planOf("t26_zipf_fit")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K must avoid a global sort:\n${plan.take(4000)}")
  }

  test("modularity: label map attaches via equi-joins and ONE " +
      "community-keyed aggregation; m rides in as a broadcast") {
    val plan = planOf("g10_modularity")
    assert(plan.contains("BroadcastExchange"),
      s"the one-row m must broadcast:\n${plan.take(4000)}")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian belongs here:\n${plan.take(4000)}")
  }

  test("t-closeness: global sensitive histogram and corpus total enter " +
      "as broadcasts — the corpus shuffles once on (QID, sens)") {
    val plan = planOf("v3_t_closeness")
    assert(plan.contains("BroadcastExchange"),
      s"histogram must broadcast:\n${plan.take(4000)}")
  }

  test("ewma: the 16 lag taps run in ONE window pass — a single " +
      "user-keyed exchange, no joins") {
    val plan = planOf("e17_ewma")
    assert(!plan.contains("Join"), s"no join belongs here:\n" +
      plan.take(4000))
    val n = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(n == 1, s"expected 1 hash exchange, got $n:\n${plan.take(4000)}")
    val w = "RunningWindowFunction|Window".r.findAllIn(plan).size
    assert(w >= 1, s"expected a window operator:\n${plan.take(4000)}")
  }

  test("cdc chunking: the chunker is projection-only — one digest-keyed " +
      "exchange pair for the two-level aggregate, no joins") {
    val plan = planOf("d21_cdc_chunks")
    assert(!plan.contains("Join"), s"no join belongs here:\n" +
      plan.take(4000))
    assert(plan.contains("CdcChunks.compute"),
      s"native chunker must appear in the plan:\n${plan.take(4000)}")
  }

  test("prefix-filter join: every join is an equality hash join — no " +
      "cartesian, no nested loop, at any threshold") {
    val plan = planOf("d22_prefix_filter_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"prefix candidates must equality-join:\n${plan.take(4000)}")
  }

  test("rolling trend: the 8 lag taps share ONE user-keyed window " +
      "exchange, no joins") {
    val plan = planOf("e20_rolling_trend")
    assert(!plan.contains("Join"), s"no join belongs here:\n" +
      plan.take(4000))
    val n = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(n == 1, s"expected 1 hash exchange, got $n:\n${plan.take(4000)}")
  }

  test("dsir: the bucket log-ratio table joins as a BROADCAST onto the " +
      "feature stream — the corpus side never shuffles for it") {
    val plan = planOf("c14_dsir_resample")
    assert(plan.contains("BroadcastHashJoin"),
      s"lr table must broadcast:\n${plan.take(4000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-sized join belongs here:\n${plan.take(4000)}")
  }

  test("dp release: one hash aggregation and NOTHING else — noise is a " +
      "map expression, no joins, no windows") {
    val plan = planOf("v4_dp_release")
    assert(!plan.contains("Join"), s"no join belongs here:\n" +
      plan.take(4000))
    assert(!plan.contains("Window"), s"no window belongs here:\n" +
      plan.take(4000))
    val n = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(n == 1, s"expected 1 hash exchange, got $n:\n${plan.take(4000)}")
  }

  test("beam search: the readout plan is checkpoint-scan + top-k with " +
      "WindowGroupLimit (rounds are severed, g1's discipline) — and " +
      "one live round plans its dedup as a real anti join") {
    // final readout: lineage is cut per round, so the joins live in the
    // per-round jobs; what remains must be the rank-limited window
    val plan = planOf("n20_graph_beam_search")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian belongs here:\n${plan.take(4000)}")
    assert(plan.contains("WindowGroupLimit"),
      s"top-k must push into the window:\n${plan.take(4000)}")
    // one un-severed round, planned directly: frontier expansion joins
    // the graph by equality and the visited-set dedup is a LeftAnti
    import spark.implicits._
    val vecs = (0L until 20L)
      .map(i => (i, Array.tabulate(8)(d => (i + d).toFloat)))
      .toDF("vec_id", "embedding")
    val graph = graft.ops.Similarity.knnGraph(vecs, "vec_id", "embedding",
      k = 3, nCells = 2)
      .select(col("vec_id").as("g_src"), col("neighbor_id").as("g_dst"))
    val frontier = vecs.select(col("vec_id").as("q_id"),
      col("vec_id").as("node")).limit(3)
    val expanded = frontier
      .join(graph, frontier("node") === graph("g_src"))
      .select(col("q_id"), col("g_dst").as("node")).distinct()
    val fresh = expanded.join(frontier.select("q_id", "node"),
      Seq("q_id", "node"), "left_anti")
    val roundPlan = fresh.queryExecution.executedPlan.toString
    assert(roundPlan.contains("LeftAnti"),
      s"visited dedup must be an anti join:\n${roundPlan.take(4000)}")
    assert(!roundPlan.contains("CartesianProduct"),
      s"no cartesian in the round plan:\n${roundPlan.take(4000)}")
  }

  test("sweep line: boundary points fold through windows only — no " +
      "joins anywhere in the concurrency plan") {
    val plan = planOf("x10_peak_concurrency")
    assert(!plan.contains("Join"), s"no join belongs here:\n" +
      plan.take(4000))
  }
}

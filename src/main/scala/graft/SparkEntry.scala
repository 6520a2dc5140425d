package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.etl._
import graft.functions.StrFunctions._
import graft.ops.{AsOfJoin, Curation, LogHistogram, MinHashDedup, Multimodal, ScaleSafe, SimHash, Similarity, Skew, TextAnalysis}
import graft.streaming.StreamOps

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with matching ANSI SQL in `oracleSql` for the DuckDB
  * hash-compare. Conventions that keep the hash compare exact:
  *
  *  - every query ends with a deterministic ORDER BY on non-null keys
  *    (mirrored in the SQL);
  *  - money sums are computed as integer cents (`CAST(round(x*100) AS
  *    BIGINT)`) so double summation order can never flip a bit;
  *  - aggregate counts are BIGINT on both sides (DuckDB `sum` returns
  *    HUGEINT and is cast back);
  *  - timestamps leave the result as formatted strings.
  */
object SparkEntry {

  /** Flagship: the reference's whole `ETLTask::run()` (extract → map →
    * first-wins dedup → anti-destination) as one declarative plan, on
    * sf0.001. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val spec = PipelineSpec.parse(
      """{"tables":[{"flow":"customer -> dst_customers",
        |  "columns":{"cust_id":"[c_custkey]","full_name":"[c_name]",
        |             "segment":"[c_mktsegment]","source_system":"legacy-crm",
        |             "loaded_at":"NOW()"},
        |  "unique":["segment"]}]}""".stripMargin)
    ETLPipeline.transform(
      Tables.load(spark, dir, "customer"), spec.flows.head,
      destination = None, orderCol = Some("cust_id"))
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Integer-cents of a double money column — exact under any summation
    * order, identical in Spark and DuckDB.
    */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** Integer square (for cross-multiplied variance tests — overflow-safe
    * while |c| < 3e9, documented at the call sites).
    */
  private def pow2(c: Column): Column = c * c

  // e33 SPRT constants (Wald 1945): H0 p=0.38 vs H1 p=0.42 — brackets
  // the corpus's ~0.40 user-day conversion so the trajectory actually
  // exercises the sequential 'continue' region; alpha = beta = 0.05.
  // The per-observation log-likelihood ratios and the decision boundary
  // ln((1-beta)/alpha) = ln 19 are fixed-pointed ONCE here and
  // interpolated as the same BIGINT literal into both the engine
  // expression and the DuckDB replay — the double ln() never crosses an
  // engine boundary.
  private val SprtL1Fp: Long = math.round(math.log(0.42 / 0.38) * 1e9)
  private val SprtL0Fp: Long = math.round(math.log(0.58 / 0.62) * 1e9)
  private val SprtAFp: Long = math.round(math.log(19.0) * 1e9)

  /** 2^48 — the draw space of a 12-hex-digit md5 prefix (s14's integer
    * uniform-draw convention, widened from 8 digits for KMV precision).
    */
  private val Hex12Space: Long = 281474976710656L

  // e34 Poisson(1) inverse-CDF cut points on the 48-bit draw space:
  // cut(i) = round(P(X <= i) * 2^48), computed ONCE here and
  // interpolated into both the engine expression and the DuckDB replay
  // (the SPRT discipline — the double exp() never crosses an engine
  // boundary). P(X <= 6) leaves ~2.3e10 of the 2^48 space for w = 7.
  private val PoisCuts: Seq[Long] = {
    var cum = 0.0
    var term = math.exp(-1.0)
    (0 to 6).map { i =>
      if (i > 0) term = term / i
      cum += term
      math.round(cum * Hex12Space.toDouble)
    }
  }

  /** The Poisson(1) weight CASE ladder over a 48-bit uniform draw
    * column; `suffix` is "L" for Spark SQL long literals, "" for DuckDB.
    */
  private def poissonCase(u: String, suffix: String): String =
    PoisCuts.zipWithIndex
      .map { case (c, i) => s"WHEN $u < $c$suffix THEN $i" }
      .mkString("CASE ", " ", " ELSE 7 END")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- S1-S3: scans (SURVEY §2.1) ------------------------------------
    "s1_scan" -> ((s, dir) =>
      t(s, dir, "region").orderBy("r_regionkey")),

    "s2_projected_scan" -> ((s, dir) =>
      Sources.table(s, dir, "customer", columns = Seq("c_custkey", "c_name"))
        .orderBy("c_custkey")),

    "s3_filtered_scan" -> ((s, dir) =>
      Sources.table(s, dir, "lineitem",
          columns = Seq("l_orderkey", "l_linenumber", "l_quantity"),
          where = Some("l_quantity >= 45"))
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- S6/S7: sink + re-read round-trip (SURVEY §2.1) ----------------
    "s7_sink_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_sink").toString + "/li"
      val filtered = t(s, dir, "lineitem").filter(col("l_quantity") >= 49)
      Sinks.overwriteParquet(filtered, tmp)
      s.read.parquet(tmp).agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
    }),

    // ---- S9/S10: real-database upsert through the gate: seed a live Derby
    // table, batch-upsert an overlapping range (updates 51-100, inserts
    // 101-150), read the mutated table back --------------------------------
    "s10_jdbc_upsert" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_jdbc_q").toString
      val url = s"jdbc:derby:$tmp/db;create=true"
      val opts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
      val cust = t(s, dir, "customer")
      JdbcSink.append(cust.filter(col("c_custkey") <= 100)
        .select(col("c_custkey").as("cust_id"), col("c_name").as("name")),
        url, "t_cust", opts)
      JdbcSink.upsertReport(
        cust.filter(col("c_custkey") > 50 && col("c_custkey") <= 150)
          .select(col("c_custkey").as("cust_id"),
            upper(col("c_name")).as("name")),
        url, "t_cust", Seq("cust_id"), opts)
      Sources.jdbc(s, url, "t_cust", opts).orderBy("cust_id")
    }),

    // ---- S9/S10 under the MYSQL DIALECT (r10-verdict missing item 1):
    // the reference's sinks are MariaDB (sdk/lib/db.php:129-147, batched
    // INSERT :250-274) but s10 gates Derby — the dialect-sensitive
    // layers (backtick quoting, MySQL SQLStates, Connector/J's
    // SUCCESS_NO_INFO batch counts forcing the -2 re-probe) went
    // unexercised. MiniMySql is an in-process engine that enforces
    // exactly those behaviors (no MySQL jar exists offline); same
    // seed/update/insert plan as s10, read back through the store ------
    "s10b_mysql_upsert" -> ((s, dir) => {
      MiniMySql.ensureRegistered()
      val db = "s10b_" + java.util.UUID.randomUUID().toString.take(8)
      val url = MiniMySql.UrlPrefix + db
      val opts = Map("driver" -> "graft.etl.MiniMySqlDriver$")
      MiniMySql.createTable(db, "t_cust",
        Seq(MiniMySql.ColDef("cust_id", notNull = true),
          MiniMySql.ColDef("name", notNull = true)),
        pk = Seq("cust_id"))
      val cust = t(s, dir, "customer")
      try {
        // seed 1-100 (pure inserts through the batched upsert path)
        JdbcSink.upsertReport(
          cust.filter(col("c_custkey") <= 100)
            .select(col("c_custkey").as("cust_id"),
              col("c_name").as("name")),
          url, "t_cust", Seq("cust_id"), opts)
        // update 51-100 (uppercased), insert 101-150 — the update-vs-
        // insert branch decided entirely through the SUCCESS_NO_INFO
        // re-probe, since MiniMySql never reports per-row batch counts
        JdbcSink.upsertReport(
          cust.filter(col("c_custkey") > 50 && col("c_custkey") <= 150)
            .select(col("c_custkey").as("cust_id"),
              upper(col("c_name")).as("name")),
          url, "t_cust", Seq("cust_id"), opts)
        MiniMySql.scanDF(s, db, "t_cust", StructType(Seq(
            StructField("cust_id", LongType),
            StructField("name", StringType))))
          .orderBy("cust_id")
      } finally {
        // scanDF copies rows eagerly, so the JVM-global store entry
        // can go now — and must go on the ERROR path too, or a
        // battery's repeated invocations accumulate a table per run
        MiniMySql.dropDatabase(db)
      }
    }),

    // ---- P1/P2/P3: column mapping (SURVEY §2.2) ------------------------
    "p1_column_mapping" -> ((s, dir) => {
      val specs = Seq(
        "cust_id" -> "[c_custkey]", "full_name" -> "[c_name]",
        "segment" -> "[c_mktsegment]", "source_system" -> "legacy-crm"
      ).map { case (d, v) => ColumnMapping.parse(d, v) }
      ColumnMapping(t(s, dir, "customer"), specs).orderBy("cust_id")
    }),

    // ---- P6: str_before / str_after exact edge semantics ---------------
    "p6_str_split" -> ((s, dir) => {
      val p = t(s, dir, "part")
      p.select(
        col("p_partkey"),
        strBefore(col("p_type"), " ").as("type_head"),
        strAfter(col("p_type"), " ").as("type_tail"),
        strBefore(col("p_name"), "zzz").as("before_missing"),
        strAfter(col("p_name"), "zzz").as("after_missing")
      ).orderBy("p_partkey")
    }),

    // ---- P8: bracket scrub — ANY '[' makes a spec a column ref with ALL
    // brackets stripped (reference getPropertyValue; fidelity note in
    // ColumnMapping) ------------------------------------------------------
    "p8_char_scrub" -> ((s, dir) => {
      val specs = Seq(
        ColumnMapping.parse("cust_id", "[c_custkey]"),
        ColumnMapping.parse("seg", "c_mkt[segment]"), // mid-string bracket
        ColumnMapping.parse("nm", "c_name][")) // stray brackets scrubbed
      ColumnMapping(t(s, dir, "customer"), specs).orderBy("cust_id")
    }),

    // ---- P9: case-fold + equality → 0/1 flag ---------------------------
    "p9_flag" -> ((s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        when(upper(col("c_mktsegment")) === "BUILDING", 1).otherwise(0)
          .as("is_building")
      ).orderBy("c_custkey")),

    // ---- P10: uuid() per row (deterministic aggregate shape) -----------
    "p10_uuid" -> ((s, dir) =>
      t(s, dir, "customer")
        .withColumn("id", strUuid())
        .agg(count(lit(1)).as("n_rows"),
             countDistinct(col("id")).as("n_ids"))),

    // ---- P11: email-shaped regex predicate -----------------------------
    "p11_email_filter" -> ((s, dir) =>
      t(s, dir, "customer")
        .withColumn("username",
          when(col("c_custkey") % 3 === 0, col("c_name"))
            .otherwise(concat(col("c_name"), lit("@example.com"))))
        .filter(col("username").rlike("^[^@]+@[^@]+\\.[a-z]+$"))
        .select(col("c_custkey"), col("username"))
        .orderBy("c_custkey")),

    // ---- P12: null-coalescing defaults ---------------------------------
    "p12_coalesce" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        coalesce(nullif(col("o_orderpriority"), lit("1-URGENT")),
                 lit("DEFAULTED")).as("prio")
      ).orderBy("o_orderkey")),

    // ---- P13: explicit casts -------------------------------------------
    "p13_cast" -> ((s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        floor(col("l_quantity")).cast("long").as("qty_int"),
        col("l_orderkey").cast("string").as("key_str")
      ).orderBy("l_orderkey", "l_linenumber")),

    // ---- J1: inner equi-join (SURVEY §2.3) -----------------------------
    "j1_inner_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      o.join(l, o("o_orderkey") === l("l_orderkey"), "inner")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
             sum(cents(col("l_extendedprice"))).as("price_cents"))
        .orderBy("o_orderpriority")
    }),

    // ---- J2: point-lookup join → broadcast hash join -------------------
    "j2_broadcast_lookup" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"), "left")
        .groupBy(coalesce(col("p_brand"), lit("__MISSING__")).as("brand"))
        .agg(count(lit(1)).as("n"),
             sum(cents(col("l_extendedprice"))).as("price_cents"))
        .orderBy("brand")
    }),

    // ---- J4a: first-wins dedup (trim-insensitive) ----------------------
    "j4_dedup_first_wins" -> ((s, dir) =>
      Dedup.firstWins(t(s, dir, "customer"), "c_mktsegment",
          Seq(col("c_custkey")))
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")),

    // ---- J4b: anti-join vs destination ---------------------------------
    "j4_anti_destination" -> ((s, dir) => {
      val src = t(s, dir, "customer")
      val dst = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("c_custkey"))
      AntiDestination(src, dst, Seq("c_custkey"))
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // ---- J5: semi-join guard -------------------------------------------
    "j5_semi_guard" -> ((s, dir) => {
      val src = t(s, dir, "customer")
      val dst = t(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"))
      AntiDestination.semi(src, dst, Seq("c_custkey"))
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // ---- J6: upsert (merge) --------------------------------------------
    "j6_upsert" -> ((s, dir) => {
      val dst = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val updates = dst.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") + lit(1000.0)).as("c_acctbal"),
          lit("UPSERTED").as("c_mktsegment"))
      val inserts = dst.filter(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + lit(1000000)).as("c_custkey"),
          col("c_name"), lit(0.0).as("c_acctbal"),
          lit("NEW").as("c_mktsegment"))
      Upsert(updates.unionByName(inserts), dst, Seq("c_custkey"))
        .orderBy("c_custkey")
    }),

    // ---- A1: count (SURVEY §2.4) ---------------------------------------
    "a1_count" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("n"))),

    // ---- A2: filtered count-distinct -----------------------------------
    "a2_count_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem").filter(col("l_quantity") > 30)
        .agg(countDistinct(col("l_partkey")).as("n_parts"))),

    // ---- A4: distinct set ----------------------------------------------
    "a4_distinct" -> ((s, dir) =>
      t(s, dir, "customer").select("c_mktsegment").distinct()
        .orderBy("c_mktsegment")),

    // ---- Aggregation battery: TPC-H Q1 shape ---------------------------
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("sum_disc_cents"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty",
          col("sum_qty").cast("double") / col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // ---- Deep multi-join analytics (Catalyst join planning) -------------
    "q3_shipping" -> ((s, dir) => {
      val cutoff = to_timestamp(lit("1995-03-15 00:00:00"))
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < cutoff)
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("o_orderkey"))
        .limit(10)
    }),

    "q5_region_revenue" -> ((s, dir) => {
      val r = t(s, dir, "region")
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val su = t(s, dir, "supplier")
      r.join(n, r("r_regionkey") === n("n_regionkey"))
        .join(c, n("n_nationkey") === c("c_nationkey"))
        .join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(su, l("l_suppkey") === su("s_suppkey") &&
          su("s_nationkey") === n("n_nationkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"), count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }),

    "q18_large_orders" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val big = l.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
        .filter(col("total_qty") > 300)
      val o = t(s, dir, "orders")
      o.join(big, o("o_orderkey") === big("l_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("total_qty"))
        .orderBy("o_orderkey")
    }),

    "q6_filtered_revenue" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1994-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1995-01-01 00:00:00")) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(cents(col("l_extendedprice") * col("l_discount")))
          .as("revenue_cents"), count(lit(1)).as("n"))),

    // ---- TPC-H breadth suite (adapted to the testdata's column subset; no
    // partsupp table, no commit/receipt dates — "late" is derived from
    // l_shipdate vs o_orderdate). Each exercises a distinct Catalyst shape:
    // dual-role dimension joins (q7/q8), scalar-subquery HAVING (q11/q15),
    // outer-join aggregation (q13), OR-of-ANDs pushdown (q19), correlated
    // EXISTS/NOT EXISTS decorrelation (q21), anti-join + global threshold
    // (q22). ---------------------------------------------------------------

    // TPC-H Q2 (adapted: the supplier-part cost relation is derived from
    // lineitem since the testdata has no partsupp): min-cost supplier per
    // part — argmin via a per-part best-cost aggregate joined back on
    // (part, cost), never a correlated per-row probe.
    "q2_min_cost_supplier" -> ((s, dir) => {
      val ps = t(s, dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(min(cents(col("l_extendedprice"))).as("cost_cents"))
      val best = ps.groupBy(col("l_partkey").as("b_partkey"))
        .agg(min(col("cost_cents")).as("best_cents"))
      ps.join(best, col("b_partkey") === col("l_partkey") &&
          col("cost_cents") === col("best_cents"))
        .join(t(s, dir, "part")
          .filter(col("p_size") <= 5 && col("p_type") === "LARGE"),
          col("p_partkey") === col("l_partkey"))
        .join(t(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .select(col("p_partkey"), col("s_name"), col("cost_cents"))
        .orderBy("p_partkey", "s_name")
    }),

    // TPC-H Q7: bilateral shipping volume between two nations; the nation
    // table joins TWICE in different roles (supplier side, customer side) —
    // both broadcast.
    "q7_nation_volume" -> ((s, dir) => {
      val n1 = t(s, dir, "nation").select(
        col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").select(
        col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
      t(s, dir, "supplier")
        .join(t(s, dir, "lineitem"), col("s_suppkey") === col("l_suppkey"))
        .join(t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(n1, col("s_nationkey") === col("n1_key"))
        .join(n2, col("c_nationkey") === col("n2_key"))
        .filter((col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"), count(lit(1)).as("n"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // TPC-H Q8: national market share inside one region — an 8-way join
    // where every dimension side is broadcast-able; the share split is two
    // exact conditional cent-sums per year.
    "q8_market_share" -> ((s, dir) => {
      val n1 = t(s, dir, "nation").select(
        col("n_nationkey").as("n1_key"), col("n_regionkey").as("n1_region"))
      val n2 = t(s, dir, "nation").select(
        col("n_nationkey").as("n2_key"), col("n_name").as("supp_nation"))
      t(s, dir, "part").filter(col("p_type") === "PROMO")
        .join(t(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"))
        .join(t(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(n1, col("c_nationkey") === col("n1_key"))
        .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n1_region") === col("r_regionkey"))
        .join(n2, col("s_nationkey") === col("n2_key"))
        .withColumn("volume_cents",
          cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", col("volume_cents"))
            .otherwise(0L)).as("nation_cents"),
          sum(col("volume_cents")).as("total_cents"))
        .orderBy("o_year")
    }),

    // TPC-H Q9: product-line profit by supplier nation and year; the part
    // filter is a substring LIKE that still prunes before the fact joins.
    "q9_nation_profit" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "part").filter(col("p_name").contains("widget")),
          col("p_partkey") === col("l_partkey"))
        .join(t(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("profit_cents"), count(lit(1)).as("n"))
        .orderBy("n_name", "o_year")),

    // TPC-H Q10: returned-item revenue ranking over one quarter.
    "q10_returned_items" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= to_timestamp(lit("1995-10-01 00:00:00")) &&
            col("o_orderdate") < to_timestamp(lit("1996-01-01 00:00:00"))),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem").filter(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("c_custkey"))
        .limit(20)),

    // TPC-H Q11: parts whose inventory value exceeds a fraction of the
    // GLOBAL total — the one-row global aggregate joins back as a broadcast
    // scalar, and the fraction compare stays in exact integer arithmetic
    // (value*2000 > total ⇔ value > 0.05% of total).
    "q11_important_parts" -> ((s, dir) => {
      val pv = t(s, dir, "lineitem").groupBy("l_partkey")
        .agg(sum(cents(col("l_extendedprice"))).as("value_cents"))
      val total = pv.agg(sum(col("value_cents")).as("grand_cents"))
      pv.crossJoin(broadcast(total))
        .filter(col("value_cents") * 2000 > col("grand_cents"))
        .select("l_partkey", "value_cents")
        .orderBy(col("value_cents").desc, col("l_partkey"))
    }),

    // TPC-H Q12 (adapted: late = shipped >60 days after order date):
    // priority mix per lateness bucket as two conditional counts.
    "q12_late_priority" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .withColumn("late_bucket",
          when(col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 60 DAYS"), "late")
            .otherwise("ontime"))
        .groupBy("late_bucket")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
        .orderBy("late_bucket")),

    // TPC-H Q13: order-count distribution — LEFT OUTER join with an extra
    // join-side predicate (not a post-filter: customers with only excluded
    // orders must still count as 0), then a second aggregation over the
    // first's result.
    "q13_cust_distribution" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      t(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q14: promo revenue share over one month — numerator and
    // denominator reported as exact cents so the ratio is reproducible.
    "q14_promo_revenue" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1995-09-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1995-10-01 00:00:00")))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .withColumn("cents_v",
          cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .agg(
          sum(when(col("p_type") === "PROMO", col("cents_v")).otherwise(0L))
            .as("promo_cents"),
          sum(col("cents_v")).as("total_cents"))),

    // TPC-H Q15: top supplier by quarterly revenue — the max is a one-row
    // broadcast scalar joined back (the "view + scalar subquery" shape).
    "q15_top_supplier" -> ((s, dir) => {
      val revenue = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1996-04-01 00:00:00")))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("total_revenue_cents"))
      val mx = revenue.agg(max("total_revenue_cents").as("max_rev"))
      t(s, dir, "supplier")
        .join(revenue, col("s_suppkey") === col("supplier_no"))
        .crossJoin(broadcast(mx))
        .filter(col("total_revenue_cents") === col("max_rev"))
        .select("s_suppkey", "s_name", "total_revenue_cents")
        .orderBy("s_suppkey")
    }),

    // TPC-H Q16 (adapted to the lineitem-derived supplier relation):
    // supplier variety per (brand, type, size) via COUNT(DISTINCT).
    "q16_supplier_variety" -> ((s, dir) =>
      t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" &&
          col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
        .join(t(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))),

    // TPC-H Q17: small-quantity revenue loss — the per-part average arrives
    // as a pre-aggregated join side, and the avg compare is exact integer
    // cross-multiplication (5·qty·cnt < sum ⇔ qty < 0.2·avg).
    "q17_small_quantity" -> ((s, dir) => {
      val perPart = t(s, dir, "lineitem").groupBy(col("l_partkey").as("a_partkey"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("cnt"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "part")
          .filter(col("p_brand") === "Brand#5" && col("p_type") === "ECONOMY"),
          col("p_partkey") === col("l_partkey"))
        .join(perPart, col("a_partkey") === col("p_partkey"))
        .filter(col("l_quantity").cast("long") * 5 * col("cnt") < col("sum_qty"))
        .agg(sum(cents(col("l_extendedprice"))).as("loss_cents"),
          count(lit(1)).as("n"))
    }),

    // TPC-H Q19: three OR'd (brand, size, quantity) branches — one scan,
    // the OR-of-ANDs stays a single pushed/codegen'd predicate, never a
    // union of three scans.
    "q19_branch_revenue" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("p_partkey") === col("l_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"), count(lit(1)).as("n"))),

    // TPC-H Q20 (adapted): suppliers who shipped >400 units of PROMO parts
    // in 1996 — aggregated-subquery membership planned as a left-semi join.
    "q20_promo_suppliers" -> ((s, dir) => {
      val shippers = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")))
        .join(t(s, dir, "part").filter(col("p_type") === "PROMO"),
          col("p_partkey") === col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(sum(col("l_quantity").cast("long")).as("qty"))
        .filter(col("qty") > 400)
      t(s, dir, "supplier")
        .join(shippers, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    }),

    // TPC-H Q21 (adapted: late = shipped >90 days after order date):
    // suppliers who alone held up a multi-supplier order. The correlated
    // EXISTS / NOT EXISTS pair decorrelates into two per-order distinct
    // counts — "another supplier exists" ⇔ n_supp > 1, "no OTHER late
    // supplier" ⇔ n_late_supp == 1 (the late row itself) — so the whole
    // query is two aggregates and equi-joins, never a per-row probe.
    "q21_waiting_supplier" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val lateLi = l
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
      val perOrder = l.groupBy(col("l_orderkey").as("po_orderkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"))
      val latePerOrder = lateLi.distinct()
        .groupBy(col("l_orderkey").as("lo_orderkey"))
        .agg(count(lit(1)).as("n_late_supp"))
      lateLi
        .join(t(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(t(s, dir, "nation").filter(col("n_name") === "NATION_4"),
          col("s_nationkey") === col("n_nationkey"))
        .join(perOrder, col("po_orderkey") === col("l_orderkey"))
        .filter(col("n_supp") > 1)
        .join(latePerOrder, col("lo_orderkey") === col("l_orderkey"))
        .filter(col("n_late_supp") === 1)
        .groupBy("s_name").agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    }),

    // TPC-H Q22 (adapted): well-funded customers with no URGENT orders —
    // global above-average threshold as exact integer cross-multiplication
    // against a broadcast one-row aggregate, then an anti join.
    "q22_idle_customers" -> ((s, dir) => {
      val pool = t(s, dir, "customer")
        .filter(col("c_nationkey").isin(1, 5, 9, 13, 17))
      val thresh = pool.filter(col("c_acctbal") > 0)
        .agg(sum(cents(col("c_acctbal"))).as("sum_cents"),
          count(lit(1)).as("cnt"))
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      pool.crossJoin(broadcast(thresh))
        .filter(cents(col("c_acctbal")) * col("cnt") > col("sum_cents"))
        .join(urgent, col("o_custkey") === col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"),
          sum(cents(col("c_acctbal"))).as("totacctbal_cents"))
        .orderBy("c_nationkey")
    }),

    // ---- X4: declarative band join — cross-brand price matching written
    // as the NAIVE form `abs(a - b) <= 5`; BandJoinRewrite re-plans the
    // nested loop into a bucket equality join (exact, multiplicity-safe —
    // BandJoinSpec pins equivalence; PlanSpec pins the shape). -----------
    "x4_auto_band_join" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val a = p.filter(col("p_brand") === "Brand#1")
        .select(col("p_partkey").as("a_key"),
          cents(col("p_retailprice")).as("a_cents"))
      val b = p.filter(col("p_brand") === "Brand#2")
        .select(col("p_partkey").as("b_key"),
          cents(col("p_retailprice")).as("b_cents"))
      a.join(b, abs(col("a_cents") - col("b_cents")) <= 5)
        .select(col("a_key"), col("b_key"),
          (col("a_cents") - col("b_cents")).as("diff_cents"))
        .orderBy("a_key", "b_key")
    }),

    // ---- D15: numeric blocklist — drop every order priced within $1 of
    // a denylisted price, written as a naive band ANTI join; the rewrite's
    // semi/anti arm turns it into distinct-values → bucket join → equality
    // anti join (preserved-side multiplicity untouched). -----------------
    "d15_price_blocklist" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        cents(col("o_totalprice")).as("price_cents"))
      val deny = t(s, dir, "orders")
        .filter(col("o_orderkey") % 997 === 0)
        .select(cents(col("o_totalprice")).as("deny_cents"))
      o.join(deny, abs(col("price_cents") - col("deny_cents")) <= 100,
          "left_anti")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("price_cents")).as("kept_cents"))
    }),

    // ---- P18: null-safe join semantics — NULL keys MATCH under <=> (the
    // reference's PHP == coercion treats missing as equal; SQL equality
    // drops them). EqualNullSafe is still an equi-key, so the plan stays
    // a hash join, never a nested loop. ----------------------------------
    "p18_null_safe_join" -> ((s, dir) => {
      val l = t(s, dir, "orders").select(col("o_orderkey"),
        nullif(col("o_orderstatus"), lit("P")).as("status_n"))
      val r = t(s, dir, "orders")
        .select(nullif(col("o_orderstatus"), lit("P")).as("r_status"))
        .distinct()
      l.join(r, col("status_n") <=> col("r_status"))
        .groupBy(coalesce(col("r_status"), lit("NONE")).as("status"))
        .agg(count(lit(1)).as("n"))
        .orderBy("status")
    }),

    // ---- J8: FULL OUTER reconciliation — two derived customer sets
    // (urgent-order customers vs big-ticket customers) aligned with
    // presence on either side preserved; the canonical "compare two
    // systems" ETL shape the inner/semi/anti gates don't cover. ----------
    "j8_full_outer" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_custkey").as("u_custkey"))
        .agg(count(lit(1)).as("urgent_cnt"))
      val big = o.filter(col("o_totalprice") > 250000)
        .groupBy(col("o_custkey").as("b_custkey"))
        .agg(count(lit(1)).as("big_cnt"))
      urgent.join(big, col("u_custkey") === col("b_custkey"), "full_outer")
        .select(
          coalesce(col("u_custkey"), col("b_custkey")).as("custkey"),
          coalesce(col("urgent_cnt"), lit(0L)).as("urgent_cnt"),
          coalesce(col("big_cnt"), lit(0L)).as("big_cnt"))
        .orderBy("custkey")
    }),

    // ---- SCD1: slowly-changing-dimension (type 2) history build — the
    // order-priority change log per customer becomes effective-dated
    // intervals: collapse runs of the same value (lag), then close each
    // interval with the next change's date (lead). One sort per customer
    // partition serves both window passes. ------------------------------
    // ---- W8: CONDITIONAL aggregates over a trailing frame — per-event
    // "purchases/errors among my last 10 events" counters (the rolling
    // risk features fraud/abuse models consume); the condition lives
    // inside the summed expression, so one frame serves both counters ----
    "w8_conditional_frame" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(-9, 0)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("recent_purchases",
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .over(w))
        .withColumn("recent_errors",
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .over(w))
        .filter(col("event_id") % 50 === 0)
        .select("event_id", "user_id", "recent_purchases", "recent_errors")
        .orderBy("event_id")
    }),

    // ---- W7: session-relative features — the behavioral-model feature
    // block (session ordinal, index within session, microseconds since
    // session start) in two window passes over ONE exchange
    // (hashpartitioning(user) satisfies both clusterings) ----------------
    "w7_session_features" -> ((s, dir) => {
      val gapUs = 86400000000L
      val wu = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val marked = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("prev", lag(col("ts_us"), 1).over(wu))
        .withColumn("is_start",
          when(col("prev").isNull || col("ts_us") - col("prev") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("sid", sum(col("is_start")).over(
          wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val ws = Window.partitionBy("user_id", "sid")
        .orderBy("ts_us", "event_id")
      marked
        .withColumn("idx_in_session",
          row_number().over(ws).cast("long"))
        .withColumn("since_us",
          col("ts_us") - min(col("ts_us")).over(
            Window.partitionBy("user_id", "sid")))
        .select("event_id", "user_id", "sid", "idx_in_session", "since_us")
        .orderBy("event_id")
    }),

    // ---- W6: trailing exact MEDIAN window — an order-statistic frame
    // (percentile over ROWS), the frame kind sum/rank windows never hit;
    // integer-cents input makes the interpolated halves bit-exact. -------
    "w6_moving_median" -> ((s, dir) =>
      t(s, dir, "events").filter(col("user_id") % 10 === 0)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          cents(col("value")).as("value_cents"))
        .withColumn("med_cents",
          expr("percentile(value_cents, 0.5)").over(
            Window.partitionBy("user_id").orderBy("ts_us", "event_id")
              .rowsBetween(-6, 0)))
        .select("user_id", "event_id", "med_cents")
        .orderBy("user_id", "event_id")),

    // ---- SCD2: point-in-time lookup against the scd1 interval history —
    // probes join their ACTIVE interval ([from, to) day ranges) through
    // the bucketized range join, never a per-probe scan; open intervals
    // are capped at a date past the corpus so no interval explodes into
    // thousands of bins (the degenerate-interval hazard in RangeJoin's
    // contract). ----------------------------------------------------------
    // ---- SCD4: BITEMPORAL as-of — scd2 answers "what was true at V";
    // this answers "what did we BELIEVE at T about what was true at V",
    // the reproducibility contract a training-data snapshot needs (a
    // late-arriving correction must not rewrite an already-cut dataset).
    // Change log: orders as profile versions, valid_from = orderdate,
    // tx visible orderkey%5 days later (deterministic late arrivals).
    // One key-partitioned window after two pushed-down filters ----------
    "scd4_bitemporal" -> ((s, dir) => {
      val validCut = 9307 // 1995-06-26 as days since epoch
      val txCut = 9322 // 1995-07-11: what we knew two weeks later
      val log = t(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
            .cast("long").as("valid_from"),
          cents(col("o_totalprice")).as("bal_cents"))
        .withColumn("tx_from", col("valid_from") + col("o_orderkey") % 5)
      val w = Window.partitionBy("custkey")
        .orderBy(col("valid_from").desc, col("o_orderkey").desc)
      log.filter(col("tx_from") <= txCut)
        .filter(col("valid_from") <= validCut)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("custkey"), col("o_orderkey").as("version_key"),
          col("valid_from"), col("tx_from"), col("bal_cents"))
        .orderBy("custkey")
    }),

    "scd2_temporal_lookup" -> ((s, dir) => {
      val ordersSel = t(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_orderdate"),
          col("o_orderkey"), col("o_orderpriority"))
      val w = Window.partitionBy("custkey")
        .orderBy("o_orderdate", "o_orderkey")
      val capDay = 11688 // 2002-01-01, past the last order date
      val hist = ordersSel
        .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
        .withColumn("from_day",
          datediff(to_date(col("o_orderdate")), lit("1970-01-01")))
        .withColumn("to_incl",
          coalesce(
            datediff(to_date(lead(col("o_orderdate"), 1).over(
              Window.partitionBy("custkey")
                .orderBy("o_orderdate", "o_orderkey"))),
              lit("1970-01-01")),
            lit(capDay)) - 1)
        .select("custkey", "o_orderpriority", "from_day", "to_incl")
      val probes = t(s, dir, "customer")
        .select(col("c_custkey").as("custkey"))
        .withColumn("probe_date",
          explode(array(Seq("1996-03-01", "1998-07-15", "2000-11-30")
            .map(lit): _*)))
        .withColumn("probe_day",
          datediff(to_date(col("probe_date")), lit("1970-01-01")))
      graft.ops.RangeJoin(probes, hist, "probe_day", "from_day", "to_incl",
          Seq("custkey"), binWidth = 365L)
        .select(col("custkey"), col("probe_date"),
          col("o_orderpriority").as("priority"))
        .orderBy("custkey", "probe_date")
    }),

    // ---- SCD3: INCREMENTAL SCD2 merge — the production maintenance op:
    // a new snapshot applied to an existing interval history closes
    // changed open rows at the snapshot date, opens new versions, and
    // admits brand-new keys; unchanged/closed rows pass through. Four
    // branches, all equality joins on the key — no history rewrite, no
    // per-row loop. --------------------------------------------------------
    "scd3_incremental_merge" -> ((s, dir) => {
      val S = "1999-01-01"
      val o = t(s, dir, "orders").select(col("o_custkey").as("custkey"),
        col("o_orderdate"), col("o_orderkey"),
        col("o_orderpriority").as("prio"))
      val pre = o.filter(to_date(col("o_orderdate")) < lit(S))
      val post = o.filter(to_date(col("o_orderdate")) >= lit(S))
      val w = Window.partitionBy("custkey").orderBy("o_orderdate", "o_orderkey")
      val hist = pre.withColumn("prev", lag(col("prio"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("prio"))
        .withColumn("eff_to_ts", lead(col("o_orderdate"), 1).over(
          Window.partitionBy("custkey").orderBy("o_orderdate", "o_orderkey")))
        .select(col("custkey"), col("prio"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("eff_from"),
          coalesce(date_format(col("eff_to_ts"), "yyyy-MM-dd"),
            lit("9999-12-31")).as("eff_to"))
      val snap = post.withColumn("rn", row_number().over(
          Window.partitionBy("custkey")
            .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)))
        .filter(col("rn") === 1)
        .select(col("custkey"), col("prio").as("snap_prio"))
      val closed = hist.filter(col("eff_to") =!= "9999-12-31")
      val open = hist.filter(col("eff_to") === "9999-12-31")
      val oj = open.join(snap, Seq("custkey"), "left")
      val changed = col("snap_prio").isNotNull && col("snap_prio") =!= col("prio")
      val keepOpen = oj.filter(!changed)
        .select("custkey", "prio", "eff_from", "eff_to")
      val closeChanged = oj.filter(changed)
        .select(col("custkey"), col("prio"), col("eff_from"),
          lit(S).as("eff_to"))
      val openChanged = oj.filter(changed)
        .select(col("custkey"), col("snap_prio").as("prio"),
          lit(S).as("eff_from"), lit("9999-12-31").as("eff_to"))
      val brandNew = snap.join(open.select("custkey"), Seq("custkey"),
          "left_anti")
        .select(col("custkey"), col("snap_prio").as("prio"),
          lit(S).as("eff_from"), lit("9999-12-31").as("eff_to"))
      closed.unionByName(keepOpen).unionByName(closeChanged)
        .unionByName(openChanged).unionByName(brandNew)
        .orderBy("custkey", "eff_from", "eff_to", "prio")
    }),

    "scd1_history" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
      t(s, dir, "orders")
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority")
        .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
        .withColumn("eff_to_ts",
          lead(col("o_orderdate"), 1).over(
            Window.partitionBy("o_custkey")
              .orderBy("o_orderdate", "o_orderkey")))
        .select(col("o_custkey"), col("o_orderpriority"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("eff_from"),
          coalesce(date_format(col("eff_to_ts"), "yyyy-MM-dd"),
            lit("9999-12-31")).as("eff_to"))
        .orderBy("o_custkey", "eff_from", "eff_to", "o_orderpriority")
    }),

    // ---- G1: PageRank over the customer↔supplier interaction graph —
    // link analysis in exact fixed-point (1e12-scaled BIGINT, floor
    // division in a pinned order) so three Jacobi rounds hash-match the
    // SQL oracle's unrolled CTEs. Customers get even node ids, suppliers
    // odd; edges are symmetrized so there are no dangling sinks. ---------
    "g1_pagerank" -> ((s, dir) => {
      val pairs = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val edges = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
      graft.ops.Graph.pageRank(edges, "a", "b", iterations = 3)
        .orderBy(col("score").desc, col("id"))
        .limit(20)
    }),

    // ---- G2: exact triangle count over the nation co-trade graph.
    // Degree-ordered orientation bounds every out-list by O(√m) — the
    // celebrity-node wedge blowup never materializes — while the count is
    // provably identical to the naive a<b three-way join the oracle runs.
    "g2_triangles" -> ((s, dir) => {
      val pairs = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .select(col("c_nationkey").as("x"), col("s_nationkey").as("y"))
        .distinct()
      graft.ops.Graph.triangleCount(pairs, "x", "y")
    }),

    // ---- G3: BFS levels from one customer over the customer↔supplier
    // interaction graph — frontier expansion, one join + one min-agg per
    // round, settled nodes never re-expand. ------------------------------
    "g3_bfs_levels" -> ((s, dir) => {
      val pairs = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val edges = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
      graft.ops.Graph.bfsLevels(edges, "a", "b", source = 2L, maxDepth = 4)
        .orderBy("id")
    }),

    // ---- G6: co-occurrence projection ("frequently bought together"):
    // the bipartite order–part graph projected to part–part edges
    // weighted by shared orders. Fan-out is bounded BY CONSTRUCTION
    // (pairs per order = items², and orders hold ≤7 items) — the
    // projection that IS quadratic per hub node is exactly what the
    // k-core/degree-cap guards elsewhere exist to prevent -----------------
    "g6_copurchase" -> ((s, dir) => {
      val op = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = op.select(col("ok"), col("pk").as("part_a"))
      val b = op.select(col("ok").as("ok_b"), col("pk").as("part_b"))
      a.join(b, col("ok") === col("ok_b") && col("part_a") < col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 2)
        .orderBy("part_a", "part_b")
    }),

    // ---- G5: bounded k-core peeling — 3 rounds of "drop degree < 3"
    // over the bipartite interaction graph; per round one degree agg +
    // two semi joins, all equality-keyed --------------------------------
    "g5_kcore" -> ((s, dir) => {
      val pairs = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val edges = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
      graft.ops.Graph.kCoreRounds(edges, "a", "b", k = 3, rounds = 3)
        .orderBy("id")
    }),

    // ---- G4: weighted shortest paths (bounded Bellman–Ford) over the
    // customer–supplier bipartite graph, edge weight = min shipped
    // quantity; 3 relaxation rounds, frontier-only re-expansion ----------
    "g4_sssp" -> ((s, dir) => {
      val pairs = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .agg(min(col("l_quantity").cast("long")).as("w"))
      val edges = pairs.union(
        pairs.select(col("b").as("a"), col("a").as("b"), col("w")))
      graft.ops.Graph.ssspRounds(edges, "a", "b", "w",
          source = 2L, rounds = 3)
        .orderBy("id")
    }),

    // ---- G8: PERSONALIZED PageRank — random walk with restart to a
    // 4-customer seed set over the customer↔supplier graph: proximity-
    // to-seeds ranking, teleport via UNION ALL + grouped sum (no outer
    // join), mass spreads outward from the seeds only -------------------
    "g8_personalized_pagerank" -> ((s, dir) => {
      import s.implicits._
      val pairs = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val edges = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
      val seeds = Seq(2L, 4L, 6L, 8L).toDF("id")
      graft.ops.Graph.personalizedPageRank(edges, "a", "b", seeds, "id")
        .orderBy(col("score").desc, col("id")).limit(20)
    }),

    // ---- G9: HITS hub/authority (Kleinberg 1999) over the DIRECTED
    // customer→supplier purchase graph: customers score as hubs,
    // suppliers as authorities — the two-sided ranking PageRank's single
    // stationary distribution can't express. Exact 1e12 fixed point;
    // per-round L1 normalization by a one-row broadcast total ------------
    "g9_hits" -> ((s, dir) => {
      val edges = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      graft.ops.Graph.hits(edges, "a", "b", iterations = 2)
        .orderBy(col("auth").desc, col("hub").desc, col("id")).limit(30)
    }),

    // ---- G11: degree ASSORTATIVITY of the purchase graph — do heavy
    // customers buy from heavy suppliers? One-row exact moment vector
    // with the Pearson r as a cross-multiplied (num, den) rational ------
    "g11_assortativity" -> ((s, dir) => {
      val pairs = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      graft.ops.Graph.assortativity(pairs, "a", "b")
    }),

    // ---- G13: bounded multi-source HARMONIC centrality — which nodes
    // sit near the 4-customer seed set (Σ 1/d within 3 hops, exact
    // 1e6-div-d fixed point); g8's PPR ranks by walk mass, this by
    // geodesic proximity — the two disagree exactly on hub-adjacent
    // nodes, which is why both exist ------------------------------------
    "g13_harmonic_centrality" -> ((s, dir) => {
      val pairs = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val edges = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
      graft.ops.Graph.harmonicCentrality(edges, "a", "b",
          sources = Seq(2L, 4L, 6L, 8L), maxDepth = 3)
        .orderBy(col("harmonic_fp").desc, col("id")).limit(30)
    }),

    // ---- G14: per-node LOCAL CLUSTERING COEFFICIENT over the nation
    // co-trade graph — g2's oriented wedge enumeration, each closed
    // triangle credited to all three corners via one explode; exact
    // basis points 2T·10⁴ div d(d−1). The neighborhood-cliquishness
    // signal a link-graph curation pass scores ---------------------------
    "g14_clustering_coeff" -> ((s, dir) => {
      val pairs = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .select(col("c_nationkey").as("x"), col("s_nationkey").as("y"))
        .distinct()
      graft.ops.Graph.clusteringCoefficient(pairs, "x", "y")
        .orderBy("v")
    }),

    // ---- G10: Newman MODULARITY of the nation partition over the
    // customer↔supplier purchase graph — "is trade nation-assortative?"
    // Per-community exact rational (4·m·m_c − d_c², / 4m²); label
    // attachment is two joins, then ONE community-keyed aggregation ------
    "g10_modularity" -> ((s, dir) => {
      val e = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val labels = t(s, dir, "customer")
        .select((col("c_custkey") * 2).as("node"),
          col("c_nationkey").as("community"))
        .unionByName(t(s, dir, "supplier")
          .select((col("s_suppkey") * 2 + 1).as("node"),
            col("s_nationkey").as("community")))
      graft.ops.Graph.modularity(e, "a", "b", labels, "node", "community")
        .orderBy("community")
    }),

    // ---- G7: common-neighbor LINK PREDICTION over the co-purchase graph
    // (Liben-Nowell 2003): non-adjacent part pairs sharing >= 2 co-buy
    // neighbors, Jaccard-scored in exact integer arithmetic. Wedge join
    // bounded by the middle-degree cap (the hub guard — same argument as
    // the MinHash degenerate-bucket cap) ---------------------------------
    "g7_link_prediction" -> ((s, dir) => {
      val op = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = op.select(col("ok"), col("pk").as("part_a"))
      val b = op.select(col("ok").as("ok_b"), col("pk").as("part_b"))
      val edges = a.join(b,
          col("ok") === col("ok_b") && col("part_a") < col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 2)
      graft.ops.Graph.linkPrediction(edges, "part_a", "part_b",
          minCommon = 2, maxMiddleDegree = 1000)
        .orderBy("x", "y")
    }),

    // ---- G15: ADAMIC-ADAR link prediction — g7's wedge shape with the
    // degree-discounted score (Σ 1/ln d(z) over common neighbors): hub
    // middles contribute ~nothing, rare shared contacts dominate. Terms
    // fixed-pointed before the (x,y) sum — integer reduce --------------
    "g15_adamic_adar" -> ((s, dir) => {
      val op = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = op.select(col("ok"), col("pk").as("part_a"))
      val b = op.select(col("ok").as("ok_b"), col("pk").as("part_b"))
      val edges = a.join(b,
          col("ok") === col("ok_b") && col("part_a") < col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 2)
      graft.ops.Graph.adamicAdar(edges, "part_a", "part_b",
          minCommon = 2, maxMiddleDegree = 1000)
        .orderBy(col("aa_fp").desc, col("x"), col("y")).limit(30)
    }),

    // ---- G17: bounded K-TRUSS — the FULL co-purchase graph (every
    // pair sharing an order; g7's >= 2-order pruning would leave a
    // near-triangle-free graph) filtered to edges in >= 4 triangles
    // (k=6), two rounds of support-recompute + semi-join (the
    // edge-cohesion sibling of g5's k-core) -----------------------------
    "g17_ktruss" -> ((s, dir) => {
      val op = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = op.select(col("ok"), col("pk").as("part_a"))
      val b = op.select(col("ok").as("ok_b"), col("pk").as("part_b"))
      val edges = a.join(b,
          col("ok") === col("ok_b") && col("part_a") < col("part_b"))
        .select("part_a", "part_b").distinct()
      graft.ops.Graph.kTruss(edges, "part_a", "part_b", k = 6,
          rounds = 2)
        .orderBy("a", "b")
    }),

    // ---- G18: bounded STRESS centrality (Shimbel 1953) — the integer
    // betweenness sibling: shortest paths THROUGH each interior node,
    // from a deterministic 10% seed sample, depth-bounded at 3 (the
    // g13 truncation discipline). Forward σ (sum-combine BFS) +
    // backward continuation counts h, δ = σ·h — all exact integers;
    // Brandes' rational δ recurrence would be FP-order-dependent and
    // ungateable. 2·depth joins, lineage severed per level ----------------
    "g18_stress_centrality" -> ((s, dir) => {
      val op = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = op.select(col("ok"), col("pk").as("part_a"))
      val b = op.select(col("ok").as("ok_b"), col("pk").as("part_b"))
      // severed: BOTH the seed derivation and stressCentrality's own
      // normalize consume this co-purchase self-join — unsevered, the
      // expensive subtree computes once per consumer (guide §2.4)
      val edges = graft.Checkpoints.sever(a.join(b,
          col("ok") === col("ok_b") && col("part_a") < col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 2))
      val seeds = edges.select(col("part_a").as("s"))
        .union(edges.select(col("part_b").as("s")))
        .distinct().filter(col("s") % 10 === 0)
      graft.ops.Graph.stressCentrality(edges, "part_a", "part_b",
          seeds, maxDepth = 3)
        .orderBy("v")
    }),

    // ---- G16: LABEL PROPAGATION communities — g7's co-purchase graph
    // partitioned by 3 synchronous LPA rounds (most-frequent neighbor
    // label, ties to the smallest — the deterministic, replayable form).
    // One join + count + struct-argmax per round -------------------------
    "g16_label_propagation" -> ((s, dir) => {
      val op = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val a = op.select(col("ok"), col("pk").as("part_a"))
      val b = op.select(col("ok").as("ok_b"), col("pk").as("part_b"))
      val edges = a.join(b,
          col("ok") === col("ok_b") && col("part_a") < col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 2)
      graft.ops.Graph.labelPropagation(edges, "part_a", "part_b",
          rounds = 3)
        .orderBy("v")
    }),

    // ---- S13: ORC source/sink round trip — the engine's second columnar
    // format; schema, doubles, and timestamps survive bit-exactly. -------
    "s13_orc_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_orc").toString + "/li"
      t(s, dir, "lineitem").filter(col("l_quantity") >= 45)
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_extendedprice"))).as("sum_cents"))
        .orderBy("l_returnflag")
    }),

    // ---- L1: point lookup with LIMIT 1 (SURVEY §2.5) -------------------
    "l1_limit_lookup" -> ((s, dir) =>
      t(s, dir, "orders").filter(col("o_custkey") === 7)
        .orderBy("o_orderkey")
        .select(col("o_orderkey"), col("o_totalprice"))
        .limit(1)),

    // ---- L2: offset/limit slice ----------------------------------------
    "l2_slice" -> ((s, dir) =>
      t(s, dir, "customer").select("c_custkey", "c_name")
        .orderBy("c_custkey").offset(10).limit(5)),

    // ---- Top-k ----------------------------------------------------------
    "l7_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)),

    // ---- Set operations -------------------------------------------------
    "l8_union" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .distinct().orderBy("nk")),

    "l9_intersect" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy("nk")),

    "l10_except" -> ((s, dir) =>
      t(s, dir, "nation").select(col("n_nationkey").as("nk"))
        .except(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy("nk")),

    // ---- Window functions ----------------------------------------------
    "w1_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          row_number().over(w).cast("long").as("rn"),
          rank().over(w).cast("long").as("rnk"))
        .filter(col("rn") <= 3)
        .orderBy("c_nationkey", "rn")
    }),

    "w2_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(cents(col("o_totalprice"))).over(w).as("running_cents"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "w3_lag" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(lag(col("o_orderdate"), 1).over(w),
            "yyyy-MM-dd HH:mm:ss").as("prev_date"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ---- W4: the rest of the window-function surface — five functions
    // over ONE window spec (single sort + single exchange; the unique
    // (totalprice, orderkey) tiebreak keeps every value deterministic) ----
    "w4_window_suite" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_custkey") <= 100)
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cdist"),
          first(col("o_orderkey")).over(w).as("first_key"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
        .orderBy("o_orderkey")
    }),

    // ---- Events: time-bucketed aggregation ------------------------------
    "e1_hourly" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")),
          "yyyy-MM-dd HH:mm:ss").as("hour_str"))
        .agg(count(lit(1)).as("n"),
             sum(cents(col("value"))).as("value_cents"))
        .orderBy("hour_str")),

    // ---- S5: CSV file source/sink round-trip ----------------------------
    "s5_csv_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_csv").toString + "/cust"
      val src = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_mktsegment")
      Sinks.csv(src, tmp)
      Sources.csv(s, tmp)
        .select(col("c_custkey").cast("long"), col("c_name"),
          col("c_mktsegment"))
        .orderBy("c_custkey")
    }),

    // ---- S11: JSON roundtrip — doubles survive the text format
    // bit-exactly (shortest-print + exact parse), so the hash gate holds
    // even on c_acctbal --------------------------------------------------
    // ---- S12: schema evolution — two parquet generations with DIFFERENT
    // column sets (v1 wrote name, v2 added acctbal and dropped name) read
    // as ONE table via mergeSchema; absent columns surface as nulls. The
    // 100 TB reality this pins: ingest schemas drift across months of
    // files, and the reader must widen, not crash. mergeSchema reconciles
    // footers at planning time (per-file, parallel); per-row cost is zero.
    "s12_schema_evolution" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_evo").toString
      val cust = t(s, dir, "customer")
      cust.filter(col("c_custkey") % 2 === 0)
        .select("c_custkey", "c_name")
        .write.mode("overwrite").parquet(s"$tmp/gen=1")
      cust.filter(col("c_custkey") % 2 === 1)
        .select("c_custkey", "c_acctbal")
        .write.mode("overwrite").parquet(s"$tmp/gen=2")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }),

    "s11_json_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_json").toString + "/cust"
      val src = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      Sinks.json(src, tmp)
      Sources.json(s, tmp, Some(src.schema))
        .orderBy("c_custkey")
    }),

    // ---- P4: existence probe as a per-row flag --------------------------
    "p4_exists" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("c_custkey")).distinct()
      t(s, dir, "customer")
        .join(orders.withColumn("has_big_order", lit(1)),
          Seq("c_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("has_big_order"), lit(0)).as("has_big_order"))
        .orderBy("c_custkey")
    }),

    // ---- P4b: exists-probe OPERATOR-STRING breadth through the CONFIG
    // surface (r10-verdict item 6): the reference's SQLTable::exists
    // parses arbitrary "column operator value" multi-arg AND strings
    // (sdk/src/SQLTable.php:60-75) with every value bound as a string;
    // p4 gates the equality set form, this gates a non-equality
    // operator (>=) plus a multi-arg AND (<>), flowing through
    // PipelineSpec.parse (fail-fast validation, etl.php:92-110's
    // posture) into ETLPipeline.transform. The string-bound '400000'
    // must coerce to the column's DOUBLE — numeric, never
    // lexicographic -----------------------------------------------------
    "p4b_exists_operators" -> ((s, dir) => {
      val spec = PipelineSpec.parse(
        """{"tables":[{"flow":"orders -> big_orders",
          |  "columns":["o_orderkey","o_custkey","o_orderstatus"],
          |  "query":["o_totalprice >= 400000",
          |           "o_orderstatus <> F"]}]}""".stripMargin)
      ETLPipeline.transform(t(s, dir, "orders"), spec.flows.head, None,
          orderCol = Some("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    // ---- A3: count after cache (reference re-scanned; we pin) -----------
    "a3_count_cached" -> ((s, dir) => {
      val filtered = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F").cache()
      val n = filtered.count() // first action: materialize + count
      filtered.unpersist()
      s.range(1).select(lit(n).as("n"))
    }),

    // ---- A6: rollup (grouping-set aggregation) --------------------------
    "a6_rollup" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("price_cents"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("n"), col("price_cents"))
        .orderBy("status", "prio")),

    // ---- A11: explicit grouping sets — the third grouping-set shape
    // (rollup=a6, cube=a9): exactly the listed sets, nothing else --------
    "a11_grouping_sets" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("price_cents"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("n"), col("price_cents"))
        .orderBy("status", "prio")),

    // ---- A12: heavy hitters — Misra–Gries candidate summary (native
    // TypedImperativeAggregate, O(k) memory per task) + exact recount of
    // the <= k candidates; equals plain groupBy-threshold, by the MG
    // presence guarantee (minShare 1/32 > 1/(k+1), k=40) ------------------
    "a12_heavy_hitters" -> ((s, dir) =>
      ops.HeavyHitters.heavyHitters(
          t(s, dir, "documents")
            .filter(col("text").isNotNull)
            .select(explode(TextAnalysis.tokens(col("text"))).as("token")),
          "token", k = 40, minShare = 0.03125)
        .withColumnRenamed("item", "token")
        .orderBy("token")),

    // ---- A17: count-min point estimates — unlike MG's order-dependent
    // counters, CM cells are plain sums, bit-identical under any merge
    // tree, so the ESTIMATES gate directly: the oracle recomputes each
    // queried cell as a collision-group count with the same md5 universal
    // hash family. Includes an absent token ('zyzzyva...') whose estimate
    // is pure collision mass. ---------------------------------------------
    // ---- A19: exact WEIGHTED median per group — no engine has it as a
    // built-in; the set form is a cumulative-weight window over the
    // value order: the answer is the smallest value whose running weight
    // reaches half the group total. All integer (cents × quantity), one
    // sort per group -----------------------------------------------------
    // ---- A22: BENFORD first-digit audit — the classic fabricated-data
    // check: organic multiplicative amounts follow P(d) = log10(1+1/d),
    // invented ones don't. Per digit: observed count vs the expected
    // per-mille profile (published constants both engines share as
    // LITERALS — no transcendental at query time) and the chi-square
    // contribution as an exact (num, den) pair. The squared deviation
    // stays under BIGINT to ~3e6 rows at per-mille precision; beyond
    // that emit (n_d, N) and square in the reader (the 9-row output
    // makes that free). One map-only digit projection + one 9-group
    // aggregation ---------------------------------------------------------
    "a22_benford" -> ((s, dir) => {
      // log10(1+1/d) in per-mille, d = 1..9 (Benford 1938)
      val pm = Seq(301L, 176L, 125L, 97L, 79L, 67L, 58L, 51L, 46L)
      val profile = {
        import s.implicits._
        pm.zipWithIndex.map { case (p, i) => ((i + 1).toLong, p) }
          .toDF("digit", "p_pm")
      }
      val digits = t(s, dir, "orders")
        .filter(col("o_totalprice") >= 1.0)
        .select(substring(col("o_totalprice").cast("long").cast("string"),
          1, 1).cast("long").as("digit"))
      val counts = digits.groupBy("digit")
        .agg(count(lit(1)).as("n_d"))
      val total = counts.agg(sum(col("n_d")).as("n_total"))
      // profile drives the join: a digit with ZERO observed count must
      // still emit its row (its chi-square term expected²/expected is the
      // strongest fabrication signal — an inner join would drop it)
      profile.join(counts, Seq("digit"), "left")
        .withColumn("n_d", coalesce(col("n_d"), lit(0L)))
        .crossJoin(broadcast(total))
        .withColumn("dev_sq",
          pow2(col("n_d") * 1000L - col("n_total") * col("p_pm")))
        .withColumn("chi_den", col("n_total") * col("p_pm") * 1000L)
        .select("digit", "n_d", "n_total", "p_pm", "dev_sq", "chi_den")
        .orderBy("digit")
    }),

    // ---- A23: behavioral entropy — Shannon entropy of each user's
    // event-type mix (t18's fixed-point ln discipline on a categorical
    // histogram): a bot does one thing, a person does many; the
    // uniformity score a fraud/quality segmentation keys on ------------
    "a23_behavior_entropy" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"))
      val withN = ev.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
      ev.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"))
        .join(withN, "user_id")
        .withColumn("term_fp",
          col("cnt") *
            round(log(col("n_events").cast("double") / col("cnt"))
              * lit(1e9)).cast("long"))
        .groupBy("user_id")
        .agg(max(col("n_events")).as("n_events"),
          sum(col("term_fp")).as("entropy_fp"))
        .orderBy("user_id")
    }),

    // ---- A21: MAD robust outliers — e12's z-score breaks down when the
    // outliers themselves inflate σ (masking); median absolute deviation
    // has a 50% breakdown point. Low-median (a15's rank trick) twice —
    // value, then |value − med| — keeps everything exact-integer; flag
    // |x − med| > 3·MAD. Both medians and both join-backs ride the SAME
    // user-keyed partitioning, so the op costs one logical exchange ------
    "a21_mad_outliers" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          cents(col("value")).as("v"))
      def lowMedian(df: DataFrame, valCol: String,
                    out: String): DataFrame = {
        val w = Window.partitionBy("user_id").orderBy(valCol, "event_id")
        df.withColumn("rn", row_number().over(w))
          .withColumn("cnt",
            count(lit(1)).over(Window.partitionBy("user_id")))
          .filter(col("rn") === expr("(cnt + 1) div 2"))
          .select(col("user_id"), col(valCol).as(out))
      }
      val med = lowMedian(ev, "v", "med_cents")
      val dev = ev.join(med, "user_id")
        .withColumn("dev", abs(col("v") - col("med_cents")))
      val mad = lowMedian(dev, "dev", "mad_cents")
      dev.join(mad, "user_id")
        .filter(col("dev") > lit(3L) * col("mad_cents"))
        .select(col("user_id"), col("event_id"), col("v").as("v_cents"),
          col("med_cents"), col("mad_cents"))
        .orderBy("user_id", "event_id")
    }),

    // ---- A20: GINI revenue concentration per segment — the inequality
    // number a curation/mixture audit quotes ("how head-heavy is this
    // source?"). Exact integers: G = (2·Σi·x_i − (n+1)·Σx) / (n·Σx)
    // over per-customer revenue ranked within the segment — the rank
    // window partitions by SEGMENT (per-segment sort, never global) -----
    "a20_gini" -> ((s, dir) => {
      val rev = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"),
          col("c_custkey").as("ck"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
      val w = Window.partitionBy("segment")
        .orderBy(col("rev_cents"), col("ck"))
      rev.withColumn("i", row_number().over(w).cast("long"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n"), sum(col("rev_cents")).as("sum_cents"),
          sum(col("i") * col("rev_cents")).as("weighted"))
        .select(col("segment"), col("n"), col("sum_cents"),
          (lit(2L) * col("weighted") - (col("n") + 1L) * col("sum_cents"))
            .as("g_num"),
          (col("n") * col("sum_cents")).as("g_den"))
        .orderBy("segment")
    }),

    // ---- A25: two-sample KOLMOGOROV-SMIRNOV distance between the
    // view-vs-click value distributions — D = max|F₁−F₂| over observed
    // values, fully cross-multiplied: per-value group counts, one
    // cumulative window over the value order, d_num = max|cum₁·n₂ −
    // cum₂·n₁| over d_den = n₁·n₂ — EXACT integers (products bounded by
    // BIGINT to ~1e9 rows per side; past that emit per-value counts and
    // difference in the reader). Significance at α=0.05 via the
    // asymptotic 1.358·√((n₁+n₂)/(n₁n₂)) critical value as one pinned
    // double compare. The cdf scan windows over |distinct values| rows
    // (cents of a bounded price range — readout-sized); production runs
    // the two-level parallel prefix instead, same output -----------------
    "a25_ks_test" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("view", "click"))
        .select(cents(col("value")).as("v"),
          (col("event_type") === "view").as("is_a"))
      val counts = ev.groupBy("v").agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("c2"))
      val w = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      counts
        .withColumn("cum1", sum("c1").over(w))
        .withColumn("cum2", sum("c2").over(w))
        .crossJoin(broadcast(ev.agg(
          sum(when(col("is_a"), 1L).otherwise(0L)).as("n1"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("n2"))))
        .withColumn("dnum",
          abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          max(col("dnum")).as("d_num"))
        .withColumn("d_den", col("n1") * col("n2"))
        // d_num ≤ n1·n2, so the 10000 scale-up runs in decimal(38,0)
        // (HUGEINT in the replay): exact to ~1e9 rows PER SIDE — the
        // bound at which d_num itself saturates BIGINT (r7-advice fix;
        // a bare BIGINT multiply wrapped past ~3e7 rows per side)
        .withColumn("d_bp",
          expr("CAST(d_num AS DECIMAL(38,0)) * 10000 div d_den"))
        .withColumn("significant", expr(
          "CASE WHEN n1 = 0 OR n2 = 0 THEN NULL ELSE " +
            "CAST(d_num AS DOUBLE) / d_den > 1.358 * " +
            "sqrt((CAST(n1 AS DOUBLE) + n2) / (CAST(n1 AS DOUBLE) * n2))" +
            " END"))
    }),

    // ---- A24: exact multi-QUANTILE per group (p25/p50/p75) in ONE
    // window pass — a15's low-median rank trick generalized: the q-th
    // low-quantile is the value at rank ceil(q·n) in (value, id)
    // ascending order; all three cutpoints read the SAME row_number +
    // partition count (one exchange, one sort), then fold into one
    // 5-row aggregation via conditional mins. The summary-statistics
    // readout every profiling pass emits -------------------------------
    "a24_group_quantiles" -> ((s, dir) => {
      val base = t(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          cents(col("value")).as("v"))
      val wOrd = Window.partitionBy("event_type").orderBy("v", "event_id")
      val wAll = Window.partitionBy("event_type")
      base.withColumn("rn", row_number().over(wOrd))
        .withColumn("n", count(lit(1)).over(wAll))
        .groupBy("event_type")
        .agg(max(col("n")).as("n"),
          min(when(col("rn") === expr("(n + 3) div 4"), col("v")))
            .as("p25"),
          min(when(col("rn") === expr("(n + 1) div 2"), col("v")))
            .as("p50"),
          min(when(col("rn") === expr("(3 * n + 3) div 4"), col("v")))
            .as("p75"))
        .orderBy("event_type")
    }),

    "a19_weighted_median" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          cents(col("l_extendedprice")).as("v"),
          col("l_quantity").cast("long").as("w"))
      val word = Window.partitionBy("flag").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wtot = Window.partitionBy("flag")
      li.withColumn("cumw", sum(col("w")).over(word))
        .withColumn("total", sum(col("w")).over(wtot))
        .filter(col("cumw") * 2 >= col("total"))
        .groupBy("flag")
        .agg(min(col("v")).as("weighted_median_cents"))
        .orderBy("flag")
    }),

    // ---- A18: exact windowed COUNT DISTINCT — unsupported natively as a
    // window function in either engine; rewritten as max(dense_rank) over
    // the same partitioning (two window passes, ONE exchange: Catalyst
    // reuses the hash partitioning across both) --------------------------
    "a18_windowed_distinct" -> ((s, dir) => {
      val byUser = Window.partitionBy("event_type").orderBy("user_id")
      val whole = Window.partitionBy("event_type")
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("user_id"))
        .withColumn("distinct_users",
          max(dense_rank().over(byUser)).over(whole).cast("long"))
        .filter(col("event_id") % 100 === 0)
        .orderBy("event_id")
    }),

    "a17_countmin" -> ((s, dir) => {
      import s.implicits._
      val width = 1024
      val depth = 4
      val toks = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      val sk = toks
        .agg(expr(s"count_min(token, $width, $depth)").as("sk"))
        .collect()(0).getSeq[Long](0)
      val items = Seq("the", "and", "of", "data", "to", "a", "in",
        "is", "for", "zyzzyva_absent")
      val est = items.map { it =>
        (it, (0 until depth)
          .map(j => sk(j * width + graft.functions.CountMin.bucket(it, j, width)))
          .min)
      }
      val estDf = est.toDF("token", "est_cnt")
      val exact = toks.filter(col("token").isin(items: _*))
        .groupBy("token").agg(count(lit(1)).as("exact_raw"))
      estDf.join(exact, Seq("token"), "left")
        .select(col("token"),
          coalesce(col("exact_raw"), lit(0L)).as("exact_cnt"),
          col("est_cnt"))
        .orderBy("token")
    }),

    // ---- A7: approximate distinct (sketch checked against the exact count:
    // the HLL++ estimate itself is engine-specific, so the oracle-checkable
    // surface is the exact count plus a boolean asserting the sketch landed
    // within its 5% error envelope — if Spark's sketch drifts, the boolean
    // flips and the hash compare fails) --------------------------------------
    "a7_approx_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .agg(approx_count_distinct(col("l_partkey")).as("approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("exact_parts"),
          (abs(col("approx") - col("exact_parts")) <=
            col("exact_parts") * 0.05).as("sketch_within_5pct"))),

    // ---- A10: approximate percentile under the same envelope contract —
    // the sketch (GK/KLL-style) is what a 100 TB percentile actually runs;
    // the gate pins exact medians and asserts the sketch landed within 1%
    "a10_approx_percentile" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .agg(expr("percentile(l_extendedprice, 0.5)").as("exact_median"),
          expr("approx_percentile(l_extendedprice, 0.5, 10000)")
            .as("approx_median"))
        .select(col("exact_median"),
          (abs(col("approx_median") - col("exact_median")) <=
            abs(col("exact_median")) * 0.01).as("sketch_within_1pct"))),

    // ---- A35: per-group log-histogram percentiles — the segment
    // dashboard (p50/p99 of value per event type) at sketch cost: the
    // readout window is partitioned by group AND bounded by the bucket
    // cardinality, so no frame ever scales with group size ------------
    "a35_group_log_histogram" -> ((s, dir) =>
      LogHistogram.groupedPercentiles(
          t(s, dir, "events").filter(col("value").isNotNull)
            .select(col("event_type"), cents(col("value")).as("v")),
          "event_type", "v", pBps = Seq(5000, 9900))
        .orderBy("event_type", "p_bp")),

    // ---- A33: KMV distinct-count sketch (Bar-Yossef et al. 2002) —
    // the k MINIMUM md5-draw values estimate distinct users as
    // (k-1)·2^48/h_k. Unlike HLL the sketch is DETERMINISTIC (hash
    // order, no RNG), mergeable (min-union), and top-k is a
    // TakeOrderedAndProject — no global sort. When the domain is
    // smaller than k the sketch holds it exactly ------------------------
    "a33_kmv_distinct" -> ((s, dir) => {
      // k = 64 so the sf0.01 corpus (150 users) exercises the ESTIMATOR
      // branch while sf0.001 (15 users) takes the exact small-domain
      // branch — both paths gated across the sweep. Production k is
      // larger (1024 → ~3% stderr); the estimator is k-independent.
      val k = 64
      val h = t(s, dir, "events")
        .select(conv(substring(md5(col("user_id").cast("string")), 1, 12),
          16, 10).cast("long").as("h"))
        .distinct()
      val kth = h.orderBy("h").limit(k)
        .agg(count(lit(1)).as("k_actual"), max(col("h")).as("h_k"))
      val exact = t(s, dir, "events")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      kth.crossJoin(exact)
        .withColumn("est_users",
          when(col("k_actual") < k, col("k_actual"))
            .otherwise(expr(s"(${k - 1}L * ${Hex12Space}L) div h_k")))
        .select(col("k_actual"), col("h_k"), col("est_users"),
          col("exact_users"),
          (abs(col("est_users") - col("exact_users")) * 5 <=
            col("exact_users")).as("within_20pct"))
    }),

    // ---- E34: deterministic Poisson bootstrap CI (the online-bootstrap
    // trick: per-replicate Poisson(1) weights instead of resampling) —
    // 32 replicates whose weights come from md5(user|replicate) draws
    // through a shared inverse-CDF ladder, so both engines reproduce the
    // identical "random" bootstrap; the replicate variance of the
    // conversion rate is the CI half-width's square. One user pass,
    // ×32 explode, two hash aggs — no per-replicate jobs ----------------
    "e34_poisson_bootstrap" -> ((s, dir) => {
      // conversion = heavy purchaser (>= 14 purchases, the corpus's
      // median) — a ~50% rate, so the bootstrap variance is real; "any
      // purchase" is ~100% here and would gate a zero-variance readout
      val u = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg((sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)) >= 14).cast("long").as("x"))
      val reps = u
        .select(col("user_id"), col("x"),
          explode(sequence(lit(0), lit(31))).as("r"))
        .withColumn("u48", conv(substring(md5(concat_ws("|",
          col("user_id"), col("r"))), 1, 12), 16, 10).cast("long"))
        .withColumn("w", expr(poissonCase("u48", "L")))
      val per = reps.groupBy("r")
        .agg(sum(col("w")).as("n_eff"),
          sum(col("w") * col("x")).as("c_eff"))
        .select(expr("CASE WHEN n_eff = 0 THEN NULL" +
          " ELSE c_eff * 10000 div n_eff END").as("rate_bp"))
      per.agg(count(lit(1)).as("n_reps"),
          sum(col("rate_bp")).as("sum_bp"),
          sum(expr("rate_bp * rate_bp")).as("sumsq_bp"))
        .select(col("n_reps"),
          expr("sum_bp div n_reps").as("mean_bp"),
          expr("n_reps * sumsq_bp - sum_bp * sum_bp").as("var_num"),
          expr("n_reps * (n_reps - 1)").as("var_den"))
    }),

    // ---- A32: log-bucketed percentile histogram (HdrHistogram/DDSketch
    // family) — p50/p90/p99 of purchase cents read off a deterministic
    // 4096-bucket-max mergeable sketch: one groupBy pass, bounded state,
    // hashable output (which no randomized quantile sketch gives) ------
    "a32_log_histogram" -> ((s, dir) =>
      LogHistogram.percentiles(
          t(s, dir, "events")
            .filter(col("event_type") === "purchase" &&
              col("value").isNotNull)
            .select(cents(col("value")).as("v")),
          "v", pBps = Seq(5000, 9000, 9900))
        .orderBy("p_bp")),

    // ---- L3/L4: positional access + column extraction -------------------
    "l3_positional" -> ((s, dir) =>
      t(s, dir, "customer").orderBy("c_custkey")
        .select("c_custkey", "c_name").offset(41).limit(1)),

    "l4_column_extract" -> ((s, dir) =>
      t(s, dir, "part").select(col("p_brand")).distinct()
        .orderBy("p_brand")),

    // ---- J7: delete-then-insert children as replace-children ------------
    "j7_replace_children" -> ((s, dir) => {
      val dst = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val recomputed = t(s, dir, "orders")
        .filter(col("o_custkey") % 10 === 0)
        .select(col("o_orderkey") + 5000000, col("o_custkey"),
          lit(0.0).as("o_totalprice"))
        .toDF("o_orderkey", "o_custkey", "o_totalprice")
      Upsert.replaceChildren(dst, recomputed, Seq("o_custkey"))
        .orderBy("o_orderkey")
    }),

    // ---- Text analysis (LLM-pipeline ops) -------------------------------
    "t1_text_stats" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.charCount(col("text")).cast("long").as("n_chars_m"),
        TextAnalysis.punctCount(col("text")).cast("long").as("n_punct")
      ).orderBy("doc_id")),

    // ---- T16: BPE-ish pre-token counting — the context-budget unit LLM
    // pipelines pack by; pure codegen projection, zero shuffle ------------
    "t16_bpe_tokens" -> ((s, dir) =>
      t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_words"),
          TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_bpe"))
        .withColumn("bpe_per_word_bp",
          when(col("n_words") > 0,
            expr("n_bpe * 10000L div n_words")))
        .orderBy("doc_id")),

    // ---- T17: unigram-LM surprisal — the cheap perplexity-filter shape:
    // corpus token counts → broadcast unigram LM → per-doc mean NLL in
    // 1e-9 fixed point (integer reduce, engine-exact) ---------------------
    "t17_unigram_surprisal" -> ((s, dir) =>
      TextAnalysis.unigramSurprisal(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ---- T18: Shannon character entropy — the gibberish/noise signal;
    // same fixed-point integer-reduce discipline as t17, both exchanges
    // keyed on the doc id (no corpus-global state) ------------------------
    "t18_char_entropy" -> ((s, dir) =>
      TextAnalysis.charEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ---- T27: RAKE keyword extraction (Rose 2010) — frequency-derived
    // stoplist as phrase delimiters, gaps-and-islands phrase runs per
    // doc, degree-scored in exact integers. The "what is this corpus
    // about" signal next to t9's tf-idf. nStopwords adapted to the
    // synthetic 31-word vocabulary (top-5; a natural corpus uses ~50) ----
    "t27_rake_keywords" -> ((s, dir) =>
      TextAnalysis.rakeKeywords(t(s, dir, "documents"), "doc_id", "text",
        nStopwords = 5)),

    // ---- T36: TextRank keywords — integer PageRank over the corpus
    // word co-occurrence graph (one vocabulary-sized graph, not
    // per-doc jobs); t27's tokenization and dynamic stopword list ------
    "t36_textrank" -> ((s, dir) =>
      TextAnalysis.textRank(t(s, dir, "documents"), "doc_id", "text",
        nStopwords = 5)),

    // ---- T29: PMI collocations (Church & Hanks 1990) — adjacent pairs
    // co-occurring beyond chance; the phrase-mining score feeding
    // tokenizer merge decisions and n-gram features. Fixed-point ln,
    // minCount floor (PMI is unstable on rare pairs) --------------------
    "t29_pmi_collocations" -> ((s, dir) =>
      TextAnalysis.pmiCollocations(t(s, dir, "documents"),
        "doc_id", "text", minCount = 20, topK = 25)),

    // ---- T31: HEAPS-LAW vocabulary growth — t26 Zipf's companion
    // corpus-health check: distinct vocabulary V(n) ≈ K·n^β over
    // hash-order document prefixes (¼, ½, ¾, full), all four distinct
    // counts in ONE aggregation (Expand); β from consecutive points at
    // t18's fixed-point ln discipline. A corpus whose β collapses is
    // template-dominated (the same boilerplate re-asserted, no new
    // vocabulary) — the cheap pre-dedup health probe -------------------
    "t31_heaps_law" -> ((s, dir) =>
      heapsLaw(s, dir, distributed = false)),

    // ---- T31B: t31 on the PRODUCTION rank path — the corpus rank via
    // ScaleSafe.rowNumberBucketed over md5-prefix buckets (parallel
    // per-bucket row_numbers + a ≤#buckets-row offset carry); same
    // oracle as t31 ------------------------------------------------------
    "t31b_heaps_law" -> ((s, dir) =>
      heapsLaw(s, dir, distributed = true)),

    // ---- T30: VOCABULARY DRIFT between two corpus halves — the cheap
    // shift detector a corpus refresh runs before st24's distributional
    // PSI: Jaccard + overlap coefficient of the two halves' top-100
    // vocabularies (top-K by (count desc, token) — total order, so the
    // sets are deterministic). Two explode+agg passes collapse to ONE
    // (conditional counts per half); the set compare runs on ≤200 rows -
    "t30_vocab_drift" -> ((s, dir) => {
      val counts = t(s, dir, "documents").filter(col("text").isNotNull)
        .select((col("doc_id") % 2 === 0).as("half_a"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("half_a", "tok").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("half_a")
        .orderBy(col("n").desc, col("tok"))
      val top = counts.withColumn("r", row_number().over(w))
        .filter(col("r") <= 100)
      val a = top.filter(col("half_a")).select(col("tok"))
      val b = top.filter(!col("half_a")).select(col("tok").as("tok_b"))
      a.agg(count(lit(1)).as("n_a"))
        .crossJoin(b.agg(count(lit(1)).as("n_b")))
        .crossJoin(a.join(b, col("tok") === col("tok_b"))
          .agg(count(lit(1)).as("n_inter")))
        .withColumn("n_union", expr("n_a + n_b - n_inter"))
        .withColumn("jaccard_bp", expr("n_inter * 10000 div n_union"))
        .withColumn("overlap_bp",
          expr("n_inter * 10000 div least(n_a, n_b)"))
    }),

    // ---- T26: Zipf power-law fit — the corpus-health check that the
    // token frequency curve follows rank^(-s) (a corpus that DOESN'T is
    // usually TEMPLATED: boilerplate, logs, spam). OLS slope of
    // log2(count) on log2(rank) over the top-1024 vocab, with the logs
    // taken as EXACT integer floor-log2 (length(bin(x))-1 — no libm, so
    // both engines agree bit-for-bit) and the slope emitted as the
    // cross-multiplied (num, den) rational. Vocab top-K is
    // TakeOrderedAndProject (no global sort of the vocabulary); the rank
    // window runs on the bounded 1024-row set ---------------------------
    "t26_zipf_fit" -> ((s, dir) => {
      val vocab = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(1024)
      val w = Window.orderBy(col("n").desc, col("token"))
      val pts = vocab
        .withColumn("r", row_number().over(w).cast("long"))
        .select((length(bin(col("r"))) - 1).cast("long").as("x"),
          (length(bin(col("n"))) - 1).cast("long").as("y"))
      pts.agg(
          count(lit(1)).as("n_pts"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n_pts"), col("sx"), col("sy"), col("sxy"), col("sxx"),
          (col("n_pts") * col("sxy") - col("sx") * col("sy"))
            .as("slope_num"),
          (col("n_pts") * col("sxx") - col("sx") * col("sx"))
            .as("slope_den"))
    }),

    // ---- T22: the GOPHER quality-rule battery (Rae 2021 App. A) — every
    // published rule as a cross-multiplied integer verdict, map-only (one
    // codegen'd projection; filtering 100 TB with this costs one pass).
    // minStopwords adapted to the synthetic vocabulary (only "the" of
    // Gopher's 8 required stopwords occurs in it) -------------------------
    "t22_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(
          t(s, dir, "documents").filter(col("text").isNotNull),
          "doc_id", "text", minStopwords = 1)
        .orderBy("doc_id")),

    // ---- T23: conjunctive boolean retrieval — inverted index (term, doc,
    // tf) + docs-containing-ALL-terms as ONE doc-keyed count aggregation
    // (posting intersection without a k-way self-join) --------------------
    "t23_boolean_search" -> ((s, dir) =>
      TextAnalysis.booleanSearch(t(s, dir, "documents"), "doc_id", "text",
          terms = Seq("spark", "join", "hash"))
        .orderBy("doc_id")),

    // ---- T25: Unicode canonicalization — NFC + accent fold, the first
    // normalization pass of a multilingual pipeline (NFD-vs-NFC variants
    // of the same word are byte-different until normalized). Native JDK
    // Normalizer expressions, map-only; fixtures pin NFD==NFC collapse --
    "t25_unicode_normalize" -> ((s, dir) => {
      import s.implicits._
      val fixtures = Seq(
        (-22L, "café crème Noël"), // precomposed (NFC)
        (-21L, "café crème Nöel") // decomposed (NFD)
      ).toDF("doc_id", "text")
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .filter(col("text").isNotNull)
        .unionByName(fixtures)
      val nfcC = GraftFunctions.nfcNormalize(col("text"))
      val strip = GraftFunctions.accentStrip
      docs.select(col("doc_id"),
          nfcC.as("nfc_text"),
          strip(lower(nfcC)).as("folded"),
          (nfcC =!= col("text")).as("changed"))
        .orderBy("doc_id")
    }),

    // ---- T24: hashed-feature linear classifier — the fastText/WebText
    // quality-filter shape: hashing-trick buckets (no vocabulary),
    // deterministic stand-in weights, integer score, sign = label.
    // Explode + one doc-keyed agg; memory O(dim) regardless of corpus --
    "t24_hashed_classifier" -> ((s, dir) =>
      TextAnalysis.hashedLinearScore(t(s, dir, "documents"),
          "doc_id", "text", dim = 1024)
        .orderBy("doc_id")),

    // ---- T19: Stupid Backoff bigram surprisal — the cheap LM-quality
    // filter (Brants 2007) in the CCNet shape: count LM trained on the
    // even-id half, every doc scored against it (unseen continuation →
    // alpha-discounted unigram, OOV → pseudo-count); per-token -ln p in
    // 1e-9 fixed point before the per-doc reduce; vocab broadcast, bigram
    // table hash-partitioned ---------------------------------------------
    "t19_backoff_surprisal" -> ((s, dir) =>
      TextAnalysis.backoffSurprisal(t(s, dir, "documents"), "doc_id", "text",
          trainFilter = col("doc_id") % 2 === 0)
        .orderBy("doc_id")),

    // ---- T34: Good-Turing frequency-of-frequencies — N_r, the mass
    // r*N_r, and the adjusted count r* = (r+1)N_{r+1}/N_r for the 20
    // lowest counts; vocab-sized aggregations, O(sqrt N)-row r+1
    // self-join, TakeOrderedAndProject head ----------------------------
    "t34_good_turing" -> ((s, dir) =>
      TextAnalysis.goodTuring(t(s, dir, "documents"), "text", maxR = 20)
        .orderBy("r")),

    // ---- T35: interpolated Kneser-Ney bigram surprisal — t19's
    // train/score split (LM on even doc_ids, every doc scored), the
    // continuation-count smoother replacing Stupid Backoff's alpha ----
    "t35_kneser_ney" -> ((s, dir) =>
      TextAnalysis.kneserNeyBigram(t(s, dir, "documents"), "doc_id", "text",
          trainFilter = col("doc_id") % 2 === 0)
        .orderBy("doc_id")),

    // ---- T20: BPE tokenizer training — first 64 merge rules learned
    // from the corpus: ONE distributed pass folds the corpus to its
    // (word, count) vocabulary, then the exact merge loop runs
    // incrementally in driver memory (the tokenizer-standard shape —
    // see TextAnalysis.bpeTrainWithRounds; the distributed round loop
    // remains behind spark.graft.bpeTrainPath for vocabularies that
    // cannot land on one node, pinned bit-identical by spec) -----------
    "t20_bpe_train" -> ((s, dir) =>
      TextAnalysis.bpeTrain(t(s, dir, "documents"), "text", nMerges = 64)
        .orderBy("merge_rank")),

    // ---- T21: BPE encoding — the trained merge table applied back to the
    // corpus: per-doc size under the subword vocabulary (the compression
    // readout and the true sequence-length input for packing) ------------
    "t21_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.bpeTrain(docs, "text", nMerges = 64)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    // ---- D23: WINNOWING fingerprints (Schleimer, Wilkerson & Aiken
    // 2003 — the MOSS algorithm): per document, hash every 3-token
    // gram (md5 — the same function both engines own, so the selection
    // is replayable), keep the MINIMUM hash of every 4-gram window,
    // distinct the survivors; any fingerprint shared by ≥ 2 documents
    // is a guaranteed-overlap detection (winnowing's coverage theorem:
    // every match of ≥ w+k−1 tokens shares a selected fingerprint).
    // Map-only per doc, then one fingerprint-keyed aggregation — the
    // substring-level plagiarism/dup detector at corpus scale ---------
    "d23_winnowing" -> ((s, dir) => {
      val fps = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("doc_id"), expr(
          "CASE WHEN size(tk) < 3 THEN array()" +
            " ELSE transform(sequence(1, size(tk) - 2), i ->" +
            " md5(concat_ws(' ', element_at(tk, i)," +
            " element_at(tk, i + 1), element_at(tk, i + 2)))) END")
          .as("h"))
        .select(col("doc_id"), explode(expr(
          "CASE WHEN size(h) < 4 THEN array_distinct(h)" +
            " ELSE array_distinct(transform(sequence(1, size(h) - 3)," +
            " j -> array_min(slice(h, j, 4)))) END")).as("fp"))
      fps.groupBy("fp")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy("fp")
    }),

    // ---- C15: QUALITY-GATED mixture selection — the composition of
    // t2's quality score with c9's per-source quota discipline: the
    // top-10 documents per source by (quality desc, doc_id). The rank
    // filter plans as WindowGroupLimit (per-partition top-k, no full
    // sort) — curating the best slice of each source at 100 TB costs
    // one partial-top-k exchange ----------------------------------------
    "c15_quality_mixture" -> ((s, dir) => {
      val q = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
      val w = Window.partitionBy("source")
        .orderBy(col("quality").desc, col("doc_id"))
      q.withColumn("r", row_number().over(w)).filter(col("r") <= 10)
        .select("source", "doc_id", "quality")
        .orderBy("source", "doc_id")
    }),

    // ---- T32: CODE-vs-PROSE detector — the filter an LLM corpus runs
    // to route code into its own mixture bucket: indented-line fraction
    // and code-symbol density from pure integer counts (translate +
    // line split, no UDF), a fixed integer-ratio rule for the flag.
    // One codegen projection per doc --------------------------------------
    "t32_code_detect" -> ((s, dir) =>
      t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(split(col("text"), "\n", -1)).cast("long").as("n_lines"),
          (length(col("text")) -
            length(translate(col("text"), "{}();=<>[]", "")))
            .cast("long").as("n_symbols"),
          length(col("text")).cast("long").as("n_chars"),
          size(expr("filter(split(text, '\n', -1)," +
            " x -> x rlike '^(  |\t)')")).cast("long").as("n_indented"))
        .withColumn("is_code",
          col("n_chars") > 0 &&
            (col("n_symbols") * 20 >= col("n_chars") ||
              col("n_indented") * 5 >= col("n_lines") * 2))
        .orderBy("doc_id")),

    "t2_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality")
      ).orderBy("doc_id")),

    "t3_langid" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("lang_pred")
      ).orderBy("doc_id")),

    "t4_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp")
      ).orderBy("doc_id")),

    "t5_rolling_hash" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"), expr("rolling_hash(text)").as("rh")
      ).orderBy("doc_id")
    }),

    "t6_fuzzy_match" -> ((s, dir) => {
      // blocked fuzzy join: candidate pairs share a brand (bounding the
      // quadratic space), scored by edit distance
      val p = t(s, dir, "part")
        .select("p_partkey", "p_brand", "p_size", "p_name")
      val a = p.select(col("p_partkey").as("id_a"), col("p_brand"),
        col("p_size"), col("p_name").as("name_a"))
      val b = p.select(col("p_partkey").as("id_b"), col("p_brand"),
        col("p_size"), col("p_name").as("name_b"))
      a.join(b, Seq("p_brand", "p_size"))
        .filter(col("id_a") < col("id_b"))
        // exact prefilter: |len(a)-len(b)| > t implies dist > t
        .filter(abs(length(col("name_a")) - length(col("name_b"))) <= 3)
        // bounded levenshtein: exact for dist <= 3, -1 beyond (dropped by
        // the filter either way) — avoids full DP on distant pairs
        .withColumn("dist",
          levenshtein(col("name_a"), col("name_b"), 3).cast("long"))
        .filter(col("dist").between(0, 3))
        .select("id_a", "id_b", "dist")
        .orderBy("id_a", "id_b")
    }),

    // ---- T7/T8: vocabulary + document frequency (corpus statistics the
    // tokenizer/vocab-building stage of a training pipeline needs; both
    // are explode → count — one shuffle on the token) ---------------------
    "t7_vocab_topk" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(25)),

    "t8_doc_frequency" -> ((s, dir) =>
      // distinct on (doc_id, token) AFTER the explode — the exact shape
      // the oracle's SELECT DISTINCT mirrors (a per-row array_distinct
      // would silently diverge if a doc_id ever appeared twice)
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .distinct()
        .groupBy("token").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("token")).limit(25)),

    // ---- T9: TF-IDF top term per document. Scoring stays hash-exact: the
    // score is one double expression over exact integer counts, evaluated
    // identically by both engines, with the token as the tie-break --------
    "t9_tfidf_top" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = toks.distinct()
        .groupBy("token").agg(count(lit(1)).as("df"))
      val total = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("token"))
      tf.join(dfreq, "token")
        .crossJoin(total) // one-row scalar: N
        .withColumn("score",
          col("tf").cast("double") * col("n_docs") / col("df"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          col("score"))
        .orderBy("doc_id")
    }),

    // ---- T10: PII scrubbing. The corpus carries no natural PII, so dirty
    // text is synthesized deterministically (doc_id-derived email + phone)
    // and the REDACTED text itself is hash-compared ------------------------
    "t10_pii_redact" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("dirty", concat(col("text"),
          lit(" contact: user"), col("doc_id").cast("string"),
          lit("@example.com phone 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .select(col("doc_id"),
          TextAnalysis.redactPii(col("dirty")).as("clean"))
        .orderBy("doc_id")),

    // ---- T11: repetition filter — duplicate n-gram fraction per doc
    // (Gopher §A1.1); pure codegen projection, zero shuffle ---------------
    "t11_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(t(s, dir, "documents"), "doc_id", "text",
          k = 3)
        .orderBy("doc_id")),

    // ---- Dedup family (LLM-pipeline ops) --------------------------------
    // ---- T14: BM25 retrieval scoring (Robertson–Spärck Jones) over a
    // literal query-term set — the ranking pass of a retrieval/RAG corpus
    // pipeline. Deterministic variant: the idf factor stays RATIONAL
    // ((N - df + 0.5)/(df + 0.5), the t9 discipline — ln() is libm- and
    // engine-dependent; per-term it is monotone in the standard idf), and
    // per-term scores round to 1e-9 fixed point so the per-doc SUM is
    // integer arithmetic — order-independent, hash-stable. k1=1.2, b=0.75.
    // Plan shape: tf/df aggregations + two broadcast one-row scalars
    // (N, avgdl); per-doc sum shuffles only docs containing a query term.
    "t14_bm25" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      val toks = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      val dl = docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("dl"))
      val qterms = Seq("spark", "join", "fast")
      val tf = toks.filter(col("token").isin(qterms: _*))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = toks.distinct()
        .filter(col("token").isin(qterms: _*))
        .groupBy("token").agg(count(lit(1)).as("df"))
      val scalars = dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sum_dl"))
      tf.join(broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(broadcast(scalars))
        .withColumn("avgdl",
          col("sum_dl").cast("double") / col("n_docs").cast("double"))
        .withColumn("idf",
          (col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
            (col("df").cast("double") + 0.5))
        .withColumn("denom",
          col("tf").cast("double") +
            lit(1.2) * (lit(0.25) +
              lit(0.75) * (col("dl").cast("double") / col("avgdl"))))
        .withColumn("score_fp",
          round(col("idf") * col("tf").cast("double") * 2.2 / col("denom")
            * 1e9).cast("long"))
        .groupBy("doc_id")
        .agg(sum(col("score_fp")).as("score_fp"),
          count(lit(1)).as("n_terms"))
        .withColumn("score", col("score_fp").cast("double") / 1e9)
        .select("doc_id", "n_terms", "score")
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    }),

    // ---- T15: bigram novelty — a corpus-level language-model-ish quality
    // signal in exact integer arithmetic: per doc, the share of bigram
    // OCCURRENCES whose corpus-wide frequency clears a threshold, in basis
    // points (floor division — no float ratio under the hash gate). One
    // shuffle on the bigram, one partial-agged count-back per doc. --------
    "t15_bigram_novelty" -> ((s, dir) => {
      val toks = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      val bi = toks.select(col("doc_id"),
        explode(MinHashDedup.shingles(col("tk"), 2)).as("bigram"))
      val corpus = bi.groupBy("bigram").agg(count(lit(1)).as("cnt"))
      bi.join(corpus, "bigram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("cnt") >= 5, 1L).otherwise(0L)).as("n_common"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("n_common * 10000L div n_bigrams").as("common_bp"))
        .orderBy("doc_id")
    }),

    "d1_exact_dedup" -> ((s, dir) =>
      MinHashDedup.exactDuplicates(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("content_hash")),

    "d2_minhash_lsh" -> ((s, dir) =>
      MinHashDedup.nearDuplicates(t(s, dir, "documents"), "doc_id", "text",
          k = 3, m = 16, nBands = 4, threshold = 0.5)
        .orderBy("id_a", "id_b")),

    // ---- D19: cross-shard duplicate matrix — near-dup pair counts by
    // (unordered) source pair; tells a 100 TB pipeline whether dedup must
    // shuffle across shards or per-shard dedup suffices ------------------
    "d19_shard_dup_matrix" -> ((s, dir) =>
      Curation.crossShardDupMatrix(t(s, dir, "documents"), "doc_id", "text",
          shardCol = "source", k = 3, m = 16, nBands = 4, threshold = 0.5)
        .orderBy("shard_a", "shard_b")),

    "d3_simhash" -> ((s, dir) =>
      SimHash.nearDuplicates(t(s, dir, "documents"), "doc_id", "text",
          maxDistance = 6)
        .orderBy("id_a", "id_b")),

    "d4_ngram_jaccard" -> ((s, dir) =>
      MinHashDedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id",
          "text", blockCol = "source", k = 3, threshold = 0.3)
        .orderBy("id_a", "id_b")),

    // ---- D10: blocklist dedup — an ANTI similarity join ("drop every doc
    // within Hamming 3 of a denylisted fingerprint"), written naively and
    // rewritten by HammingJoinRewrite's semi/anti path into distinct-code
    // chunk matching + an equality anti join -----------------------------
    "d10_blocklist_dedup" -> ((s, dir) => {
      val sk = SimHash.sketch(t(s, dir, "documents"), "doc_id", "text")
        .cache()
      val blocklist = sk.filter(col("doc_id") % 20 === 0)
        .select(col("simhash").as("block_code"))
      sk.filter(col("doc_id") % 20 =!= 0)
        .join(blocklist,
          SimHash.hammingLE(col("simhash"), col("block_code"), 3),
          "left_anti")
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // ---- D9: incremental dedup — today's batch admitted against the
    // deduped corpus; corpus contributes only its (pre-computable) band
    // table, nothing corpus×corpus recomputes --------------------------
    "d9_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      MinHashDedup.incrementalNearDuplicates(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", k = 3, m = 16, nBands = 4, threshold = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // ---- D11: benchmark decontamination — exact k-gram overlap against
    // the (broadcast) eval-set gram vocabulary; bench side = doc_id%25==0.
    "d11_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.decontaminate(
          docs.filter(col("doc_id") % 25 =!= 0),
          docs.filter(col("doc_id") % 25 === 0),
          "doc_id", "text", k = 4)
        .orderBy("doc_id")
    }),

    // ---- D12: paragraph-level dedup — global first-wins over fixed
    // 8-token segments, documents reassembled from the survivors ---------
    "d12_paragraph_dedup" -> ((s, dir) =>
      Curation.paragraphDedup(t(s, dir, "documents"), "doc_id", "text",
          segWords = 8)
        .orderBy("doc_id")),

    // ---- D13: SemDeDup — coarse IVF-style clustering, exact cosine only
    // within a cell, one keeper per semantic-duplicate group -------------
    // ---- N12: kNN-graph construction — per-vector top-k neighbor lists
    // from the cell-bucketed join (both directions of each pair rank);
    // the SemDeDup precursor artifact and graph-ANN index input ----------
    "n12_knn_graph" -> ((s, dir) =>
      Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 3, nCells = 16)
        .orderBy("vec_id", "rank")),

    // ---- N13: filtered vector search — metadata predicate applied
    // BEFORE scoring (exact recall over the qualifying set; post-filtering
    // a fixed-k ANN result starves under selective predicates, and the
    // predicate prunes at the parquet scan) -------------------------------
    "n13_ann_filtered" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.filteredTopK(emb, emb.filter(col("vec_id") < 8),
          col("label") % 2 === 0, "vec_id", "embedding", k = 5)
        .orderBy("q_id", "rank")
    }),

    // ---- N14: RANGE search (FAISS range_search semantics) — every
    // candidate within the cosine radius, not a fixed k; broadcast query
    // side keeps the candidate scan map-only at any corpus size ----------
    "n14_range_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.rangeSearch(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", threshold = 0.3)
        .orderBy("q_id", "c_id")
    }),

    // ---- N15: range-search recall audit — the LSH-bucketed range path
    // (per-query cost = bucket occupancy, the scale route when the query
    // side is large) measured in-engine against the exact n14 result;
    // refinement is exact so the approximate result is a subset and the
    // audit reduces to "which true pairs shared a bucket" ---------------
    "n15_range_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 8)
      val exact = Similarity.rangeSearch(emb, qs, "vec_id", "embedding",
          threshold = 0.3)
        .select(col("q_id"), col("c_id"))
      val approx = Similarity.lshRangeSearch(emb, qs, "vec_id", "embedding",
          threshold = 0.3, nPlanes = 4)
        .select(col("q_id").as("a_q"), col("c_id").as("a_c"),
          lit(1).as("hit"))
      exact.join(approx,
          col("q_id") === col("a_q") && col("c_id") === col("a_c"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_hit"))
        .withColumn("recall",
          col("n_hit").cast("double") / col("n_true"))
        .orderBy("q_id")
    }),

    "d13_semdedup" -> ((s, dir) =>
      // Cells DERIVED from the corpus (∝ N, floor 16) — per-cell refine
      // stays flat as the corpus grows; oracle derives the same count.
      Similarity.semDedupAuto(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.45)
        .orderBy("vec_id")),

    // ---- D14: bloom-prefiltered incremental admission — the corpus ships
    // as a 128 KiB filter, not a key set; bloom-positives verified exactly,
    // so the result equals the plain anti join (oracle: NOT IN) ----------
    "d14_bloom_prefilter" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      ops.Bloom.admitNew(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "text")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // ---- D8: the DECLARATIVE similarity join — written as the naive
    // O(n²) hamming predicate; graft.plans.HammingJoinRewrite re-plans it
    // into the chunked equality join (no nested loop; plan pinned in
    // HammingJoinSpec/PlanSpec). Exact for d <= chunks-1 by pigeonhole ----
    // ---- D22: PREFIX-FILTERED similarity join (AllPairs/PPJoin) — only
    // each set's rarest |s|−⌈t|s|⌉+1 tokens are indexed; the ubiquitous
    // stop-shingle that makes d4's full inverted index quadratic sorts
    // to the suffix and is never indexed at all. Identical matched set
    // to the naive all-pairs join (the lemma moves cost, not answers),
    // corpus-wide — no source blocking needed -----------------------------
    "d22_prefix_filter_join" -> ((s, dir) =>
      MinHashDedup.prefixFilterJaccardPairs(
          t(s, dir, "documents").filter(col("text").isNotNull),
          "doc_id", "text", k = 3, threshold = 0.8)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy("id_a", "id_b")),

    // ---- M9: media DEDUP CLUSTERS — m8's Hamming near-dup pairs closed
    // into connected components (one keeper per visually-identical
    // group): the dedup DECISION layer on top of the pair layer, same
    // composition d6 runs over MinHash pairs --------------------------
    "m9_media_dedup_clusters" -> ((s, dir) => {
      val ph = Multimodal.perceptualHash(
          Multimodal.toMediaTable(
            t(s, dir, "documents").filter(col("text").isNotNull)))
        .filter(col("phash").isNotNull)
        .cache()
      val a = ph.select(col("doc_id").as("id_a"), col("phash").as("ph_a"))
      val b = ph.select(col("doc_id").as("id_b"), col("phash").as("ph_b"))
      val pairs = a.join(b,
          SimHash.hammingLE(col("ph_a"), col("ph_b"), 4) &&
            col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      graft.ops.ConnectedComponents.run(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    }),

    // ---- D21: CONTENT-DEFINED CHUNK dedup (LBFS/FastCDC) — boundaries
    // where the 8-point rolling hash hits h%64==0, so chunk digests
    // survive insertions/shifts that would re-digest every fixed-size
    // block; the cross-doc digest table IS the storage-dedup map. One
    // codegen'd chunking pass, one digest-keyed aggregation ------------
    "d21_cdc_chunks" -> ((s, dir) => {
      val chunks = GraftFunctions.cdcChunks(col("text"))
      t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), explode(chunks).as("c"))
        .select(col("doc_id"), col("c.digest").as("digest"))
        .groupBy("digest")
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_occ").desc, col("digest")).limit(100)
    }),

    // ---- M8: MEDIA near-duplicate pairs — the d8 Hamming machinery
    // applied to the m7 PERCEPTUAL hashes: payload pairs whose 56-bit
    // dHash differs in <= 4 bits (re-encoded/resized variants of the
    // same image land within a few bits; unrelated images are ~28 apart).
    // The declarative bit_count predicate is re-planned by
    // HammingJoinRewrite into the pigeonhole chunk-equality join.
    // Radius matters at scale: r=4 → 5 chunks of ~11 bits (2048-value
    // alphabet); r=8 would force 9 chunks of 7 bits (128 values) whose
    // buckets go quadratic — measured 133 s vs 3.9 s at 10× for the
    // IDENTICAL matched set (the d5 parameter lesson, Hamming edition) --
    "m8_media_neardup" -> ((s, dir) => {
      val ph = Multimodal.perceptualHash(
          Multimodal.toMediaTable(
            t(s, dir, "documents").filter(col("text").isNotNull)))
        .filter(col("phash").isNotNull)
        .cache()
      val a = ph.select(col("doc_id").as("id_a"), col("phash").as("ph_a"))
      val b = ph.select(col("doc_id").as("id_b"), col("phash").as("ph_b"))
      a.join(b,
          SimHash.hammingLE(col("ph_a"), col("ph_b"), 4) &&
            col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("long")
            .as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    "d8_auto_hamming_join" -> ((s, dir) => {
      val sk = SimHash.sketch(t(s, dir, "documents"), "doc_id", "text")
        .cache()
      val a = sk.select(col("doc_id").as("id_a"), col("simhash").as("sim_a"))
      val b = sk.select(col("doc_id").as("id_b"), col("simhash").as("sim_b"))
      a.join(b,
          SimHash.hammingLE(col("sim_a"), col("sim_b"), 3) &&
            col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long")
            .as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    "d5_embed_neardup" -> ((s, dir) =>
      // Plane count DERIVED from the corpus (buckets ∝ N, occupancy ~32) and
      // hot buckets capped — the gate runs the production-scale plan, not a
      // pinned small-corpus parameterization (the round-4 regression).
      Similarity.embeddingNearDuplicatesAuto(t(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.45)
        .orderBy("id_a", "id_b")),

    // ---- T12: n-gram CONTAINMENT — asymmetric subset-duplication
    // detector (|A∩B|/|A| from either side), same inverted-index join ----
    "t12_containment" -> ((s, dir) =>
      MinHashDedup.ngramContainmentPairs(t(s, dir, "documents"), "doc_id",
          "text", blockCol = "source", k = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")),

    // ---- D7: OR-amplified near-dup — two independent LSH tables (disjoint
    // plane slices), candidates unioned + distinct'd before the one exact
    // refine per pair; recall gain over d5 pinned in OpsSpec --------------
    "d7_lsh_ensemble" -> ((s, dir) =>
      // Derived per-table planes (clamped to MaxPlanes/nTables) + bucket cap.
      Similarity.embeddingNearDuplicatesEnsembleAuto(t(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.45, nTables = 2)
        .orderBy("id_a", "id_b")),

    // ---- Similarity search (ANN) ----------------------------------------
    "n1_ann_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5)
        .orderBy("q_id", "rank")
    }),

    "n2_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, nPlanes = 4)
        .orderBy("q_id", "rank")
    }),

    // ---- N16: maximum-inner-product top-k (two-tower retrieval order —
    // magnitude matters, cosine is wrong): ranked by the exact fixed-
    // point dot, broadcast query side, map-only candidate scan. The
    // norm-augmentation reduction to cosine (the bucketed-index bridge)
    // is spec-pinned in Round6OpsSpec --------------------------------------
    "n16_mips" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.mipsTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5)
        .orderBy("q_id", "rank")
    }),

    "n3_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, nCells = 16, nProbe = 2)
        .orderBy("q_id", "rank")
    }),

    // ---- N22: PERSISTED IVF index — build once, write the cell and
    // centroid tables to parquet, reload in fresh frames, serve n3's
    // exact query from the reloaded index. Shares n3's oracle: the
    // round trip must be lossless (float vectors, long norms — plain
    // columnar data, no engine-private state), which is the property
    // that lets a 100 TB index build run ONCE and every query session
    // just read it -----------------------------------------------------
    "n22_persisted_index" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivf").toString
      val (cells, cents) =
        Similarity.ivfBuildIndex(emb, "vec_id", "embedding", nCells = 16)
      // PARTITIONED BY CELL (r9-verdict item 3): the cell id is the
      // probe key, so a cell-partitioned layout lets every query
      // session partition-prune to its nProbe cells and lets a
      // compaction (n25) rewrite ONLY the cells a tombstone touches.
      // Clustered by cell before the write — without it every one of
      // the 32 write tasks opens a file in every cell directory (the
      // small-files spray); with it each cell lands as one file here,
      // and at 100 TB the same repartition with a row-count-sized
      // partition count yields a few large files per cell.
      // Partition-column values round-trip through directory names, so
      // the reload re-casts to the written LONG type explicitly.
      cells.repartition(col("c_cell"))
        .write.mode("overwrite").partitionBy("c_cell")
        .parquet(tmp + "/cells")
      cents.write.mode("overwrite").parquet(tmp + "/cents")
      Similarity.ivfQueryIndex(
          Similarity.ivfOpenIndex(s, tmp + "/cells"),
          s.read.parquet(tmp + "/cents"),
          emb.filter(col("vec_id") < 8), "vec_id", "embedding",
          k = 5, nProbe = 2)
        .orderBy("q_id", "rank")
    }),

    // ---- N25: INDEX COMPACTION — the other half of n24's delete story
    // (r9-verdict item 3: logical tombstones are correct but unbounded —
    // in a churning corpus the tombstone set and the dead rows in the
    // index grow forever). The persisted cell table is PARTITIONED BY
    // CELL ID, so folding tombstones in rewrites ONLY the cells that
    // contain one: map the tombstones to their cells (a broadcast join,
    // ≤ nCells distinct results), read just those partitions
    // (partition-pruned scan), anti-join the tombstones out, stage, and
    // swap the staged partitions in with a DYNAMIC partition overwrite —
    // untouched cells' files are never read or written. The compacted
    // index then serves n3's query with the tombstone table EMPTY,
    // sharing n24's oracle: compaction must be invisible to reads ------
    "n25_index_compact" -> ((s, dir) => ivfCompactLifecycle(s, dir, 16)),

    // ---- N30: VERSIONED SNAPSHOTS + TIME TRAVEL — the retention
    // upgrade over n25's single-cycle grace window (Iceberg's snapshot
    // model on the parquet-directory index): with
    // spark.graft.indexRetainVersions=2, two successive compactions
    // leave the pristine v1, the once-compacted v2, and the live v3
    // ALL fully readable — ivfOpenIndexAt(v) pins any retained
    // version's exact file set, no locks, no replay. The gate reads
    // the MEMBERSHIP of all three snapshots; the oracle replays the
    // two tombstone predicates over the corpus — time travel must
    // reproduce each version's content exactly, which is codebook-
    // independent (membership is rows-minus-tombstones regardless of
    // cell assignment). At 100 TB: retention costs only the retained
    // versions' replaced files (delta-sized per compaction), and a
    // pinned reader — a long analytics query, a serving replica
    // mid-swap — can never lose a file inside the window, however many
    // maintenance ops run meanwhile ----------------------------------
    "n30_index_time_travel" -> ((s, dir) => {
      val prevRetain = s.conf.getOption(Similarity.RetainVersionsConf)
      s.conf.set(Similarity.RetainVersionsConf, "2")
      try {
        val emb = t(s, dir, "embeddings")
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_ivf_tt").toString
        val (cells, _) =
          Similarity.ivfBuildIndex(emb, "vec_id", "embedding", nCells = 16)
        cells.repartition(col("c_cell"))
          .write.mode("overwrite").partitionBy("c_cell")
          .parquet(tmp + "/cells")
        // v1 = the bootstrap snapshot of the pristine index; each
        // compaction commits the next version
        Similarity.ivfCompact(s, tmp + "/cells",
          emb.filter(col("vec_id") % 7 === 3)
            .select(col("vec_id").as("t_id")),
          "t_id", tmp + "/stage1")
        Similarity.ivfCompact(s, tmp + "/cells",
          emb.filter(col("vec_id") % 5 === 1)
            .select(col("vec_id").as("t_id")),
          "t_id", tmp + "/stage2")
        def snap(tag: String, df: DataFrame): DataFrame =
          df.select(lit(tag).as("snap"), col("c_id"))
        snap("v1", Similarity.ivfOpenIndexAt(s, tmp + "/cells", 1L))
          .unionByName(
            snap("v2", Similarity.ivfOpenIndexAt(s, tmp + "/cells", 2L)))
          .unionByName(
            snap("v3", Similarity.ivfOpenIndex(s, tmp + "/cells")))
          .orderBy("snap", "c_id")
      } finally prevRetain match {
        case Some(v) => s.conf.set(Similarity.RetainVersionsConf, v)
        case None => s.conf.unset(Similarity.RetainVersionsConf)
      }
    }),

    // ---- N24: INDEX DELETIONS — the remaining lifecycle leg after
    // build (n3), persist (n22), and refresh-with-inserts (n23): serve
    // a persisted index with a TOMBSTONE TABLE of deleted ids applied
    // as a left-anti join at query time — no index rewrite (logical
    // delete; physical compaction is n23's refresh shape). Tombstones
    // are chosen disjoint from the codebook (deleting a codebook
    // vector is a re-train, not a delete) and from the query set, and
    // the oracle replays the same exclusion inside n3's CTE pipeline.
    // At 100 TB the anti join is a broadcast of the tombstone set —
    // deletes cost nothing until compaction --------------------------
    "n24_index_delete" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivf_del").toString
      val centIds = emb
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(16).select("vec_id").collect().map(_.getLong(0)).toSeq
      val (cells, cents) =
        Similarity.ivfBuildIndex(emb, "vec_id", "embedding", nCells = 16)
      cells.write.mode("overwrite").parquet(tmp + "/cells")
      cents.write.mode("overwrite").parquet(tmp + "/cents")
      val tombs = emb
        .filter(col("vec_id") % 7 === 3 && col("vec_id") >= 8 &&
          !col("vec_id").isin(centIds: _*))
        .select(col("vec_id").as("t_id"))
      val live = s.read.parquet(tmp + "/cells")
        .join(broadcast(tombs), col("c_id") === col("t_id"), "left_anti")
      Similarity.ivfQueryIndex(live, s.read.parquet(tmp + "/cents"),
          emb.filter(col("vec_id") < 8), "vec_id", "embedding",
          k = 5, nProbe = 2)
        .orderBy("q_id", "rank")
    }),

    // ---- N23: PERSISTED-INDEX REFRESH — the production loop n21 and
    // n22 gate separately, composed (r8-verdict item 7): build from the
    // base corpus and persist (n22's path), then REFRESH — reload the
    // parquet index, assign ONLY the delta batch against the frozen
    // codebook (n21's maintenance path, via Similarity.ivfAssignDelta —
    // a map-only scan of the delta, never the base), append, persist —
    // and serve n3's query from the refreshed index. The delta is chosen
    // disjoint from the full corpus's hash-order codebook, so the frozen-
    // codebook refresh is EXACTLY a full rebuild and the gate shares
    // n3's oracle verbatim: the equivalence that makes IVF maintenance
    // incremental at 100 TB is proved end-to-end through parquet --------
    "n23_index_refresh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivf_refresh").toString
      // the full corpus's 16 codebook ids (bounded nCells-row scalar
      // read, same budget class as the other one-row reads): the delta
      // must not remove a codebook vector from the base build
      val centIds = emb
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(16).select("vec_id").collect().map(_.getLong(0)).toSeq
      val isDelta = col("vec_id") % 10 === 0 &&
        !col("vec_id").isin(centIds: _*)
      // phase 1 — base build, persisted
      val (cells0, cents0) = Similarity.ivfBuildIndex(
        emb.filter(!isDelta), "vec_id", "embedding", nCells = 16)
      cells0.write.mode("overwrite").parquet(tmp + "/cells")
      cents0.write.mode("overwrite").parquet(tmp + "/cents")
      // phase 2 — refresh: reload, delta-only assignment, append, persist
      val cents = s.read.parquet(tmp + "/cents")
      s.read.parquet(tmp + "/cells")
        .unionByName(Similarity.ivfAssignDelta(
          emb.filter(isDelta), cents, "vec_id", "embedding"))
        .write.mode("overwrite").parquet(tmp + "/cells_refreshed")
      // phase 3 — serve n3's exact query from the refreshed index
      Similarity.ivfQueryIndex(
          s.read.parquet(tmp + "/cells_refreshed"), cents,
          emb.filter(col("vec_id") < 8), "vec_id", "embedding",
          k = 5, nProbe = 2)
        .orderBy("q_id", "rank")
    }),

    // ---- N27: PARTITION-PRUNED SERVING — the read-path payoff of the
    // cell-partitioned layout n22 writes and n25 compacts: the query
    // batch's probed cells are collected (bounded ≤ |queries|·nProbe)
    // and pushed into the cell scan's PartitionFilters, so serving
    // OPENS only the probed cells' files. n3/n22 already score only
    // probed cells but still read the whole index to find them; at
    // 100 TB this is the difference between a query batch costing
    // O(probed cells) and O(index). Shares n3's oracle: pruning only
    // removes rows the probe join could never match ------------------
    "n27_index_serve_pruned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivf_pruned").toString
      val (cells, cents) =
        Similarity.ivfBuildIndex(emb, "vec_id", "embedding", nCells = 16)
      cells.repartition(col("c_cell"))
        .write.mode("overwrite").partitionBy("c_cell")
        .parquet(tmp + "/cells")
      cents.write.mode("overwrite").parquet(tmp + "/cents")
      Similarity.ivfQueryIndexPruned(
          Similarity.ivfOpenIndex(s, tmp + "/cells"),
          s.read.parquet(tmp + "/cents"),
          emb.filter(col("vec_id") < 8), "vec_id", "embedding",
          k = 5, nProbe = 2)
        .orderBy("q_id", "rank")
    }),

    // ---- N26: COMPACTION-SCHEDULING AUDIT — n19's occupancy sibling
    // for the delete story: per cell, live rows, tombstoned rows, dead
    // fraction in basis points, and the >= 5% compaction verdict. The
    // operational readout between n25 compactions: rewriting a cell
    // that is 0.1% dead reclaims nothing for a full rewrite's cost, so
    // production compacts only the cells THIS table flags (the
    // Lucene/RocksDB dead-ratio discipline). One broadcast left join +
    // one nCells-row aggregation — auditing the index costs one scan --
    "n26_compaction_audit" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centIds = emb
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(16).select("vec_id").collect().map(_.getLong(0)).toSeq
      val (cells, _) =
        Similarity.ivfBuildIndex(emb, "vec_id", "embedding", nCells = 16)
      val tombs = emb
        .filter(col("vec_id") % 7 === 3 && col("vec_id") >= 8 &&
          !col("vec_id").isin(centIds: _*))
        .select(col("vec_id").as("t_id"))
      Similarity.ivfDeadFraction(cells, tombs, "t_id",
          thresholdBp = 500L)
        .orderBy("cell")
    }),

    // ---- N4: multi-probe LSH — recall repaired by probing the 1-bit-flip
    // neighbour buckets on the query side only; corpus layout unchanged ----
    "n4_ann_multiprobe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopKMultiProbe(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, nPlanes = 4)
        .orderBy("q_id", "rank")
    }),

    // ---- N5: per-class embedding centroids — exact fixed-point sums in
    // long format (the transpose never materializes; partial agg absorbs
    // the d× explode) ------------------------------------------------------
    "n5_class_centroids" -> ((s, dir) =>
      Similarity.groupCentroids(
          t(s, dir, "embeddings")
            .select(col("label").cast("long").as("label"), col("embedding")),
          "label", "embedding")
        .orderBy("label", "dim")),

    // ---- N6: one distributed k-means (Lloyd) iteration — n3's hash-order
    // seed + nearest-cell assignment, then n5's centroid-mean shape -------
    "n6_kmeans_iter" -> ((s, dir) =>
      Similarity.kmeansStep(t(s, dir, "embeddings"),
          "vec_id", "embedding", nCells = 16)
        .orderBy("cent_id", "dim")),

    // ---- N7: int8-quantized ANN — 4× smaller index, integer dots,
    // per-pair rescale by the two scales --------------------------------
    "n7_ann_quantized" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5)
        .orderBy("q_id", "rank")
    }),

    // ---- N17: two-stage retrieval CASCADE — int8 coarse shortlist
    // (memory-bound scan, 4× less traffic) then exact float rerank of
    // the shortlist only; the serving shape every production ANN stack
    // runs. Float table touched for |q|·coarseK rows, not the corpus ---
    "n17_cascade_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.cascadeTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, coarseK = 20)
        .orderBy("q_id", "rank")
    }),

    // ---- N9: product quantization — 2-byte codes instead of 256-byte
    // vectors; queries score candidates from a broadcast integer LUT
    // without touching their floats (asymmetric distance) ----------------
    "n9_ann_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, dims = 64, mSub = 4, nCodes = 16)
        .orderBy("q_id", "rank")
    }),

    // ---- N10: IVF-PQ — inverted lists × PQ codes (the production ANN
    // layout): probe nProbe cells, ADC-score only their 2-byte codes -----
    // ---- N11: ANN quality observability — recall@5 of the LSH index
    // against the exact answer, per query: the metric a production ANN
    // deployment monitors to know when to re-tune nPlanes/nProbe. Both
    // sides are engine queries; the gate re-derives the same number in
    // SQL, so the MEASUREMENT itself is oracle-checked. ------------------
    // ---- N18: the nprobe→recall OPERATING CURVE — how a production
    // deployment actually picks nprobe: one query computes recall vs
    // the exact truth at nprobe ∈ {1,2,4}, integer basis points. The
    // three probe runs share the centroid table and assignment; spec
    // pins monotonicity (more probes never lose recall) ------------------
    "n18_recall_curve" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(emb, qs, "vec_id",
          "embedding", k = 5)
        .select(col("q_id"), col("c_id"))
      val curves = Seq(1, 2, 4).map { np =>
        Similarity.ivfTopK(emb, qs, "vec_id", "embedding", k = 5,
            nCells = 16, nProbe = np)
          .select(lit(np.toLong).as("nprobe"), col("q_id").as("a_q"),
            col("c_id").as("a_c"))
      }.reduce(_ unionByName _)
      exact.join(curves,
          col("q_id") === col("a_q") && col("c_id") === col("a_c"))
        .groupBy("nprobe")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_truth"))))
        .withColumn("recall_bp", expr("n_hits * 10000L div n_truth"))
        .orderBy("nprobe")
    }),

    // ---- N19: IVF OCCUPANCY audit — per-cell load vs perfect balance
    // (basis points; empty cells emitted): probe cost IS occupancy, so
    // this is the index-health number that triggers a centroid re-train.
    // Map-only assignment + one nCells-row aggregation -------------------
    "n19_ivf_occupancy" -> ((s, dir) =>
      Similarity.ivfOccupancy(t(s, dir, "embeddings"), "vec_id",
          "embedding", nCells = 16)
        .orderBy("cent_id")),

    // ---- N21: incremental INDEX MAINTENANCE — the IVF refresh path: a
    // delta batch is assigned against the FROZEN centroid codebook (the
    // property that makes IVF maintenance incremental at all — no
    // retrain, refresh cost scans ONLY the delta), and the query proves
    // the invariant in-engine: per-cell counts of base-assign ∪
    // delta-assign equal the full rebuild's, cell for cell -------------
    "n21_incremental_index" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 10 =!= 0)
      val delta = emb.filter(col("vec_id") % 10 === 0)
      val cents = base
        .select(col("vec_id").as("cent_id"),
          col("embedding").as("cent_vec"),
          Similarity.normFp(col("embedding")).as("cent_norm"))
        .orderBy(md5(col("cent_id").cast("string")), col("cent_id"))
        .limit(16)
      def assign(df: org.apache.spark.sql.DataFrame) = {
        val w = Window.partitionBy("v_id")
          .orderBy(col("__cos").desc, col("cent_id"))
        df.select(col("vec_id").as("v_id"),
            col("embedding").as("v_vec"),
            Similarity.normFp(col("embedding")).as("v_norm"))
          .crossJoin(broadcast(cents))
          .withColumn("__cos", Similarity.cosineFromFp(
            Similarity.dotFp(col("v_vec"), col("cent_vec")),
            col("v_norm"), col("cent_norm")))
          .withColumn("__r", row_number().over(w))
          .filter(col("__r") === 1)
          .select(col("v_id"), col("cent_id"))
      }
      val incr = assign(base).unionByName(assign(delta))
        .groupBy("cent_id").agg(count(lit(1)).as("n_incr"))
      val full = assign(base.unionByName(delta))
        .groupBy("cent_id").agg(count(lit(1)).as("n_full"))
      incr.join(full, Seq("cent_id"), "full_outer")
        .select(col("cent_id"),
          coalesce(col("n_incr"), lit(0L)).as("n_incr"),
          coalesce(col("n_full"), lit(0L)).as("n_full"))
        .withColumn("matches_rebuild", col("n_incr") === col("n_full"))
        .orderBy("cent_id")
    }),

    // ---- N20: GRAPH-ANN beam search — greedy best-first over the n12
    // kNN graph (HNSW layer-0 shape): hash-order entry point, per round
    // ONE frontier⋈edges join + anti-join dedup + beam window; per-query
    // cost O(rounds·beam·graphK), independent of corpus size. Cell count
    // DERIVED from the corpus (graph construction is N²/nCells — the
    // d5/d13 parameter rule; 40.3 s at fixed 16 vs 9.6 s derived on the
    // 10× corpus), so the gate runs the production plan -----------------
    "n20_graph_beam_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.graphBeamSearchAuto(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, graphK = 4, beam = 4, rounds = 2)
        .orderBy("q_id", "rank")
    }),

    "n11_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding",
          k = 5)
        .select(col("q_id"), col("c_id"))
      val approx = Similarity.lshTopK(emb, qs, "vec_id", "embedding",
          k = 5, nPlanes = 4)
        .select(col("q_id").as("a_q"), col("c_id").as("a_c"),
          lit(1).as("hit"))
      exact.join(approx,
          col("q_id") === col("a_q") && col("c_id") === col("a_c"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("hit")).as("n_hit"))
        .withColumn("recall", col("n_hit").cast("double") / 5.0)
        .orderBy("q_id")
    }),

    "n10_ann_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, nCells = 16, nProbe = 4,
          dims = 64, mSub = 4, nCodes = 16)
        .orderBy("q_id", "rank")
    }),

    // ---- N28: PERSISTED IVF-PQ INDEX — what a 100 TB deployment
    // actually writes to disk: n22 persists FLOAT vectors (the
    // exception); the production artifact is the COMPRESSED index —
    // (c_id, m, code) small-int rows (~128× smaller than the vectors),
    // cell-partitioned, plus the broadcast-sized centroid and codebook
    // tables. Build once, parquet round trip, serve n10's exact query
    // from the reloaded codes — the trip must be lossless, so the gate
    // shares n10's oracle verbatim ------------------------------------
    "n28_persisted_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivfpq").toString
      val (codes, cents, codebook) = Similarity.ivfPqBuildIndex(
        emb, "vec_id", "embedding", nCells = 16, dims = 64, mSub = 4,
        nCodes = 16)
      codes.repartition(col("c_cell"))
        .write.mode("overwrite").partitionBy("c_cell")
        .parquet(tmp + "/codes")
      cents.write.mode("overwrite").parquet(tmp + "/cents")
      codebook.write.mode("overwrite").parquet(tmp + "/codebook")
      Similarity.ivfPqQueryIndex(
          s.read.parquet(tmp + "/codes")
            .withColumn("c_cell", col("c_cell").cast("long")),
          s.read.parquet(tmp + "/cents"),
          s.read.parquet(tmp + "/codebook"),
          emb.filter(col("vec_id") < 8), "vec_id", "embedding",
          k = 5, nProbe = 4, dims = 64, mSub = 4)
        .orderBy("q_id", "rank")
    }),

    // ---- N8: TWO Lloyd iterations — n6's step, then densify → reassign →
    // re-mean; inertia non-increase pinned in KmeansSpec ------------------
    "n8_kmeans_converge" -> ((s, dir) =>
      Similarity.kmeansIterations(t(s, dir, "embeddings"),
          "vec_id", "embedding", nCells = 16, iters = 2)
        .orderBy("cent_id", "dim")),

    // ---- Multimodal columns ---------------------------------------------
    // M1 carries REAL header decode: the corpus text payloads (no magic →
    // NULL dims) unioned with hand-assembled PNG/JPEG/GIF/BMP fixture
    // headers whose dimensions the native MediaDims expression must read
    // back exactly (the oracle pins the hand-computed values).
    "m1_media_meta" -> ((s, dir) =>
      Multimodal.headerMetadata(
          Multimodal.toMediaTable(t(s, dir, "documents"))
            .unionByName(Multimodal.fixtureMedia(s)))
        .orderBy("doc_id")),

    // ---- M2: generic batch feature extraction with the REAL default
    // kernel (r9: StubDecoder retired) — MediaDecoder composes the
    // shipped container decoders (MediaDims images, AudioMeta audio,
    // AudioBlocks PCM sample stats) through the mapPartitions batch
    // contract. Corpus text payloads quarantine to all-NULL features;
    // the image/audio fixtures pin hand-computed dims, stream params,
    // and exact PCM peak/sum-of-squares ----------------------------------
    "m2_media_features" -> ((s, dir) =>
      Multimodal.extractFeatures(s,
          Multimodal.toMediaTable(t(s, dir, "documents"))
            .unionByName(Multimodal.fixtureMedia(s))
            .unionByName(Multimodal.fixtureWavs(s)))
        .toDF().orderBy("doc_id")),

    // ---- M3: REAL GIF frame extraction (r8: stub retired) — the native
    // GifFrames codegen walk over the corpus-as-media union hand-built
    // GIF fixtures: per-frame index/placement/dimensions/GCE delay/local
    // palette, all hand-computable and oracle-pinned; non-GIF corpus
    // payloads decode to NULL and contribute zero rows (the oracle keeps
    // a corpus tripwire clause so a GIF-prefixed text row would flag,
    // not silently pass) -------------------------------------------------
    "m3_frames" -> ((s, dir) =>
      Multimodal.gifFrameTable(
          Multimodal.toMediaTable(t(s, dir, "documents"))
            .unionByName(Multimodal.fixtureGifs(s)))
        .orderBy("doc_id", "frame_idx")),

    // ---- M5: REAL pixel thumbnails (r8: stub retired) — uncompressed
    // 24-bpp BMP payloads box-averaged to a 2x2 RGB grid by the native
    // BmpThumb expression (exact integer means → hash-gateable hex);
    // corpus text payloads and the 8-bpp fixture report NULL and are
    // KEPT (quarantine, not drop) ----------------------------------------
    "m5_thumbnail" -> ((s, dir) =>
      Multimodal.pixelThumbnails(
          Multimodal.toMediaTable(t(s, dir, "documents"))
            .unionByName(Multimodal.fixtureBmps(s)),
          gridW = 2, gridH = 2)
        .orderBy("doc_id")),

    // ---- M10: REAL PNG decode end-to-end — zlib inflate
    // (java.util.zip), all five scanline filters unfiltered, exact
    // box-average grid. The truecolor fixture carries the SAME pixels as
    // m5's BMP fixture behind Sub/Paeth filters, so the two formats'
    // thumbnails must agree byte-for-byte; the RGBA fixture pins
    // alpha-exclusion; palette PNGs refuse to NULL --------------------
    "m10_png_thumbnail" -> ((s, dir) =>
      Multimodal.pngThumbnails(
          Multimodal.toMediaTable(t(s, dir, "documents"))
            .unionByName(Multimodal.fixturePngs(s)),
          gridW = 2, gridH = 2)
        .orderBy("doc_id")),

    // ---- M11: REAL EXIF decode — JPEG APP1 segment walk + TIFF IFD0
    // walk (both byte orders, out-of-line ASCII values): orientation /
    // make / model / capture datetime, the auto-rotate audit an image
    // ingest runs before pixel work. Corpus text and EXIF-less JPEGs
    // report NULLs and are kept --------------------------------------
    "m11_exif" -> ((s, dir) =>
      Multimodal.exifMetadata(
          Multimodal.toMediaTable(t(s, dir, "documents"))
            .unionByName(Multimodal.fixtureExif(s)))
        .orderBy("doc_id")),

    // ---- M13: EXIF GPS SCRUB — the privacy transform for image
    // columns: strip the GPSInfo sub-IFD in place (length-preserving
    // byte surgery), prove by re-parse that location is gone and every
    // other tag survives; non-JPEG rows pass through untouched ----------
    "m13_gps_scrub" -> ((s, dir) =>
      Multimodal.gpsScrubAudit(
          Multimodal.toMediaTable(t(s, dir, "documents"))
            .unionByName(Multimodal.fixtureExif(s))
            .unionByName(Multimodal.fixtureGps(s)))
        .orderBy("doc_id")),

    // ---- M12: REAL PCM sample decode — per-block peak + exact integer
    // sum of squares from the WAV data chunk's actual int16 samples
    // (loudness/clipping audit); the truncated fixture pins the
    // clip-to-available behavior, the FLAC fixture refuses --------------
    "m12_audio_blocks" -> ((s, dir) =>
      Multimodal.audioBlockTable(
          Multimodal.toMediaTable(t(s, dir, "documents"))
            .unionByName(Multimodal.fixtureWavs(s)),
          nBlocks = 4)
        .orderBy("doc_id", "block")),

    // ---- M6: REAL audio header decode — WAV chunk walk, FLAC
    // STREAMINFO, MP3 frame header as a codegen expression; corpus text
    // payloads (no magic → NULL row) unioned with hand-assembled fixture
    // headers whose parameters the oracle pins ---------------------------
    "m6_audio_meta" -> ((s, dir) =>
      Multimodal.audioMetadata(
          Multimodal.toMediaTable(t(s, dir, "documents"))
            .unionByName(Multimodal.fixtureAudio(s)))
        .orderBy("doc_id")),

    // ---- M7: perceptual dHash fingerprints — 9×7 grid averages over the
    // payload's code points, 56 neighbor-compare bits (codegen, map-only);
    // the hash feeds the same pigeonhole Hamming join as SimHash (d8) ----
    "m7_phash" -> ((s, dir) =>
      Multimodal.perceptualHash(
          Multimodal.toMediaTable(
            t(s, dir, "documents").filter(col("text").isNotNull)))
        .orderBy("doc_id")),

    // ---- C3: context-window chunking (50-token windows, 10 overlap).
    // Null texts are filtered on BOTH sides — the engines' null-propagation
    // through slice/concat paths differs, so neither should see them ------
    "c3_token_chunks" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), explode(TextAnalysis.tokenChunksFused(
          col("text"), chunkSize = 50, overlap = 10)).as("c"))
        .select(col("doc_id"), col("c.start").as("start"),
          col("c.n_tokens").as("n_tokens"),
          md5(col("c.chunk")).as("chunk_hash"))
        .orderBy("doc_id", "start")),

    // ---- C1: composite corpus-cleaning pipeline -------------------------
    "c1_corpus_clean" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val keepers = MinHashDedup.exactDuplicates(docs, "doc_id", "text")
        .select(col("keeper_id").as("doc_id"))
      docs.join(keepers, Seq("doc_id"), "left_semi")
        .filter(TextAnalysis.tokenCount(col("text")).between(20, 200))
        .filter(TextAnalysis.qualityScore(col("text")) >= 0.5)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // ---- C5: the full quality-filter pipeline in ONE pass — length band,
    // repetition (t11), heuristic quality (t2), language consistency (t3):
    // every predicate is a codegen projection over the same scan, so the
    // whole Gopher-style filter battery is one map-only pass at any scale -
    "c5_quality_pipeline" -> ((s, dir) =>
      // The inline forms repeat the tokenizer subtree across predicates,
      // but whole-stage codegen's subexpression elimination already runs
      // it once per row — measured FASTER than materializing the token
      // array as a column (10×: 4.1 s inline vs 5.3 s materialized).
      t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
        .filter(col("n_tokens").between(20, 500))
        .withColumn("dup_frac",
          lit(1.0) - size(TextAnalysis.wordShingles(col("text"), 3))
            .cast("double") / (col("n_tokens") - 2).cast("double"))
        .filter(col("dup_frac") <= 0.2)
        .filter(TextAnalysis.qualityScore(col("text")) >= 0.5)
        .filter(TextAnalysis.langId(col("text")) === col("lang"))
        .select(col("doc_id"), col("lang"), col("n_tokens"))
        .orderBy("doc_id")),

    // ---- C6: sequence packing — prefix-sum binning into 512-token
    // training sequences, sharded by source (parallel by construction) ---
    "c6_pack_sequences" -> ((s, dir) =>
      Curation.packSequences(t(s, dir, "documents"), "source", "doc_id",
          "text", budget = 512)
        .orderBy("shard", "doc_id")),

    // ---- C8: packed-corpus materialization — the c6 assignment turned
    // into the actual training artifact: one row per (shard, sequence)
    // with documents concatenated in packing order and the real token
    // total. collect_list is bounded by the 512-token budget's doc count
    // per sequence, never by corpus size. --------------------------------
    "c8_packed_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.packSequences(docs, "source", "doc_id", "text", budget = 512)
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .groupBy(col("shard"), col("seq_no"))
        .agg(
          concat_ws(" ",
            transform(array_sort(collect_list(struct(col("doc_id"),
              col("text")))), e => e("text"))).as("seq_text"),
          sum(col("n_tokens")).as("n_tokens"),
          count(lit(1)).as("n_docs"))
        .orderBy("shard", "seq_no")
    }),

    // ---- T13: per-domain quota — longest `cap` docs per source ----------
    "t13_domain_cap" -> ((s, dir) =>
      Curation.domainCap(t(s, dir, "documents"), "source", "n_chars",
          "doc_id", cap = 10)
        .orderBy("source", "rank")),

    // ---- B2: Z-order layout key — rows clustered by z_order(part, supp)
    // give every consecutive row group a bounded range of BOTH keys, so
    // parquet min/max stats prune 2-D predicates (the write-side twin of
    // b1's bucketing; ZOrderSpec pins the locality bound) ----------------
    "b2_zorder_layout" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          expr("z_order(l_partkey, l_suppkey)").as("z"))
        .orderBy("z", "l_orderkey", "l_linenumber")
        .limit(100)),

    // ---- B3: partition-pruned layout — the table is WRITTEN partitioned
    // by event date, so a date predicate prunes at PLANNING time (directory
    // listing), before a single row-group footer is read: the third member
    // of the layout family (b1 bucketing, b2 z-order). PlanSpec pins that
    // the pruned scan reads one partition. ---------------------------------
    "b3_partition_pruning" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_part").toString + "/ev"
      t(s, dir, "events")
        .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
        .write.mode("overwrite").partitionBy("event_date").parquet(tmp)
      s.read.parquet(tmp)
        .filter(col("event_date") === "2024-01-15")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .orderBy("event_type")
    }),

    // ---- J9: DYNAMIC partition pruning — b3's static prune needs the
    // literal in the query; here the prune key arrives through a JOIN
    // (dim filtered on an attribute), so only runtime subquery pruning
    // saves the fact scan. This is the star-schema shape where DPP is
    // worth ~selectivity× the whole 100 TB fact read; PlanSpec pins
    // `dynamicpruning` in the partition filters. -------------------------
    "j9_dpp" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_dpp").toString + "/ev"
      t(s, dir, "events")
        .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
        .write.mode("overwrite").partitionBy("event_date").parquet(tmp)
      val dim = s.read.parquet(tmp)
        .select("event_date").distinct()
        .withColumn("day", dayofmonth(to_date(col("event_date"))))
      s.read.parquet(tmp)
        .join(broadcast(dim.filter(col("day") % 10 === 3)), "event_date")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .orderBy("event_type")
    }),

    // ---- C7: the END-TO-END curation pipeline — every stage a gated
    // operator, composed in production order: quality gate (length band +
    // repetition) → paragraph-level dedup with reassembly (d12) →
    // benchmark decontamination on the CLEANED text (d11) → per-domain
    // quota on cleaned length (t13) → token-budget packing (c6). One
    // declarative plan end to end: Catalyst fuses the projections, and
    // every shuffle is one of the stage keys (segment, doc, gram, domain,
    // shard) — nothing global. --------------------------------------------
    "c7_curation_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 25 === 0)
      val qualified = docs
        .filter(col("doc_id") % 25 =!= 0 && col("text").isNotNull)
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
        .filter(col("n_tokens").between(20, 500))
        .withColumn("dup_frac",
          lit(1.0) - size(TextAnalysis.wordShingles(col("text"), 3))
            .cast("double") / (col("n_tokens") - 2).cast("double"))
        .filter(col("dup_frac") <= 0.2)
        .select("doc_id", "source", "text")
      // Two caches pin the pipeline's fan-out points (guide §2.4):
      // `cleaned` feeds both the decontamination gram explode and the
      // anti-join base, `decontaminated` feeds both the domain-cap leg
      // and the packing join — uncached, the whole upstream (corpus
      // scan + shingle filters + paragraphDedup's two windows) re-ran
      // once per leg, ~4 corpus scans per query. At 100 TB persist the
      // two frames to storage between stages.
      val cleaned = Curation.paragraphDedup(qualified, "doc_id", "text",
          segWords = 8)
        .join(qualified.select("doc_id", "source"), Seq("doc_id"))
        .cache()
      val contaminated = Curation.decontaminate(
          cleaned.select(col("doc_id"), col("clean_text")),
          bench.select(col("doc_id"), col("text").as("clean_text")),
          "doc_id", "clean_text", k = 4)
        .select("doc_id")
      val decontaminated = cleaned
        .join(contaminated, Seq("doc_id"), "left_anti")
        .withColumn("n_chars_clean", length(col("clean_text")))
        .cache()
      val capped = Curation.domainCap(
          decontaminated, "source", "n_chars_clean", "doc_id", cap = 10)
        .select("doc_id")
      Curation.packSequences(
          decontaminated.join(capped, Seq("doc_id"), "left_semi"),
          "source", "doc_id", "clean_text", budget = 512)
        .orderBy("shard", "doc_id")
    }),

    // ---- C2: near-dup corpus dedup (pairs → canonical keepers) ----------
    "c2_neardup_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = MinHashDedup.nearDuplicates(docs, "doc_id", "text",
        k = 3, m = 16, nBands = 4, threshold = 0.5)
      // canonical-keeper policy: drop the higher id of every pair (id_a <
      // id_b by construction) — one anti-join; transitive chains keep their
      // minimum without iterative connected components.
      val losers = pairs.select(col("id_b").as("doc_id")).distinct()
      docs.join(losers, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang")
    }),

    // ---- D6: duplicate CLUSTERS — LSH pairs closed under transitivity
    // via distributed connected components (min-label propagation); the
    // exact form of the keeper policy c2 approximates -------------------
    "d6_dup_clusters" -> ((s, dir) => {
      val pairs = MinHashDedup.nearDuplicates(t(s, dir, "documents"),
        "doc_id", "text", k = 3, m = 16, nBands = 4, threshold = 0.5)
      graft.ops.ConnectedComponents.run(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    }),

    // ---- B1: bucketed co-located join — the shuffle paid once at write
    // time; the join plan has no Exchange and no Sort (BucketSpec asserts).
    // Result-invisible physical strategy, so it shares k1's plain mirror.
    "b1_bucketed_join" -> ((s, dir) =>
      graft.ops.Bucketing.priorityRevenueBucketed(s, dir)),

    // ---- C4: EXACT cluster-based corpus dedup — c2's one-pass keeper
    // policy upgraded through connected components: drop every non-minimum
    // member of each duplicate cluster, keep everything else ---------------
    "c4_cluster_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = MinHashDedup.nearDuplicates(docs, "doc_id", "text",
        k = 3, m = 16, nBands = 4, threshold = 0.5)
      val losers = graft.ops.ConnectedComponents
        .run(pairs, "id_a", "id_b")
        .filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang")
    }),

    // ---- C16: QUALITY-AWARE canonical selection — c4 keeps each dup
    // cluster's min-id member (arbitrary); a curation pipeline should
    // keep its BEST member. Per cluster: member count, the max t2
    // quality score, and the canonical id (min id among the max-quality
    // members — fully deterministic, no arg_max nondeterminism). Two
    // hash aggs over the CC output, no windows --------------------------
    "c16_canonical_selection" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      val pairs = MinHashDedup.nearDuplicates(docs, "doc_id", "text",
        k = 3, m = 16, nBands = 4, threshold = 0.5)
      val cc = graft.ops.ConnectedComponents.run(pairs, "id_a", "id_b")
      val scored = docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("q"))
      val members = scored.join(
        cc.select(col("id").as("doc_id"), col("cluster_id")), "doc_id")
      val best = members.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"), max(col("q")).as("best_q"))
      members.join(best, "cluster_id")
        .filter(col("q") === col("best_q"))
        .groupBy("cluster_id", "n_members", "best_q")
        .agg(min(col("doc_id")).as("canonical_id"))
        .orderBy("cluster_id")
    }),

    // ---- P15: one-pass data profiling — per-column null/distinct report
    // (the reference's pre-run sanity SQL, one scan for all columns) ------
    "p15_profile" -> ((s, dir) =>
      graft.ops.Profile.profile(t(s, dir, "documents"),
          Seq("doc_id", "lang", "source", "text"))
        .orderBy("col_name")),

    // ---- P17: constraint audit — the reference's unique-constraint idea
    // (Constraints.php) widened to a data-quality gate a pipeline runs
    // before committing a batch: key uniqueness, referential integrity,
    // and null discipline, each as a set-based violation COUNT (anti
    // joins and partial-aggregated groupBys — the audit of a 100 TB
    // batch is a handful of shuffles, not row-at-a-time checks). ---------
    "p17_constraint_audit" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val ev = t(s, dir, "events")
      val cust = t(s, dir, "customer")
      def one(name: String, d: DataFrame): DataFrame =
        d.select(lit(name).as("constraint_name"),
          col("n").cast("long").as("n_violations"))
      val orphanLines = one("lineitem_orphan_order",
        li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n")))
      val unknownUsers = one("event_user_not_customer",
        ev.join(cust, ev("user_id") === cust("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("n")))
      val dupEvents = one("duplicate_event_id",
        ev.groupBy("event_id").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1)
          .agg(coalesce(sum(col("c") - 1), lit(0L)).as("n")))
      val nullCust = one("order_null_custkey",
        ord.filter(col("o_custkey").isNull).agg(count(lit(1)).as("n")))
      orphanLines.unionByName(unknownUsers)
        .unionByName(dupEvents).unionByName(nullCust)
        .orderBy("constraint_name")
    }),

    // ---- P16: semi-structured extraction — typed JSON field pulled out
    // of a string column with from_json (schema'd, codegen-planned), then
    // a plain aggregate; malformed JSON degrades to null, not an error ----
    "p16_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("k_val",
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k_val")).as("sum_k"),
          min(col("k_val")).as("min_k"),
          max(col("k_val")).as("max_k"))
        .orderBy("event_type")),

    // ---- P20: URL parsing — host/path/query-param extraction with
    // parse_url (codegen'd built-in, no UDF); the oracle computes the
    // expected components from the same source columns, so the parse is
    // checked against construction ground truth. --------------------------
    // ---- D20: URL-canonical dedup — the crawl staple: host case,
    // trailing slash, param order, and utm_* decoration all collapse to
    // one canonical form (regexp-only, map-only projection); first-wins
    // keeper via min-id aggregation on the canonical key ----------------
    "d20_url_dedup" -> ((s, dir) => {
      val withUrl = t(s, dir, "customer").withColumn("url",
        concat(lit("https://"),
          when(col("c_custkey") % 2 === 0, lit("Example.COM"))
            .otherwise(lit("example.com")),
          lit("/cust/"), col("c_custkey") % 500,
          when(col("c_custkey") % 3 === 0, lit("/")).otherwise(lit("")),
          lit("?"),
          when(col("c_custkey") % 2 === 0,
            concat(lit("id="), col("c_custkey") % 500,
              lit("&utm_source=mail&ref=nav")))
            .otherwise(concat(lit("ref=nav&id="),
              col("c_custkey") % 500))))
      graft.ops.UrlNormalize.dedupByCanonical(withUrl, "c_custkey", "url")
        .orderBy("canonical_url")
    }),

    "p20_url_parse" -> ((s, dir) => {
      val withUrl = t(s, dir, "customer").withColumn("url",
        concat(lit("https://"), lower(col("c_mktsegment")),
          lit(".example.com/cust/"), col("c_custkey"),
          lit("?nation="), col("c_nationkey")))
      withUrl.select(col("c_custkey"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY"), lit("nation"))
            .as("nation_param"))
        .orderBy("c_custkey")
    }),

    // ---- E5: OHLC downsampling — per (user, day) bars: first/last by
    // event time (open/close, ties broken on event_id so the bar is
    // total-order deterministic) + min/max/count. Two window functions
    // over ONE sort + one partial-agged groupBy on the same key — the
    // telemetry/finance resample shape; value_cents keeps the money
    // discipline. --------------------------------------------------------
    "e5_ohlc" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
            .as("day"),
          col("ts"), col("event_id"),
          cents(col("value")).as("v_cents"))
      val asc = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      val desc = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts").desc, col("event_id").desc)
      ev.withColumn("rn_a", row_number().over(asc))
        .withColumn("rn_d", row_number().over(desc))
        .groupBy(col("user_id"), col("day"))
        .agg(
          max(when(col("rn_a") === 1, col("v_cents"))).as("open_cents"),
          max(when(col("rn_d") === 1, col("v_cents"))).as("close_cents"),
          min(col("v_cents")).as("low_cents"),
          max(col("v_cents")).as("high_cents"),
          count(lit(1)).as("n"))
        .orderBy("user_id", "day")
    }),

    // ---- M4: media payload dedup — exact dedup of BINARY payloads by
    // content digest (image/audio corpora duplicate at the byte level:
    // mirrors, re-crawls, re-encodes of identical files): one
    // partial-agged shuffle on the 32-byte digest, payload bytes never
    // shuffle. ----------------------------------------------------------
    "m4_payload_dedup" -> ((s, dir) =>
      Multimodal.toMediaTable(t(s, dir, "documents"))
        .select(col("doc_id"), sha2(col("payload"), 256).as("digest"),
          length(col("payload")).cast("long").as("n_bytes"))
        .groupBy(col("digest"), col("n_bytes"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_id"))
        .orderBy("digest")),

    // ---- E6: cohort retention — users grouped by first-active week,
    // counted again at week offsets 0..3: two distinct-aggregations and
    // a broadcast of the (tiny) cohort-size table. The week key comes
    // from date_trunc, so the whole analysis partitions on calendar
    // boundaries — no per-user event ordering anywhere. ------------------
    "e6_retention" -> ((s, dir) => {
      val uw = t(s, dir, "events")
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        .distinct()
      val cohort = uw.groupBy("user_id").agg(min(col("wk")).as("cw"))
      val sizes = cohort.groupBy("cw")
        .agg(count(lit(1)).as("n_cohort"))
      uw.join(cohort, Seq("user_id"))
        .withColumn("k",
          (datediff(col("wk"), col("cw")) / 7).cast("long"))
        .filter(col("k") <= 3)
        .groupBy(col("cw"), col("k"))
        .agg(count(lit(1)).as("n_active"))
        .join(broadcast(sizes), Seq("cw"))
        .select(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
          col("k"), col("n_active"), col("n_cohort"))
        .orderBy("cohort_week", "k")
    }),

    // ---- W5: funnel analysis — deepest strictly-ordered stage
    // (view → click-within-24h → purchase-within-24h) per user, counted
    // by depth. Each stage is a keyed min-aggregate over the PREVIOUS
    // stage's survivors, so the plan is three partial-aggregated shuffles
    // on user_id (AQE reuses the partitioning) — never a per-user event
    // sort. ts is micros TimestampType (Tables.load; the data carries no
    // sub-microsecond components, so the conversion is lossless and the
    // 24 h interval compares identically to the oracle's nanos). ---------
    "w5_funnel" -> ((s, dir) => {
      val step = expr("INTERVAL 24 HOURS")
      val ev = t(s, dir, "events").select("user_id", "event_type", "ts")
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t_view") &&
          col("ts") <= col("t_view") + step)
        .groupBy("user_id").agg(min(col("ts")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("t_click") &&
          col("ts") <= col("t_click") + step)
        .groupBy("user_id").agg(min(col("ts")).as("t_buy"))
      ev.select("user_id").distinct()
        .join(v, Seq("user_id"), "left")
        .join(c.select(col("user_id"), col("t_click")), Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .withColumn("depth",
          when(col("t_buy").isNotNull, 3L)
            .when(col("t_click").isNotNull, 2L)
            .when(col("t_view").isNotNull, 1L)
            .otherwise(0L))
        .groupBy("depth").agg(count(lit(1)).as("n_users"))
        .orderBy("depth")
    }),

    // ---- Streaming --------------------------------------------------------
    "st1_stream_hourly" -> ((s, dir) =>
      StreamOps.hourlyCounts(s, dir,
          queryName = "graft_hourly_" + System.nanoTime())
        .orderBy("hour_str")),

    // ---- ST23: streaming APPROX DISTINCT — HLL sketch state per group,
    // register-merged across micro-batches (order-insensitive, so the
    // estimate equals the batch sketch under any trigger split); state
    // is O(sketch) per key where exact distinct grows with cardinality.
    // a7's envelope gate: exact count + drift boolean -------------------
    "st23_stream_approx_distinct" -> ((s, dir) =>
      StreamOps.streamApproxDistinct(s, dir,
        queryName = "graft_hll_" + System.nanoTime())),

    // ---- ST22: streaming CDC APPLY — j10's change-log materialization
    // as transformWithState: a ValueState holds each key's CURRENT row
    // (O(entities) state, not O(changes)), tombstones drop keys, every
    // batch emits the post-batch snapshot; batch replay is the oracle ---
    "st22_stream_cdc_apply" -> ((s, dir) =>
      StreamOps.cdcApplyBatch(s, dir,
          queryName = "graft_cdc_" + System.nanoTime())
        .orderBy("user_id")),

    // ---- ST20: the custom DSv2 MicroBatchStream — offset-tracked,
    // admission-controlled (ReadLimit.maxRows), drained under
    // Trigger.AvailableNow in 2500-row micro-batches; batch read over
    // the identical domain is the exact replay oracle -------------------
    "st20_custom_stream_source" -> ((s, dir) =>
      StreamOps.seqStreamAgg(s, n = 10000L, parts = 4, batchRows = 2500L,
          queryName = "graft_seqstream_" + System.nanoTime())
        ._1.orderBy("bucket")),

    "st2_sessionize" -> ((s, dir) =>
      StreamOps.sessionizeBatch(s, t(s, dir, "events"), gapSeconds = 86400)
        .toDF().orderBy("user_id")),

    // ---- ST21: event-time windows over the custom DSv2 stream — hourly
    // windows accumulate ACROSS 4 admission-controlled micro-batches
    // (windowed state merges over trigger boundaries); synthetic event
    // time = epoch + id seconds; batch replay is the exact oracle ------
    "st21_stream_windowed_seq" -> ((s, dir) =>
      StreamOps.seqStreamWindowed(s, n = 20000L, parts = 4,
          batchRows = 5000L, epoch = 1704067200L,
          queryName = "graft_seqwin_" + System.nanoTime())
        ._1.orderBy("hour_str")),

    // ---- ST18: streaming transition matrix — ValueState carries each
    // user's LAST event across micro-batches, so boundary-spanning
    // transitions count exactly once; equals the batch lead-window form
    // (e15), which is the oracle --------------------------------------
    "st18_stream_transitions" -> ((s, dir) =>
      StreamOps.transitionsBatch(s, dir,
          queryName = "graft_trans_" + System.nanoTime())
        .orderBy("from_type", "to_type")),

    // ---- ST17: per-(user, day) rate cap through MapState — the quota
    // shape (crawl caps, tenant limits) replayable identically in batch;
    // first 3 events per day admitted in event order, the rest dropped ---
    "st17_rate_cap" -> ((s, dir) =>
      StreamOps.rateCapBatch(s, dir, k = 3, bucketUs = 86400000000L,
          queryName = "graft_cap_" + System.nanoTime())
        .orderBy("event_id")),

    // ---- ST16: chained windowed aggregations — two stateful operators
    // in one streaming query (quarter-hour partials → hourly rollup);
    // the decided prefix (hour end strictly before the final watermark)
    // is what the sink holds, mirrored in the oracle -----------------------
    "st16_chained_windows" -> ((s, dir) =>
      StreamOps.chainedWindowCounts(s, dir,
          queryName = "graft_chain_" + System.nanoTime())
        .orderBy("hour_str")),

    // ---- K1/K2: deterministic skew mitigation through the gate ----------
    // Salting must be result-invisible: the salted plans hash-match the
    // plain SQL the oracle runs.
    "k1_skew_salted_join" -> ((s, dir) => {
      val priorities = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      Skew.saltedJoin(t(s, dir, "lineitem"), priorities, "l_orderkey",
          salt = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_extendedprice"))).as("price_cents"))
        .orderBy("o_orderpriority")
    }),

    "k2_skew_salted_distinct" -> ((s, dir) =>
      // l_returnflag has 3 values — a genuinely hot grouping key; the salt
      // spreads each key's distinct-state over 16 partitions.
      Skew.saltedCountDistinct(t(s, dir, "lineitem"), "l_returnflag",
          "l_partkey", salt = 16)
        .orderBy("l_returnflag")),

    // ---- ST5: streaming exact dedup (watermark-bounded state) -----------
    "st5_streaming_dedup" -> ((s, dir) =>
      StreamOps.streamingDedupCounts(s, dir,
          queryName = "graft_dedup_" + System.nanoTime())
        .orderBy("event_type")),

    // ---- ST6: custom keyed state through the gate (flatMapGroupsWithState
    // emits sessions CLOSED by a later event; each user's open tail session
    // stays in the state store, mirrored by the oracle dropping the last
    // session per user) --------------------------------------------------
    "st6_stateful_sessions" -> ((s, dir) =>
      StreamOps.streamingSessionsBatch(s, dir, gapSeconds = 4 * 3600,
          queryName = "graft_sessions_" + System.nanoTime())
        .orderBy("user_id", "start_us")),

    // ---- X2: range join — attribution windows: clicks within 2 hours
    // after each purchase by the same user, as an equality join on
    // (user, time-bin) + exact filter, never a nested-loop (ops/RangeJoin)
    "x2_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      val twoHours = 7200000000L // micros
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts")) + twoHours).as("end_us"))
      graft.ops.RangeJoin(clicks, purchases, "ts_us", "start_us", "end_us",
          Seq("user_id"), binWidth = twoHours)
        .groupBy("purchase_id")
        .agg(count(lit(1)).as("n_clicks"))
        .orderBy("purchase_id")
    }),

    // ---- X5: interval-OVERLAP join — both sides are intervals (per-user
    // daily view/click activity spans); pairs meet on an equality
    // (user, bin) key and are emitted exactly once at the bin holding the
    // overlap's start, so there is no dedup exchange and no nested loop. --
    // ---- X12: interval-overlap AGGREGATE — x5's banded interval join
    // reduced to the co-presence readout: per user, how many
    // view/click span pairs overlapped and for how long in total (the
    // session-engagement metric). Same bucketed range join, one extra
    // user-keyed aggregation ---------------------------------------------
    "x12_overlap_totals" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("day",
          datediff(to_date(col("ts")), lit("1970-01-01")))
      def spans(tp: String, dayN: String, sN: String, eN: String) = ev
        .filter(col("event_type") === tp)
        .groupBy(col("user_id"), col("day").as(dayN))
        .agg(min(col("us")).as(sN), max(col("us")).as(eN))
      val views = spans("view", "v_day", "v_start", "v_end")
      val clicks = spans("click", "c_day", "c_start", "c_end")
      graft.ops.RangeJoin.intervalOverlap(views, clicks,
          "v_start", "v_end", "c_start", "c_end",
          Seq("user_id"), binWidth = 86400000000L)
        .select(col("user_id"),
          (least(col("v_end"), col("c_end")) -
            greatest(col("v_start"), col("c_start"))).as("overlap_us"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_overlaps"),
          sum(col("overlap_us")).as("total_overlap_us"),
          max(col("overlap_us")).as("max_overlap_us"))
        .orderBy("user_id")
    }),

    // ---- X13: ALLEN INTERVAL-RELATION profile (Allen 1983) — x12's
    // banded interval join classified into the interval algebra's
    // co-occurring relations (equals / starts / finishes / meets /
    // during / contains / overlaps + inverses; 'before'/'after' pairs
    // never meet the join and would be a cross product — exactly the
    // pairs the banded join is designed NOT to enumerate). The CASE
    // ladder is evaluated in the same order on both engines, so
    // degenerate point-intervals classify identically. Output is
    // |relations| rows -----------------------------------------------------
    "x13_allen_relations" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("day",
          datediff(to_date(col("ts")), lit("1970-01-01")))
      def spans(tp: String, dayN: String, sN: String, eN: String) = ev
        .filter(col("event_type") === tp)
        .groupBy(col("user_id"), col("day").as(dayN))
        .agg(min(col("us")).as(sN), max(col("us")).as(eN))
      val views = spans("view", "v_day", "v_start", "v_end")
      val clicks = spans("click", "c_day", "c_start", "c_end")
      graft.ops.RangeJoin.intervalOverlap(views, clicks,
          "v_start", "v_end", "c_start", "c_end",
          Seq("user_id"), binWidth = 86400000000L)
        .withColumn("relation", expr(
          "CASE WHEN v_start = c_start AND v_end = c_end THEN 'equals'" +
            " WHEN v_start = c_start AND v_end < c_end THEN 'starts'" +
            " WHEN v_start = c_start THEN 'started_by'" +
            " WHEN v_end = c_end AND v_start > c_start THEN 'finishes'" +
            " WHEN v_end = c_end THEN 'finished_by'" +
            " WHEN v_end = c_start THEN 'meets'" +
            " WHEN c_end = v_start THEN 'met_by'" +
            " WHEN v_start > c_start AND v_end < c_end THEN 'during'" +
            " WHEN v_start < c_start AND v_end > c_end THEN 'contains'" +
            " WHEN v_start < c_start THEN 'overlaps'" +
            " ELSE 'overlapped_by' END"))
        .groupBy("relation")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("user_id")).as("n_users"),
          sum(least(col("v_end"), col("c_end")) -
            greatest(col("v_start"), col("c_start")))
            .as("total_overlap_us"))
        .orderBy("relation")
    }),

    "x5_interval_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("day",
          datediff(to_date(col("ts")), lit("1970-01-01")))
      def spans(tp: String, dayN: String, sN: String, eN: String) = ev
        .filter(col("event_type") === tp)
        .groupBy(col("user_id"), col("day").as(dayN))
        .agg(min(col("us")).as(sN), max(col("us")).as(eN))
      val views = spans("view", "v_day", "v_start", "v_end")
      val clicks = spans("click", "c_day", "c_start", "c_end")
      graft.ops.RangeJoin.intervalOverlap(views, clicks,
          "v_start", "v_end", "c_start", "c_end",
          Seq("user_id"), binWidth = 86400000000L)
        .select(col("user_id"), col("v_day"), col("c_day"),
          (least(col("v_end"), col("c_end")) -
            greatest(col("v_start"), col("c_start"))).as("overlap_us"))
        .orderBy("user_id", "v_day", "c_day")
    }),

    // ---- ST8: NATIVE streaming session windows (session_window + water-
    // mark, Append mode) — only sessions the watermark has sealed emit;
    // the mirror keeps gap-sessions ending before max(ts) - delay --------
    "st8_streaming_session_window" -> ((s, dir) =>
      StreamOps.streamingSessionWindows(s, dir,
          gapSeconds = 86400, delaySeconds = 3600,
          queryName = "graft_sw_" + System.nanoTime())
        .orderBy("user_id", "start_us")),

    // ---- ST9: streaming agg → LIVE JDBC serving table (foreachBatch
    // upsert per micro-batch; final Derby state == the batch aggregate) ---
    "st9_stream_jdbc_upsert" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_jdbc_st9").toString
      val url = s"jdbc:derby:$tmp/db;create=true"
      val opts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
      StreamOps.streamingJdbcAggUpsert(s, dir, url, "t_evagg", opts,
          nBatches = 3)
        .orderBy("event_type")
    }),

    // ---- ST10: streaming bloom admission — stateless per-row triage
    // against a broadcast corpus filter; positives verified by a
    // stream-static anti join. Same answer as batch d14. ------------------
    "st10_stream_bloom_admission" -> ((s, dir) =>
      StreamOps.streamingBloomAdmission(s, dir,
          queryName = "graft_bloom_" + System.nanoTime())
        .orderBy("doc_id")),

    // ---- ST11: the transformWithState arbitrary-state API (Spark 4) —
    // typed per-key ValueState in a RocksDB store; one Update-mode batch
    // leaves exactly the batch aggregate per user ------------------------
    "st11_transform_with_state" -> ((s, dir) =>
      StreamOps.runningTotalsBatch(s, dir,
          queryName = "graft_tws_" + System.nanoTime())
        .orderBy("user_id")),

    // ---- ST12: key-only streaming dedup (dropDuplicatesWithinWatermark) —
    // state still watermark-bounded, but duplicates with DIFFERENT event
    // times collapse; survivors per type == distinct users per type -------
    "st12_dedup_within_watermark" -> ((s, dir) =>
      StreamOps.streamingDedupWithinWatermark(s, dir,
          queryName = "graft_ddw_" + System.nanoTime())
        .orderBy("event_type")),

    // ---- ST24: streaming PSI DATA-DRIFT detector — hourly windowed
    // value-bucket histogram (one stateful agg, O(buckets) state per
    // open window) scored against a static day-one baseline on the
    // decided prefix: PSI with add-one smoothing at t18's fixed-point
    // ln discipline, alert at the industry 0.2 threshold -----------------
    "st24_stream_psi_drift" -> ((s, dir) =>
      StreamOps.streamPsiDrift(s, dir,
          queryName = "graft_psi_" + System.nanoTime())
        .orderBy("w_us")),

    // ---- ST25: streaming SAMPLE-RATIO-MISMATCH monitor — a28's χ²
    // live: per-day windowed A/B split counts (one stateful agg, O(2)
    // state per window), the two-cell uniform χ² = (n0−n1)²/n exact
    // rational per decided window, alarm at 3.841 (p<0.05) -------------
    "st25_stream_srm" -> ((s, dir) =>
      StreamOps.streamSrm(s, dir,
          queryName = "graft_srm_" + System.nanoTime())
        .orderBy("w_us")),

    // ---- ST26: streaming log-histogram quantiles — a32's sketch
    // accumulated micro-batch by micro-batch (bounded Complete-mode
    // state), read out identically; shares a32's BATCH oracle, which
    // IS the incremental-merge-exactness claim -------------------------
    "st26_stream_log_histogram" -> ((s, dir) =>
      StreamOps.streamLogHistogram(s, dir,
          queryName = "graft_slh_" + System.nanoTime())
        .orderBy("p_bp")),

    // ---- ST27: STREAMING IVF INDEX MAINTENANCE — the ANN lifecycle's
    // ingest leg as a stream: foreachBatch assigns each micro-batch
    // against the frozen persisted codebook (ivfAssignDelta, map-only)
    // and appends into the cell-partitioned index; frozen-codebook
    // assignment is slice-invariant, so the streamed index equals a
    // full rebuild and the gate serves n3's exact query, sharing its
    // oracle verbatim ---------------------------------------------------
    "st27_stream_index_refresh" -> ((s, dir) =>
      StreamOps.streamingIndexRefresh(s, dir)
        .orderBy("q_id", "rank")),

    // ---- N29: MAINTENANCE INTERLEAVE — st27's streaming refresh and
    // n25's compaction hit the SAME cell-partitioned directory, every
    // mutation serialized by the index maintenance lock; a tombstone-
    // folding compaction runs BETWEEN two delta appends and the result
    // must equal a full rebuild minus the tombstones, served with NO
    // logical tombstone filter (deletes must be physical). The single-
    // writer protocol the rest of the ANN lifecycle assumed, pinned ----
    "n29_maintenance_interleave" -> ((s, dir) =>
      StreamOps.maintenanceInterleave(s, dir)
        .orderBy("q_id", "rank")),

    // ---- ST14: ListState through transformWithState — O(k) per-key
    // recent-events buffer (last 3 by recency, ties by event id) ---------
    "st14_list_state" -> ((s, dir) =>
      StreamOps.recentEventsBatch(s, dir,
          queryName = "graft_list_" + System.nanoTime())
        .orderBy("user_id")),

    // ---- ST13: event-time TIMERS through transformWithState — sessions
    // closed by data emit in-batch; idle tails are sealed by their timer
    // when the final watermark passes (the replayable alternative to
    // processing-time timeouts) ------------------------------------------
    "st13_timer_sessions" -> ((s, dir) =>
      StreamOps.timerSessionsBatch(s, dir,
          gapSeconds = 14400, delaySeconds = 3600,
          queryName = "graft_timer_" + System.nanoTime())
        .orderBy("user_id", "start_us")),

    // ---- ST7: stream-stream join with an event-time range constraint ----
    "st7_stream_stream_join" -> ((s, dir) =>
      StreamOps.streamStreamAttribution(s, dir,
          queryName = "graft_ss_" + System.nanoTime())
        .orderBy("purchase_id")),

    // ---- ST15: LEFT OUTER stream-stream join — zero-click purchases
    // emit null-padded when the watermark clears their window (state
    // eviction, the path st7's inner join never takes); cutoff excludes
    // the undecided tail, applied post-join so the global watermark
    // stays at max(ts) − 1 h (see StreamOps.streamStreamLeftOuter). ------
    "st15_stream_outer_join" -> ((s, dir) =>
      StreamOps.streamStreamLeftOuter(s, dir,
          queryName = "graft_sso_" + System.nanoTime())
        .orderBy("purchase_id")),

    // ---- X3: as-of join with a STALENESS TOLERANCE — the production
    // variant (a quote older than the window is no quote): compose x1's
    // carry-forward as-of, ALSO carrying the matched right time, then
    // null the payload where the match is older than 30 days. Same single
    // exchange as x1 — tolerance is a projection, not a join change. -----
    "x3_asof_tolerance" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
        .orderBy(col("o_orderkey").desc)
      val rightSide = t(s, dir, "orders")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .select(col("o_custkey").as("user_id"), col("o_orderdate"),
          col("o_orderkey"), col("o_totalprice"))
      val events = t(s, dir, "events")
        .select("event_id", "user_id", "ts")
      val joined = AsOfJoin(events, rightSide, "user_id", "ts",
        "o_orderdate", Seq("o_orderkey", "o_totalprice", "o_orderdate"))
      val fresh = col("ts") <= col("o_orderdate").cast("timestamp") +
        expr("INTERVAL 30 DAYS")
      joined.select(col("event_id"), col("user_id"),
          when(fresh, col("o_orderkey")).as("o_orderkey"),
          when(fresh, col("o_totalprice")).as("o_totalprice"))
        .orderBy("event_id")
    }),

    // ---- X1: as-of join (operator Spark's DataFrame API lacks) ----------
    "x1_asof_join" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
        .orderBy(col("o_orderkey").desc)
      val rightSide = t(s, dir, "orders")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .select(col("o_custkey").as("user_id"), col("o_orderdate"),
          col("o_orderkey"), col("o_totalprice"))
      val events = t(s, dir, "events")
        .select("event_id", "user_id", "ts")
      AsOfJoin(events, rightSide, "user_id", "ts", "o_orderdate",
          Seq("o_orderkey", "o_totalprice"))
        .select(col("event_id"), col("user_id"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy("event_id")
    }),

    // ---- X7: interval COALESCING — overlapping/touching per-key
    // intervals merged into islands via running-max carry (one sort per
    // key partition, no self-join, no bin explosion): the temporal-union
    // complement of x5's overlap JOIN ------------------------------------
    "x7_interval_coalesce" -> ((s, dir) => {
      val iv = t(s, dir, "orders")
        .select(col("o_custkey").as("custkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("s"))
        .withColumn("e", col("s") + 14)
      val w = Window.partitionBy("custkey").orderBy("s", "e")
      val runMax = max(col("e"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
      val marked = iv.withColumn("new_island",
        when(runMax.isNull || col("s") > runMax, 1L).otherwise(0L))
      marked.withColumn("grp",
          sum(col("new_island"))
            .over(w.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
        .groupBy("custkey", "grp")
        .agg(min(col("s")).as("start_day"), max(col("e")).as("end_day"),
          count(lit(1)).as("n_merged"))
        .drop("grp")
        .orderBy("custkey", "start_day")
    }),

    // ---- X6: FORWARD as-of — each purchase picks up the user's next
    // error at-or-after it; same one-shuffle union+window shape as x1,
    // mirrored ------------------------------------------------------------
    "x6_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("err_ts"),
          col("event_id").as("error_id"))
      AsOfJoin.forward(purchases, errors, "user_id", "ts", "err_ts",
          Seq("error_id"))
        .select(col("purchase_id"), col("user_id"), col("error_id"))
        .orderBy("purchase_id")
    }),

    // ---- X8: NEAREST as-of — each purchase picks the user's closest
    // error in EITHER direction (backward wins ties); both directional
    // carries ride the SAME single exchange — see AsOfJoin.nearest --------
    "x8_asof_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("err_ts"),
          col("event_id").as("error_id"))
      AsOfJoin.nearest(purchases, errors, "user_id", "ts", "err_ts",
          Seq("error_id"))
        .select(col("purchase_id"), col("user_id"), col("error_id"))
        .orderBy("purchase_id")
    }),

    // ---- X9: linear-interpolation as-of — reconstruct the page_view
    // value series at each purchase time from the bracketing readings;
    // one-sided carry at the edges. Single hash exchange (two frames over
    // one sort), like x8.
    "x9_asof_interpolate" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
      val views = ev.filter(col("event_type") === "page_view")
        .select(col("user_id"), col("ts").as("view_ts"), col("value"))
      AsOfJoin.interpolate(purchases, views, "user_id", "ts", "view_ts",
          "value")
        .select(col("purchase_id"), col("user_id"), col("value_interp"))
        .orderBy("purchase_id")
    }),

    // ---- X10: SWEEP-LINE peak concurrency — each event opens a 5-minute
    // activity interval; +1/−1 boundary points, one running sum over the
    // (t, delta) order (delta asc ⇒ half-open intervals: a close at t
    // precedes an open at t), per-day max and its first instant. The
    // running values on TIED rows depend on tie order, but the per-day
    // MAX and its min-t are order-invariant (ties at one instant are
    // same-sign, so the extremum over the tie group is fixed) — which is
    // what makes a sweep line hash-gateable. The global point sort is
    // readout-bounded here; at 100 TB production runs the two-level
    // prefix scan (per-partition sums + carry), same output -------------
    "x10_peak_concurrency" -> ((s, dir) =>
      peakConcurrency(s, dir, distributed = false)),

    // ---- X10B: x10 on the PRODUCTION path — the two-level prefix scan
    // (deterministic time-range buckets, parallel per-bucket cumsums, a
    // ≤#buckets-row carry table broadcast back): no unpartitioned window
    // over the boundary-point set; same oracle as x10 -------------------
    "x10b_peak_concurrency" -> ((s, dir) =>
      peakConcurrency(s, dir, distributed = true)),

    // ---- E23: KAPLAN-MEIER survival — time from first signup to first
    // subsequent purchase, right-censored at the corpus horizon (max
    // event time): per event-day, the at-risk count via one reverse
    // cumulative window, d events, and ln S(t) = Σ ln(1 − dᵢ/nᵢ) in
    // t18's 1e-9 fixed point (the product estimator as an integer
    // cumsum — order-independent, hash-gateable). Same-day censoring
    // counts as at-risk (the standard convention). One user-keyed
    // aggregation + a readout-sized day table ---------------------------
    "e23_km_survival" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts_us")).as("s_us"))
      val firstP = ev.filter(col("event_type") === "purchase")
        .join(su, "user_id")
        .filter(col("ts_us") > col("s_us"))
        .groupBy("user_id").agg(min(col("ts_us")).as("p_us"))
      val horizon = ev.agg(max(col("ts_us")).as("h_us"))
      val subjects = su.join(firstP, Seq("user_id"), "left")
        .crossJoin(broadcast(horizon))
        .select(
          expr("CASE WHEN p_us IS NOT NULL THEN (p_us - s_us)" +
            " div 86400000000 ELSE (h_us - s_us) div 86400000000 END")
            .as("t_days"),
          col("p_us").isNotNull.as("is_event"))
      val byDay = subjects.groupBy("t_days")
        .agg(count(lit(1)).as("n_at"),
          sum(when(col("is_event"), 1L).otherwise(0L)).as("d_n"))
      val wRisk = Window.orderBy("t_days")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val wCum = Window.orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byDay.withColumn("n_risk", sum(col("n_at")).over(wRisk))
        .filter(col("d_n") > 0)
        .withColumn("term_fp", expr(
          "CASE WHEN n_risk > d_n THEN " +
            "CAST(round(ln(CAST(n_risk - d_n AS DOUBLE) / n_risk) * 1e9)" +
            " AS BIGINT) END"))
        .withColumn("ln_s_fp", sum(col("term_fp")).over(wCum))
        .select("t_days", "n_risk", "d_n", "ln_s_fp")
        .orderBy("t_days")
    }),

    // ---- Streaming-adjacent: session windows, sliding windows, pivot ----
    "st4_stream_static_join" -> ((s, dir) =>
      StreamOps.streamStaticSegmentCounts(s, dir,
          queryName = "graft_ss_" + System.nanoTime())
        .orderBy("c_mktsegment")),

    // ---- ST19: streaming SCD2 enrichment — each event joins the dim row
    // current at its event time (last interval open-ended, the "current
    // record" convention); stateless stream-static broadcast join --------
    "st19_stream_temporal_lookup" -> ((s, dir) =>
      StreamOps.streamTemporalLookup(s, dir,
          queryName = "graft_stl_" + System.nanoTime())
        .orderBy("event_id")),

    "st3_session_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy("user_id")),

    "e2_sliding_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("win_start"), col("n"))
        .orderBy("win_start")),

    "e3_pivot" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")),

    // ---- E4: time-series gap fill — a sparse event slice resampled onto
    // a dense hourly spine (sequence between min/max + left join + zero
    // fill): empty hours EXIST as rows, the property every downstream
    // rolling computation relies on. The spine explodes from ONE row, so
    // at any scale the cost is the left join, partitioned on the hour ----
    "e4_gapfill" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .filter(col("user_id") % 97 === 0) // sparse slice → real gaps
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
      val spine = hourly.agg(min("hour").as("lo"), max("hour").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 HOUR"))).as("hour"))
      spine.join(hourly, Seq("hour"), "left")
        .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour_str"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("value_cents"), lit(0L)).as("value_cents"))
        .orderBy("hour_str")
    }),

    // ---- A8/A9: exact percentiles + cube --------------------------------
    "a8_percentile" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        expr("percentile(l_extendedprice, 0.5)").as("median_price"),
        expr("percentile(l_extendedprice, 0.9)").as("p90_price"))),

    "a9_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"), col("n"))
        .orderBy("status", "prio")),

    // ---- S14: weighted deterministic sampling — inclusion probability
    // proportional to document length, yet reproducible (md5 draw vs an
    // integer threshold — no RNG, no floating-point boundary) ------------
    "s14_weighted_sample" -> ((s, dir) =>
      graft.ops.Sampling.weightedSample(
          t(s, dir, "documents"), "doc_id", "n_chars", scale = 1000000L)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")),

    // ---- A13: exact equi-width histogram — bucket ids in integer cents
    // so the bin edge can never drift between engines -------------------
    "a13_histogram" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(expr(
          "CAST(round(l_extendedprice*100) AS BIGINT) div 500000")
          .as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    // ---- A14: one-pass correlation moments — the distributed corr/cov
    // algorithm IS these six sufficient statistics (all partial-agg
    // combinable); kept as exact BIGINTs, the final double division is
    // the caller's one lossy step ---------------------------------------
    "a14_corr_components" -> ((s, dir) => {
      val q = col("l_quantity").cast("long")
      val p = round(col("l_extendedprice")).cast("long")
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n"),
        sum(q).as("sum_q"), sum(p).as("sum_p"),
        sum(q * q).as("sum_q2"), sum(p * p).as("sum_p2"),
        sum(q * p).as("sum_qp"))
    }),

    // ---- A15: exact per-group median — the LOWER median selected by
    // rank, not interpolated (percentile interpolation is a double
    // formula that can differ across engines; rank selection cannot) ----
    "a15_group_median" -> ((s, dir) => {
      val w = Window.partitionBy("p_brand")
        .orderBy("price_cents", "p_partkey")
      t(s, dir, "part")
        .select(col("p_brand"), col("p_partkey"),
          cents(col("p_retailprice")).as("price_cents"))
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(
          Window.partitionBy("p_brand")))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("p_brand"), col("price_cents").as("median_cents"))
        .orderBy("p_brand")
    }),

    // ---- A16: deterministic mode — max count, ties broken by minimum
    // value, so the answer is total-order defined ------------------------
    "a16_mode" -> ((s, dir) => {
      val counts = t(s, dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("n").desc, col("o_orderpriority"))
      counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("o_orderstatus"),
          col("o_orderpriority").as("mode_priority"), col("n"))
        .orderBy("o_orderstatus")
    }),

    // ---- E7: RANGE-frame trailing window — peak 7-day activity per user.
    // The frame is value-based (micros), not row-based: sparse users get
    // exactly their true trailing window, the frame shape w2's running
    // sum (ROWS) doesn't exercise ---------------------------------------
    "e7_trailing_range" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-604800000000L, 0) // [t - 7 days, t] inclusive
      t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          cents(col("value")).as("v"))
        .withColumn("w7", sum(col("v")).over(w))
        .groupBy("user_id").agg(max(col("w7")).as("peak_7d_cents"))
        .orderBy("user_id")
    }),

    // ---- E8: unpivot/melt — the wide-to-long reshape (inverse of e3's
    // pivot), one stack() projection, no shuffle beyond the pre-agg -----
    "e8_unpivot" -> ((s, dir) =>
      t(s, dir, "events")
        .filter(col("user_id") % 13 === 0)
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("n_click"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("n_view"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchase"))
        .selectExpr("user_id",
          "stack(3, 'click', n_click, 'view', n_view, " +
            "'purchase', n_purchase) AS (metric, n)")
        .orderBy("user_id", "metric")),

    // ---- E9: gaps-and-islands — consecutive-activity runs per user via
    // the day − row_number() constant-group trick: one sort per user
    // partition, no self-join, no per-user array. Day numbers are integer
    // epoch days so both engines group on exact arithmetic. ---------------
    "e9_islands" -> ((s, dir) => {
      val days = t(s, dir, "events")
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01")).as("day"))
        .distinct()
      val grouped = days.withColumn("grp",
        col("day") - row_number().over(
          Window.partitionBy("user_id").orderBy("day")))
      grouped.groupBy("user_id", "grp")
        .agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          max(col("len")).as("longest_run"),
          sum(col("len")).as("active_days"))
        .orderBy("user_id")
    }),

    // ---- E15: behavior transition matrix — consecutive event-type
    // bigrams per user (the Markov-chain / sequence-model precursor):
    // one lead window per user partition, then a global count rollup ----
    // ---- E26: TWO-STEP transition probabilities — Chapman-Kolmogorov
    // over e15's matrix: p²(a,c) = Σ_b p(a,b)·p(b,c), the "where will
    // the user be in two actions" forecast. The matrix is |types|² rows
    // (tiny — the corpus-sized work is e15's ONE window+agg pass), so
    // the square is a broadcast self-join on the middle state; each
    // b-term is fixed-pointed BEFORE the sum (round(1e9·…)), making the
    // Σ over b an integer reduce — order-independent where a double
    // summation would not be ---------------------------------------------
    "e26_two_step_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val pairs = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("a"), col("next_type").as("b"))
        .agg(count(lit(1)).as("n_ab"))
      val rowTot = pairs.groupBy("a").agg(sum(col("n_ab")).as("n_a"))
      val t1 = pairs.join(rowTot, "a")
      val left = t1.select(col("a"), col("b").as("mid"),
        col("n_ab").as("n_ab1"), col("n_a").as("na1"))
      val right = t1.select(col("a").as("mid"), col("b").as("c"),
        col("n_ab").as("n_ab2"), col("n_a").as("na2"))
      left.join(broadcast(right), "mid")
        .withColumn("term_fp", expr(
          "CAST(round(CAST(n_ab1 AS DOUBLE) * n_ab2" +
            " / (CAST(na1 AS DOUBLE) * na2) * 1e9) AS BIGINT)"))
        .groupBy(col("a").as("from_type"), col("c").as("to_type"))
        .agg(sum(col("term_fp")).as("p2_fp"))
        .orderBy("from_type", "to_type")
    }),

    // ---- A26: daily-revenue AUTOCORRELATION (ACF lags 1..7) — the
    // time-series seasonality diagnostic behind e19's band check:
    // Pearson r between the daily series and its lag-L shift, cross-
    // multiplied from exact integer sums inside one pinned double
    // expression per lag (sqrt at the end — e21's z discipline). The
    // corpus-sized work is ONE day aggregation; the lag join runs on
    // the 30-row day table ------------------------------------------------
    "a26_daily_acf" -> ((s, dir) => {
      val days = t(s, dir, "events")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
        .agg(sum(cents(col("value"))).as("v"))
      val lags = s.range(1, 8).select(col("id").as("lag"))
      val joined = days.select(col("d"), col("v"))
        .crossJoin(broadcast(lags))
        .join(days.select(col("d").as("d2"), col("v").as("v2")),
          col("d2") === col("d") + col("lag"))
      // Product sums in decimal(38,0): v*v of daily cents overflows
      // BIGINT silently under Spark non-ANSI (the r7-advice finding) —
      // 128-bit decimal keeps the cross sums exact AND deterministic
      // (a double sum would reassociate) to ~1e38; the replay mirrors
      // with HUGEINT.
      val d19 = "decimal(19,0)"
      joined.groupBy("lag")
        .agg(count(lit(1)).as("n"),
          sum(col("v")).as("sx"), sum(col("v2")).as("sy"),
          sum(col("v").cast(d19) * col("v2").cast(d19)).as("sxy"),
          sum(col("v").cast(d19) * col("v").cast(d19)).as("sxx"),
          sum(col("v2").cast(d19) * col("v2").cast(d19)).as("syy"))
        .withColumn("r_fp", expr(
          "CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)" +
            " * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)" +
            " <= 0.0 THEN NULL ELSE " +
            "CAST(round((CAST(n AS DOUBLE) * sxy" +
            " - CAST(sx AS DOUBLE) * sy)" +
            " / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)" +
            " * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))" +
            " * 1e9) AS BIGINT) END"))
        .select("lag", "n", "r_fp")
        .orderBy("lag")
    }),

    // ---- E29: CUSUM drift detection (Page 1954) — the change-point
    // alarm a metrics pipeline runs on daily revenue: S_i =
    // max(0, S_{i-1} + (x_i - mean)) expressed WITHOUT the recurrence
    // via the prefix-min identity S_i = P_i - min_{j<=i} P_j over
    // P = cumsum(x - mean); everything scaled by n_days so the mean
    // never divides (P'_i = n·cum_i - i·total, exact BIGINT — products
    // bounded by n_days ≤ a few thousand, NOT corpus rows). Corpus cost
    // is ONE day aggregation; both windows run on the readout-sized day
    // table. Alarm when the scaled drift exceeds total (= n·mean) ------
    "e29_cusum_drift" -> ((s, dir) => {
      val days = t(s, dir, "events")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
        .agg(sum(cents(col("value"))).as("v"))
      val wRun = Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      days
        .crossJoin(broadcast(days.agg(count(lit(1)).as("n"),
          sum("v").as("tot"))))
        .withColumn("i", row_number().over(Window.orderBy("d")).cast("long"))
        .withColumn("cum", sum("v").over(wRun))
        .withColumn("p", col("n") * col("cum") - col("i") * col("tot"))
        // the prefix-min identity needs the implicit P_0 = 0 term: with
        // min over rows 1..i only, an all-positive prefix under-reports
        // S_i (row 1 would always read 0) and delays alarms during
        // sustained above-mean drift
        .withColumn("s_scaled",
          col("p") - least(lit(0L), min("p").over(wRun)))
        .withColumn("alarm", col("s_scaled") > col("tot"))
        .select("d", "v", "s_scaled", "alarm")
        .orderBy("d")
    }),

    // ---- E31: UPLIFT BY ENGAGEMENT DECILE — the targeting readout
    // after e21's average effect: users ranked by pre-period engagement
    // (view count), cut into deciles, per-decile conversion-rate delta
    // between arms in exact basis points. The corpus-rank runs the
    // global window by default and the ScaleSafe two-level scan under
    // the conf / in the e31b twin ---------------------------------------
    "e31_uplift_deciles" -> ((s, dir) =>
      upliftDeciles(s, dir, distributed = false)),

    // ---- E31B: e31 on the PRODUCTION rank path; same oracle ----------
    "e31b_uplift_deciles" -> ((s, dir) =>
      upliftDeciles(s, dir, distributed = true)),

    // ---- E30: SEASONAL-RESIDUAL anomaly detection — e19's weekday
    // sibling with a robust threshold: residual = today − same weekday
    // last week (a lag-7 self-join on the day table), flagged when
    // |resid − median(resid)| > 3·MAD — median and MAD by the exact
    // low-median rank trick, ALL in integer cents (no float anywhere).
    // Corpus cost is one day aggregation; every window runs on the
    // calendar-bounded day table ----------------------------------------
    "e30_seasonal_anomaly" -> ((s, dir) => {
      val days = t(s, dir, "events")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
        .agg(sum(cents(col("value"))).as("v"))
      val resid = days.join(
          days.select((col("d") + 7).as("d"), col("v").as("v_prev")), "d")
        .withColumn("resid", col("v") - col("v_prev"))
      def lowMedian(df: DataFrame, c: String): DataFrame =
        df.withColumn("__rn", row_number().over(Window.orderBy(c, "d")))
          .crossJoin(broadcast(df.agg(count(lit(1)).as("__n"))))
          .filter(col("__rn") === expr("(__n + 1) div 2"))
          .select(col(c).as(c + "_med"))
      val med = lowMedian(resid, "resid")
      val withDev = resid.crossJoin(broadcast(med))
        .withColumn("dev", abs(col("resid") - col("resid_med")))
      val mad = lowMedian(withDev.select(col("d"), col("dev").as("resid")),
        "resid").select(col("resid_med").as("mad"))
      withDev.crossJoin(broadcast(mad))
        .withColumn("is_anom",
          abs(col("resid") - col("resid_med")) > lit(3L) * col("mad"))
        .select("d", "v", "resid", "is_anom")
        .orderBy("d")
    }),

    // ---- A28: χ² INDEPENDENCE test — event_type × variant contingency
    // (is behavior independent of the A/B split? the standard
    // sample-ratio-mismatch / behavior-drift audit): the FULL grid
    // including zero cells (row-total × col-total cross join, observed
    // counts left-joined in), each cell's term
    // (O·n − rt·ct)²/(rt·ct·n) rounded to 1e-9 fixed point BEFORE the
    // sum — an order-independent integer reduce. Corpus cost is one
    // (type, variant) aggregation; the grid is types × 2 rows ----------
    "a28_chi2_independence" -> ((s, dir) => {
      val cells = t(s, dir, "events")
        .select(col("event_type"), (col("user_id") % 2).as("variant"))
        .groupBy("event_type", "variant").agg(count(lit(1)).as("o"))
      val rows = cells.groupBy("event_type").agg(sum("o").as("rt"))
      val cols = cells.groupBy("variant").agg(sum("o").as("ct"))
      val tot = cells.agg(sum("o").as("n"))
      rows.crossJoin(broadcast(cols))
        .join(cells, Seq("event_type", "variant"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("term_fp", expr(
          "CAST(round(pow(CAST(o AS DOUBLE) * n" +
            " - CAST(rt AS DOUBLE) * ct, 2)" +
            " / (CAST(rt AS DOUBLE) * ct * n) * 1e9) AS BIGINT)"))
        .agg(max(col("n")).as("n"),
          count(lit(1)).as("n_cells"),
          countDistinct(col("event_type")).as("r"),
          countDistinct(col("variant")).as("c"),
          sum(col("term_fp")).as("chi2_fp"))
        .withColumn("df", (col("r") - 1) * (col("c") - 1))
        .select("n", "n_cells", "df", "chi2_fp")
    }),

    // ---- A31: WELCH's t-test — the unequal-variance two-sample mean
    // test completing the battery's inference suite (z: e21, U: a27,
    // KS: a25, χ²: a28): per-arm n/Σx/Σx² from ONE rollup (squares in
    // decimal(38,0)/HUGEINT — the e22 lesson), sample variances, the t
    // statistic and the Welch–Satterthwaite df as pinned doubles,
    // NULL-guarded at n<2 or zero pooled variance ----------------------
    // ---- A30: THEIL-SEN robust trend (Theil 1950, Sen 1968) — the
    // median of pairwise slopes over each nation's monthly revenue
    // series: one outlier month moves OLS arbitrarily but shifts the
    // slope median by at most one rank. Pairs are formed WITHIN a
    // nation over MONTH-level rollups, so the self-join and the rank
    // window are both bounded by the calendar (≤ 84 months → ≤ 3.5k
    // pairs per nation at any corpus size — the partitioned-window
    // discipline, never corpus-row windows). Slopes are exact-integer
    // differences divided as doubles (correctly-rounded IEEE on both
    // engines); the median avoids quantile-algorithm divergence by
    // selecting middle ranks explicitly -----------------------------------
    "a30_theil_sen" -> ((s, dir) => {
      val monthly = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"),
          ((year(col("o_orderdate")) - 1992) * 12 +
            month(col("o_orderdate")) - 1).as("m"))
        .agg(sum(cents(col("o_totalprice"))).as("rev"))
      val a = monthly.select(col("nation"), col("m").as("m1"),
        col("rev").as("r1"))
      val b = monthly.select(col("nation").as("nation_b"),
        col("m").as("m2"), col("rev").as("r2"))
      val slopes = a.join(b,
          col("nation") === col("nation_b") && col("m1") < col("m2"))
        .select(col("nation"),
          ((col("r2") - col("r1")).cast("double") /
            (col("m2") - col("m1")).cast("double")).as("slope"))
      val wR = Window.partitionBy("nation").orderBy("slope")
      val wN = Window.partitionBy("nation")
      slopes
        .withColumn("r", row_number().over(wR))
        .withColumn("n", count(lit(1)).over(wN))
        // middle rank(s): (n+1) div 2 and n div 2 + 1 coincide when n
        // is odd; ties in slope are value-equal, so the median value is
        // deterministic even though tied ranks are not.
        .filter(expr("r = (n + 1) div 2 OR r = n div 2 + 1"))
        .groupBy("nation")
        .agg(max(col("n")).as("n_pairs"),
          expr("CAST(round(avg(slope) * 1e6) AS BIGINT)")
            .as("slope_fp"))
        .orderBy("nation")
    }),

    // ---- A34: Mann-Kendall trend test (Mann 1945, Kendall 1975) —
    // a30 Theil-Sen's significance companion: S = Σ_{i<j} sign(x_j−x_i)
    // over each nation's monthly revenue series, tie-corrected variance
    // 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) — all exact integers;
    // z from the continuity-corrected S over IEEE-exact sqrt. Same
    // bounded pair join as a30 (months², not rows²) --------------------
    "a34_mann_kendall" -> ((s, dir) => {
      val monthly = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"),
          ((year(col("o_orderdate")) - 1992) * 12 +
            month(col("o_orderdate")) - 1).as("m"))
        .agg(sum(cents(col("o_totalprice"))).as("rev"))
      val a = monthly.select(col("nation"), col("m").as("m1"),
        col("rev").as("r1"))
      val b = monthly.select(col("nation").as("nation_b"),
        col("m").as("m2"), col("rev").as("r2"))
      val sStat = a.join(b,
          col("nation") === col("nation_b") && col("m1") < col("m2"))
        .groupBy("nation")
        .agg(sum(expr("CASE WHEN r2 > r1 THEN 1" +
          " WHEN r2 < r1 THEN -1 ELSE 0 END")).as("s_stat"))
      val nTies = monthly.groupBy("nation", "rev")
        .agg(count(lit(1)).as("t"))
        .groupBy("nation")
        .agg(sum(lit(1) * col("t")).as("n_months"),
          sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"))
      sStat.join(nTies, "nation")
        .withColumn("var18",
          expr("n_months * (n_months - 1) * (2 * n_months + 5)" +
            " - tie_term"))
        .withColumn("z_fp", expr(
          "CASE WHEN var18 <= 0 THEN NULL ELSE" +
            " CAST(round((s_stat - CASE WHEN s_stat > 0 THEN 1" +
            " WHEN s_stat < 0 THEN -1 ELSE 0 END)" +
            " / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1e6) AS BIGINT)" +
            " END"))
        .select("nation", "n_months", "s_stat", "var18", "z_fp")
        .orderBy("nation")
    }),

    "a31_welch_ttest" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase",
          cents(col("value"))).otherwise(0L)).as("x"))
        .select((col("user_id") % 2).as("variant"), col("x"))
      u.agg(
          sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("variant") === 0, col("x")).otherwise(0L)).as("s0"),
          sum(expr("CASE WHEN variant = 0 THEN" +
            " CAST(x AS DECIMAL(19,0)) * x" +
            " ELSE CAST(0 AS DECIMAL(38,0)) END")).as("q0"),
          sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("variant") === 1, col("x")).otherwise(0L)).as("s1"),
          sum(expr("CASE WHEN variant = 1 THEN" +
            " CAST(x AS DECIMAL(19,0)) * x" +
            " ELSE CAST(0 AS DECIMAL(38,0)) END")).as("q1"))
        .withColumn("v0_d", expr(
          "CASE WHEN n0 < 2 THEN NULL ELSE" +
            " (CAST(n0 AS DOUBLE) * q0 - CAST(s0 AS DOUBLE) * s0)" +
            " / (CAST(n0 AS DOUBLE) * (n0 - 1)) END"))
        .withColumn("v1_d", expr(
          "CASE WHEN n1 < 2 THEN NULL ELSE" +
            " (CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)" +
            " / (CAST(n1 AS DOUBLE) * (n1 - 1)) END"))
        .withColumn("se2_d", expr("v0_d / n0 + v1_d / n1"))
        .withColumn("t_fp", expr(
          "CASE WHEN se2_d IS NULL OR se2_d <= 0.0 THEN NULL ELSE" +
            " CAST(round((CAST(s1 AS DOUBLE) / n1" +
            " - CAST(s0 AS DOUBLE) / n0) / sqrt(se2_d) * 1e6)" +
            " AS BIGINT) END"))
        .withColumn("df_fp", expr(
          "CASE WHEN se2_d IS NULL OR se2_d <= 0.0 THEN NULL ELSE" +
            " CAST(round(se2_d * se2_d" +
            " / ((v0_d / n0) * (v0_d / n0) / (n0 - 1)" +
            " + (v1_d / n1) * (v1_d / n1) / (n1 - 1)) * 1e3)" +
            " AS BIGINT) END"))
        .select("n0", "n1", "t_fp", "df_fp")
    }),

    // ---- E32: BENJAMINI-HOCHBERG FDR control (1995) across the
    // experiment's metric battery — the multiple-comparisons step every
    // multi-metric A/B readout needs: 6 per-user metrics, a Welch z per
    // metric (a31's exact-moment formula), then BH in Z-SPACE — the
    // per-rank p-value cutoffs α·i/K enter as PRECOMPUTED Φ⁻¹ literals
    // (identical constants in engine and oracle), so no normal-CDF
    // approximation ever runs and the comparison is a double-vs-literal
    // predicate both engines evaluate identically. One corpus shuffle
    // (per-user agg); everything after is K=6 rows — the rank window and
    // the max-hit broadcast are metric-count-bounded, never corpus-bound
    // ---- E33: Wald SPRT sequential readout (Wald 1945) — the daily
    // trajectory of the sequential probability ratio test on user-day
    // conversion (H0 p=.38 vs H1 p=.42): per-day integer LLR from
    // fixed-pointed per-observation constants (exact long products, no
    // FP reduce), cumulated over the day table — one row per calendar
    // day, so the unpartitioned running sum is bounded by the calendar,
    // not the data (the x10 family's criterion). The decision column
    // marks where a sequential experimenter would have stopped --------
    "e33_sprt" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(countDistinct(col("user_id")).as("n"),
          countDistinct(when(col("event_type") === "purchase",
            col("user_id"))).as("c"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("llr_fp", col("c") * lit(SprtL1Fp) +
          (col("n") - col("c")) * lit(SprtL0Fp))
        .withColumn("llr_cum_fp", sum("llr_fp").over(w))
        .withColumn("decision",
          when(col("llr_cum_fp") >= SprtAFp, "accept_h1")
            .when(col("llr_cum_fp") <= -SprtAFp, "accept_h0")
            .otherwise("continue"))
        .select("day", "n", "c", "llr_cum_fp", "decision")
        .orderBy("day")
    }),

    "e32_fdr_bh" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .withColumn("v_cents", cents(col("value")))
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "purchase", col("v_cents"))
            .otherwise(0L)).as("m_revenue"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("m_purchases"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("m_views"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("m_clicks"),
          sum(col("v_cents")).as("m_value_all"),
          countDistinct(to_date(col("ts"))).as("m_active_days"))
        .select((col("user_id") % 2).as("variant"),
          expr("stack(6," +
            " 'm_active_days', m_active_days," +
            " 'm_clicks', m_clicks," +
            " 'm_purchases', m_purchases," +
            " 'm_revenue', m_revenue," +
            " 'm_value_all', m_value_all," +
            " 'm_views', m_views) AS (metric, x)"))
      val z = u.groupBy("metric").agg(
          sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("variant") === 0, col("x")).otherwise(0L)).as("s0"),
          sum(expr("CASE WHEN variant = 0 THEN" +
            " CAST(x AS DECIMAL(19,0)) * x" +
            " ELSE CAST(0 AS DECIMAL(38,0)) END")).as("q0"),
          sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("variant") === 1, col("x")).otherwise(0L)).as("s1"),
          sum(expr("CASE WHEN variant = 1 THEN" +
            " CAST(x AS DECIMAL(19,0)) * x" +
            " ELSE CAST(0 AS DECIMAL(38,0)) END")).as("q1"))
        .withColumn("v0_d", expr(
          "CASE WHEN n0 < 2 THEN NULL ELSE" +
            " (CAST(n0 AS DOUBLE) * q0 - CAST(s0 AS DOUBLE) * s0)" +
            " / (CAST(n0 AS DOUBLE) * (n0 - 1)) END"))
        .withColumn("v1_d", expr(
          "CASE WHEN n1 < 2 THEN NULL ELSE" +
            " (CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)" +
            " / (CAST(n1 AS DOUBLE) * (n1 - 1)) END"))
        .withColumn("se2_d", expr("v0_d / n0 + v1_d / n1"))
        .withColumn("abs_z", expr(
          "CASE WHEN se2_d IS NULL OR se2_d <= 0.0 THEN NULL ELSE" +
            " abs((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)" +
            " / sqrt(se2_d)) END"))
      // Φ⁻¹(1 − 0.05·i/(2·6)) for i = 1..6 — the BH ladder at α = 0.05.
      val ranked = z.withColumn("rank", row_number().over(
          Window.orderBy(col("abs_z").desc_nulls_last, col("metric"))))
        .withColumn("thr", expr(
          "CASE rank WHEN 1 THEN 2.638257 WHEN 2 THEN 2.39398" +
            " WHEN 3 THEN 2.241403 WHEN 4 THEN 2.128045" +
            " WHEN 5 THEN 2.036834 ELSE 1.959964 END"))
        .withColumn("hit", col("abs_z") >= col("thr"))
      val maxHit = ranked
        .agg(max(when(col("hit"), col("rank"))).as("max_hit"))
      ranked.crossJoin(broadcast(maxHit))
        .withColumn("z_fp",
          expr("CAST(round(abs_z * 1e6) AS BIGINT)"))
        .withColumn("rejected",
          coalesce(col("rank") <= col("max_hit"), lit(false)))
        .select("metric", "n0", "n1", "z_fp", "rank", "rejected")
        .orderBy("rank")
    }),

    // ---- A27: MANN-WHITNEY U test — the rank-sum A/B readout for
    // non-normal metrics (view vs click value): midranks over the
    // per-value count table (a25's value-domain discipline — the
    // windows run on distinct cents values, not corpus rows), doubled
    // to stay integer (midrank2 = 2·cum_before + t + 1), the tie
    // correction Σ(t³−t) in decimal/HUGEINT, z as ONE pinned double
    // expression NULL-guarded at empty arms and zero variance ----------
    "a27_mann_whitney" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("view", "click"))
        .select(cents(col("value")).as("v"),
          (col("event_type") === "view").as("is_a"))
      val counts = ev.groupBy("v").agg(
          sum(when(col("is_a"), 1L).otherwise(0L)).as("c1"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("c2"))
        .withColumn("c", col("c1") + col("c2"))
      val wBefore = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      counts
        .withColumn("cum_before",
          coalesce(sum("c").over(wBefore), lit(0L)))
        .withColumn("midrank2",
          lit(2L) * col("cum_before") + col("c") + 1L)
        .agg(
          sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
          sum(expr("CAST(c1 AS DECIMAL(19,0)) * midrank2")).as("r1_x2"),
          sum(expr("CAST(c AS DECIMAL(19,0)) * c * c - c")).as("tie"))
        .withColumn("u1_x2",
          expr("CAST(r1_x2 - CAST(n1 AS DECIMAL(19,0)) * (n1 + 1)" +
            " AS BIGINT)"))
        .withColumn("vterm_d", expr(
          "CAST(n1 AS DOUBLE) * n2 / 12.0" +
            " * ((CAST(n1 + n2 AS DOUBLE) + 1.0)" +
            " - CAST(tie AS DOUBLE)" +
            " / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))"))
        .withColumn("z_fp", expr(
          "CASE WHEN n1 = 0 OR n2 = 0 OR vterm_d <= 0.0 THEN NULL ELSE " +
            "CAST(round((CAST(u1_x2 AS DOUBLE)" +
            " - CAST(n1 AS DOUBLE) * n2)" +
            " / (2.0 * sqrt(vterm_d)) * 1e6) AS BIGINT) END"))
        .withColumn("significant", abs(col("z_fp")) > 1960000L)
        .select("n1", "n2", "u1_x2", "z_fp", "significant")
    }),

    "e15_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("from_type", "to_type")
    }),

    // ---- E16: time-weighted average (TWAP) — each observation holds
    // until the next one, so the mean weights value by HOLD DURATION, not
    // by tick count (the finance/metrics standard for irregular series).
    // Integral = Σ dur_µs × v_cents, exact integers (term bound
    // dur < 2^45 µs × |cents| < 2^17 per row; the per-user sum stays
    // far under 2^63 for any plausible per-key history); the one double
    // division is the readout. Same per-user lead-window exchange as
    // e15 — no global sort, skew bounded by per-user event counts ------
    "e16_twap" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          cents(col("value")).as("v_cents"))
        .withColumn("dur_us",
          lead(col("ts_us"), 1).over(w) - col("ts_us"))
        .filter(col("dur_us").isNotNull)
        .groupBy("user_id")
        .agg(sum(col("dur_us")).as("span_us"),
          sum(col("dur_us") * col("v_cents")).as("weighted_fp"))
        .filter(col("span_us") > 0)
        .withColumn("twap_cents",
          col("weighted_fp").cast("double") / col("span_us"))
        .orderBy("user_id")
    }),

    // ---- E19: seasonality-aware anomaly days — a raw threshold flags
    // every weekend as anomalous; the honest baseline is the day-of-week
    // mean. Flag days whose revenue leaves [½μ_dow, 2μ_dow], with the
    // comparison in cross-multiplied integers (r·n vs 2·S — no division)
    // and the weekday computed as (epoch_day + 4) % 7 so both engines
    // share one integer definition (no calendar-function parity risk) ---
    "e19_dow_anomaly" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("long").as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
        .withColumn("dow", (col("day") + 4) % 7)
      val stats = daily.groupBy("dow")
        .agg(count(lit(1)).as("n_days"), sum(col("rev_cents")).as("s_cents"))
      daily.join(broadcast(stats), "dow")
        .withColumn("verdict",
          when(col("rev_cents") * col("n_days") > lit(2L) * col("s_cents"),
            lit("high"))
          .when(lit(2L) * col("rev_cents") * col("n_days") < col("s_cents"),
            lit("low")))
        .filter(col("verdict").isNotNull)
        .select(col("day"), col("dow"), col("rev_cents"), col("n_days"),
          col("s_cents"), col("verdict"))
        .orderBy("day")
    }),

    // ---- E18: LINEAR multi-touch attribution — e10's last-touch is the
    // degenerate case; here each purchase's value splits EQUALLY across
    // the view/click touches since the previous purchase (direct when
    // none). Conversion windows via one reverse cumulative count (the
    // same user-keyed exchange everything else in the family uses);
    // credit is integer cents truncated per purchase — positive, so both
    // engines agree. Marketing's standard position-free model ------------
    "e18_linear_attribution" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"),
          cents(col("value")).as("v_cents"))
        .withColumn("conv_group",
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .over(w))
        .filter(col("conv_group") > 0)
      val groups = ev.groupBy("user_id", "conv_group")
        .agg(
          sum(when(col("event_type") === "purchase", col("v_cents"))
            .otherwise(0L)).as("purchase_cents"),
          sum(when(col("event_type").isin("view", "click"), 1L)
            .otherwise(0L)).as("n_touches"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("n_view"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("n_click"))
      val credits = groups.select(
          explode(array(
            struct(lit("view").as("touch_type"),
              when(col("n_touches") > 0,
                expr("purchase_cents * n_view div n_touches"))
                .otherwise(0L).as("credit"),
              when(col("n_view") > 0, 1L).otherwise(0L).as("hit")),
            struct(lit("click").as("touch_type"),
              when(col("n_touches") > 0,
                expr("purchase_cents * n_click div n_touches"))
                .otherwise(0L).as("credit"),
              when(col("n_click") > 0, 1L).otherwise(0L).as("hit")),
            struct(lit("(direct)").as("touch_type"),
              when(col("n_touches") === 0, col("purchase_cents"))
                .otherwise(0L).as("credit"),
              when(col("n_touches") === 0, 1L).otherwise(0L).as("hit"))))
            .as("c"))
        .select(col("c.touch_type").as("touch_type"),
          col("c.credit").as("credit"), col("c.hit").as("hit"))
      credits.groupBy("touch_type")
        .agg(sum(col("credit")).as("credit_cents"),
          sum(col("hit")).as("n_conversions"))
        .orderBy("touch_type")
    }),

    // ---- E20: rolling TREND — OLS slope of the trailing 8 samples
    // against their positions (x = 0..7, oldest first), the turn
    // detector next to e17's level: slope_num/slope_den is the exact
    // rational 8·Σxy − ΣxΣy over 8·Σx² − (Σx)², emitted only for rows
    // with the full 8-sample history (partial frames would change den).
    // Same lag-tap discipline as e17: one user-keyed window pass -------
    "e20_rolling_trend" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val base = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          cents(col("value")).as("v_cents"))
      // tap i holds the value x positions back; position x = 7 - i
      val taps = (0 to 7).map { i =>
        if (i == 0) col("v_cents") else lag(col("v_cents"), i).over(w)
      }
      val sy = taps.reduce(_ + _)
      val sxy = taps.zipWithIndex.map { case (v, i) => v * (7L - i) }
        .reduce(_ + _)
      // Σx = 28, Σx² = 140 for x = 0..7
      base
        // all window taps in ONE stage, BEFORE the history filter — a
        // lag evaluated after the filter would see the filtered frame
        .withColumn("slope_num", lit(8L) * sxy - lit(28L) * sy)
        .withColumn("oldest", lag(col("v_cents"), 7).over(w))
        .filter(col("oldest").isNotNull)
        .withColumn("slope_den", lit(8L * 140L - 28L * 28L))
        .select("user_id", "event_id", "v_cents", "slope_num", "slope_den")
        .orderBy("user_id", "event_id")
    }),

    // ---- E21: A/B experiment READOUT — the two-proportion z-test a
    // product-analytics engine ships as one operator: variant = hash
    // split (user_id parity here), conversion = per-user purchase value
    // reaching the corpus low-median (exact-integer cents; a
    // median-anchored definition can't collapse to an all-converted
    // arm, which would zero the pooled variance), per-arm rates in
    // exact bp, and the pooled z statistic as ONE pinned double
    // expression rounded to 1e-6 fixed point — guarded to NULL at
    // p̂ ∈ {0, 1} (ANSI Spark would throw, DuckDB would emit ±inf;
    // degrade identically instead). Shape: one user-keyed aggregation,
    // the median cutpoint via medianPvCut (global rank by default;
    // spark.graft.scaleRankPath=distributed swaps in ScaleSafe's exact
    // bracket selection — e28b gates that path every round), one
    // 1-row rollup. A 100 TB readout costs the per-user pass ------------
    "e21_ab_readout" -> ((s, dir) => abReadout(s, dir,
      distributed = false)),

    // ---- E21B: e21 on the PRODUCTION median path — ScaleSafe's exact
    // bracket selection instead of the global rank window, answer
    // bit-identical, gated on e21's oracle every round (the e28b
    // pattern; r8-verdict item 1: e21 was the only global-window gate
    // without a pinned distributed twin) --------------------------------
    "e21b_ab_readout" -> ((s, dir) => abReadout(s, dir,
      distributed = true)),

    // ---- E24: U-SHAPED (position-based) attribution — e18's linear
    // credit replaced by the 40/20/40 rule: first and last touch get
    // 400‰ each, middles split the remaining 200‰ (k=1 → 1000‰,
    // k=2 → 500/500, integer-div remainder to the FIRST touch so every
    // conversion's credit sums to exactly 1000‰ — conservation is
    // spec-pinned). Credits stay in cents·per-mille (the e14 no-ratio
    // discipline); one extra position window over e18's shape ----------
    "e24_position_attribution" -> ((s, dir) => {
      val wConv = Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"),
          cents(col("value")).as("v_cents"))
        .withColumn("conv_group",
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .over(wConv))
        .filter(col("conv_group") > 0)
      val groups = ev.groupBy("user_id", "conv_group")
        .agg(sum(when(col("event_type") === "purchase", col("v_cents"))
            .otherwise(0L)).as("purchase_cents"),
          sum(when(col("event_type").isin("view", "click"), 1L)
            .otherwise(0L)).as("k"))
      val wPos = Window.partitionBy("user_id", "conv_group")
        .orderBy("ts_us", "event_id")
      val touches = ev.filter(col("event_type").isin("view", "click"))
        .withColumn("pos", row_number().over(wPos))
        .join(groups, Seq("user_id", "conv_group"))
        .withColumn("credit_pm", expr(
          "CASE WHEN k = 1 THEN 1000 WHEN k = 2 THEN 500" +
            " WHEN pos = 1 THEN 400 + 200 % (k - 2)" +
            " WHEN pos = k THEN 400" +
            " ELSE 200 div (k - 2) END"))
        .select(col("event_type").as("touch_type"),
          (col("purchase_cents") * col("credit_pm")).as("credit_pmc"),
          lit(1L).as("hit"))
      val direct = groups.filter(col("k") === 0)
        .select(lit("(direct)").as("touch_type"),
          (col("purchase_cents") * lit(1000L)).as("credit_pmc"),
          lit(1L).as("hit"))
      touches.unionByName(direct)
        .groupBy("touch_type")
        .agg(sum(col("credit_pmc")).as("credit_pmc"),
          sum(col("hit")).as("n_touches"))
        .orderBy("touch_type")
    }),

    // ---- E27: TIME-TO-CONVERT percentiles — the latency-funnel readout
    // (first view → first subsequent purchase): exact p50/p90 of the
    // per-user conversion delay via a24's ceil(q·n) rank trick over the
    // readout-sized duration table; viewers who never convert are
    // reported, not silently dropped ------------------------------------
    "e27_time_to_convert" -> ((s, dir) =>
      timeToConvert(s, dir, distributed = false)),

    // ---- E27B: e27 on the PRODUCTION path — both percentiles via
    // ScaleSafe's exact bracket selection; same oracle as e27 ----------
    "e27b_time_to_convert" -> ((s, dir) =>
      timeToConvert(s, dir, distributed = true)),

    // ---- E28: POWER ANALYSIS — the third leg of the experimentation
    // trio (e21 readout, e22 CUPED): at the current arm sizes and
    // pooled conversion, the minimum detectable effect at α=0.05 /
    // power 0.8 (z constants as shared literals — no distribution
    // functions at query time), and the required per-arm N for a 1-point
    // absolute lift. Scalar math on e21's one-row rollup — the corpus
    // cost IS e21's user pass ------------------------------------------
    "e28_power_analysis" -> ((s, dir) =>
      powerAnalysis(s, dir, distributed = false)),

    // ---- E28B: e28 on the PRODUCTION median path — the exact bracket
    // selection (approx_percentile bounds + exact boundary count + rank
    // inside the bracket, ScaleSafe.exactRankValueBracket): no
    // unpartitioned window over unbounded input anywhere in the plan,
    // answer bit-identical to e28's, gated on e28's oracle every round -
    "e28b_power_analysis" -> ((s, dir) =>
      powerAnalysis(s, dir, distributed = true)),

    // ---- E22: CUPED variance-reduced readout (Deng et al. 2013) — the
    // pre-experiment covariate adjustment every experimentation platform
    // runs after e21's raw z: X = pre-period purchase cents, Y =
    // post-period (fixed mid-month cutoff in epoch micros), pooled
    // θ = cov(X,Y)/var(X) from ONE wide rollup of exact integer sums
    // (product sums in decimal(38,0) / HUGEINT — exact to ~1e38 and
    // deterministic, unlike a double sum; the t29 overflow lesson), the
    // adjusted-mean variant difference and ρ² (the variance-reduction
    // fraction CUPED buys) as pinned double expressions, NULL-guarded at
    // degenerate variance. One user-keyed aggregation, one 1-row rollup -
    "e22_cuped" -> ((s, dir) => {
      val cutoff = 1705363200000000L // 2024-01-16T00:00:00Z, epoch micros
      val u = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(
          sum(when(unix_micros(col("ts")) < cutoff, cents(col("value")))
            .otherwise(0L)).as("x"),
          sum(when(unix_micros(col("ts")) >= cutoff, cents(col("value")))
            .otherwise(0L)).as("y"))
        .select((col("user_id") % 2).as("variant"), col("x"), col("y"))
      val d19 = "decimal(19,0)"
      u.agg(
          count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x").cast(d19) * col("y").cast(d19)).as("sxy"),
          sum(col("x").cast(d19) * col("x").cast(d19)).as("sxx"),
          sum(col("y").cast(d19) * col("y").cast(d19)).as("syy"),
          sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("variant") === 0, col("x")).otherwise(0L)).as("sx0"),
          sum(when(col("variant") === 0, col("y")).otherwise(0L)).as("sy0"),
          sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("variant") === 1, col("x")).otherwise(0L)).as("sx1"),
          sum(when(col("variant") === 1, col("y")).otherwise(0L)).as("sy1"))
        .withColumn("cov_d",
          expr("CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy"))
        .withColumn("varx_d",
          expr("CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx"))
        .withColumn("vary_d",
          expr("CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy"))
        .withColumn("theta_fp", expr(
          "CASE WHEN varx_d = 0.0 THEN NULL ELSE " +
            "CAST(round(cov_d / varx_d * 1e9) AS BIGINT) END"))
        .withColumn("rho2_bp", expr(
          "CASE WHEN varx_d = 0.0 OR vary_d = 0.0 THEN NULL ELSE " +
            "CAST(round(cov_d * cov_d / (varx_d * vary_d) * 10000)" +
            " AS BIGINT) END"))
        .withColumn("diff_fp", expr(
          "CASE WHEN n0 = 0 OR n1 = 0 OR varx_d = 0.0 THEN NULL ELSE " +
            "CAST(round(((CAST(sy1 AS DOUBLE) / n1" +
            " - CAST(sy0 AS DOUBLE) / n0)" +
            " - cov_d / varx_d * (CAST(sx1 AS DOUBLE) / n1" +
            " - CAST(sx0 AS DOUBLE) / n0)) * 1e6) AS BIGINT) END"))
        .select("n", "n0", "n1", "theta_fp", "rho2_bp", "diff_fp")
    }),

    // ---- E17: EWMA smoothing — the classic α=1/2 exponential filter
    // with DYADIC weights (2^15, 2^14, …, 1 over the trailing 16 samples)
    // so the smoothed value is an exact integer pair (weighted sum,
    // weight sum) instead of a float recurrence: the truncated-tail
    // error is < 2^-16 of the signal, and the reader divides downstream
    // (same no-ratio discipline as e14). Per-key window, 16 lag taps,
    // one codegen'd Window — the sort never leaves the user partition --
    "e17_ewma" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val base = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          cents(col("value")).as("v_cents"))
      val taps = (0 to 15).map { i =>
        val weight = 1L << (15 - i)
        val v = if (i == 0) col("v_cents") else lag(col("v_cents"), i).over(w)
        (when(v.isNotNull, v * weight).otherwise(0L),
          when(v.isNotNull, lit(weight)).otherwise(lit(0L)))
      }
      base
        .withColumn("ewma_num", taps.map(_._1).reduce(_ + _))
        .withColumn("ewma_den", taps.map(_._2).reduce(_ + _).cast("long"))
        .select("user_id", "event_id", "v_cents", "ewma_num", "ewma_den")
        .orderBy("user_id", "event_id")
    }),

    // ---- E14: period-over-period growth — revenue per (segment, year)
    // with the prior year carried in by lag; the delta stays an integer
    // SUBTRACTION (no ratio: Spark `div` truncates toward zero, DuckDB
    // `//` floors — they disagree on negative growth, so a bp ratio
    // would break the oracle; the reader computes ratios downstream) -----
    "e14_yoy_growth" -> ((s, dir) => {
      val rev = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"),
          year(to_date(col("o_orderdate"))).cast("long").as("yr"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
      val w = Window.partitionBy("segment").orderBy("yr")
      rev.withColumn("prev_cents", lag(col("rev_cents"), 1).over(w))
        .withColumn("delta_cents", col("rev_cents") - col("prev_cents"))
        .orderBy("segment", "yr")
    }),

    // ---- E13: WAU/MAU stickiness — weekly distinct actives against the
    // containing month's distinct actives (week bucketed to the month of
    // its START), ratio in integer basis points ---------------------------
    "e13_active_users" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"),
          date_trunc("week", col("ts")).as("wk_ts"))
        .withColumn("week_str", date_format(col("wk_ts"), "yyyy-MM-dd"))
        .withColumn("month_str",
          date_format(date_trunc("month", col("wk_ts")), "yyyy-MM-dd"))
      val wau = ev.groupBy("week_str", "month_str")
        .agg(countDistinct(col("user_id")).as("wau"))
      val mau = ev.groupBy("month_str")
        .agg(countDistinct(col("user_id")).as("mau"))
      wau.join(broadcast(mau), "month_str")
        .select(col("week_str"), col("wau"), col("mau"),
          expr("wau * 10000L div mau").as("stickiness_bp"))
        .orderBy("week_str")
    }),

    // ---- E12: z-score outliers WITHOUT floats — |x−μ| > 2σ decided in
    // cross-multiplied integer form ((n·x−S)² > 4·(n·Q−S²), S/Q = exact
    // cent sums), so an inherently floating-point analytic sits under the
    // hash gate; one shuffle on user_id ----------------------------------
    "e12_outliers" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          cents(col("value")).as("x"))
      val stats = ev.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
          sum(col("x") * col("x")).as("q"))
      ev.join(stats, "user_id")
        .filter(pow2(col("n") * col("x") - col("s")) >
          lit(4) * (col("n") * col("q") - pow2(col("s"))))
        .select("event_id", "user_id", "x")
        .orderBy("event_id")
    }),

    // ---- E10: last-touch attribution — each purchase credited to the
    // user's most recent PRECEDING click via an ignore-nulls carry-forward
    // window: one sort per user partition, no self-join, no interval
    // explosion (contrast x2, which COUNTS clicks in a window) -----------
    "e10_last_touch" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("click_id",
          last(when(col("event_type") === "click", col("event_id")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("click_id"))
        .orderBy("purchase_id")
    }),

    // ---- E11: RFM segmentation — recency/frequency/monetary quartiles
    // per customer WITHIN their market segment; metrics integer-exact
    // (days / counts / cents), ntile tie-broken by custkey so the
    // quartile edge is deterministic. Quartiles are PARTITIONED (by
    // segment) — a global `Window.orderBy` collapses to one task; at
    // 100 TB a truly global quartile would be the two-pass
    // range-partition + per-range offset scheme instead. -----------------
    "e11_rfm" -> ((s, dir) => {
      val m = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(max(datediff(to_date(col("o_orderdate")), lit("1970-01-01")))
            .as("last_day"),
          count(lit(1)).as("frequency"),
          sum(cents(col("o_totalprice"))).as("monetary_cents"))
        .join(t(s, dir, "customer")
          .select(col("c_custkey").as("custkey"),
            col("c_mktsegment").as("segment")), "custkey")
      def quartile(c: String) = ntile(4).over(
        Window.partitionBy("segment").orderBy(col(c), col("custkey")))
        .cast("long")
      m.select(col("custkey"), col("segment"), col("last_day"),
          col("frequency"), col("monetary_cents"),
          quartile("last_day").as("r_q"),
          quartile("frequency").as("f_q"),
          quartile("monetary_cents").as("m_q"))
        .orderBy("custkey")
    }),

    // ---- Reproducible sampling (training-data ops) ----------------------
    "s8_stratified_sample" -> ((s, dir) =>
      graft.ops.Sampling.stratifiedSample(
          t(s, dir, "documents"), "lang", "doc_id", n = 10)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    "s9_train_test_split" -> ((s, dir) =>
      graft.ops.Sampling.trainTestSplit(
          t(s, dir, "documents"), "doc_id", cutSixteenths = 4)
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")),

    // ---- S18: temperature-scaled mixture (XLM-R sampling law, alpha=0.5)
    // — source quota ∝ sqrt(n_s) in 1e-9 fixed point (sqrt is the one
    // power IEEE requires correctly rounded → engine-exact quotas),
    // realized in hash order --------------------------------------------
    // (stratum = lang: language sizes are genuinely skewed, so the sqrt
    // law visibly reweights; the synthetic sources are uniform)
    "s18_temperature_mix" -> ((s, dir) =>
      graft.ops.Sampling.temperatureMixture(
          t(s, dir, "documents"), "lang", "doc_id", budgetRows = 120)
        .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
        .orderBy("lang")),

    // ---- V1: k-anonymity / l-diversity release audit — one hash agg
    // keyed on the quasi-identifier tuple; groups below k are the
    // re-identifiable tail, single-sensitive-value groups leak under
    // homogeneity. 100 TB cost: one pass, |distinct QID| output rows -----
    "v1_k_anonymity" -> ((s, dir) =>
      graft.ops.Governance.kAnonymityAudit(
          t(s, dir, "documents"),
          qidCols = Seq(col("source"), expr("n_chars div 100")),
          qidNames = Seq("source", "len_bucket"),
          sensitive = col("lang"), k = 5, l = 3)
        .orderBy("source", "len_bucket")),

    // ---- V2: domain GENERALIZATION ladder — the k-anonymity remediation:
    // coarsen the numeric QID through widths {50,100,200,400,800} and
    // report per-level violations; smallest clean width is the minimal
    // generalization (chosen). One pass per level, |widths| output rows -
    "v2_generalization" -> ((s, dir) =>
      graft.ops.Governance.numericGeneralization(
          t(s, dir, "documents"), Seq("lang"), "n_chars",
          widths = Seq(50L, 100L, 200L, 400L, 800L), k = 5)
        .orderBy("width")),

    // ---- V3: t-CLOSENESS audit (Li 2007) — the skewness-attack check
    // after k-anonymity/l-diversity: per-QID-group total-variation
    // distance of the sensitive (lang) distribution from the corpus-wide
    // one, in cross-multiplied exact integers (num/den pair + basis
    // points). One (QID, sens) shuffle; global histogram broadcasts ------
    "v3_t_closeness" -> ((s, dir) =>
      graft.ops.Governance.tClosenessAudit(
          t(s, dir, "documents"),
          qidCols = Seq(col("source"), expr("n_chars div 100")),
          qidNames = Seq("source", "len_bucket"),
          sensitive = col("lang"), tBasisPoints = 2500)
        .orderBy("source", "len_bucket")),

    // ---- V4: seeded DIFFERENTIAL-PRIVACY count release (Dwork 2006) —
    // per-(source, lang) histogram with deterministic inverse-CDF
    // Laplace(1/ε) noise keyed on md5(seed|group): the reproducible-
    // release pattern; the true count never leaves the operator. One
    // hash aggregation; noise is a map expression on the group rows ------
    "v4_dp_release" -> ((s, dir) =>
      graft.ops.Governance.dpCountRelease(
          t(s, dir, "documents"), Seq("source", "lang"),
          epsilon = 1.0, seed = "graft-r7")
        .orderBy("source", "lang")),

    // ---- V5: RECURSIVE (c,l)-DIVERSITY audit (Machanavajjhala 2007 §4)
    // — the probabilistic-inference check plain l-diversity misses: the
    // top sensitive value must not outweigh c× the tail beyond the first
    // l−1 values. One (QID, sens) shuffle; the rank window is
    // partitioned by the QID tuple (bounded by the sensitive domain,
    // never corpus rows) --------------------------------------------------
    "v5_recursive_ldiv" -> ((s, dir) =>
      graft.ops.Governance.recursiveLDiversityAudit(
          t(s, dir, "documents"),
          qidCols = Seq(col("source"), expr("n_chars div 100")),
          qidNames = Seq("source", "len_bucket"),
          sensitive = col("lang"), l = 2, c = 2)
        .orderBy("source", "len_bucket")),

    // ---- V6: δ-PRESENCE audit (Nergiz 2007) — the membership-
    // disclosure check k-anonymity misses: per QID group, the released
    // share (release = the n_chars >= 200 quality filter) must sit
    // inside [500, 9000] bp or an attacker holding the population table
    // infers presence/absence. One conditional-sum aggregation ---------
    "v6_delta_presence" -> ((s, dir) =>
      graft.ops.Governance.deltaPresenceAudit(
          t(s, dir, "documents"),
          released = col("n_chars") >= 200,
          qidCols = Seq(col("source"), expr("n_chars div 100")),
          qidNames = Seq("source", "len_bucket"),
          deltaMinBp = 500, deltaMaxBp = 9000)
        .orderBy("source", "len_bucket")),

    // ---- V7: ENTROPY ℓ-diversity (Machanavajjhala 2007) — the
    // information-theoretic sibling of v5's recursive form: per QID
    // group, H(sensitive) ≥ ln(l). Per-cell fixed-point entropy terms
    // summed as exact BIGINTs (the no-float-sums discipline), QID-
    // partitioned window bounded by the sensitive domain -----------------
    "v7_entropy_ldiv" -> ((s, dir) =>
      graft.ops.Governance.entropyLDiversityAudit(
          t(s, dir, "documents"),
          qidCols = Seq(col("source"), expr("n_chars div 100")),
          qidNames = Seq("source", "len_bucket"),
          sensitive = col("lang"), l = 3)
        .orderBy("source", "len_bucket")),

    // ---- A36: JENSEN-SHANNON drift between the pre/post halves of the
    // purchase-value distribution — the distribution-shift monitor a
    // training-data pipeline runs per ingestion batch (a28's χ² tests
    // independence of two categoricals; JS measures divergence of the
    // SAME metric across time, bounded [0, ln 2] and finite even for
    // bins present on one side only — the reason it beats raw KL as a
    // monitor). e22's fixed cutoff splits the halves; cents div 1000
    // buckets bound the bin table; per-bin contributions are rounded
    // BIGINTs summed exactly. One corpus pass + a bin-table rollup -----
    "a36_js_drift" -> ((s, dir) => {
      val cutoff = 1705363200000000L // e22's 2024-01-16T00:00:00Z
      val bins = t(s, dir, "events")
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select(unix_micros(col("ts")).as("us"),
          cents(col("value")).as("v"))
        .groupBy(expr("v div 1000").as("bin"))
        .agg(
          sum(when(col("us") < cutoff, 1L).otherwise(0L)).as("c1"),
          sum(when(col("us") >= cutoff, 1L).otherwise(0L)).as("c2"))
      bins
        .crossJoin(broadcast(bins.agg(sum("c1").as("n1"),
          sum("c2").as("n2"))))
        .withColumn("__js_term_fp", expr(
          // ½·p·ln(p/m) + ½·q·ln(q/m), m = (p+q)/2; zero-count sides
          // contribute 0 (lim x→0 of x·ln x terms)
          "CAST(round((" +
            "CASE WHEN c1 = 0 THEN 0.0 ELSE " +
            " 0.5 * (CAST(c1 AS DOUBLE)/n1) * ln((CAST(c1 AS DOUBLE)/n1)" +
            "  / ((CAST(c1 AS DOUBLE)/n1 + CAST(c2 AS DOUBLE)/n2)/2)) END" +
            " + CASE WHEN c2 = 0 THEN 0.0 ELSE " +
            " 0.5 * (CAST(c2 AS DOUBLE)/n2) * ln((CAST(c2 AS DOUBLE)/n2)" +
            "  / ((CAST(c1 AS DOUBLE)/n1 + CAST(c2 AS DOUBLE)/n2)/2)) END" +
            ") * 1e9) AS BIGINT)"))
        .agg(max("n1").as("n_first"), max("n2").as("n_second"),
          count(lit(1)).as("n_bins"),
          sum("__js_term_fp").as("js_fp"))
        .withColumn("drifted", col("js_fp") > 50000000L) // 0.05 nats
    }),

    // ---- D17: benchmark LEAKAGE RATE — the evaluation-integrity number
    // a corpus release quotes: share of benchmark docs sharing any 4-gram
    // with the corpus, one summary row. The gram join SHUFFLES (corpus is
    // the big side — the broadcast direction d11 uses is only right when
    // the reference set is the small side) -------------------------------
    "d17_leakage_rate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      val bench = docs.filter(col("doc_id") % 25 === 0)
      val corpus = docs.filter(col("doc_id") % 25 =!= 0)
      val corpusGrams = corpus
        .select(explode(TextAnalysis.wordShingles(col("text"), 4)).as("g"))
        .distinct()
      val benchGrams = bench.select(col("doc_id"),
        explode(TextAnalysis.wordShingles(col("text"), 4)).as("g"))
      val leaked = benchGrams.join(corpusGrams, "g")
        .select("doc_id").distinct()
      bench.agg(count(lit(1)).as("n_bench"))
        .crossJoin(leaked.agg(count(lit(1)).as("n_leaked")))
        .select(col("n_bench"), col("n_leaked"),
          // Guarded: an empty bench set yields NULL on both engines
          // (Spark div-by-zero is NULL, DuckDB // raises) — degrade, don't
          // diverge.
          expr("CASE WHEN n_bench > 0 THEN n_leaked * 10000L div n_bench END")
            .as("leak_bp"))
    }),

    // ---- D18: substring-level dup-span fraction — every sliding word
    // 8-gram of a doc checked for presence in ANOTHER doc (the
    // exact-substring dedup signal: catches a verbatim quote inside an
    // otherwise-novel document, which whole-doc MinHash misses); doc
    // frequency via ONE window count over the gram partition — no doc
    // pair ever materializes ----------------------------------------------
    "d18_substring_dup" -> ((s, dir) =>
      Curation.substringDupStats(t(s, dir, "documents"), "doc_id", "text",
          k = 8)
        .orderBy("doc_id")),

    // ---- C12: the corpus CARD — the per-source datasheet row every
    // published dataset ships (doc/token/punct counts, exact-dup
    // membership, language spread), all integer aggregates; the exact-dup
    // flag joins each doc against the corpus-global digest groups --------
    "c12_corpus_card" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("digest", md5(col("text")))
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
        .withColumn("n_punct",
          TextAnalysis.punctCount(col("text")).cast("long"))
      val dupGroups = docs.groupBy("digest")
        .agg(count(lit(1)).as("grp_n"))
      docs.join(dupGroups, "digest")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_punct")).as("n_punct"),
          sum(when(col("grp_n") > 1, 1L).otherwise(0L)).as("n_dupped"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("source")
    }),

    // ---- C11: within-doc repeated-span removal — first occurrence wins,
    // document reassembled in order; every shuffle key contains the doc
    // id, so no corpus-global state (contrast d12's cross-corpus pass) ---
    "c11_indoc_dedup" -> ((s, dir) =>
      Curation.dedupSegmentsInDoc(t(s, dir, "documents"), "doc_id", "text",
          segWords = 2)
        .orderBy("doc_id")),

    // ---- C10: curriculum phases — shortest-first per language, phase
    // boundaries at 40% / 80% of each language's cumulative token budget;
    // one sort per lang partition serves the cumsum, the totals ride in
    // on a broadcast-size join, every comparison integer ------------------
    "c10_curriculum" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      val w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = d.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      val tot = d.groupBy("lang").agg(sum(col("n_tokens")).as("total_tokens"))
      cum.join(broadcast(tot), "lang")
        .withColumn("phase",
          when(col("cum_tokens") * 100 <= col("total_tokens") * 40, 1L)
            .when(col("cum_tokens") * 100 <= col("total_tokens") * 80, 2L)
            .otherwise(3L))
        .select("doc_id", "lang", "n_tokens", "phase")
        .orderBy("doc_id")
    }),

    // ---- D16: LSH recall measured IN-ENGINE — the banding scheme's raw
    // candidates audited against exact-Jaccard truth computed over a
    // DETERMINISTIC HASH SAMPLE of the corpus (both pair endpoints
    // sampled ⇒ pair rate p²): the exact inverted-index truth join costs
    // Σ df² over shingles — corpus-quadratic on popular shingles — so at
    // 100 TB the audit runs on the sample, never the full corpus. Sample
    // membership is a pure id-hash predicate (first md5 hex < 8 ⇒ p=1/2),
    // independent of candidate structure, so restricting BOTH candidates
    // and truth to sampled endpoints gives unbiased recall/precision
    // estimators (pinned vs full truth in CurationSpec). Division guarded:
    // an empty sampled truth/candidate set degrades to NULL identically in
    // Spark and DuckDB instead of diverging ---------------------------------
    "d16_lsh_recall" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def inSample(c: Column): Column =
        conv(substring(md5(c.cast("string")), 1, 1), 16, 10)
          .cast("long") < 8
      // cand is consumed THREE times (global count, sampled count, the
      // true-positive join) and truth twice — only the signature prep
      // inside lshCandidatePairs is cached, so the band window +
      // self-join + distinct re-ran per consumer (guide §2.4). One
      // cache each; at 100 TB persist to storage.
      val cand = MinHashDedup.lshCandidatePairs(docs, "doc_id", "text",
        k = 3, m = 16, nBands = 4, maxBucket = 1000).cache()
      val candS = cand.filter(inSample(col("id_a")) && inSample(col("id_b")))
      val truth = MinHashDedup.ngramJaccardPairs(
          docs.filter(inSample(col("doc_id"))).withColumn("__blk", lit(0)),
          "doc_id", "text", "__blk", k = 3, threshold = 0.3)
        .select("id_a", "id_b")
        .cache()
      val tp = candS.join(truth, Seq("id_a", "id_b"))
      cand.agg(count(lit(1)).as("n_cand"))
        .crossJoin(candS.agg(count(lit(1)).as("n_cand_s")))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth_s")))
        .crossJoin(tp.agg(count(lit(1)).as("n_tp_s")))
        .select(col("n_truth_s"), col("n_cand"), col("n_cand_s"),
          col("n_tp_s"),
          expr("CASE WHEN n_truth_s > 0 THEN n_tp_s * 10000L div n_truth_s END")
            .as("recall_bp"),
          expr("CASE WHEN n_cand_s > 0 THEN n_tp_s * 10000L div n_cand_s END")
            .as("precision_bp"))
    }),

    // ---- C9: training-data MIXTURE — fill 8% of the corpus from
    // per-source quotas (40/30/20/10), hash-order so the recipe is
    // rerun-stable and engine-portable; unlisted sources contribute
    // nothing --------------------------------------------------------------
    "c9_data_mixture" -> ((s, dir) =>
      graft.ops.Sampling.mixture(t(s, dir, "documents"), "source", "doc_id",
          weights = Seq("src1" -> 40, "src2" -> 30, "src3" -> 20,
            "src4" -> 10),
          budgetPct = 8)
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // ---- C13: CCNet head/middle/tail — per-language ntile(3) over LM
    // surprisal (deterministic (avg_nll, id) order makes the quantile
    // hash-gateable); the 100 TB variant broadcasts approx cutpoints
    // instead of windowing (documented in Curation.ccnetBuckets) --------
    "c13_ccnet_buckets" -> ((s, dir) =>
      graft.ops.Curation.ccnetBuckets(
          t(s, dir, "documents").filter(col("text").isNotNull),
          "doc_id", "text", "lang")
        .orderBy("doc_id")),

    // ---- C14: DSIR importance resampling (Xie 2023) — raw-pool docs
    // whose hashed unigram+bigram profile best matches the target slice
    // (en/src18 here): per-bucket smoothed log-ratios broadcast onto the
    // feature stream, integer fixed-point doc weights, deterministic
    // top-k. One corpus explode-agg pass + one doc-keyed sum -------------
    "c14_dsir_resample" -> ((s, dir) =>
      graft.ops.Curation.dsirResample(
          t(s, dir, "documents"), "doc_id", "text",
          targetPred = col("lang") === "en" && col("source") === "src18",
          dim = 1024, k = 50)
        .orderBy(col("weight_fp").desc, col("doc_id"))),

    // ---- J12: incremental aggregate MAINTENANCE — the materialized-view
    // refresh: merge the stored per-key summary with the delta's summary
    // (both agg-sized) instead of rescanning history; count/sum/min/max
    // are each closed under merge, avg derives at readout. Oracle is the
    // full recompute — maintained == recomputed, hash-exact -------------
    "j12_delta_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("v", cents(col("l_extendedprice")))
      val keys = Seq("l_returnflag", "l_linestatus")
      val base = graft.ops.Incremental.partial(
        li.filter(col("l_orderkey") % 10 =!= 0), keys, "v")
      val delta = graft.ops.Incremental.partial(
        li.filter(col("l_orderkey") % 10 === 0), keys, "v")
      graft.ops.Incremental.withAvg(
          graft.ops.Incremental.merge(base, delta, keys))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- J13: GOLDEN-RECORD reconciliation — the MDM merge a
    // multi-source migration ends with: three overlapping source feeds
    // of the customer entity (each with its own field coverage and
    // casing), merged per key by SOURCE-PRIORITY coalesce per column
    // (src 1 > 2 > 3; each source contributes ≤1 row per key, so the
    // per-source pick is an exact conditional min), plus the conflict
    // flag stewardship queues triage on. ONE union + ONE key-keyed hash
    // aggregation — reconciliation of N sources at 100 TB costs one
    // shuffle of the union --------------------------------------------
    // ---- J14: REFERENTIAL-INTEGRITY audit — the orphan check every
    // migration program in the reference hand-rolls per table
    // (children whose parent row is missing), run for the whole schema
    // in one pass: per FK edge, total rows and orphan count via a
    // left-anti join (NULL keys count as orphans — a strict audit),
    // all edges unioned into one report. Each anti-join broadcasts the
    // parent KEY COLUMN only, so auditing a 100 TB fact table costs
    // one scan per edge with a broadcast probe ------------------------
    "j14_fk_audit" -> ((s, dir) => {
      def one(nm: String, c: DataFrame, k: String, p: DataFrame,
              pk: String): DataFrame = {
        val orphans = c.select(col(k))
          .join(broadcast(p.select(col(pk))), col(k) === col(pk),
            "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        c.agg(count(lit(1)).as("n_rows"))
          .crossJoin(broadcast(orphans))
          .select(lit(nm).as("fk"), col("n_rows"), col("n_orphans"),
            (col("n_orphans") === 0L).as("ok"))
      }
      Seq(
        one("customer.c_nationkey->nation", t(s, dir, "customer"),
          "c_nationkey", t(s, dir, "nation"), "n_nationkey"),
        one("lineitem.l_orderkey->orders", t(s, dir, "lineitem"),
          "l_orderkey", t(s, dir, "orders"), "o_orderkey"),
        one("lineitem.l_partkey->part", t(s, dir, "lineitem"),
          "l_partkey", t(s, dir, "part"), "p_partkey"),
        one("lineitem.l_suppkey->supplier", t(s, dir, "lineitem"),
          "l_suppkey", t(s, dir, "supplier"), "s_suppkey"),
        one("nation.n_regionkey->region", t(s, dir, "nation"),
          "n_regionkey", t(s, dir, "region"), "r_regionkey"),
        one("orders.o_custkey->customer", t(s, dir, "orders"),
          "o_custkey", t(s, dir, "customer"), "c_custkey"),
        one("supplier.s_nationkey->nation", t(s, dir, "supplier"),
          "s_nationkey", t(s, dir, "nation"), "n_nationkey"))
        .reduce(_ unionByName _)
        .orderBy("fk")
    }),

    // ---- A29: SPEARMAN rank correlation — the robust monotone-
    // association readout between per-user spend and activity:
    // midranks per variable (a27's doubled-integer discipline) — but
    // unlike a25/a27's bounded value domains, per-user SPEND has
    // user-cardinality distinct values, so the cumulative rank runs on
    // the ScaleSafe two-level prefix scan (no unpartitioned window over
    // unbounded input — the r7 lesson applied at authoring time, not
    // retrofitted). Ranks broadcast back onto the user table, Pearson
    // over the integer rank pairs with decimal(38,0) product sums
    // (the e22 lesson) and ONE pinned double at the end ----------------
    "a29_spearman" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase",
            cents(col("value"))).otherwise(0L)).as("x"),
          count(lit(1)).as("y"))
      def midrank2(values: DataFrame, vCol: String): DataFrame = {
        val cnt = values.groupBy(col(vCol)).agg(count(lit(1)).as("c"))
        val mm = cnt.agg(min(col(vCol)).as("lo"), max(col(vCol)).as("hi"))
          .head()
        if (mm.isNullAt(0))
          cnt.select(col(vCol), lit(1L).as(vCol + "_r2"))
        else ScaleSafe.runningSumBucketed(cnt, Seq(col(vCol)),
            ScaleSafe.rangeBucket(vCol, mm.getLong(0), mm.getLong(1), 32),
            "c", "cum")
          .select(col(vCol),
            (lit(2L) * (col("cum") - col("c")) + col("c") + 1L)
              .as(vCol + "_r2"))
      }
      val d19 = "decimal(19,0)"
      u.join(broadcast(midrank2(u.select("x"), "x")), "x")
        .join(broadcast(midrank2(u.select("y"), "y")), "y")
        .agg(count(lit(1)).as("n"),
          sum(col("x_r2")).as("sx"), sum(col("y_r2")).as("sy"),
          sum(col("x_r2").cast(d19) * col("y_r2").cast(d19)).as("sxy"),
          sum(col("x_r2").cast(d19) * col("x_r2").cast(d19)).as("sxx"),
          sum(col("y_r2").cast(d19) * col("y_r2").cast(d19)).as("syy"))
        .withColumn("rho_fp", expr(
          "CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)" +
            " * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)" +
            " <= 0.0 THEN NULL ELSE " +
            "CAST(round((CAST(n AS DOUBLE) * sxy" +
            " - CAST(sx AS DOUBLE) * sy)" +
            " / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)" +
            " * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))" +
            " * 1e9) AS BIGINT) END"))
        .select("n", "rho_fp")
    }),

    "j13_golden_record" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val s1 = c.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey").as("k"), lit(1L).as("src"),
          col("c_name").as("name"), col("c_mktsegment").as("segment"))
      val s2 = c.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("k"), lit(2L).as("src"),
          lower(col("c_name")).as("name"), col("c_mktsegment").as("segment"))
      val s3 = c.select(col("c_custkey").as("k"), lit(3L).as("src"),
        col("c_name").as("name"), lit(null).cast("string").as("segment"))
      def pick(c0: String) = coalesce(
        min(when(col("src") === 1, col(c0))),
        min(when(col("src") === 2, col(c0))),
        min(when(col("src") === 3, col(c0))))
      s1.unionByName(s2).unionByName(s3)
        .groupBy("k")
        .agg(count(lit(1)).as("n_sources"),
          pick("name").as("name"), pick("segment").as("segment"),
          (countDistinct(col("name")) > 1).as("name_conflict"))
        .orderBy("k")
    }),

    // ---- SQL front door: views + registered engine functions ------------
    // ---- J11: snapshot DIFF — two per-key aggregate snapshots compared
    // by full-row hash through one full-outer join: added / removed /
    // changed keys (the data-diff primitive that FEEDS a CDC apply);
    // unchanged rows never leave the join ---------------------------------
    "j11_snapshot_diff" -> ((s, dir) => {
      def snap(from: String, until: String) = t(s, dir, "orders")
        .filter(to_date(col("o_orderdate")) >= lit(from) &&
          to_date(col("o_orderdate")) < lit(until))
        .groupBy(col("o_custkey").as("key"))
        .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("c"))
        .withColumn("h", md5(concat_ws("|", col("n"), col("c"))))
      val oldS = snap("1995-01-01", "1998-01-01")
        .select(col("key").as("ok"), col("h").as("oh"))
      val newS = snap("1997-01-01", "2002-01-01")
        .select(col("key").as("nk"), col("h").as("nh"))
      oldS.join(newS, col("ok") === col("nk"), "full_outer")
        .withColumn("status",
          when(col("ok").isNull, "added")
            .when(col("nk").isNull, "removed")
            .when(col("oh") =!= col("nh"), "changed"))
        .filter(col("status").isNotNull)
        .select(coalesce(col("ok"), col("nk")).as("key"), col("status"))
        .orderBy("key")
    }),

    // ---- J10: CDC batch apply — a keyed change set (U/D ops with
    // sequence numbers) applied to a base table as TWO set operations:
    // last-change-wins per key (one window), then anti-join survivors ∪
    // applied upserts; no per-row loop, inserts for unseen keys fall out
    // automatically --------------------------------------------------------
    "j10_cdc_apply" -> ((s, dir) => {
      val base = t(s, dir, "customer")
        .select(col("c_custkey").as("key"),
          cents(col("c_acctbal")).as("bal_cents"))
      val changes = t(s, dir, "orders")
        .select(col("o_custkey").as("key"),
          col("o_orderkey").as("seq"),
          when(col("o_orderkey") % 17 === 0, lit("D")).otherwise(lit("U"))
            .as("op"),
          cents(col("o_totalprice")).as("new_bal"))
      val w = Window.partitionBy("key").orderBy(col("seq").desc)
      val last = changes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      val untouched = base.join(last.select("key"), Seq("key"), "left_anti")
      val applied = last.filter(col("op") =!= "D")
        .select(col("key"), col("new_bal").as("bal_cents"))
      untouched.unionByName(applied).orderBy("key")
    }),

    // ---- S16: custom DataSource V2 connector — range predicates pushed
    // into the source narrow the scan bounds at PLANNING time (work ∝
    // selected range, not corpus) and column pruning reaches the reader;
    // the contract every production service/cursor connector needs
    // (PlanSpec pins the narrowed bounds in the scan description) --------
    "s16_custom_source" -> ((s, dir) =>
      s.read.format("graft.sources.SeqSourceProvider")
        .option("n", "1000000").option("parts", "8").load()
        .filter(col("id") >= 100000L && col("id") < 300000L)
        .groupBy((col("id") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("val")).as("sum_val"))
        .orderBy("bucket")),

    // ---- S17: COMPLETE aggregate pushdown into the custom source — a
    // 50M-row COUNT(*) answered by range arithmetic, one row, O(1): the
    // service-side `SELECT count(*)` every cursor connector should
    // forward (PlanSpec pins the graftseq-count scan) --------------------
    "s17_source_agg_pushdown" -> ((s, dir) =>
      s.read.format("graft.sources.SeqSourceProvider")
        .option("n", "50000000").option("parts", "8").load()
        .filter(col("id") >= 100000L)
        .agg(count(lit(1)).as("n"))),

    // ---- S15: FIXED-WIDTH records — the mainframe-era format every ETL
    // tool must still parse: encode to padded columns, parse back by
    // byte offsets (substring + trim + cast), round-trip under the
    // oracle; all codegen, zero shuffle ----------------------------------
    "s15_fixed_width" -> ((s, dir) => {
      val lines = t(s, dir, "customer")
        .select(concat(
          rpad(col("c_custkey").cast("string"), 10, " "),
          rpad(col("c_mktsegment"), 12, " "),
          rpad(cents(col("c_acctbal")).cast("string"), 14, " "))
          .as("line"))
      lines.select(
          trim(substring(col("line"), 1, 10)).cast("long").as("custkey"),
          trim(substring(col("line"), 11, 12)).as("segment"),
          trim(substring(col("line"), 23, 14)).cast("long").as("bal_cents"))
        .orderBy("custkey")
    }),

    // ---- L11: heterogeneous-source consolidation — unionByName with
    // allowMissingColumns (each source keeps its own schema, absent
    // columns null-fill), then one aggregate over the unified frame; the
    // multi-source ETL shape where positional union silently corrupts ----
    "l11_union_by_name" -> ((s, dir) => {
      val a = t(s, dir, "orders")
        .select(col("o_orderkey").as("key"),
          cents(col("o_totalprice")).as("price_cents"),
          lit("orders").as("src"))
      val b = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("key"),
          cents(col("l_extendedprice")).as("price_cents"),
          col("l_quantity").cast("long").as("qty"),
          lit("lineitem").as("src"))
      a.unionByName(b, allowMissingColumns = true)
        .groupBy("src")
        .agg(count(lit(1)).as("n"),
          sum(col("price_cents")).as("sum_price_cents"),
          sum(col("qty")).as("sum_qty"))
        .orderBy("src")
    }),

    // ---- P23: sequence-gap detection (missing-id ranges) WITHOUT a
    // global window: in-bucket gaps from a lag partitioned by k div 4096,
    // boundary gaps from a second window over the per-bucket summary —
    // the hierarchical two-level pattern that keeps a global-order
    // computation distributed (the bucket summary is corpus/4096 rows;
    // contrast the documented global-orderBy collapse at e11) -------------
    "p23_sequence_gaps" -> ((s, dir) => {
      val B = 4096L
      // keys thinned (every 7th dropped) so the detector has real gaps
      val keys = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"))
        .filter(col("k") % 7 =!= 0)
        .withColumn("b", col("k") - (col("k") % B))
      val wb = Window.partitionBy("b").orderBy("k")
      val inner = keys.withColumn("prev", lag(col("k"), 1).over(wb))
        .filter(col("prev").isNotNull && col("k") - col("prev") > 1)
        .select((col("prev") + 1).as("gap_lo"), (col("k") - 1).as("gap_hi"))
      val summary = keys.groupBy("b")
        .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
      val ws = Window.orderBy("b") // corpus/4096 rows — driver-scale
      val boundary = summary
        .withColumn("prev_hi", lag(col("hi"), 1).over(ws))
        .filter(col("prev_hi").isNotNull && col("lo") - col("prev_hi") > 1)
        .select((col("prev_hi") + 1).as("gap_lo"), (col("lo") - 1).as("gap_hi"))
      inner.unionByName(boundary).orderBy("gap_lo")
    }),

    // ---- P22: rule-based quarantine — the reference's failed-row retry
    // queue as ONE set-based pass: named rules projected as booleans,
    // failing names collected per row; no shuffle (SURVEY §2; reference
    // sdk/migrate_assures.php:419-456) ------------------------------------
    "p22_quarantine" -> ((s, dir) => {
      val (_, bad) = graft.etl.Quarantine.split(t(s, dir, "events"),
        Seq(
          "value_cap" -> (col("value") <= 30),
          "known_type" -> col("event_type")
            .isin("view", "click", "purchase", "signup")))
      bad.select(col("event_id"),
          concat_ws(",", col("quarantine_reasons")).as("reasons"))
        .orderBy("event_id")
    }),

    // ---- P21: date-dimension features — the derived-calendar projection
    // every warehouse build starts with; all-codegen, zero shuffle, and
    // every feature integer/string so the cross-engine gate is exact -----
    "p21_date_features" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"),
          to_date(col("o_orderdate")).as("d"))
        .select(col("o_orderkey"),
          date_format(col("d"), "yyyy-MM-dd").as("d_str"),
          year(col("d")).cast("long").as("yr"),
          quarter(col("d")).cast("long").as("qtr"),
          month(col("d")).cast("long").as("mo"),
          dayofmonth(col("d")).cast("long").as("dom"),
          dayofweek(col("d")).cast("long").as("dow"),
          date_format(last_day(col("d")), "yyyy-MM-dd").as("month_end"),
          date_format(add_months(col("d"), 1), "yyyy-MM-dd").as("next_month"),
          date_format(date_trunc("week", col("d")), "yyyy-MM-dd")
            .as("week_start"))
        .orderBy("o_orderkey")),

    // ---- SQL2: the SQL FRONT-END end-to-end — a full multi-join
    // aggregation query submitted as SQL text against registered views
    // (the surface a reference user types), planned by the same Catalyst
    // pipeline as the DataFrame gates --------------------------------------
    "sql2_sql_pipeline" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT n_name,
          |  count(*) AS n_items,
          |  sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
          |    AS BIGINT)) AS revenue_cents
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN lineitem ON l_orderkey = o_orderkey
          |JOIN nation ON c_nationkey = n_nationkey
          |WHERE o_orderpriority = '1-URGENT'
          |GROUP BY n_name
          |ORDER BY n_name""".stripMargin)
    }),

    // ---- SQL3: the session's native expressions exercised through the
    // pure SQL surface — a SQL-only user gets cdc_chunks() like any
    // built-in (per-source storage-dedup ratio, no DataFrame code) ------
    "sql3_sql_native_fns" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT source,
          |  count(*) AS n_chunks,
          |  count(DISTINCT c.digest) AS n_distinct
          |FROM (SELECT source, explode(cdc_chunks(text)) AS c
          |      FROM documents WHERE text IS NOT NULL)
          |GROUP BY source ORDER BY source""".stripMargin)
    }),

    "sql1_engine_sql" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT p_partkey,
          |  str_before(p_type, ' ') AS type_head,
          |  str_after(p_type, ' ') AS type_tail,
          |  rolling_hash(p_name) AS name_hash
          |FROM part WHERE p_size <= 10
          |ORDER BY p_partkey""".stripMargin)
    }),

    // ---- SQL4-SQL12: one SQL-surface twin per operator family
    // (r7-verdict item 6) — each is the pure-SQL spelling of an existing
    // gate (registered views + the native function catalog, zero
    // DataFrame code) and shares that gate's oracle verbatim, so the SQL
    // front door is oracle-gated family by family: windows (sql4),
    // grouping sets (sql5), exact dedup (sql6), Hamming similarity join
    // through the optimizer rewrite (sql7), sketches (sql8), text
    // (sql9), graph (sql10), multimodal decode (sql11), governance
    // (sql12); scans/projections/joins/native scalars were already
    // sql1-sql3. Streaming and JDBC mutation are the two families with
    // no SQL spelling (readStream/foreachBatch are API surfaces). -------
    "sql4_window_rank" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT c_custkey, c_nationkey,
          |  CAST(rn AS BIGINT) AS rn, CAST(rnk AS BIGINT) AS rnk
          |FROM (SELECT c_custkey, c_nationkey,
          |    row_number() OVER w AS rn, rank() OVER w AS rnk
          |  FROM customer
          |  WINDOW w AS (PARTITION BY c_nationkey
          |    ORDER BY c_acctbal DESC, c_custkey))
          |WHERE rn <= 3
          |ORDER BY c_nationkey, rn""".stripMargin)
    }),

    "sql5_rollup" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT coalesce(o_orderstatus, 'ALL') AS status,
          |  coalesce(o_orderpriority, 'ALL') AS prio,
          |  count(*) AS n,
          |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS price_cents
          |FROM orders
          |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
          |ORDER BY status, prio""".stripMargin)
    }),

    "sql6_exact_dedup" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT md5(text) AS content_hash, count(*) AS n_docs,
          |  min(doc_id) AS keeper_id
          |FROM documents GROUP BY md5(text)
          |ORDER BY content_hash""".stripMargin)
    }),

    // The hamming_le join predicate through pure SQL: the
    // HammingJoinRewrite optimizer rule re-plans it into the pigeonhole
    // chunk equality join exactly as it does for the DataFrame form.
    "sql7_hamming_join" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """WITH ph AS (SELECT doc_id, dhash56(text) AS phash
          |  FROM documents WHERE text IS NOT NULL)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  CAST(bit_count(a.phash ^ b.phash) AS BIGINT) AS hamming
          |FROM ph a JOIN ph b
          |  ON hamming_le(a.phash, b.phash, 4) AND a.doc_id < b.doc_id
          |WHERE a.phash IS NOT NULL AND b.phash IS NOT NULL
          |ORDER BY id_a, id_b""".stripMargin)
    }),

    "sql8_heavy_hitters" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """WITH toks AS (SELECT explode(
          |    regexp_extract_all(lower(text), '\\S+', 0)) AS token
          |  FROM documents),
          | t2 AS (SELECT token FROM toks WHERE token IS NOT NULL),
          | cand AS (SELECT s.item AS token FROM
          |   (SELECT explode(misra_gries(token, 40)) AS s FROM t2)),
          | tot AS (SELECT count(*) AS total FROM t2),
          | cnts AS (SELECT t2.token, count(*) AS cnt
          |   FROM t2 JOIN cand USING (token) GROUP BY t2.token)
          |SELECT token, cnt, total FROM cnts CROSS JOIN tot
          |WHERE cnt >= total * 0.03125
          |ORDER BY token""".stripMargin)
    }),

    "sql9_vocab_topk" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT token, count(*) AS n FROM (
          |  SELECT explode(regexp_extract_all(lower(text), '\\S+', 0))
          |    AS token FROM documents)
          |GROUP BY token ORDER BY n DESC, token LIMIT 25""".stripMargin)
    }),

    // Triangle count in pure SQL: orient every undirected edge a < b,
    // then a<b<c wedge + closure joins count each triangle once. The
    // engine's degree-ordered orientation is the skew-safe production
    // shape; the count is identical, which is all the shared oracle pins.
    "sql10_triangles" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """WITH pairs AS (SELECT DISTINCT c_nationkey AS x,
          |    s_nationkey AS y
          |  FROM orders
          |  JOIN customer ON o_custkey = c_custkey
          |  JOIN lineitem ON l_orderkey = o_orderkey
          |  JOIN supplier ON s_suppkey = l_suppkey),
          | und AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
          |  FROM pairs WHERE x <> y)
          |SELECT count(*) AS n_triangles
          |FROM und e1
          |JOIN und e2 ON e2.a = e1.b
          |JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin)
    }),

    "sql11_media_meta" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val fixtures = Multimodal.FixtureMediaHex.map { case (id, hex, _) =>
        s"(CAST($id AS BIGINT), unhex('$hex'))"
      }.mkString(",\n    ")
      s.sql(
        s"""WITH media AS (
           |  SELECT doc_id, CAST(text AS BINARY) AS payload FROM documents
           |  UNION ALL
           |  SELECT * FROM (VALUES
           |    $fixtures) v(doc_id, payload)),
           | d AS (SELECT doc_id,
           |   CAST(length(payload) AS BIGINT) AS n_bytes,
           |   sha2(payload, 256) AS sha256,
           |   media_dims(payload) AS dims FROM media)
           |SELECT doc_id, n_bytes, sha256, dims.format AS format,
           |  CAST(dims.width AS BIGINT) AS width,
           |  CAST(dims.height AS BIGINT) AS height
           |FROM d ORDER BY doc_id""".stripMargin)
    }),

    "sql12_k_anonymity" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT source, n_chars div 100 AS len_bucket,
          |  count(*) AS k_of_group,
          |  count(DISTINCT lang) AS n_sensitive,
          |  count(*) >= 5 AS k_ok,
          |  count(DISTINCT lang) >= 3 AS l_ok
          |FROM documents GROUP BY source, n_chars div 100
          |ORDER BY source, len_bucket""".stripMargin)
    }),

    // ---- SQL13: the a32 log-histogram sketch through the SQL front
    // door — bin()/shiftleft()/shiftright() are plain Spark SQL, so the
    // whole sketch family is reachable without the Scala API; shares
    // a32's DuckDB oracle ----------------------------------------------
    "sql13_log_histogram" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """WITH v AS (SELECT CAST(round(value * 100) AS BIGINT) AS v
          |  FROM events
          |  WHERE event_type = 'purchase' AND value IS NOT NULL),
          | b AS (SELECT CASE WHEN v < 64 THEN v
          |    ELSE shiftleft(shiftright(v, length(bin(v)) - 7),
          |                   length(bin(v)) - 7)
          |    END AS low
          |  FROM v WHERE v >= 0),
          | bc AS (SELECT low, count(*) AS cnt FROM b GROUP BY low),
          | cum AS (SELECT low, sum(cnt) OVER (ORDER BY low) AS cum
          |   FROM bc),
          | n AS (SELECT sum(cnt) AS n FROM bc),
          | thr AS (SELECT p_bp, n.n AS n,
          |    (n.n * p_bp + 9999) div 10000 AS k
          |  FROM (SELECT explode(array(5000L, 9000L, 9900L)) AS p_bp)
          |  CROSS JOIN n)
          |SELECT /*+ BROADCAST(thr) */
          |  thr.p_bp, thr.n, thr.k, min(cum.low) AS est
          | FROM cum JOIN thr ON cum.cum >= thr.k
          | GROUP BY 1, 2, 3 ORDER BY p_bp""".stripMargin)
    }),

    // ---- SQL14: the flagship ANN index family through the SQL front
    // door (r8-verdict item 3 — the n* family was Scala-only): the FULL
    // IVF build + probe in one pure-SQL statement over the registered
    // fp_dot codegen expression — deterministic md5-order centroid
    // "training", nearest-centroid assignment via a windowed broadcast
    // cross join against the 16-row centroid set, nProbe=2 probing, and
    // exact fixed-point rerank inside probed cells. Byte-identical
    // spelling of Similarity.ivfTopK's plan, gated on n3's DuckDB
    // oracle verbatim -----------------------------------------------------
    "sql14_ann_ivf" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """WITH c0 AS (
          |  SELECT vec_id AS c_id, embedding AS c_vec,
          |    fp_dot(embedding, embedding) AS c_norm
          |  FROM embeddings),
          | cents AS (
          |  SELECT c_id AS cent_id, c_vec AS cent_vec,
          |    c_norm AS cent_norm
          |  FROM c0 ORDER BY md5(CAST(c_id AS STRING)), c_id LIMIT 16),
          | c_assign AS (
          |  SELECT /*+ BROADCAST(cents) */ c_id, c_vec, c_norm,
          |    cent_id,
          |    row_number() OVER (PARTITION BY c_id ORDER BY
          |      CAST(fp_dot(c_vec, cent_vec) AS DOUBLE)
          |        / (sqrt(CAST(c_norm AS DOUBLE))
          |           * sqrt(CAST(cent_norm AS DOUBLE))) DESC,
          |      cent_id) AS r
          |  FROM c0 CROSS JOIN cents),
          | cells AS (
          |  SELECT c_id, c_vec, c_norm, cent_id AS c_cell
          |  FROM c_assign WHERE r = 1),
          | q0 AS (
          |  SELECT vec_id AS q_id, embedding AS q_vec,
          |    fp_dot(embedding, embedding) AS q_norm
          |  FROM embeddings WHERE vec_id < 8),
          | q_assign AS (
          |  SELECT /*+ BROADCAST(cents) */ q_id, q_vec, q_norm,
          |    cent_id,
          |    row_number() OVER (PARTITION BY q_id ORDER BY
          |      CAST(fp_dot(q_vec, cent_vec) AS DOUBLE)
          |        / (sqrt(CAST(q_norm AS DOUBLE))
          |           * sqrt(CAST(cent_norm AS DOUBLE))) DESC,
          |      cent_id) AS r
          |  FROM q0 CROSS JOIN cents),
          | qcells AS (
          |  SELECT q_id, q_vec, q_norm, cent_id AS q_cell
          |  FROM q_assign WHERE r <= 2),
          | scored AS (
          |  SELECT /*+ BROADCAST(qcells) */ q_id, c_id,
          |    fp_dot(q_vec, c_vec) AS dot_fp,
          |    CAST(fp_dot(q_vec, c_vec) AS DOUBLE)
          |      / (sqrt(CAST(q_norm AS DOUBLE))
          |         * sqrt(CAST(c_norm AS DOUBLE))) AS cos
          |  FROM cells JOIN qcells
          |    ON q_cell = c_cell AND q_id <> c_id)
          |SELECT q_id, c_id, rank, cos FROM (
          |  SELECT q_id, c_id, cos,
          |    CAST(row_number() OVER (PARTITION BY q_id
          |      ORDER BY dot_fp DESC, c_id) AS BIGINT) AS rank
          |  FROM scored)
          |WHERE rank <= 5
          |ORDER BY q_id, rank""".stripMargin)
    }),

    // ---- P19: NOT IN three-valued null semantics — the classic SQL trap:
    // a NULL anywhere in the subquery result makes NOT IN unknowable, so
    // ZERO rows survive. Catalyst plans this as a null-aware anti join
    // (single-column NAAJ → broadcast hash join, not a nested loop). -----
    "p19_not_in_nulls" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT
          |  (SELECT count(*) FROM orders
          |   WHERE o_orderpriority NOT IN
          |     (SELECT DISTINCT o_orderpriority FROM orders
          |      WHERE o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'))
          |    AS n_null_free,
          |  (SELECT count(*) FROM orders
          |   WHERE o_orderpriority NOT IN
          |     (SELECT nullif(o_orderpriority, '5-LOW') FROM orders))
          |    AS n_with_null""".stripMargin)
    }),

    // ---- Q4-style EXISTS: correlated subquery — Catalyst rewrites the
    // EXISTS into a left-semi hash join (RewritePredicateSubquery), so the
    // "for each order, probe its lineitems" spelling costs ONE equality
    // join, never N subquery executions. ---------------------------------
    "q4_exists_late" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT o_orderpriority, count(*) AS n
          |FROM orders o
          |WHERE EXISTS (
          |  SELECT 1 FROM lineitem l
          |  WHERE l.l_orderkey = o.o_orderkey
          |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS)
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
    }),

    // ---- Flagship config-driven pipeline (oracle-checked) ---------------
    "etl1_pipeline" -> ((s, dir) => {
      val spec = PipelineSpec.parse(
        """{"tables":[{"flow":"customer -> dst",
          |  "columns":{"cust_id":"[c_custkey]","full_name":"[c_name]",
          |             "segment":"[c_mktsegment]","source_system":"legacy-crm"},
          |  "unique":["segment"],
          |  "query":"c_custkey > 10"}]}""".stripMargin)
      val dst = t(s, dir, "customer").filter(col("c_custkey") <= 2)
        .select(col("c_mktsegment").as("segment"))
      ETLPipeline.transform(t(s, dir, "customer"), spec.flows.head,
          destination = Some(dst), orderCol = Some("cust_id"))
        .orderBy("cust_id")
    }),

    // ---- ETL2-4: MANIFEST-VERSIONED DESTINATION TABLES (r12-verdict
    // item 1: the ANN index's snapshot machinery generalized to ETL
    // sinks — etl/VersionedTable). etl2 exercises the ACID merge +
    // delete lifecycle end-to-end against a live table directory; etl3
    // the atomic delete-then-insert-children commit (the reference's
    // migrate_assures transaction, sdk/migrate_assures.php:205-227);
    // etl4 time travel across three commits. Each run builds its table
    // in a fresh temp dir from deterministic transforms of the base
    // tables, so the DuckDB oracle replays pure SQL. At 100 TB the
    // merge/delete are FILE-PRUNED rewrites (only files holding touched
    // keys rewrite — the Delta MERGE strategy); the gates prove the
    // exact same code path at sf --------------------------------------
    "etl2_versioned_merge" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_vt_merge").toString
      val orders = t(s, dir, "orders")
      val base = orders.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      VersionedTable.init(s, tmp, base)
      val src = orders.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"),
          (col("o_custkey") + 1000000L).as("o_custkey"),
          lit("U").as("o_orderstatus"))
        .unionByName(orders.filter(col("o_orderkey") % 997 === 1)
          .select((col("o_orderkey") + 50000000L).as("o_orderkey"),
            col("o_custkey"), lit("N").as("o_orderstatus")))
      VersionedTable.merge(s, tmp, src, Seq("o_orderkey"))
      VersionedTable.deleteWhere(s, tmp,
        col("o_orderstatus") === "F" && col("o_orderkey") % 5 === 0)
      VersionedTable.read(s, tmp).orderBy("o_orderkey")
    }),

    "etl3_versioned_children" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_vt_child").toString
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 4 === 1)
        .select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity").cast("long").as("l_quantity"))
      VersionedTable.init(s, tmp, li)
      val recomputed = li.filter(col("l_orderkey") % 28 === 1)
        .select(col("l_orderkey"),
          (col("l_linenumber") + 100L).as("l_linenumber"),
          (col("l_quantity") * 2L).as("l_quantity"))
      VersionedTable.replaceChildren(s, tmp, recomputed, Seq("l_orderkey"))
      VersionedTable.read(s, tmp).orderBy("l_orderkey", "l_linenumber")
    }),

    // etl5: the PARTITIONED versioned destination — Hive layout under
    // versioning, so the 100 TB shape (date/flag-partitioned facts)
    // keeps planning-time partition pruning for reads AND rewrites: the
    // deleteWhere below touches only the l_returnflag=R directory's
    // files; every other partition carries over by reference.
    "etl5_versioned_partitioned" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_vt_part").toString
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity").cast("long").as("l_quantity"),
          col("l_returnflag"))
      VersionedTable.init(s, tmp, li, partitionBy = Seq("l_returnflag"))
      VersionedTable.deleteWhere(s, tmp,
        col("l_returnflag") === "R" && col("l_orderkey") % 2 === 0)
      VersionedTable.merge(s, tmp,
        li.filter(col("l_returnflag") === "N" &&
            col("l_orderkey") % 100 === 1)
          .select(col("l_orderkey"), col("l_linenumber"),
            (col("l_quantity") * 3L).as("l_quantity"),
            col("l_returnflag")),
        Seq("l_orderkey", "l_linenumber"))
      VersionedTable.read(s, tmp)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // st28 lives with the other stream gates conceptually but is keyed
    // here beside its lifecycle siblings: exactly-once micro-batch
    // appends into the versioned table (manifest-epoch idempotence) +
    // a versioned compaction, served as a batching-invariant aggregate.
    "st28_stream_versioned_sink" -> ((s, dir) =>
      StreamOps.streamVersionedSink(s, dir).orderBy("event_type")),

    // st29: the change-data-feed consumed AS A STREAM — each micro-
    // batch merges into the source versioned table, then followChanges
    // propagates the committed span's CDF rows downstream, exactly-once
    // on BOTH hops via per-stream manifest epochs (r13-verdict item 4).
    "st29_stream_cdf" -> ((s, dir) =>
      StreamOps.streamChangeFeed(s, dir)),

    // etl6: CHANGE DATA FEED between two retained versions — every
    // insert/delete/update (pre+post images) the commits in between
    // produced, computed from the MANIFEST DIFF: files shared by both
    // versions carry by reference and are never read, so feed cost is
    // ∝ churn, not table size (the Delta CDF shape).
    "etl6_versioned_changes" -> ((s, dir) => {
      // retention rides the per-call parameter (r13-verdict item 7):
      // no session-conf mutation, so concurrent callers of the same
      // SparkSession can never observe this gate's window
      val keep = Some(3L)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_vt_cdf").toString
      val orders = t(s, dir, "orders")
      val base = orders.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      VersionedTable.init(s, tmp, base, retain = keep) // v1
      VersionedTable.merge(s, tmp,
        orders.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"),
            (col("o_custkey") + 1000000L).as("o_custkey"),
            lit("U").as("o_orderstatus")),
        Seq("o_orderkey"), retain = keep) // v2
      VersionedTable.deleteWhere(s, tmp,
        col("o_orderstatus") === "O" && col("o_orderkey") % 13 === 0,
        retain = keep) // v3
      VersionedTable.changesBetween(s, tmp, 1L, 3L, Seq("o_orderkey"))
        .orderBy("o_orderkey", "_change_type")
    }),

    // etl7: MULTI-TABLE ATOMIC COMMIT (r13-verdict item 2, reference
    // sdk/migrate_employeur.php:196-219 — one employer's writes span
    // several destination tables inside ONE DB transaction). The gate
    // replays the crash story end-to-end: a half-applied commit (one
    // member advanced, root never flipped) stays INVISIBLE through the
    // group's root pins, and the retried commit heals the runaway
    // member (O(1)-data restore) before landing the intended pair in
    // one root rename. Served as the tagged union of both members'
    // group reads — any phantom 'Z' row would hash-break the oracle.
    "etl7_multi_table_txn" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_tg_txn").toString
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      TableGroup.init(s, tmp, Seq(
        "orders_t" -> orders.filter(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus")),
        "customer_t" -> customer.select(col("c_custkey"),
          col("c_acctbal").cast("double").as("c_acctbal"),
          col("c_mktsegment"))))
      // the CRASHED half-commit: orders_t advanced, customer_t and the
      // root untouched — a torn state no group reader may ever observe
      VersionedTable.merge(s, tmp + "/orders_t",
        orders.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            lit("Z").as("o_orderstatus")),
        Seq("o_orderkey"))
      // the retried commit: heal + both merges + one atomic root flip
      TableGroup.commit(s, tmp, Seq(
        "orders_t" -> (d => VersionedTable.merge(s, d,
          orders.filter(col("o_orderkey") % 7 === 0)
            .select(col("o_orderkey"),
              (col("o_custkey") + 1000000L).as("o_custkey"),
              lit("U").as("o_orderstatus")),
          Seq("o_orderkey"))),
        "customer_t" -> (d => VersionedTable.merge(s, d,
          customer.filter(col("c_custkey") % 5 === 0)
            .select(col("c_custkey"),
              (col("c_acctbal") + lit(10000.0)).cast("double")
                .as("c_acctbal"),
              lit("SEG").as("c_mktsegment")),
          Seq("c_custkey")))))
      TableGroup.read(s, tmp, "orders_t")
        .select(lit("orders").as("tbl"), col("o_orderkey").as("k"),
          col("o_custkey").cast("double").as("v1"),
          col("o_orderstatus").as("tag"))
        .unionByName(TableGroup.read(s, tmp, "customer_t")
          .select(lit("customer").as("tbl"), col("c_custkey").as("k"),
            col("c_acctbal").cast("double").as("v1"),
            col("c_mktsegment").as("tag")))
        .orderBy("tbl", "k")
    }),

    // etl8: SCHEMA EVOLUTION under versioning (r13-verdict item 3 —
    // the reference's stringly dynamic columns, SURVEY §1.2, make
    // add-a-column the most common destination change): a merge whose
    // source carries a NEW column widens the table via mergeSchema;
    // untouched files carry over BY REFERENCE and read the new column
    // as NULL through the committed `#schema=` header — no rewrite of
    // unmatched data, the Delta mergeSchema contract. readAt(v1) keeps
    // the pre-evolution shape (spec-pinned in VersionedTableSpec).
    "etl8_schema_evolution" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_vt_evo").toString
      val orders = t(s, dir, "orders")
      val base = orders.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      VersionedTable.init(s, tmp, base) // v1
      VersionedTable.merge(s, tmp,
        orders.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            lit("U").as("o_orderstatus"),
            col("o_totalprice").cast("double").as("o_price")),
        Seq("o_orderkey"), mergeSchema = true) // v2: wider
      VersionedTable.read(s, tmp).orderBy("o_orderkey")
    }),

    // etl9: CLUSTERED COMPACTION feeding DATA SKIPPING — the Delta
    // OPTIMIZE ZORDER shape: a hash-spread destination (every file
    // spans the whole key domain; per-file min/max can prune nothing)
    // is rewritten by compact(clusterBy) into range-owned files, and
    // the following small merge's touch probe skips every file whose
    // committed #stats range misses the source keys. At 100 TB this is
    // the difference between a point merge SCANNING the table to find
    // its files and reading only the files it will rewrite.
    "etl9_clustered_merge" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_vt_cluster").toString
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity").cast("long").as("l_quantity"))
      VersionedTable.init(s, tmp, li.repartition(16)) // unclustered
      VersionedTable.compact(s, tmp, targetFiles = 8,
        clusterBy = Seq("l_orderkey"))
      VersionedTable.merge(s, tmp,
        li.filter(col("l_orderkey") % 500 === 1)
          .select(col("l_orderkey"), col("l_linenumber"),
            (col("l_quantity") * 7L).as("l_quantity")),
        Seq("l_orderkey", "l_linenumber"))
      VersionedTable.read(s, tmp)
        .groupBy((col("l_orderkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy("bucket")
    }),

    "etl4_table_time_travel" -> ((s, dir) => {
      val keep = Some(2L) // per-call retention, no session-conf races
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_vt_tt").toString
      val orders = t(s, dir, "orders")
      val base = orders.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      VersionedTable.init(s, tmp, base, retain = keep) // v1
      VersionedTable.merge(s, tmp,
        orders.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"),
            (col("o_custkey") + 1000000L).as("o_custkey"),
            lit("U").as("o_orderstatus")),
        Seq("o_orderkey"), retain = keep) // v2
      VersionedTable.deleteWhere(s, tmp,
        col("o_orderstatus") === "O" && col("o_orderkey") % 13 === 0,
        retain = keep) // v3
      def snap(tag: String, df: DataFrame): DataFrame =
        df.select(lit(tag).as("snap"), col("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"))
      snap("v1", VersionedTable.readAt(s, tmp, 1L))
        .unionByName(snap("v2", VersionedTable.readAt(s, tmp, 2L)))
        .unionByName(snap("v3", VersionedTable.read(s, tmp)))
        .orderBy("snap", "o_orderkey")
    })
  )

  /** Two-hour click-attribution expected result — shared verbatim by
    * `x2_range_join` (batch bucketized range join) and
    * `st7_stream_stream_join` (watermarked stream-stream join): the two
    * operators claim identical semantics, so they share one mirror.
    */
  private val AttributionSql: String =
    """WITH c AS (
      |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
      |    FROM events WHERE event_type = 'click'),
      | p AS (
      |  SELECT event_id AS purchase_id, user_id,
      |    CAST(epoch_us(ts) AS BIGINT) AS start_us,
      |    CAST(epoch_us(ts) + 7200000000 AS BIGINT) AS end_us
      |    FROM events WHERE event_type = 'purchase')
      | SELECT purchase_id, CAST(count(*) AS BIGINT) AS n_clicks
      |  FROM c JOIN p ON c.user_id = p.user_id
      |    AND c.ts_us >= p.start_us AND c.ts_us <= p.end_us
      |  GROUP BY purchase_id ORDER BY purchase_id""".stripMargin

  /** MinHash-LSH scored-candidate CTE chain (through `scored`) — shared
    * by `d2_minhash_lsh` (pairs above threshold) and `d6_dup_clusters`
    * (the same pairs closed under transitivity by a recursive min-label
    * walk). `WITH RECURSIVE` is inert for d2's non-recursive use.
    */
  /** SimHash sketch derivation over the documents table (60-bit md5-prefix
    * token hashes, bit-vote folding) — shared by `d3_simhash` (chunked
    * candidate join mirror) and `d8_auto_hamming_join` (naive all-pairs
    * mirror of the optimizer-rewritten declarative join).
    */
  private val SimHashSketchCtes: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk FROM documents),
      | shs AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
      |    i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS sh
      |  FROM toks WHERE len(tk) >= 3),
      | hashes AS (
      |  SELECT doc_id, list_transform(sh,
      |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hs
      |  FROM shs WHERE len(sh) > 0),
      | sk AS (
      |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), j ->
      |    CASE WHEN list_sum(list_transform(hs, h -> ((h >> j) & 1) * 2 - 1)) > 0
      |         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END))
      |    AS BIGINT) AS simhash
      |  FROM hashes)""".stripMargin

  /** DuckDB mirror of [[graft.ops.TextAnalysis.bpeTrain]]: per round, a
    * weighted pair count + argmax CTE pair, and the greedy left-to-right
    * merge fold spelled as a per-word recursive walk over symbol
    * positions (the same leftmost-non-overlapping rule as the Spark
    * `aggregate` lambda).
    */
  // --------------------------------------------------------------------
  // Scale-safe path switches (VERDICT r7 item 1): each of the global-
  // window gates below has a `distributed = true` twin (*b query) that
  // runs the documented production alternative — exact bracket
  // selection for medians/percentiles, two-level prefix scans for
  // corpus ranks / running sums — with a BIT-IDENTICAL answer, so the
  // twin shares the sibling's DuckDB oracle. The classic gates also
  // honor spark.graft.scaleRankPath=distributed at session level.
  // --------------------------------------------------------------------

  /** e21/e28's shared median cutpoint over the per-user purchase-cents
    * table: the low median (rank (n+1) div 2 in (pv, user_id) order) as
    * a 1-row DataFrame. Global single-task rank by default (readout-
    * sized at the gated scale); ScaleSafe's exact bracket selection
    * when forced or when [[ScaleSafe.PathConf]] says `distributed`.
    */
  private def medianPvCut(u: DataFrame,
                          forceDistributed: Boolean = false): DataFrame =
    if (forceDistributed || ScaleSafe.distributed(u.sparkSession))
      ScaleSafe.exactRankValueBracket(u, "pv", "user_id", 0.5,
        n => (n + 1) / 2).select(col("pv").as("median_pv"))
    else
      u.withColumn("rn", row_number().over(
          Window.orderBy("pv", "user_id")))
        .crossJoin(broadcast(u.agg(count(lit(1)).as("n_u"))))
        .filter(col("rn") === expr("(n_u + 1) div 2"))
        .select(col("pv").as("median_pv"))

  /** e21/e21b: the two-proportion z readout on either median path. */
  private def abReadout(s: SparkSession, dir: String,
                        distributed: Boolean): DataFrame = {
    val u = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
        cents(col("value"))).otherwise(0L)).as("pv"))
    val med = medianPvCut(u, forceDistributed = distributed)
    val users = u.crossJoin(broadcast(med))
      .select((col("user_id") % 2).as("variant"),
        when(col("pv") >= col("median_pv"), 1L).otherwise(0L)
          .as("converted"))
    users.agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 0, col("converted"))
          .otherwise(0L)).as("c0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("variant") === 1, col("converted"))
          .otherwise(0L)).as("c1"))
      // Empty-arm guard (r7-advice): Spark's div yields NULL at n=0
      // but DuckDB's // raises — degrade identically via explicit CASE
      .withColumn("rate0_bp",
        expr("CASE WHEN n0 = 0 THEN NULL ELSE c0 * 10000 div n0 END"))
      .withColumn("rate1_bp",
        expr("CASE WHEN n1 = 0 THEN NULL ELSE c1 * 10000 div n1 END"))
      .withColumn("z_fp", expr(
        "CASE WHEN n0 = 0 OR n1 = 0" +
          " OR c0 + c1 = 0 OR c0 + c1 = n0 + n1 THEN NULL ELSE " +
          "CAST(round((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)" +
          " / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))" +
          " * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))" +
          " * (1.0 / n0 + 1.0 / n1)) * 1e6) AS BIGINT) END"))
      .withColumn("significant", abs(col("z_fp")) > 1960000L)
  }

  /** e28/e28b: the power-analysis rollup on either median path. */
  private def powerAnalysis(s: SparkSession, dir: String,
                            distributed: Boolean): DataFrame = {
    val u = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
        cents(col("value"))).otherwise(0L)).as("pv"))
    val med = medianPvCut(u, forceDistributed = distributed)
    val users = u.crossJoin(broadcast(med))
      .select((col("user_id") % 2).as("variant"),
        when(col("pv") >= col("median_pv"), 1L).otherwise(0L)
          .as("converted"))
    users.agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 0, col("converted"))
          .otherwise(0L)).as("c0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("variant") === 1, col("converted"))
          .otherwise(0L)).as("c1"))
      .withColumn("p_pool_fp", expr(
        "CASE WHEN n0 + n1 = 0 THEN NULL ELSE " +
          "CAST(round(CAST(c0 + c1 AS DOUBLE) / (n0 + n1) * 1e6)" +
          " AS BIGINT) END"))
      .withColumn("mde_fp", expr(
        "CASE WHEN n0 = 0 OR n1 = 0 THEN NULL ELSE " +
          "CAST(round((1.959964 + 0.841621)" +
          " * sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))" +
          " * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))" +
          " * (1.0 / n0 + 1.0 / n1)) * 1e6) AS BIGINT) END"))
      .withColumn("n_per_arm_1pt", expr(
        "CASE WHEN n0 + n1 = 0 THEN NULL ELSE " +
          "CAST(ceil(2.0 * (1.959964 + 0.841621)" +
          " * (1.959964 + 0.841621)" +
          " * (CAST(c0 + c1 AS DOUBLE) / (n0 + n1))" +
          " * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))" +
          " / 0.0001) AS BIGINT) END"))
      .select("n0", "c0", "n1", "c1", "p_pool_fp", "mde_fp",
        "n_per_arm_1pt")
  }

  /** e27/e27b: exact p50/p90 of the per-user conversion delay. The
    * distributed path runs two bracket selections (rank formulas
    * matching the window gate exactly: (n+1) div 2 and (9n+9) div 10)
    * and joins the 1-row cutpoints back broadcast.
    */
  private def timeToConvert(s: SparkSession, dir: String,
                            distributed: Boolean): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val fv = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts_us")).as("v_us"))
    val fp = ev.filter(col("event_type") === "purchase")
      .join(fv, "user_id").filter(col("ts_us") > col("v_us"))
      .groupBy("user_id").agg(min(col("ts_us")).as("p_us"))
    val dur = fv.join(fp, "user_id")
      .select(col("user_id"),
        expr("(p_us - v_us) div 1000000").as("dur_s"))
    val core =
      if (distributed || ScaleSafe.distributed(s)) {
        val p50 = ScaleSafe.exactRankValueBracket(dur, "dur_s",
            "user_id", 0.5, n => (n + 1) / 2)
          .select(col("dur_s").as("p50_s"))
        val p90 = ScaleSafe.exactRankValueBracket(dur, "dur_s",
            "user_id", 0.9, n => (9 * n + 9) / 10)
          .select(col("dur_s").as("p90_s"))
        dur.agg(count(lit(1)).as("n_converted"))
          .crossJoin(broadcast(p50)).crossJoin(broadcast(p90))
      } else {
        dur.withColumn("rn",
            row_number().over(Window.orderBy("dur_s", "user_id")))
          .crossJoin(broadcast(dur.agg(count(lit(1)).as("n_c"))))
          .agg(
            max(col("n_c")).as("n_converted"),
            min(when(col("rn") === expr("(n_c + 1) div 2"),
              col("dur_s"))).as("p50_s"),
            min(when(col("rn") === expr("(9 * n_c + 9) div 10"),
              col("dur_s"))).as("p90_s"))
      }
    core.crossJoin(broadcast(fv.agg(count(lit(1)).as("n_viewers"))))
      .select("n_viewers", "n_converted", "p50_s", "p90_s")
  }

  /** n25's full compaction lifecycle — build → persist cell-partitioned
    * → tombstone-folding compact (partition-pruned rewrite of ONLY the
    * affected cells, staged, swapped by dynamic partition overwrite; the
    * rewrite-side plan with its PartitionFilters is dumped in PLANS.md)
    * → serve with NO logical tombstone filter (the deletes are physical;
    * ivfOpenIndex replays any pending-delete manifest at open). Shared
    * by the gate (nCells = 16) and ScaleProbe's scaled-cells ladder
    * variants so the fixed-vs-scaled contrast always measures the same
    * code. The tombstone set is n24's verbatim (disjoint from codebook +
    * queries); codebook ids come from the build's own cents output — a
    * bounded nCells-row read, not a second corpus-wide hash sort.
    */
  private[graft] def ivfCompactLifecycle(s: SparkSession, dir: String,
                                         nCells: Int): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val tmp = java.nio.file.Files
      .createTempDirectory(s"graft_ivf_compact_$nCells").toString
    val (cells, cents) =
      Similarity.ivfBuildIndex(emb, "vec_id", "embedding", nCells = nCells)
    cells.repartition(col("c_cell"))
      .write.mode("overwrite").partitionBy("c_cell")
      .parquet(tmp + "/cells")
    cents.write.mode("overwrite").parquet(tmp + "/cents")
    val centIds = s.read.parquet(tmp + "/cents")
      .select("cent_id").collect().map(_.getLong(0)).toSeq
    val tombs = emb
      .filter(col("vec_id") % 7 === 3 && col("vec_id") >= 8 &&
        !col("vec_id").isin(centIds: _*))
      .select(col("vec_id").as("t_id"))
    Similarity.ivfCompact(s, tmp + "/cells", tombs, "t_id",
      tmp + "/stage")
    Similarity.ivfQueryIndex(
        Similarity.ivfOpenIndex(s, tmp + "/cells"),
        s.read.parquet(tmp + "/cents"),
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nProbe = 2)
      .orderBy("q_id", "rank")
  }

  /** e31/e31b: uplift by engagement decile. Rank by (score desc,
    * user_id) spelled as (−score asc, user_id) so the distributed path
    * can range-bucket the negated score directly.
    */
  private def upliftDeciles(s: SparkSession, dir: String,
                            distributed: Boolean): DataFrame = {
    val u0 = t(s, dir, "events")
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("score"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
      .withColumn("negscore", -col("score"))
    // distributed path: the USERS-cardinality aggregate feeds four
    // passes (rank-domain read, hot detection, the two-level scan's
    // window and offsets sides) — localCheckpoint so events scan ONCE.
    // This pins O(users), never the corpus (ivfBuildIndex's c0
    // discipline). localCheckpoint, NOT cache (r10 ADVICE): a cache()
    // here registers in the catalog's cache manager with no unpersist
    // site (the readout materializes in the caller), so a bench
    // battery's repeated invocations pin a fresh entry each time and
    // storage grows across the run; a localCheckpoint's blocks are
    // released by the ContextCleaner as soon as the invocation's
    // result frame is garbage, with the same scan-once effect. Known
    // trade: localCheckpoint severs lineage, so on a cluster with
    // executor churn a lost block fails the QUERY (retried whole)
    // instead of recomputing the partition — acceptable for a
    // deterministic readout-sized frame; a churn-heavy deployment
    // would use reliable checkpointing to shared storage here.
    val u = if (distributed || ScaleSafe.distributed(s)) u0.localCheckpoint()
      else u0
    val withRn =
      if (distributed || ScaleSafe.distributed(s)) {
        val mm = u.agg(min(col("negscore")).as("lo"),
          max(col("negscore")).as("hi")).head()
        // AUTO hot-key routing (r9-verdict item 5): engagement scores
        // GENUINELY concentrate — a large share of users can sit at the
        // same small view count — so the auto entry point detects and
        // sub-buckets any score value above the default 5% row share;
        // on corpora with no hot score the built plan is the plain
        // two-level scan, unchanged.
        ScaleSafe.rowNumberBucketedAuto(u, "negscore", "user_id",
          ScaleSafe.rangeBucket("negscore", mm.getLong(0),
            mm.getLong(1), 32), "rn")
      } else u.withColumn("rn", row_number().over(
        Window.orderBy("negscore", "user_id")).cast("long"))
    withRn.crossJoin(broadcast(u.agg(count(lit(1)).as("n_u"))))
      .withColumn("decile", expr("(10 * (rn - 1)) div n_u"))
      .withColumn("variant", col("user_id") % 2)
      .groupBy("decile")
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 0, col("converted")).otherwise(0L))
          .as("c0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("variant") === 1, col("converted")).otherwise(0L))
          .as("c1"))
      .withColumn("uplift_bp", expr(
        "CASE WHEN n0 = 0 OR n1 = 0 THEN NULL ELSE" +
          " c1 * 10000 div n1 - c0 * 10000 div n0 END"))
      .orderBy("decile")
  }

  /** x10/x10b: sweep-line peak concurrency. The running sum over the
    * boundary points is a global window by default; the distributed
    * path buckets by a deterministic time-range split (2 scalar reads
    * for the domain) and runs the two-level prefix scan. Ties at one
    * instant are same-sign, so the per-day MAX and its min-t are
    * identical on both paths (and bucket boundaries cannot split a
    * tie group: the bucket is a function of t alone).
    */
  private def peakConcurrency(s: SparkSession, dir: String,
                              distributed: Boolean): DataFrame = {
    val ev = t(s, dir, "events")
      .select(unix_micros(col("ts")).as("t0"))
    val pts0 = ev.select(col("t0").as("t"), lit(1L).as("delta"))
      .unionByName(ev.select((col("t0") + 300000000L).as("t"),
        lit(-1L).as("delta")))
    // distributed path: the boundary points feed the domain read, the
    // hot detection, and the two-level scan's two passes —
    // localCheckpoint so the events union materializes once (e31b's
    // discipline: scan-once without a catalog cache entry that would
    // pin blocks across a bench battery's repeated invocations; the
    // pinned frame is two longs per event, not the corpus, and the
    // ContextCleaner releases it when the result frame is garbage;
    // same lineage-severing trade as e31b — see the note there)
    val pts =
      if (distributed || ScaleSafe.distributed(s)) pts0.localCheckpoint()
      else pts0
    val withRun =
      if (distributed || ScaleSafe.distributed(s)) {
        val mm = pts.agg(min(col("t")).as("lo"), max(col("t")).as("hi"))
          .head()
        if (mm.isNullAt(0)) pts.withColumn("run", col("delta"))
        else {
          val buckets = s.conf.get("spark.sql.shuffle.partitions").toInt
          // AUTO hot-key routing (r9-verdict item 5): a burst corpus
          // can pile > hotShare of all boundary points onto one instant
          // (ties sub-split by delta stay monotone and same-sign, so
          // the day-max readout is unchanged); on the gate corpus no
          // instant is hot and the plan is the plain two-level scan.
          ScaleSafe.runningSumBucketedAuto(pts, "t", "delta",
            ScaleSafe.rangeBucket("t", mm.getLong(0), mm.getLong(1),
              buckets),
            "delta", "run")
        }
      } else {
        val wRun = Window.orderBy("t", "delta")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pts.withColumn("run", sum(col("delta")).over(wRun))
      }
    withRun
      .withColumn("day_us", expr("t - t % 86400000000"))
      .withColumn("day_max",
        max(col("run")).over(Window.partitionBy("day_us")))
      .filter(col("run") === col("day_max"))
      .groupBy("day_us")
      .agg(max(col("day_max")).as("peak"), min(col("t")).as("peak_at_us"))
      .orderBy("day_us")
  }

  /** t31/t31b: Heaps-law vocabulary growth. The corpus rank runs as a
    * global row_number by default; the distributed path buckets by the
    * md5 prefix (order-aligned with the (md5, doc_id) sort) and runs
    * the two-level rank scan.
    */
  private def heapsLaw(s: SparkSession, dir: String,
                       distributed: Boolean): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
    val withRn =
      if (distributed || ScaleSafe.distributed(s)) {
        val withH = docs
          .withColumn("__h", md5(col("doc_id").cast("string")))
        // NOT auto-routed: the order key is md5(doc_id) — unique by
        // construction, so a hot value is impossible and the detection
        // aggregation would shuffle corpus-cardinality per-value counts
        // to prove it (the exemption rowNumberBucketedAuto documents).
        ScaleSafe.rowNumberBucketed(withH,
            Seq(col("__h"), col("doc_id")),
            ScaleSafe.hexPrefixBucket("__h", 32), "rn")
          .drop("__h")
      } else docs.withColumn("rn", row_number().over(
        Window.orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
    val ranked = withRn
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
    val toks = ranked.select(
        expr("rn * 4 <= n_docs").as("p1"),
        expr("rn * 2 <= n_docs").as("p2"),
        expr("rn * 4 <= 3 * n_docs").as("p3"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
    toks.agg(
        sum(when(col("p1"), 1L).otherwise(0L)).as("t1"),
        sum(when(col("p2"), 1L).otherwise(0L)).as("t2"),
        sum(when(col("p3"), 1L).otherwise(0L)).as("t3"),
        count(lit(1)).as("t4"),
        countDistinct(when(col("p1"), col("tok"))).as("v1"),
        countDistinct(when(col("p2"), col("tok"))).as("v2"),
        countDistinct(when(col("p3"), col("tok"))).as("v3"),
        countDistinct(col("tok")).as("v4"))
      .withColumn("beta12_fp", expr(
        "CAST(round(ln(CAST(v2 AS DOUBLE) / v1)" +
          " / ln(CAST(t2 AS DOUBLE) / t1) * 1e9) AS BIGINT)"))
      .withColumn("beta14_fp", expr(
        "CAST(round(ln(CAST(v4 AS DOUBLE) / v1)" +
          " / ln(CAST(t4 AS DOUBLE) / t1) * 1e9) AS BIGINT)"))
  }

  private def BpeTrainSql(nMerges: Int): String = {
    // AS MATERIALIZED on every multiply-referenced CTE: without it
    // DuckDB re-expands each reference's whole upstream chain, and the
    // two scalar subqueries per merge stage make the expansion
    // exponential in nMerges (at 64 merges the planner exhausted file
    // handles re-opening the parquet); materialized, 64 stages run in
    // ~3 s at sf0.01.
    val sb = new StringBuilder
    sb ++= """WITH RECURSIVE toks AS MATERIALIZED (
      |  SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS word
      |  FROM documents WHERE text IS NOT NULL),
      | v0 AS MATERIALIZED (SELECT word, string_split(word, '') AS rep,
      |        CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY word)""".stripMargin
    for (j <- 1 to nMerges) {
      val p = j - 1
      sb ++= s""",
      | p$j AS MATERIALIZED (SELECT unnest(list_transform(range(1, len(rep)), i ->
      |     struct_pack(a := rep[i], b := rep[i+1]))) AS pr, n FROM v$p),
      | p${j}c AS MATERIALIZED (SELECT pr.a AS a, pr.b AS b, CAST(sum(n) AS BIGINT) AS cnt
      |           FROM p$j GROUP BY 1, 2),
      | b$j AS MATERIALIZED (SELECT a, b, cnt FROM p${j}c ORDER BY cnt DESC, a, b LIMIT 1),
      | r$j AS (
      |  SELECT word, n, 1 AS i, [rep[1]] AS out, rep FROM v$p
      |  UNION ALL
      |  SELECT word, n, i + 1,
      |    CASE WHEN out[-1] = (SELECT a FROM b$j)
      |          AND rep[i+1] = (SELECT b FROM b$j)
      |      THEN list_append(out[:len(out)-1], out[-1] || rep[i+1])
      |      ELSE list_append(out, rep[i+1]) END,
      |    rep
      |  FROM r$j WHERE i < len(rep)),
      | v$j AS MATERIALIZED (SELECT word, n, out AS rep FROM r$j WHERE i = len(rep))""".stripMargin
    }
    sb ++= (1 to nMerges).map(j =>
      s"\nSELECT CAST($j AS BIGINT) AS merge_rank, a AS sym_a, b AS sym_b, " +
        s"a || b AS merged, cnt FROM b$j")
      .mkString("", " UNION ALL", "")
    sb ++= "\n ORDER BY merge_rank"
    sb.toString
  }

  /** t21: the same trained CTE chain, but the output is each document's
    * size under the final segmentation v{nMerges} — words re-exploded
    * WITH their doc ids, joined to the per-word segmentation, reduced.
    */
  private def BpeEncodeSql(nMerges: Int): String = {
    val train = BpeTrainSql(nMerges)
    val prefix = train.substring(0, train.indexOf("\nSELECT CAST(1 AS BIGINT)"))
    prefix + s""",
      | toksd AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS word
      |  FROM documents WHERE text IS NOT NULL)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(sum(len(rep)) AS BIGINT) AS n_bpe_tokens,
      |  CAST(sum(len(word)) AS BIGINT) AS n_chars
      | FROM toksd JOIN v$nMerges USING (word)
      | GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The oracle's mirror of MinHashDedup's shingles, signature (m = 16)
    * and bands (4 of 4 rows): `toks`, `shs`, `sig` (doc_id, sh, sig) and
    * `bands` (doc_id, band). Every MinHash query builds on this one copy of
    * the hash family; it is the CTE list's body, without `WITH`.
    */
  private val MinHashBandCtes: String =
    """toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk FROM documents),
      | shs AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
      |    i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS sh
      |  FROM toks WHERE len(tk) >= 3),
      | sig AS (
      |  SELECT doc_id, sh, list_transform(range(0, 16),
      |    j -> list_min(list_transform(sh,
      |      s -> ((2*j + 1) *
      |            (CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647)
      |            + 7919*j + 13) % 2147483647))) AS sig
      |  FROM shs WHERE len(sh) > 0),
      | bands AS (
      |  SELECT doc_id, unnest(list_transform(range(0, 4),
      |    b -> md5(CAST(b AS VARCHAR) || '#' ||
      |      array_to_string(list_slice(sig, b*4 + 1, b*4 + 4), ',')))) AS band
      |  FROM sig)""".stripMargin

  private val MinHashScoredCtes: String = "WITH RECURSIVE " + MinHashBandCtes +
    """,
      | bands_f AS (
      |  SELECT * FROM bands QUALIFY count(*) OVER (PARTITION BY band) <= 1000),
      | pairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands_f a JOIN bands_f b
      |    ON a.band = b.band AND a.doc_id < b.doc_id),
      | scored AS (
      |  SELECT id_a, id_b,
      |    CAST(len(list_filter(list_zip(sa.sig, sb.sig),
      |      p -> p[1] = p[2])) AS DOUBLE) / 16 AS est_jaccard,
      |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
      |      CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) AS jaccard
      |  FROM pairs
      |  JOIN sig sa ON sa.doc_id = id_a
      |  JOIN sig sb ON sb.doc_id = id_b)""".stripMargin

  /** Hyperplane-LSH bucket CTE over the embeddings table (md5-parity ±1
    * sign matrix, fixed-point 1e-6 dots — mirrors
    * [[graft.functions.LshBucket]]). Shared by `n2_ann_lsh` and
    * `n4_ann_multiprobe`, which differ only in the query-side probe set.
    */
  private val LshBucketCte: String =
    """WITH b AS (
      |  SELECT vec_id, embedding AS x,
      |    CAST(list_sum(list_transform(range(0, 4), j ->
      |      CASE WHEN CAST(list_sum(list_transform(range(0, 64), i ->
      |        (CASE WHEN CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '_' ||
      |             CAST(i AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0
      |          THEN 1 ELSE -1 END) *
      |        CAST(round(CAST(x[CAST(i AS INT) + 1] AS DOUBLE) * 1e6) AS BIGINT)))
      |        AS BIGINT) > 0
      |      THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END))
      |      AS BIGINT) AS bucket
      |  FROM embeddings),""".stripMargin

  /** Exact fixed-point scoring + per-query ranking tail shared by the two
    * LSH mirrors (expects CTEs `q(q_id, qv, bucket)` and `b`).
    */
  private val LshRankTail: String =
    """
      | c AS (SELECT vec_id AS c_id, x AS cv, bucket FROM b),
      | scored AS (
      |  SELECT q_id, c_id,
      |    CAST(list_sum(list_transform(range(1, 65), i ->
      |      CAST(round(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) * 1e12) AS BIGINT)))
      |      AS BIGINT) AS dot_fp,
      |    CAST(list_sum(list_transform(range(1, 65), i ->
      |      CAST(round(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) * 1e12) AS BIGINT)))
      |      AS BIGINT) AS na_fp,
      |    CAST(list_sum(list_transform(range(1, 65), i ->
      |      CAST(round(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) * 1e12) AS BIGINT)))
      |      AS BIGINT) AS nb_fp
      |  FROM q JOIN c ON q_id <> c_id AND q.bucket = c.bucket),
      | ranked AS (
      |  SELECT q_id, c_id,
      |    CAST(dot_fp AS DOUBLE) /
      |      (sqrt(CAST(na_fp AS DOUBLE)) * sqrt(CAST(nb_fp AS DOUBLE))) AS cos,
      |    row_number() OVER (PARTITION BY q_id ORDER BY dot_fp DESC, c_id) AS rank
      |  FROM scored)
      | SELECT q_id, c_id, rank, cos FROM ranked
      |  WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** IVF nearest-centroid assignment CTEs (hash-order seed centroids,
    * fixed-point cosine, rank r per (vector, centroid)) — shared by
    * `n3_ann_ivf` (probe tail) and `n6_kmeans_iter` (centroid-mean tail).
    */
  /** IVF assignment CTE chain (base → cents → cpairs → assign) shared by
    * the n12/d13 mirrors; `centsCte` picks the centroid count — n12 pins
    * 16, d13 derives cells from the corpus count exactly like
    * `Similarity.autoCells` (integer bit-length, occupancy 32, 2^[4,12]).
    */
  private def ivfAssignCtesWith(lead: String, centsCte: String): String =
    "WITH " + lead +
    """base AS (
      |  SELECT vec_id, embedding AS x,
      |    CAST(list_sum(list_transform(range(1, 65), i ->
      |      CAST(round(CAST(x[i] AS DOUBLE) * CAST(x[i] AS DOUBLE) * 1e12) AS BIGINT)))
      |      AS BIGINT) AS nrm
      |  FROM embeddings),
      | cents AS (
      |""".stripMargin + centsCte +
    """),
      | cpairs AS (
      |  SELECT b.vec_id, b.x, b.nrm, c.cent_id, c.cnrm,
      |    CAST(list_sum(list_transform(range(1, 65), i ->
      |      CAST(round(CAST(b.x[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE) * 1e12) AS BIGINT)))
      |      AS BIGINT) AS cdot
      |  FROM base b CROSS JOIN cents c),
      | assign AS (
      |  SELECT vec_id, x, nrm, cent_id,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY
      |      CAST(cdot AS DOUBLE) /
      |        (sqrt(CAST(nrm AS DOUBLE)) * sqrt(CAST(cnrm AS DOUBLE))) DESC,
      |      cent_id) AS r
      |  FROM cpairs),""".stripMargin

  private val IvfAssignCtes: String = ivfAssignCtesWith("",
    """  SELECT vec_id AS cent_id, x AS cv, nrm AS cnrm FROM base
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16""".stripMargin)

  private val IvfAssignCtesAuto: String = ivfAssignCtesWith(
    """nc AS (
      |  SELECT (CAST(1 AS BIGINT) << LEAST(12, GREATEST(4,
      |    CASE WHEN (count(*) + 31) // 32 <= 1 THEN 1
      |         ELSE length(bin((count(*) + 31) // 32 - 1)) END))) AS cells
      |  FROM embeddings),
      | """.stripMargin,
    """  SELECT vec_id AS cent_id, x AS cv, nrm AS cnrm FROM base
      |  QUALIFY row_number() OVER (
      |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= (SELECT cells FROM nc)""".stripMargin)

  /** The √N cell rule (`Similarity.balancedCells`): 2^⌈⌈log₂N⌉/2⌉
    * clamped to 2^[4,12] — assignment-vs-pair-join balance for the
    * kNN-graph build (n20).
    */
  private val IvfAssignCtesSqrt: String = ivfAssignCtesWith(
    """nc AS (
      |  SELECT (CAST(1 AS BIGINT) << LEAST(12, GREATEST(4,
      |    (CASE WHEN count(*) - 1 <= 0 THEN 1
      |          ELSE length(bin(count(*) - 1)) END + 1) // 2))) AS cells
      |  FROM embeddings),
      | """.stripMargin,
    """  SELECT vec_id AS cent_id, x AS cv, nrm AS cnrm FROM base
      |  QUALIFY row_number() OVER (
      |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= (SELECT cells FROM nc)""".stripMargin)

  /** Priority/revenue rollup of lineitem ⋈ orders — shared by
    * `k1_skew_salted_join` (salted shuffle join) and `b1_bucketed_join`
    * (bucketed co-located join): both physical strategies are
    * result-invisible, so they pin the SAME plain-SQL mirror.
    */
  private val PriorityRevenueSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS price_cents
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  def oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    // The *b gates run the scale-safe distributed paths
    // (ScaleSafe.scala); the answers are bit-identical to their
    // global-window siblings, so the oracles are shared verbatim.
    "e21b_ab_readout" -> oracleSqlBase("e21_ab_readout"),
    "e27b_time_to_convert" -> oracleSqlBase("e27_time_to_convert"),
    "e28b_power_analysis" -> oracleSqlBase("e28_power_analysis"),
    "x10b_peak_concurrency" -> oracleSqlBase("x10_peak_concurrency"),
    "t31b_heaps_law" -> oracleSqlBase("t31_heaps_law"),
    // SQL-surface twins (sql4-sql12): the pure-SQL spelling of an
    // existing gate, gated on that gate's oracle verbatim.
    "e31b_uplift_deciles" -> oracleSqlBase("e31_uplift_deciles"),
    "sql4_window_rank" -> oracleSqlBase("w1_rank"),
    "sql5_rollup" -> oracleSqlBase("a6_rollup"),
    "sql6_exact_dedup" -> oracleSqlBase("d1_exact_dedup"),
    "sql7_hamming_join" -> oracleSqlBase("m8_media_neardup"),
    "sql8_heavy_hitters" -> oracleSqlBase("a12_heavy_hitters"),
    "sql9_vocab_topk" -> oracleSqlBase("t7_vocab_topk"),
    "sql10_triangles" -> oracleSqlBase("g2_triangles"),
    "sql11_media_meta" -> oracleSqlBase("m1_media_meta"),
    "sql12_k_anonymity" -> oracleSqlBase("v1_k_anonymity"),
    "sql13_log_histogram" -> oracleSqlBase("a32_log_histogram"),
    "sql14_ann_ivf" -> oracleSqlBase("n3_ann_ivf"),
    "st26_stream_log_histogram" -> oracleSqlBase("a32_log_histogram"),
    // the parquet round trip must be lossless — n3's oracle unchanged
    "n22_persisted_index" -> oracleSqlBase("n3_ann_ivf"),
    // frozen-codebook refresh == full rebuild (codebook-preserving
    // delta), end-to-end through parquet — n3's oracle unchanged
    "n23_index_refresh" -> oracleSqlBase("n3_ann_ivf"),
    // compaction must be invisible to reads: the physically-compacted
    // index answers exactly what n24's logical delete answers
    "n25_index_compact" -> oracleSqlBase("n24_index_delete"),
    // partition pruning only removes rows the probe join could never
    // match — n3's oracle unchanged
    "n27_index_serve_pruned" -> oracleSqlBase("n3_ann_ivf"),
    // frozen-codebook assignment is slice-invariant: the streamed
    // index equals a full rebuild — n3's oracle unchanged
    "st27_stream_index_refresh" -> oracleSqlBase("n3_ann_ivf"),
    // the compressed-index parquet round trip must be lossless —
    // n10's oracle unchanged
    "n28_persisted_ivfpq" -> oracleSqlBase("n10_ann_ivfpq"),
    // time travel must reproduce each retained version's content
    // exactly: v1 pristine, v2 minus the first tombstone set, v3 (the
    // live view) minus both — membership is codebook-independent, so
    // the oracle is the corpus with the tombstone predicates replayed
    "n30_index_time_travel" ->
      """SELECT 'v1' AS snap, vec_id AS c_id FROM embeddings
        | UNION ALL
        | SELECT 'v2' AS snap, vec_id AS c_id FROM embeddings
        |  WHERE vec_id % 7 <> 3
        | UNION ALL
        | SELECT 'v3' AS snap, vec_id AS c_id FROM embeddings
        |  WHERE vec_id % 7 <> 3 AND vec_id % 5 <> 1
        | ORDER BY snap, c_id""".stripMargin)

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "s1_scan" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",

    "s2_projected_scan" ->
      "SELECT c_custkey, c_name FROM customer ORDER BY c_custkey",

    "s3_filtered_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        | WHERE l_quantity >= 45 ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "s7_sink_roundtrip" ->
      """SELECT count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |  FROM lineitem WHERE l_quantity >= 49""".stripMargin,

    // Final serving-table state after the per-micro-batch streaming
    // upserts == the plain aggregate (a key's last upsert carries its
    // cumulative total).
    "m4_payload_dedup" ->
      """SELECT sha256(text) AS digest,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(count(*) AS BIGINT) AS n_copies,
        |  min(doc_id) AS keeper_id
        |  FROM documents GROUP BY digest, n_bytes ORDER BY digest""".stripMargin,

    "e6_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
        | cohort AS (SELECT user_id, min(wk) AS cw FROM uw GROUP BY user_id),
        | sizes AS (SELECT cw, count(*) AS n_cohort FROM cohort GROUP BY cw),
        | act AS (
        |  SELECT c.cw,
        |    CAST(date_diff('day', c.cw, u.wk) // 7 AS BIGINT) AS k
        |  FROM uw u JOIN cohort c ON u.user_id = c.user_id)
        | SELECT strftime(a.cw, '%Y-%m-%d') AS cohort_week, k,
        |   CAST(count(*) AS BIGINT) AS n_active,
        |   CAST(n_cohort AS BIGINT) AS n_cohort
        |  FROM act a JOIN sizes s ON a.cw = s.cw
        |  WHERE k <= 3 GROUP BY a.cw, k, n_cohort
        |  ORDER BY cohort_week, k""".stripMargin,

    "e5_ohlc" ->
      """WITH ev AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    ts, event_id, CAST(round(value * 100) AS BIGINT) AS v_cents
        |  FROM events),
        | r AS (
        |  SELECT user_id, day, v_cents,
        |    row_number() OVER (PARTITION BY user_id, day
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY user_id, day
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM ev)
        | SELECT user_id, day,
        |   CAST(max(CASE WHEN rn_a = 1 THEN v_cents END) AS BIGINT)
        |     AS open_cents,
        |   CAST(max(CASE WHEN rn_d = 1 THEN v_cents END) AS BIGINT)
        |     AS close_cents,
        |   CAST(min(v_cents) AS BIGINT) AS low_cents,
        |   CAST(max(v_cents) AS BIGINT) AS high_cents,
        |   CAST(count(*) AS BIGINT) AS n
        |  FROM r GROUP BY user_id, day
        |  ORDER BY user_id, day""".stripMargin,

    "w5_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |   WHERE event_type = 'view' GROUP BY user_id),
        | c AS (
        |  SELECT e.user_id, min(e.ts) AS t_click FROM events e
        |   JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
        |    AND e.ts <= v.t_view + INTERVAL 24 HOUR
        |   WHERE e.event_type = 'click' GROUP BY e.user_id),
        | p AS (
        |  SELECT e.user_id, min(e.ts) AS t_buy FROM events e
        |   JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
        |    AND e.ts <= c.t_click + INTERVAL 24 HOUR
        |   WHERE e.event_type = 'purchase' GROUP BY e.user_id),
        | u AS (SELECT DISTINCT user_id FROM events),
        | d AS (
        |  SELECT u.user_id,
        |    CASE WHEN p.user_id IS NOT NULL THEN 3
        |         WHEN c.user_id IS NOT NULL THEN 2
        |         WHEN v.user_id IS NOT NULL THEN 1
        |         ELSE 0 END AS depth
        |  FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |       LEFT JOIN p USING (user_id))
        | SELECT CAST(depth AS BIGINT) AS depth,
        |   CAST(count(*) AS BIGINT) AS n_users
        |  FROM d GROUP BY depth ORDER BY depth""".stripMargin,

    "st10_stream_bloom_admission" ->
      """SELECT doc_id, lang FROM documents
        | WHERE doc_id % 10 = 0 AND text IS NOT NULL
        |  AND md5(text) NOT IN (
        |   SELECT md5(text) FROM documents
        |    WHERE doc_id % 10 <> 0 AND text IS NOT NULL)
        | ORDER BY doc_id""".stripMargin,

    "st9_stream_jdbc_upsert" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |  FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Expected post-upsert state of the live table: seeds 1-100, updated
    // (uppercased) 51-100, inserted 101-150.
    "s10_jdbc_upsert" ->
      """SELECT c_custkey AS cust_id,
        |  CASE WHEN c_custkey > 50 THEN upper(c_name) ELSE c_name END AS name
        |  FROM customer WHERE c_custkey <= 150 ORDER BY cust_id""".stripMargin,

    // Same mutation plan as s10, applied through the MySQL dialect
    // (backticks + SUCCESS_NO_INFO batches + MySQL SQLStates) — the
    // expected table state is identical.
    "s10b_mysql_upsert" ->
      """SELECT c_custkey AS cust_id,
        |  CASE WHEN c_custkey > 50 THEN upper(c_name) ELSE c_name END AS name
        |  FROM customer WHERE c_custkey <= 150 ORDER BY cust_id""".stripMargin,

    "p1_column_mapping" ->
      """SELECT c_custkey AS cust_id, c_name AS full_name,
        |       c_mktsegment AS segment, 'legacy-crm' AS source_system
        |  FROM customer ORDER BY cust_id""".stripMargin,

    "p6_str_split" ->
      """SELECT p_partkey,
        |  CASE WHEN strpos(p_type, ' ') <= 1 THEN ''
        |       ELSE substr(p_type, 1, strpos(p_type, ' ') - 1) END AS type_head,
        |  CASE WHEN strpos(p_type, ' ') = 0 THEN ''
        |       ELSE substr(p_type, strpos(p_type, ' ') + 1) END AS type_tail,
        |  CASE WHEN strpos(p_name, 'zzz') <= 1 THEN ''
        |       ELSE substr(p_name, 1, strpos(p_name, 'zzz') - 1) END AS before_missing,
        |  CASE WHEN strpos(p_name, 'zzz') = 0 THEN ''
        |       ELSE substr(p_name, strpos(p_name, 'zzz') + 3) END AS after_missing
        |  FROM part ORDER BY p_partkey""".stripMargin,

    "p8_char_scrub" ->
      """SELECT c_custkey AS cust_id, c_mktsegment AS seg, c_name AS nm
        |  FROM customer ORDER BY cust_id""".stripMargin,

    "p9_flag" ->
      """SELECT c_custkey,
        |  CASE WHEN upper(c_mktsegment) = 'BUILDING' THEN 1 ELSE 0 END AS is_building
        |  FROM customer ORDER BY c_custkey""".stripMargin,

    "p10_uuid" ->
      "SELECT count(*) AS n_rows, count(*) AS n_ids FROM customer",

    "p11_email_filter" ->
      """SELECT c_custkey, username FROM (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 3 = 0 THEN c_name
        |         ELSE c_name || '@example.com' END AS username
        |  FROM customer)
        | WHERE regexp_matches(username, '^[^@]+@[^@]+\.[a-z]+$')
        | ORDER BY c_custkey""".stripMargin,

    "p12_coalesce" ->
      """SELECT o_orderkey,
        |  coalesce(nullif(o_orderpriority, '1-URGENT'), 'DEFAULTED') AS prio
        |  FROM orders ORDER BY o_orderkey""".stripMargin,

    "p13_cast" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(floor(l_quantity) AS BIGINT) AS qty_int,
        |  CAST(l_orderkey AS VARCHAR) AS key_str
        |  FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "j1_inner_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "j2_broadcast_lookup" ->
      """SELECT coalesce(p_brand, '__MISSING__') AS brand, count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents
        |  FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        |  GROUP BY brand ORDER BY brand""".stripMargin,

    "j4_dedup_first_wins" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM (
        |  SELECT c_custkey, c_name, c_mktsegment,
        |    row_number() OVER (PARTITION BY trim(c_mktsegment)
        |                       ORDER BY c_custkey) AS rn
        |  FROM customer) WHERE rn = 1 ORDER BY c_custkey""".stripMargin,

    "j4_anti_destination" ->
      """SELECT c_custkey, c_name FROM customer
        | WHERE c_custkey NOT IN
        |   (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        | ORDER BY c_custkey""".stripMargin,

    "j5_semi_guard" ->
      """SELECT c_custkey, c_name FROM customer
        | WHERE c_custkey IN (SELECT o_custkey FROM orders)
        | ORDER BY c_custkey""".stripMargin,

    "j6_upsert" ->
      """WITH dst AS (SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |               FROM customer),
        |     src AS (
        |       SELECT c_custkey, c_name, c_acctbal + 1000.0 AS c_acctbal,
        |              'UPSERTED' AS c_mktsegment
        |         FROM dst WHERE c_custkey % 7 = 0
        |       UNION ALL
        |       SELECT c_custkey + 1000000, c_name, 0.0, 'NEW'
        |         FROM dst WHERE c_custkey % 13 = 0)
        | SELECT * FROM src
        | UNION ALL
        | SELECT * FROM dst
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
        | ORDER BY c_custkey""".stripMargin,

    "a1_count" -> "SELECT count(*) AS n FROM lineitem",

    "a2_count_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts FROM lineitem
        | WHERE l_quantity > 30""".stripMargin,

    "a4_distinct" ->
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_base_cents,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  count(*) AS count_order,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty
        |  FROM lineitem
        |  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |  GROUP BY l_returnflag, l_linestatus
        |  ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |    AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |  GROUP BY o_orderkey, odate
        |  ORDER BY revenue_cents DESC, o_orderkey LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_items
        |  FROM region JOIN nation ON r_regionkey = n_regionkey
        |  JOIN customer ON n_nationkey = c_nationkey
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |                AND s_nationkey = n_nationkey
        |  GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q18_large_orders" ->
      """SELECT o_orderkey, o_custkey, total_qty FROM orders
        |  JOIN (SELECT l_orderkey,
        |          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |        FROM lineitem GROUP BY l_orderkey HAVING total_qty > 300) b
        |    ON o_orderkey = b.l_orderkey
        |  ORDER BY o_orderkey""".stripMargin,

    "q6_filtered_revenue" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents, count(*) AS n
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
        |    AND l_discount BETWEEN 0.05 AND 0.07
        |    AND l_quantity < 24""".stripMargin,

    "q2_min_cost_supplier" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |    min(CAST(round(l_extendedprice*100) AS BIGINT)) AS cost_cents
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |  best AS (SELECT l_partkey AS b_partkey,
        |    min(cost_cents) AS best_cents FROM ps GROUP BY l_partkey)
        |SELECT p_partkey, s_name, cost_cents
        |FROM ps JOIN best ON b_partkey = l_partkey
        |              AND cost_cents = best_cents
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |WHERE p_size <= 5 AND p_type = 'LARGE'
        |ORDER BY p_partkey, s_name""".stripMargin,

    "q7_nation_volume" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(sum(volume_cents) AS BIGINT) AS revenue_cents, count(*) AS n
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    year(l_shipdate) AS l_year,
        |    CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)
        |      AS volume_cents
        |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name='NATION_1' AND n2.n_name='NATION_2')
        |      OR (n1.n_name='NATION_2' AND n2.n_name='NATION_1'))
        |    AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00') shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q8_market_share" ->
      """SELECT o_year,
        |  CAST(sum(CASE WHEN nation='NATION_3' THEN volume_cents ELSE 0 END)
        |    AS BIGINT) AS nation_cents,
        |  CAST(sum(volume_cents) AS BIGINT) AS total_cents
        |FROM (SELECT year(o_orderdate) AS o_year,
        |    CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)
        |      AS volume_cents,
        |    n2.n_name AS nation
        |  FROM part JOIN lineitem ON p_partkey=l_partkey
        |  JOIN supplier ON s_suppkey=l_suppkey
        |  JOIN orders ON l_orderkey=o_orderkey
        |  JOIN customer ON o_custkey=c_custkey
        |  JOIN nation n1 ON c_nationkey=n1.n_nationkey
        |  JOIN region ON n1.n_regionkey=r_regionkey
        |  JOIN nation n2 ON s_nationkey=n2.n_nationkey
        |  WHERE r_name='ASIA' AND p_type='PROMO') t
        |GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q9_nation_profit" ->
      """SELECT n_name, o_year,
        |  CAST(sum(volume_cents) AS BIGINT) AS profit_cents, count(*) AS n
        |FROM (SELECT n_name, year(o_orderdate) AS o_year,
        |    CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)
        |      AS volume_cents
        |  FROM lineitem JOIN part ON p_partkey=l_partkey
        |  JOIN supplier ON s_suppkey=l_suppkey
        |  JOIN orders ON o_orderkey=l_orderkey
        |  JOIN nation ON s_nationkey=n_nationkey
        |  WHERE p_name LIKE '%widget%') profit
        |GROUP BY n_name, o_year ORDER BY n_name, o_year""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT))
        |    AS BIGINT) AS revenue_cents
        |FROM customer JOIN orders ON c_custkey=o_custkey
        |JOIN lineitem ON l_orderkey=o_orderkey
        |JOIN nation ON c_nationkey=n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_returnflag='R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue_cents DESC, c_custkey LIMIT 20""".stripMargin,

    "q11_important_parts" ->
      """WITH pv AS (SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
        |      AS value_cents
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT l_partkey, value_cents FROM pv
        |WHERE value_cents*2000 > (SELECT sum(value_cents) FROM pv)
        |ORDER BY value_cents DESC, l_partkey""".stripMargin,

    "q12_late_priority" ->
      """SELECT late_bucket,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM (SELECT o_orderpriority,
        |    CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |      THEN 'late' ELSE 'ontime' END AS late_bucket
        |  FROM orders JOIN lineitem ON o_orderkey=l_orderkey) t
        |GROUP BY late_bucket ORDER BY late_bucket""".stripMargin,

    "q13_cust_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY c_custkey) c_orders
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q14_promo_revenue" ->
      """SELECT
        |  CAST(sum(CASE WHEN p_type='PROMO' THEN cents_v ELSE 0 END)
        |    AS BIGINT) AS promo_cents,
        |  CAST(sum(cents_v) AS BIGINT) AS total_cents
        |FROM (SELECT p_type,
        |    CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)
        |      AS cents_v
        |  FROM lineitem JOIN part ON l_partkey=p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00') t""".stripMargin,

    "q15_top_supplier" ->
      """WITH revenue AS (SELECT l_suppkey AS supplier_no,
        |    CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100)
        |      AS BIGINT)) AS BIGINT) AS total_revenue_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue_cents
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue_cents =
        |  (SELECT max(total_revenue_cents) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,

    "q16_supplier_variety" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM part JOIN lineitem ON p_partkey=l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1,4,7,10,13,16,19,22)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q17_small_quantity" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT))
        |    AS BIGINT) AS loss_cents, count(*) AS n
        |FROM lineitem JOIN part ON p_partkey=l_partkey
        |JOIN (SELECT l_partkey AS a_partkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |    count(*) AS cnt
        |  FROM lineitem GROUP BY l_partkey) agg ON a_partkey = p_partkey
        |WHERE p_brand='Brand#5' AND p_type='ECONOMY'
        |  AND CAST(l_quantity AS BIGINT)*5*cnt < sum_qty""".stripMargin,

    "q19_branch_revenue" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents, count(*) AS n
        |FROM lineitem JOIN part ON p_partkey=l_partkey
        |WHERE (p_brand='Brand#12' AND p_size BETWEEN 1 AND 5
        |    AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand='Brand#23' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand='Brand#3' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q20_promo_suppliers" ->
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem JOIN part ON p_partkey=l_partkey
        |  WHERE p_type='PROMO'
        |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY l_suppkey
        |  HAVING sum(CAST(l_quantity AS BIGINT)) > 400)
        |ORDER BY s_suppkey""".stripMargin,

    "q21_waiting_supplier" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F' AND n_name = 'NATION_4'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin,

    "q22_idle_customers" ->
      """WITH pool AS (SELECT * FROM customer
        |    WHERE c_nationkey IN (1,5,9,13,17)),
        |  thresh AS (SELECT
        |    CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT)
        |      AS sum_cents,
        |    count(*) AS cnt FROM pool WHERE c_acctbal > 0)
        |SELECT c_nationkey, count(*) AS numcust,
        |  CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT)
        |    AS totacctbal_cents
        |FROM pool, thresh
        |WHERE CAST(round(c_acctbal*100) AS BIGINT) * cnt > sum_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "s14_weighted_sample" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |    AS BIGINT) < n_chars * 1000000
        |ORDER BY doc_id""".stripMargin,

    "a13_histogram" ->
      """SELECT CAST(round(l_extendedprice*100) AS BIGINT) // 500000
        |    AS bucket, count(*) AS n
        |  FROM lineitem GROUP BY bucket ORDER BY bucket""".stripMargin,

    "a14_corr_components" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_q,
        |  CAST(sum(CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT)
        |    AS sum_p,
        |  CAST(sum(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT))
        |    AS BIGINT) AS sum_q2,
        |  CAST(sum(CAST(round(l_extendedprice) AS BIGINT)
        |    * CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_p2,
        |  CAST(sum(CAST(l_quantity AS BIGINT)
        |    * CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_qp
        |FROM lineitem""".stripMargin,

    "e7_trailing_range" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |    CAST(round(value*100) AS BIGINT) AS v FROM events),
        |  t AS (SELECT user_id,
        |    sum(v) OVER (PARTITION BY user_id ORDER BY ts_us
        |      RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
        |      AS w7 FROM e)
        |SELECT user_id, CAST(max(w7) AS BIGINT) AS peak_7d_cents
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin,

    "e8_unpivot" ->
      """WITH wide AS (SELECT user_id,
        |    sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS n_click,
        |    sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS n_view,
        |    sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END)
        |      AS n_purchase
        |  FROM events WHERE user_id % 13 = 0 GROUP BY user_id)
        |SELECT user_id, metric, CAST(n AS BIGINT) AS n FROM (
        |  SELECT user_id, 'click' AS metric, n_click AS n FROM wide
        |  UNION ALL
        |  SELECT user_id, 'view' AS metric, n_view AS n FROM wide
        |  UNION ALL
        |  SELECT user_id, 'purchase' AS metric, n_purchase AS n FROM wide)
        |ORDER BY user_id, metric""".stripMargin,

    "a15_group_median" ->
      """WITH ranked AS (SELECT p_brand,
        |    CAST(round(p_retailprice*100) AS BIGINT) AS price_cents,
        |    row_number() OVER (PARTITION BY p_brand
        |      ORDER BY CAST(round(p_retailprice*100) AS BIGINT),
        |        p_partkey) AS rn,
        |    count(*) OVER (PARTITION BY p_brand) AS cnt
        |  FROM part)
        |SELECT p_brand, price_cents AS median_cents FROM ranked
        |WHERE rn = (cnt + 1) // 2 ORDER BY p_brand""".stripMargin,

    "a16_mode" ->
      """WITH counts AS (SELECT o_orderstatus, o_orderpriority,
        |    count(*) AS n FROM orders
        |  GROUP BY o_orderstatus, o_orderpriority),
        |  ranked AS (SELECT *, row_number() OVER (
        |    PARTITION BY o_orderstatus
        |    ORDER BY n DESC, o_orderpriority) AS rk FROM counts)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority, n
        |FROM ranked WHERE rk = 1 ORDER BY o_orderstatus""".stripMargin,

    "x4_auto_band_join" ->
      """WITH a AS (SELECT p_partkey AS a_key,
        |    CAST(round(p_retailprice*100) AS BIGINT) AS a_cents
        |  FROM part WHERE p_brand='Brand#1'),
        |  b AS (SELECT p_partkey AS b_key,
        |    CAST(round(p_retailprice*100) AS BIGINT) AS b_cents
        |  FROM part WHERE p_brand='Brand#2')
        |SELECT a_key, b_key, a_cents - b_cents AS diff_cents
        |FROM a JOIN b ON abs(a_cents - b_cents) <= 5
        |ORDER BY a_key, b_key""".stripMargin,

    "d15_price_blocklist" ->
      """WITH o AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS price_cents
        |  FROM orders),
        |  deny AS (SELECT CAST(round(o_totalprice*100) AS BIGINT)
        |    AS deny_cents FROM orders WHERE o_orderkey % 997 = 0)
        |SELECT count(*) AS n_kept,
        |  CAST(sum(price_cents) AS BIGINT) AS kept_cents
        |FROM o WHERE NOT EXISTS (SELECT 1 FROM deny
        |  WHERE abs(price_cents - deny_cents) <= 100)""".stripMargin,

    "p19_not_in_nulls" ->
      """SELECT
        |  (SELECT count(*) FROM orders
        |   WHERE o_orderpriority NOT IN
        |     (SELECT DISTINCT o_orderpriority FROM orders
        |      WHERE o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'))
        |    AS n_null_free,
        |  (SELECT count(*) FROM orders
        |   WHERE o_orderpriority NOT IN
        |     (SELECT nullif(o_orderpriority, '5-LOW') FROM orders))
        |    AS n_with_null""".stripMargin,

    "p18_null_safe_join" ->
      """WITH l AS (SELECT o_orderkey,
        |    nullif(o_orderstatus, 'P') AS status_n FROM orders),
        |  r AS (SELECT DISTINCT nullif(o_orderstatus, 'P') AS r_status
        |    FROM orders)
        |SELECT coalesce(r_status, 'NONE') AS status, count(*) AS n
        |FROM l JOIN r ON l.status_n IS NOT DISTINCT FROM r.r_status
        |GROUP BY status ORDER BY status""".stripMargin,

    "j8_full_outer" ->
      """WITH urgent AS (SELECT o_custkey AS u_custkey,
        |    count(*) AS urgent_cnt FROM orders
        |    WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey),
        |  big AS (SELECT o_custkey AS b_custkey, count(*) AS big_cnt
        |    FROM orders WHERE o_totalprice > 250000 GROUP BY o_custkey)
        |SELECT coalesce(u_custkey, b_custkey) AS custkey,
        |  CAST(coalesce(urgent_cnt, 0) AS BIGINT) AS urgent_cnt,
        |  CAST(coalesce(big_cnt, 0) AS BIGINT) AS big_cnt
        |FROM urgent FULL OUTER JOIN big ON u_custkey = b_custkey
        |ORDER BY custkey""".stripMargin,

    "w8_conditional_frame" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
        | f AS (SELECT event_id, user_id,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER w AS recent_purchases,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      OVER w AS recent_errors
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id,
        |  CAST(recent_purchases AS BIGINT) AS recent_purchases,
        |  CAST(recent_errors AS BIGINT) AS recent_errors
        | FROM f WHERE event_id % 50 = 0 ORDER BY event_id""".stripMargin,

    "w7_session_features" ->
      """WITH e AS (SELECT event_id, user_id,
        |    CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
        | marked AS (SELECT event_id, user_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 86400000000 THEN 1
        |         ELSE 0 END AS is_start
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts_us, event_id)),
        | sess AS (SELECT event_id, user_id, ts_us,
        |    CAST(sum(is_start) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS sid
        |  FROM marked)
        |SELECT event_id, user_id, sid,
        |  CAST(row_number() OVER ws AS BIGINT) AS idx_in_session,
        |  ts_us - min(ts_us) OVER (PARTITION BY user_id, sid)
        |    AS since_us
        | FROM sess WINDOW ws AS (PARTITION BY user_id, sid
        |   ORDER BY ts_us, event_id)
        | ORDER BY event_id""".stripMargin,

    "w6_moving_median" ->
      """SELECT user_id, event_id,
        |  median(CAST(round(value * 100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med_cents
        | FROM events WHERE user_id % 10 = 0
        | ORDER BY user_id, event_id""".stripMargin,

    "scd3_incremental_merge" ->
      """WITH o AS (SELECT o_custkey AS custkey, o_orderdate, o_orderkey,
        |    o_orderpriority AS prio FROM orders),
        | pre AS (SELECT * FROM o
        |   WHERE CAST(o_orderdate AS DATE) < DATE '1999-01-01'),
        | post AS (SELECT * FROM o
        |   WHERE CAST(o_orderdate AS DATE) >= DATE '1999-01-01'),
        | ch AS (SELECT custkey, prio, o_orderdate, o_orderkey,
        |    lag(prio) OVER (PARTITION BY custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev FROM pre),
        | chf AS (SELECT * FROM ch WHERE prev IS NULL OR prev <> prio),
        | hist AS (SELECT custkey, prio,
        |    strftime(o_orderdate, '%Y-%m-%d') AS eff_from,
        |    coalesce(strftime(lead(o_orderdate) OVER (PARTITION BY custkey
        |        ORDER BY o_orderdate, o_orderkey), '%Y-%m-%d'),
        |      '9999-12-31') AS eff_to
        |  FROM chf),
        | snap AS (SELECT custkey, prio AS snap_prio FROM (
        |    SELECT *, row_number() OVER (PARTITION BY custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |    FROM post) WHERE rn = 1),
        | closed AS (SELECT * FROM hist WHERE eff_to <> '9999-12-31'),
        | open_ AS (SELECT * FROM hist WHERE eff_to = '9999-12-31'),
        | oj AS (SELECT open_.custkey, prio, eff_from, eff_to, snap_prio
        |   FROM open_ LEFT JOIN snap USING (custkey))
        |SELECT custkey, prio, eff_from, eff_to FROM closed
        |UNION ALL
        |SELECT custkey, prio, eff_from, eff_to FROM oj
        | WHERE snap_prio IS NULL OR snap_prio = prio
        |UNION ALL
        |SELECT custkey, prio, eff_from, '1999-01-01' FROM oj
        | WHERE snap_prio IS NOT NULL AND snap_prio <> prio
        |UNION ALL
        |SELECT custkey, snap_prio AS prio, '1999-01-01' AS eff_from,
        |  '9999-12-31' AS eff_to FROM oj
        | WHERE snap_prio IS NOT NULL AND snap_prio <> prio
        |UNION ALL
        |SELECT custkey, snap_prio AS prio, '1999-01-01' AS eff_from,
        |  '9999-12-31' AS eff_to FROM snap
        | WHERE custkey NOT IN (SELECT custkey FROM open_)
        |ORDER BY custkey, eff_from, eff_to, prio""".stripMargin,

    // Bitemporal replay: same two cuts, latest valid version among the
    // records KNOWN by the tx cut.
    "scd4_bitemporal" ->
      """WITH log AS (SELECT o_custkey AS custkey, o_orderkey,
        |    CAST(datediff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS valid_from,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS bal_cents
        |  FROM orders),
        | vis AS (SELECT *, valid_from + o_orderkey % 5 AS tx_from
        |  FROM log),
        | cut AS (SELECT * FROM vis
        |  WHERE tx_from <= 9322 AND valid_from <= 9307),
        | ranked AS (SELECT *, row_number() OVER (PARTITION BY custkey
        |    ORDER BY valid_from DESC, o_orderkey DESC) AS rn FROM cut)
        |SELECT custkey, o_orderkey AS version_key, valid_from, tx_from,
        |  bal_cents
        | FROM ranked WHERE rn = 1 ORDER BY custkey""".stripMargin,

    "scd2_temporal_lookup" ->
      """WITH dedup AS (SELECT o_custkey AS custkey, o_orderdate,
        |    o_orderkey, o_orderpriority,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        | changes AS (SELECT * FROM dedup
        |   WHERE prev IS NULL OR prev <> o_orderpriority),
        | hist AS (SELECT custkey, o_orderpriority,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS from_day,
        |    coalesce(date_diff('day', DATE '1970-01-01',
        |        CAST(lead(o_orderdate) OVER (PARTITION BY custkey
        |          ORDER BY o_orderdate, o_orderkey) AS DATE)),
        |      11688) - 1 AS to_incl
        |  FROM changes),
        | probes AS (SELECT c_custkey AS custkey, probe_date,
        |    date_diff('day', DATE '1970-01-01', CAST(probe_date AS DATE))
        |      AS probe_day
        |  FROM customer, (VALUES ('1996-03-01'), ('1998-07-15'),
        |    ('2000-11-30')) v(probe_date))
        |SELECT custkey, probe_date, o_orderpriority AS priority
        | FROM probes JOIN hist USING (custkey)
        | WHERE probe_day >= from_day AND probe_day <= to_incl
        | ORDER BY custkey, probe_date""".stripMargin,

    "scd1_history" ->
      """WITH dedup AS (SELECT o_custkey, o_orderdate, o_orderkey,
        |    o_orderpriority,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |  changes AS (SELECT * FROM dedup
        |    WHERE prev IS NULL OR prev <> o_orderpriority),
        |  hist AS (SELECT o_custkey, o_orderpriority,
        |    o_orderdate AS eff_from_ts,
        |    lead(o_orderdate) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS eff_to_ts
        |  FROM changes)
        |SELECT o_custkey, o_orderpriority,
        |  strftime(eff_from_ts, '%Y-%m-%d') AS eff_from,
        |  coalesce(strftime(eff_to_ts, '%Y-%m-%d'), '9999-12-31') AS eff_to
        |FROM hist
        |ORDER BY o_custkey, eff_from, eff_to, o_orderpriority"""
        .stripMargin,

    "g1_pagerank" ->
      """WITH pairs AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
        |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |  edges AS (SELECT a AS src, b AS dst FROM pairs
        |    UNION SELECT b AS src, a AS dst FROM pairs),
        |  deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        |  n AS (SELECT count(*) AS n_nodes FROM deg),
        |  r0 AS (SELECT src AS id,
        |    1000000000000 // (SELECT n_nodes FROM n) AS score FROM deg),
        |  r1 AS (SELECT e.dst AS id,
        |      150000000000 // (SELECT n_nodes FROM n)
        |        + CAST(sum((r.score * 85 // 100) // d.outdeg) AS BIGINT)
        |        AS score
        |    FROM edges e JOIN r0 r ON e.src = r.id
        |    JOIN deg d ON e.src = d.src GROUP BY e.dst),
        |  r2 AS (SELECT e.dst AS id,
        |      150000000000 // (SELECT n_nodes FROM n)
        |        + CAST(sum((r.score * 85 // 100) // d.outdeg) AS BIGINT)
        |        AS score
        |    FROM edges e JOIN r1 r ON e.src = r.id
        |    JOIN deg d ON e.src = d.src GROUP BY e.dst),
        |  r3 AS (SELECT e.dst AS id,
        |      150000000000 // (SELECT n_nodes FROM n)
        |        + CAST(sum((r.score * 85 // 100) // d.outdeg) AS BIGINT)
        |        AS score
        |    FROM edges e JOIN r2 r ON e.src = r.id
        |    JOIN deg d ON e.src = d.src GROUP BY e.dst)
        |SELECT id, score FROM r3 ORDER BY score DESC, id LIMIT 20"""
        .stripMargin,

    // PPR replay: seeds-only start, teleport to seeds via UNION ALL +
    // grouped sum, three unrolled rounds of the same integer arithmetic.
    "g8_personalized_pagerank" ->
      """WITH pairs AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
        |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |  edges AS (SELECT a AS src, b AS dst FROM pairs
        |    UNION SELECT b AS src, a AS dst FROM pairs),
        |  deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        |  seeds AS (SELECT CAST(unnest([2, 4, 6, 8]) AS BIGINT) AS id),
        |  ns AS (SELECT count(*) AS n_seeds FROM seeds),
        |  r0 AS (SELECT id,
        |    1000000000000 // (SELECT n_seeds FROM ns) AS score FROM seeds),
        |  c1 AS (SELECT e.dst AS id,
        |      CAST(sum((r.score * 85 // 100) // d.outdeg) AS BIGINT)
        |        AS score
        |    FROM edges e JOIN r0 r ON e.src = r.id
        |    JOIN deg d ON e.src = d.src GROUP BY e.dst),
        |  r1 AS (SELECT id, CAST(sum(score) AS BIGINT) AS score FROM (
        |    SELECT * FROM c1 UNION ALL
        |    SELECT id, 150000000000 // (SELECT n_seeds FROM ns) AS score
        |      FROM seeds) GROUP BY id),
        |  c2 AS (SELECT e.dst AS id,
        |      CAST(sum((r.score * 85 // 100) // d.outdeg) AS BIGINT)
        |        AS score
        |    FROM edges e JOIN r1 r ON e.src = r.id
        |    JOIN deg d ON e.src = d.src GROUP BY e.dst),
        |  r2 AS (SELECT id, CAST(sum(score) AS BIGINT) AS score FROM (
        |    SELECT * FROM c2 UNION ALL
        |    SELECT id, 150000000000 // (SELECT n_seeds FROM ns) AS score
        |      FROM seeds) GROUP BY id),
        |  c3 AS (SELECT e.dst AS id,
        |      CAST(sum((r.score * 85 // 100) // d.outdeg) AS BIGINT)
        |        AS score
        |    FROM edges e JOIN r2 r ON e.src = r.id
        |    JOIN deg d ON e.src = d.src GROUP BY e.dst),
        |  r3 AS (SELECT id, CAST(sum(score) AS BIGINT) AS score FROM (
        |    SELECT * FROM c3 UNION ALL
        |    SELECT id, 150000000000 // (SELECT n_seeds FROM ns) AS score
        |      FROM seeds) GROUP BY id)
        |SELECT id, score FROM r3 ORDER BY score DESC, id LIMIT 20"""
        .stripMargin,

    // Harmonic replay: g3's unrolled BFS with the source id carried,
    // then Σ 1e6//d per node.
    "g13_harmonic_centrality" ->
      """WITH pairs AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
        |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |  edges AS (SELECT a AS src, b AS dst FROM pairs
        |    UNION SELECT b AS src, a AS dst FROM pairs),
        |  seeds AS (SELECT CAST(unnest([2, 4, 6, 8]) AS BIGINT) AS src_id),
        |  r0 AS (SELECT src_id, src_id AS id, CAST(0 AS BIGINT) AS d
        |    FROM seeds),
        |  r1 AS (SELECT src_id, id, CAST(min(d) AS BIGINT) AS d FROM (
        |    SELECT * FROM r0 UNION ALL
        |    SELECT r.src_id, e.dst, 1 FROM edges e JOIN r0 r
        |      ON e.src = r.id WHERE r.d = 0) GROUP BY src_id, id),
        |  r2 AS (SELECT src_id, id, CAST(min(d) AS BIGINT) AS d FROM (
        |    SELECT * FROM r1 UNION ALL
        |    SELECT r.src_id, e.dst, 2 FROM edges e JOIN r1 r
        |      ON e.src = r.id WHERE r.d = 1) GROUP BY src_id, id),
        |  r3 AS (SELECT src_id, id, CAST(min(d) AS BIGINT) AS d FROM (
        |    SELECT * FROM r2 UNION ALL
        |    SELECT r.src_id, e.dst, 3 FROM edges e JOIN r2 r
        |      ON e.src = r.id WHERE r.d = 2) GROUP BY src_id, id)
        |SELECT id, CAST(sum(1000000 // d) AS BIGINT) AS harmonic_fp,
        |  CAST(count(*) AS BIGINT) AS n_reached
        | FROM r3 WHERE d > 0 GROUP BY id
        | ORDER BY harmonic_fp DESC, id LIMIT 30""".stripMargin,

    // Assortativity replay: degrees ride the symmetrized edge list, one
    // moment reduce, cross-multiplied Pearson r.
    "g11_assortativity" ->
      """WITH pairs AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
        |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |  und AS (SELECT a, b FROM pairs
        |    UNION ALL SELECT b, a FROM pairs),
        |  deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS d
        |    FROM und GROUP BY a),
        |  agg AS (SELECT CAST(count(*) AS BIGINT) AS m2,
        |      CAST(sum(dj.d) AS BIGINT) AS sum_j,
        |      CAST(sum(dj.d * dk.d) AS BIGINT) AS sum_jk,
        |      CAST(sum(dj.d * dj.d) AS BIGINT) AS sum_j2
        |    FROM und JOIN deg dj ON und.a = dj.v
        |      JOIN deg dk ON und.b = dk.v)
        |SELECT m2, sum_j, sum_jk, sum_j2,
        |  m2*sum_jk - sum_j*sum_j AS r_num,
        |  m2*sum_j2 - sum_j*sum_j AS r_den FROM agg""".stripMargin,

    // Modularity replay: the same per-community rational; m via scalar
    // subquery (the engine's one-row broadcast).
    "g10_modularity" ->
      """WITH pairs AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
        |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |  lab AS (SELECT c_custkey*2 AS node, c_nationkey AS community
        |      FROM customer
        |    UNION ALL
        |    SELECT s_suppkey*2+1, s_nationkey FROM supplier),
        |  led AS (SELECT la.community AS ca, lb.community AS cb
        |    FROM pairs JOIN lab la ON pairs.a = la.node
        |      JOIN lab lb ON pairs.b = lb.node),
        |  m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM led),
        |  sides AS (SELECT ca AS community,
        |      CASE WHEN ca = cb THEN 1 ELSE 0 END AS intra FROM led
        |    UNION ALL SELECT cb, 0 FROM led),
        |  agg AS (SELECT community, CAST(count(*) AS BIGINT) AS d_c,
        |      CAST(sum(intra) AS BIGINT) AS m_c
        |    FROM sides GROUP BY community)
        |SELECT community, m_c, d_c, (SELECT m FROM m) AS m,
        |  4*(SELECT m FROM m)*m_c - d_c*d_c AS q_num,
        |  4*(SELECT m FROM m)*(SELECT m FROM m) AS q_den
        | FROM agg ORDER BY community""".stripMargin,

    // HITS replay: two unrolled power-iteration rounds, L1-normalized
    // per pass by integer division with a one-row total — all values
    // positive, so DuckDB's flooring // matches Spark's truncating div.
    "g9_hits" ->
      """WITH e AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |  h0 AS (SELECT id, 1000000000000 AS hub FROM (
        |    SELECT src AS id FROM e UNION SELECT dst FROM e)),
        |  a1r AS (SELECT e.dst AS id, CAST(sum(h.hub) AS BIGINT) AS auth
        |    FROM e JOIN h0 h ON e.src = h.id GROUP BY e.dst),
        |  a1 AS (SELECT id, auth // greatest(1, CAST(
        |      (SELECT sum(auth) FROM a1r) AS BIGINT) // 1000000000000)
        |      AS auth
        |    FROM a1r),
        |  h1r AS (SELECT e.src AS id, CAST(sum(a.auth) AS BIGINT) AS hub
        |    FROM e JOIN a1 a ON e.dst = a.id GROUP BY e.src),
        |  h1 AS (SELECT id, hub // greatest(1, CAST(
        |      (SELECT sum(hub) FROM h1r) AS BIGINT) // 1000000000000)
        |      AS hub
        |    FROM h1r),
        |  a2r AS (SELECT e.dst AS id, CAST(sum(h.hub) AS BIGINT) AS auth
        |    FROM e JOIN h1 h ON e.src = h.id GROUP BY e.dst),
        |  a2 AS (SELECT id, auth // greatest(1, CAST(
        |      (SELECT sum(auth) FROM a2r) AS BIGINT) // 1000000000000)
        |      AS auth
        |    FROM a2r),
        |  h2r AS (SELECT e.src AS id, CAST(sum(a.auth) AS BIGINT) AS hub
        |    FROM e JOIN a2 a ON e.dst = a.id GROUP BY e.src),
        |  h2 AS (SELECT id, hub // greatest(1, CAST(
        |      (SELECT sum(hub) FROM h2r) AS BIGINT) // 1000000000000)
        |      AS hub
        |    FROM h2r)
        |SELECT coalesce(a.id, h.id) AS id,
        |    coalesce(a.auth, CAST(0 AS BIGINT)) AS auth,
        |    coalesce(h.hub, CAST(0 AS BIGINT)) AS hub
        |  FROM a2 a FULL OUTER JOIN h2 h ON a.id = h.id
        |  ORDER BY auth DESC, hub DESC, id LIMIT 30""".stripMargin,

    // Naive oriented (a<b) three-way join — the degree orientation the
    // engine uses changes intermediate sizes, never the count.
    "g2_triangles" ->
      """WITH pairs AS (
        |  SELECT DISTINCT c_nationkey AS x, s_nationkey AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |    JOIN lineitem ON l_orderkey = o_orderkey
        |    JOIN supplier ON s_suppkey = l_suppkey),
        | e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
        |       FROM pairs WHERE x <> y)
        |SELECT CAST(count(*) AS BIGINT) AS n_triangles
        | FROM e e1 JOIN e e2 ON e2.a = e1.b
        |   JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,

    // Local clustering coefficient replay: naive a<b<c triangle
    // enumeration credited to all three corners, degree from the
    // undirected edge list, cc in integer basis points.
    "g14_clustering_coeff" ->
      """WITH pairs AS (
        |  SELECT DISTINCT c_nationkey AS x, s_nationkey AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |    JOIN lineitem ON l_orderkey = o_orderkey
        |    JOIN supplier ON s_suppkey = l_suppkey),
        | e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
        |       FROM pairs WHERE x <> y),
        | deg AS (SELECT v, CAST(count(*) AS BIGINT) AS degree FROM (
        |   SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        |  GROUP BY v),
        | tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |   FROM e e1 JOIN e e2 ON e2.a = e1.b
        |     JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        | pern AS (SELECT v, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |   SELECT x AS v FROM tri UNION ALL SELECT y AS v FROM tri
        |   UNION ALL SELECT z AS v FROM tri) GROUP BY v)
        |SELECT d.v, d.degree,
        |  CAST(coalesce(p.n_tri, 0) AS BIGINT) AS n_tri,
        |  CAST(CASE WHEN d.degree >= 2
        |    THEN 2 * coalesce(p.n_tri, 0) * 10000
        |      // (d.degree * (d.degree - 1))
        |    ELSE 0 END AS BIGINT) AS cc_bp
        | FROM deg d LEFT JOIN pern p ON d.v = p.v ORDER BY d.v""".stripMargin,

    "g3_bfs_levels" ->
      """WITH pairs AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
        |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |  edges AS (SELECT a AS src, b AS dst FROM pairs
        |    UNION SELECT b AS src, a AS dst FROM pairs),
        |  r0 AS (SELECT CAST(2 AS BIGINT) AS id, CAST(0 AS BIGINT) AS d),
        |  r1 AS (SELECT id, CAST(min(d) AS BIGINT) AS d FROM (
        |    SELECT * FROM r0 UNION ALL
        |    SELECT e.dst, 1 FROM edges e JOIN r0 r ON e.src = r.id
        |      WHERE r.d = 0) GROUP BY id),
        |  r2 AS (SELECT id, CAST(min(d) AS BIGINT) AS d FROM (
        |    SELECT * FROM r1 UNION ALL
        |    SELECT e.dst, 2 FROM edges e JOIN r1 r ON e.src = r.id
        |      WHERE r.d = 1) GROUP BY id),
        |  r3 AS (SELECT id, CAST(min(d) AS BIGINT) AS d FROM (
        |    SELECT * FROM r2 UNION ALL
        |    SELECT e.dst, 3 FROM edges e JOIN r2 r ON e.src = r.id
        |      WHERE r.d = 2) GROUP BY id),
        |  r4 AS (SELECT id, CAST(min(d) AS BIGINT) AS d FROM (
        |    SELECT * FROM r3 UNION ALL
        |    SELECT e.dst, 4 FROM edges e JOIN r3 r ON e.src = r.id
        |      WHERE r.d = 3) GROUP BY id)
        |SELECT id, d AS depth FROM r4 ORDER BY id""".stripMargin,

    "g6_copurchase" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |    FROM lineitem)
        |SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_orders
        | FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        | GROUP BY 1, 2 HAVING count(*) >= 2
        | ORDER BY part_a, part_b""".stripMargin,

    // Link prediction over g6's graph: wedge-join candidates, minus
    // existing edges, Jaccard in exact integers. The replay models the
    // engine's maxMiddleDegree=1000 wedge cap exactly (deg joined into
    // the wedge CTE) so hub-heavy corpora cannot silently diverge; the
    // uncapped deg still feeds the Jaccard denominator, as the engine's.
    "g7_link_prediction" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |    FROM lineitem),
        | ed AS (SELECT a.pk AS pa, b.pk AS pb,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        | und AS (SELECT pa AS a, pb AS b FROM ed
        |   UNION ALL SELECT pb, pa FROM ed),
        | deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS d
        |   FROM und GROUP BY a),
        | cand AS (SELECT w1.b AS x, w2.b AS y,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM und w1 JOIN und w2 ON w1.a = w2.a AND w1.b < w2.b
        |    JOIN deg dm ON w1.a = dm.v
        |  WHERE dm.d <= 1000
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        | ne AS (SELECT cand.x, cand.y, cand.n_common FROM cand
        |   ANTI JOIN ed ON cand.x = ed.pa AND cand.y = ed.pb)
        |SELECT ne.x, ne.y, ne.n_common,
        |  dx.d + dy.d - ne.n_common AS n_union,
        |  CAST(ne.n_common AS DOUBLE) / (dx.d + dy.d - ne.n_common)
        |    AS jaccard
        | FROM ne JOIN deg dx ON ne.x = dx.v JOIN deg dy ON ne.y = dy.v
        | ORDER BY ne.x, ne.y""".stripMargin,

    // Adamic-Adar replay: g7's wedge CTEs with the middle's degree
    // joined in, the engine's maxMiddleDegree=1000 wedge cap applied,
    // and the 1/ln d term fixed-pointed per wedge.
    "g15_adamic_adar" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |    FROM lineitem),
        | ed AS (SELECT a.pk AS pa, b.pk AS pb,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        | und AS (SELECT pa AS a, pb AS b FROM ed
        |   UNION ALL SELECT pb, pa FROM ed),
        | deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS d
        |   FROM und GROUP BY a),
        | cand AS (SELECT w1.b AS x, w2.b AS y,
        |    CAST(count(*) AS BIGINT) AS n_common,
        |    CAST(sum(CAST(round(1e9 / ln(CAST(dm.d AS DOUBLE)))
        |      AS BIGINT)) AS BIGINT) AS aa_fp
        |  FROM und w1 JOIN und w2 ON w1.a = w2.a AND w1.b < w2.b
        |    JOIN deg dm ON w1.a = dm.v
        |  WHERE dm.d <= 1000
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        | ne AS (SELECT cand.x, cand.y, cand.n_common, cand.aa_fp
        |  FROM cand ANTI JOIN ed ON cand.x = ed.pa AND cand.y = ed.pb)
        |SELECT x, y, n_common, aa_fp FROM ne
        | ORDER BY aa_fp DESC, x, y LIMIT 30""".stripMargin,

    // k-truss replay: g7's graph, two unrolled support-filter rounds.
    "g17_ktruss" -> {
      val rounds = (1 to 2).map { r =>
        val p = r - 1
        s""",
           | adj$r AS (SELECT a AS x, b AS n FROM u$p
           |   UNION ALL SELECT b, a FROM u$p),
           | sup$r AS (SELECT u$p.a, u$p.b, count(*) AS support
           |  FROM u$p
           |  JOIN adj$r na ON na.x = u$p.a
           |  JOIN adj$r nb ON nb.x = u$p.b AND nb.n = na.n
           |  GROUP BY 1, 2),
           | u$r AS (SELECT u$p.a, u$p.b FROM u$p
           |  JOIN sup$r ON sup$r.a = u$p.a AND sup$r.b = u$p.b
           |  WHERE sup$r.support >= 4)""".stripMargin
      }.mkString
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |    FROM lineitem),
        | u0 AS (SELECT DISTINCT a.pk AS a, b.pk AS b
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk)"""
        .stripMargin + rounds +
        "\nSELECT a, b FROM u2 ORDER BY a, b"
    },

    // Stress-centrality replay: g16's co-purchase graph, the same
    // 10%-sample seeds, forward sum-combine BFS unrolled to depth 3
    // (anti-joins spelled NOT EXISTS against each prior level), then
    // the backward continuation counts h and the all-integer
    // delta = sigma*h per interior level. Multiply-referenced levels
    // are MATERIALIZED (DuckDB re-expands CTEs per reference).
    "g18_stress_centrality" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |    FROM lineitem),
        | ed AS (SELECT a.pk AS pa, b.pk AS pb
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        | und AS MATERIALIZED (SELECT pa AS x, pb AS n FROM ed
        |   UNION ALL SELECT pb, pa FROM ed),
        | seeds AS (SELECT DISTINCT x AS s FROM und WHERE x % 10 = 0),
        | l0 AS (SELECT s, s AS v, CAST(1 AS BIGINT) AS sigma FROM seeds),
        | l1 AS MATERIALIZED (SELECT l.s, u.n AS v,
        |    CAST(sum(l.sigma) AS BIGINT) AS sigma
        |  FROM l0 l JOIN und u ON l.v = u.x
        |  WHERE u.n <> l.s GROUP BY 1, 2),
        | l2 AS MATERIALIZED (SELECT c.s, c.v,
        |    CAST(sum(c.sigma) AS BIGINT) AS sigma
        |  FROM (SELECT l.s, u.n AS v, l.sigma
        |        FROM l1 l JOIN und u ON l.v = u.x) c
        |  WHERE c.v <> c.s
        |    AND NOT EXISTS (SELECT 1 FROM l1 p
        |                    WHERE p.s = c.s AND p.v = c.v)
        |  GROUP BY 1, 2),
        | l3 AS MATERIALIZED (SELECT c.s, c.v,
        |    CAST(sum(c.sigma) AS BIGINT) AS sigma
        |  FROM (SELECT l.s, u.n AS v, l.sigma
        |        FROM l2 l JOIN und u ON l.v = u.x) c
        |  WHERE c.v <> c.s
        |    AND NOT EXISTS (SELECT 1 FROM l1 p
        |                    WHERE p.s = c.s AND p.v = c.v)
        |    AND NOT EXISTS (SELECT 1 FROM l2 p
        |                    WHERE p.s = c.s AND p.v = c.v)
        |  GROUP BY 1, 2),
        | s2 AS (SELECT l.s, l.v,
        |    CAST(count(*) AS BIGINT) AS hsum
        |  FROM l2 l JOIN und u ON l.v = u.x
        |  JOIN l3 n3 ON n3.s = l.s AND n3.v = u.n
        |  GROUP BY 1, 2),
        | h2 AS MATERIALIZED (SELECT l.s, l.v, l.sigma,
        |    CAST(coalesce(s2.hsum, 0) AS BIGINT) AS h
        |  FROM l2 l LEFT JOIN s2 ON s2.s = l.s AND s2.v = l.v),
        | s1 AS (SELECT l.s, l.v,
        |    CAST(count(*) + sum(n2.h) AS BIGINT) AS hsum
        |  FROM l1 l JOIN und u ON l.v = u.x
        |  JOIN h2 n2 ON n2.s = l.s AND n2.v = u.n
        |  GROUP BY 1, 2),
        | h1 AS (SELECT l.s, l.v, l.sigma,
        |    CAST(coalesce(s1.hsum, 0) AS BIGINT) AS h
        |  FROM l1 l LEFT JOIN s1 ON s1.s = l.s AND s1.v = l.v),
        | deltas AS (SELECT v, sigma * h AS delta FROM h2
        |   UNION ALL SELECT v, sigma * h FROM h1)
        |SELECT v, CAST(sum(delta) AS BIGINT) AS stress
        | FROM deltas GROUP BY v HAVING sum(delta) > 0
        | ORDER BY v""".stripMargin,

    // Label-propagation replay: g7's graph, 3 unrolled synchronous
    // rounds, the same (count desc, label asc) argmax per node.
    "g16_label_propagation" -> {
      val rounds = (1 to 3).map { r =>
        val p = r - 1
        s""",
           | n$r AS (SELECT und.a AS v, l$p.label FROM und
           |   JOIN l$p ON und.b = l$p.v),
           | c$r AS (SELECT v, label, count(*) AS cnt FROM n$r
           |   GROUP BY 1, 2),
           | l$r AS (SELECT v, label FROM (
           |   SELECT v, label, row_number() OVER (PARTITION BY v
           |     ORDER BY cnt DESC, label) AS rr FROM c$r) WHERE rr = 1)"""
          .stripMargin
      }.mkString
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |    FROM lineitem),
        | ed AS (SELECT a.pk AS pa, b.pk AS pb
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        | und AS (SELECT pa AS a, pb AS b FROM ed
        |   UNION ALL SELECT pb, pa FROM ed),
        | l0 AS (SELECT DISTINCT a AS v, a AS label FROM und)"""
        .stripMargin + rounds +
        "\nSELECT v, label FROM l3 ORDER BY v"
    },

    "g5_kcore" ->
      """WITH pairs AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
        |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        | e0 AS (SELECT a AS src, b AS dst FROM pairs
        |   UNION SELECT b AS src, a AS dst FROM pairs),
        | k1 AS (SELECT src AS v FROM e0 GROUP BY src
        |   HAVING count(*) >= 3),
        | e1 AS (SELECT src, dst FROM e0
        |   WHERE src IN (SELECT v FROM k1) AND dst IN (SELECT v FROM k1)),
        | k2 AS (SELECT src AS v FROM e1 GROUP BY src
        |   HAVING count(*) >= 3),
        | e2 AS (SELECT src, dst FROM e1
        |   WHERE src IN (SELECT v FROM k2) AND dst IN (SELECT v FROM k2)),
        | k3 AS (SELECT src AS v FROM e2 GROUP BY src
        |   HAVING count(*) >= 3),
        | e3 AS (SELECT src, dst FROM e2
        |   WHERE src IN (SELECT v FROM k3) AND dst IN (SELECT v FROM k3))
        |SELECT src AS id, CAST(count(*) AS BIGINT) AS degree
        | FROM e3 GROUP BY src ORDER BY id""".stripMargin,

    "g4_sssp" ->
      """WITH pairs AS (SELECT o_custkey*2 AS a, l_suppkey*2+1 AS b,
        |    CAST(min(l_quantity) AS BIGINT) AS w
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        | edges AS (SELECT a AS src, b AS dst, w FROM pairs
        |   UNION ALL SELECT b, a, w FROM pairs),
        | d0 AS (SELECT CAST(2 AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist),
        | d1 AS (SELECT id, min(dist) AS dist FROM (
        |   SELECT * FROM d0 UNION ALL
        |   SELECT e.dst, d.dist + e.w FROM edges e JOIN d0 d ON e.src = d.id)
        |   GROUP BY id),
        | d2 AS (SELECT id, min(dist) AS dist FROM (
        |   SELECT * FROM d1 UNION ALL
        |   SELECT e.dst, d.dist + e.w FROM edges e JOIN d1 d ON e.src = d.id)
        |   GROUP BY id),
        | d3 AS (SELECT id, min(dist) AS dist FROM (
        |   SELECT * FROM d2 UNION ALL
        |   SELECT e.dst, d.dist + e.w FROM edges e JOIN d2 d ON e.src = d.id)
        |   GROUP BY id)
        |SELECT id, dist FROM d3 ORDER BY id""".stripMargin,

    "b3_partition_pruning" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        | FROM events
        | WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'
        | GROUP BY event_type ORDER BY event_type""".stripMargin,

    "j9_dpp" ->
      """WITH dim AS (
        |  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS event_date
        |  FROM events),
        | dimf AS (SELECT event_date FROM dim
        |   WHERE day(CAST(event_date AS DATE)) % 10 = 3)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        | FROM events JOIN dimf
        |   ON strftime(ts, '%Y-%m-%d') = dimf.event_date
        | GROUP BY event_type ORDER BY event_type""".stripMargin,

    "e9_islands" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        |  FROM events),
        | runs AS (
        |  SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS grp
        |  FROM days),
        | islands AS (
        |  SELECT user_id, grp, count(*) AS len
        |  FROM runs GROUP BY user_id, grp)
        |SELECT user_id, count(*) AS n_islands,
        |  CAST(max(len) AS BIGINT) AS longest_run,
        |  CAST(sum(len) AS BIGINT) AS active_days
        | FROM islands GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Streaming HLL replay: exact distinct + the envelope boolean.
    "st23_stream_approx_distinct" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  TRUE AS sketch_within_5pct
        | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Streaming CDC apply replay: last change per key in event order,
    // tombstones drop the key, change count rides along.
    "st22_stream_cdc_apply" ->
      """WITH ch AS (SELECT user_id, event_id,
        |    CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS v_cents,
        |    event_id % 17 = 0 AS del
        |  FROM events),
        | cnt AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_changes
        |  FROM ch GROUP BY user_id),
        | last AS (SELECT user_id, v_cents, del FROM (
        |   SELECT *, row_number() OVER (PARTITION BY user_id
        |     ORDER BY ts_us DESC, event_id DESC) AS rn
        |   FROM ch) WHERE rn = 1)
        |SELECT l.user_id, CASE WHEN l.del THEN 0 ELSE l.v_cents END
        |    AS bal_cents, c.n_changes
        | FROM last l JOIN cnt c USING (user_id)
        | WHERE NOT l.del ORDER BY user_id""".stripMargin,

    "st18_stream_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
        | nxt AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS next_type
        |  FROM e)
        |SELECT event_type AS from_type, next_type AS to_type,
        |  count(*) AS n
        | FROM nxt WHERE next_type IS NOT NULL
        | GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,

    "e15_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
        | nxt AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS next_type
        |  FROM e)
        |SELECT event_type AS from_type, next_type AS to_type,
        |  count(*) AS n
        | FROM nxt WHERE next_type IS NOT NULL
        | GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,

    // Chapman-Kolmogorov replay: e15's matrix squared on the middle
    // state, per-b term fixed-pointed before the integer sum.
    "e26_two_step_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
        | nxt AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS next_type
        |  FROM e),
        | pairs AS (SELECT event_type AS a, next_type AS b,
        |    CAST(count(*) AS BIGINT) AS n_ab
        |  FROM nxt WHERE next_type IS NOT NULL GROUP BY 1, 2),
        | rt AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a
        |  FROM pairs GROUP BY a),
        | t1 AS (SELECT pairs.a, pairs.b, n_ab, n_a
        |  FROM pairs JOIN rt ON pairs.a = rt.a)
        |SELECT l.a AS from_type, r.b AS to_type,
        |  CAST(sum(CAST(round(CAST(l.n_ab AS DOUBLE) * r.n_ab
        |    / (CAST(l.n_a AS DOUBLE) * r.n_a) * 1e9) AS BIGINT))
        |    AS BIGINT) AS p2_fp
        | FROM t1 l JOIN t1 r ON l.b = r.a
        | GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,

    // Daily-ACF replay: same day totals, 30-row lag self-join, same
    // cross-multiplied Pearson expression per lag.
    "a26_daily_acf" ->
      """WITH days AS (SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000
        |    AS d,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1),
        | lags AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS lag),
        | j AS (SELECT lag, a.v AS v, b.v AS v2
        |  FROM days a CROSS JOIN lags
        |  JOIN days b ON b.d = a.d + lag),
        | agg AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS sx, CAST(sum(v2) AS BIGINT) AS sy,
        |    sum(CAST(v AS HUGEINT) * v2) AS sxy,
        |    sum(CAST(v AS HUGEINT) * v) AS sxx,
        |    sum(CAST(v2 AS HUGEINT) * v2) AS syy
        |  FROM j GROUP BY lag)
        |SELECT lag, n,
        |  CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |      * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
        |      <= 0.0 THEN NULL ELSE
        |    CAST(round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |      / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |      * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
        |      * 1e9) AS BIGINT) END AS r_fp
        | FROM agg ORDER BY lag""".stripMargin,

    // TWAP: duration-weighted integral in exact integer µs × cents.
    // DOW anomaly replay: same integer weekday and cross-multiplied
    // band test.
    "e19_dow_anomaly" ->
      """WITH daily AS (SELECT
        |    CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |      AS rev_cents
        |  FROM orders GROUP BY day),
        | d2 AS (SELECT day, rev_cents, (day + 4) % 7 AS dow FROM daily),
        | stats AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(rev_cents) AS BIGINT) AS s_cents
        |  FROM d2 GROUP BY dow),
        | flagged AS (SELECT d2.day, d2.dow, d2.rev_cents, stats.n_days,
        |    stats.s_cents,
        |    CASE WHEN d2.rev_cents * stats.n_days > 2 * stats.s_cents
        |      THEN 'high'
        |      WHEN 2 * d2.rev_cents * stats.n_days < stats.s_cents
        |      THEN 'low' END AS verdict
        |  FROM d2 JOIN stats ON d2.dow = stats.dow)
        |SELECT * FROM flagged WHERE verdict IS NOT NULL
        | ORDER BY day""".stripMargin,

    // Linear attribution replay: reverse cumulative purchase count makes
    // the conversion windows; per-purchase truncated integer split.
    // U-shaped replay: e18's conversion grouping plus a position
    // window; the same 40/20/40 integer rule with remainder-to-first.
    "e24_position_attribution" ->
      """WITH ev AS (SELECT user_id, event_id,
        |    CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_type,
        |    CAST(round(value*100) AS BIGINT) AS v_cents FROM events),
        | grp AS (SELECT *, sum(CASE WHEN event_type = 'purchase'
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |      ORDER BY ts_us DESC, event_id DESC) AS conv_group
        |  FROM ev),
        | g AS (SELECT user_id, conv_group,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN v_cents
        |      ELSE 0 END) AS BIGINT) AS purchase_cents,
        |    CAST(sum(CASE WHEN event_type IN ('view', 'click') THEN 1
        |      ELSE 0 END) AS BIGINT) AS k
        |  FROM grp WHERE conv_group > 0 GROUP BY user_id, conv_group),
        | touches AS (SELECT t.event_type AS touch_type,
        |    g.purchase_cents * (CASE WHEN g.k = 1 THEN 1000
        |      WHEN g.k = 2 THEN 500
        |      WHEN t.pos = 1 THEN 400 + 200 % (g.k - 2)
        |      WHEN t.pos = g.k THEN 400
        |      ELSE 200 // (g.k - 2) END) AS credit_pmc,
        |    1 AS hit
        |  FROM (SELECT user_id, conv_group, event_type,
        |      row_number() OVER (PARTITION BY user_id, conv_group
        |        ORDER BY ts_us, event_id) AS pos
        |    FROM grp WHERE conv_group > 0
        |      AND event_type IN ('view', 'click')) t
        |  JOIN g ON t.user_id = g.user_id AND t.conv_group = g.conv_group),
        | credits AS (SELECT * FROM touches
        |  UNION ALL
        |  SELECT '(direct)', purchase_cents * 1000, 1 FROM g WHERE k = 0)
        |SELECT touch_type, CAST(sum(credit_pmc) AS BIGINT) AS credit_pmc,
        |  CAST(sum(hit) AS BIGINT) AS n_touches
        | FROM credits GROUP BY touch_type ORDER BY touch_type""".stripMargin,

    "e18_linear_attribution" ->
      """WITH ev AS (SELECT user_id, event_id,
        |    CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_type,
        |    CAST(round(value*100) AS BIGINT) AS v_cents FROM events),
        | grp AS (SELECT *, sum(CASE WHEN event_type = 'purchase'
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |      ORDER BY ts_us DESC, event_id DESC) AS conv_group
        |  FROM ev),
        | g AS (SELECT user_id, conv_group,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN v_cents
        |      ELSE 0 END) AS BIGINT) AS purchase_cents,
        |    CAST(sum(CASE WHEN event_type IN ('view', 'click') THEN 1
        |      ELSE 0 END) AS BIGINT) AS n_touches,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_view,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_click
        |  FROM grp WHERE conv_group > 0 GROUP BY user_id, conv_group),
        | credits AS (
        |  SELECT 'view' AS touch_type,
        |    CASE WHEN n_touches > 0
        |      THEN purchase_cents * n_view // n_touches ELSE 0 END
        |      AS credit,
        |    CASE WHEN n_view > 0 THEN 1 ELSE 0 END AS hit FROM g
        |  UNION ALL
        |  SELECT 'click', CASE WHEN n_touches > 0
        |      THEN purchase_cents * n_click // n_touches ELSE 0 END,
        |    CASE WHEN n_click > 0 THEN 1 ELSE 0 END FROM g
        |  UNION ALL
        |  SELECT '(direct)', CASE WHEN n_touches = 0
        |      THEN purchase_cents ELSE 0 END,
        |    CASE WHEN n_touches = 0 THEN 1 ELSE 0 END FROM g)
        |SELECT touch_type, CAST(sum(credit) AS BIGINT) AS credit_cents,
        |  CAST(sum(hit) AS BIGINT) AS n_conversions
        | FROM credits GROUP BY touch_type ORDER BY touch_type""".stripMargin,

    // Rolling trend replay: 8 lag taps, position weights 7..0, the
    // constant-x moments folded to literals (Σx = 28, Σx² = 140).
    "e20_rolling_trend" ->
      """WITH base AS (SELECT user_id, event_id,
        |    CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
        | lagged AS (SELECT user_id, event_id, v,
        |    lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2,
        |    lag(v, 3) OVER w AS l3, lag(v, 4) OVER w AS l4,
        |    lag(v, 5) OVER w AS l5, lag(v, 6) OVER w AS l6,
        |    lag(v, 7) OVER w AS l7
        |  FROM base WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts_us, event_id))
        |SELECT user_id, event_id, v AS v_cents,
        |  CAST(8*(v*7 + l1*6 + l2*5 + l3*4 + l4*3 + l5*2 + l6*1)
        |    - 28*(v + l1 + l2 + l3 + l4 + l5 + l6 + l7) AS BIGINT)
        |    AS slope_num,
        |  CAST(336 AS BIGINT) AS slope_den
        | FROM lagged WHERE l7 IS NOT NULL
        | ORDER BY user_id, event_id""".stripMargin,

    // A/B readout replay: per-user purchase cents vs the exact
    // low-median cutpoint, parity variant, pooled two-proportion z as
    // the same pinned double expression with the same p̂∈{0,1} guard.
    "e21_ab_readout" ->
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS pv
        |  FROM events GROUP BY user_id),
        | m AS (SELECT pv AS median_pv FROM (
        |    SELECT pv, row_number() OVER (ORDER BY pv, user_id) AS rn
        |    FROM u)
        |  WHERE rn = (SELECT (count(*) + 1) // 2 FROM u)),
        | v AS (SELECT user_id % 2 AS variant,
        |    CAST(CASE WHEN pv >= (SELECT median_pv FROM m)
        |      THEN 1 ELSE 0 END AS BIGINT) AS converted FROM u),
        | wide AS (SELECT
        |   CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n0,
        |   CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END)
        |     AS BIGINT) AS c0,
        |   CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n1,
        |   CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END)
        |     AS BIGINT) AS c1
        |  FROM v)
        |SELECT n0, c0, n1, c1,
        |  CASE WHEN n0 = 0 THEN NULL ELSE c0 * 10000 // n0 END
        |    AS rate0_bp,
        |  CASE WHEN n1 = 0 THEN NULL ELSE c1 * 10000 // n1 END
        |    AS rate1_bp,
        |  CASE WHEN n0 = 0 OR n1 = 0
        |    OR c0 + c1 = 0 OR c0 + c1 = n0 + n1 THEN NULL ELSE
        |    CAST(round((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
        |      / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
        |        * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
        |        * (1.0 / n0 + 1.0 / n1)) * 1e6) AS BIGINT) END AS z_fp,
        |  abs(z_fp) > 1960000 AS significant
        | FROM wide""".stripMargin,

    // Power-analysis replay: e21's median-anchored conversion rollup,
    // same z-constant literals, same pinned MDE / required-N math.
    "e28_power_analysis" ->
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS pv
        |  FROM events GROUP BY user_id),
        | m AS (SELECT pv AS median_pv FROM (
        |    SELECT pv, row_number() OVER (ORDER BY pv, user_id) AS rn
        |    FROM u)
        |  WHERE rn = (SELECT (count(*) + 1) // 2 FROM u)),
        | v AS (SELECT user_id % 2 AS variant,
        |    CAST(CASE WHEN pv >= (SELECT median_pv FROM m)
        |      THEN 1 ELSE 0 END AS BIGINT) AS converted FROM u),
        | wide AS (SELECT
        |   CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n0,
        |   CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END)
        |     AS BIGINT) AS c0,
        |   CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n1,
        |   CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END)
        |     AS BIGINT) AS c1
        |  FROM v)
        |SELECT n0, c0, n1, c1,
        |  CASE WHEN n0 + n1 = 0 THEN NULL ELSE
        |    CAST(round(CAST(c0 + c1 AS DOUBLE) / (n0 + n1) * 1e6)
        |      AS BIGINT) END AS p_pool_fp,
        |  CASE WHEN n0 = 0 OR n1 = 0 THEN NULL ELSE
        |    CAST(round((1.959964 + 0.841621)
        |      * sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
        |      * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
        |      * (1.0 / n0 + 1.0 / n1)) * 1e6) AS BIGINT) END AS mde_fp,
        |  CASE WHEN n0 + n1 = 0 THEN NULL ELSE
        |    CAST(ceil(2.0 * (1.959964 + 0.841621) * (1.959964 + 0.841621)
        |      * (CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
        |      * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
        |      / 0.0001) AS BIGINT) END AS n_per_arm_1pt
        | FROM wide""".stripMargin,

    // Time-to-convert replay: first view, first later purchase, the
    // same ceil(q·n) rank cutpoints.
    "e27_time_to_convert" ->
      """WITH ev AS (SELECT user_id, event_type,
        |    CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
        | fv AS (SELECT user_id, CAST(min(ts_us) AS BIGINT) AS v_us
        |  FROM ev WHERE event_type = 'view' GROUP BY user_id),
        | fp AS (SELECT ev.user_id, CAST(min(ts_us) AS BIGINT) AS p_us
        |  FROM ev JOIN fv ON ev.user_id = fv.user_id
        |  WHERE event_type = 'purchase' AND ts_us > v_us
        |  GROUP BY ev.user_id),
        | dur AS (SELECT fv.user_id, (p_us - v_us) // 1000000 AS dur_s
        |  FROM fv JOIN fp ON fv.user_id = fp.user_id),
        | r AS (SELECT dur_s,
        |    row_number() OVER (ORDER BY dur_s, user_id) AS rn,
        |    (SELECT CAST(count(*) AS BIGINT) FROM dur) AS n_c FROM dur)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM fv) AS n_viewers,
        |  CAST(max(n_c) AS BIGINT) AS n_converted,
        |  CAST(min(CASE WHEN rn = (n_c + 1) // 2 THEN dur_s END)
        |    AS BIGINT) AS p50_s,
        |  CAST(min(CASE WHEN rn = (9 * n_c + 9) // 10 THEN dur_s END)
        |    AS BIGINT) AS p90_s
        | FROM r""".stripMargin,

    // CUPED replay: same wide rollup of exact sums, same double-first
    // product order, same degenerate-variance NULL guards.
    "e22_cuped" ->
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN epoch_us(ts) < 1705363200000000
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN epoch_us(ts) >= 1705363200000000
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        | v AS (SELECT user_id % 2 AS variant, x, y FROM u),
        | wide AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(y AS HUGEINT) * y) AS syy,
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(sum(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT)
        |      AS sx0,
        |    CAST(sum(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT)
        |      AS sy0,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(sum(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT)
        |      AS sx1,
        |    CAST(sum(CASE WHEN variant = 1 THEN y ELSE 0 END) AS BIGINT)
        |      AS sy1
        |  FROM v),
        | d AS (SELECT *,
        |    CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS cov_d,
        |    CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS varx_d,
        |    CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS vary_d
        |  FROM wide)
        |SELECT n, n0, n1,
        |  CASE WHEN varx_d = 0.0 THEN NULL ELSE
        |    CAST(round(cov_d / varx_d * 1e9) AS BIGINT) END AS theta_fp,
        |  CASE WHEN varx_d = 0.0 OR vary_d = 0.0 THEN NULL ELSE
        |    CAST(round(cov_d * cov_d / (varx_d * vary_d) * 10000)
        |      AS BIGINT) END AS rho2_bp,
        |  CASE WHEN n0 = 0 OR n1 = 0 OR varx_d = 0.0 THEN NULL ELSE
        |    CAST(round(((CAST(sy1 AS DOUBLE) / n1
        |      - CAST(sy0 AS DOUBLE) / n0)
        |      - cov_d / varx_d * (CAST(sx1 AS DOUBLE) / n1
        |      - CAST(sx0 AS DOUBLE) / n0)) * 1e6) AS BIGINT) END AS diff_fp
        | FROM d""".stripMargin,

    // EWMA replay: the 16 dyadic lag taps written out longhand.
    "e17_ewma" -> {
      val taps = (0 to 15).map { i =>
        val weight = 1L << (15 - i)
        if (i == 0) (s"v_cents * $weight", s"$weight")
        else (s"coalesce(l$i * $weight, 0)",
          s"CASE WHEN l$i IS NULL THEN 0 ELSE $weight END")
      }
      val lags = (1 to 15).map(i => s"lag(v_cents, $i) OVER w AS l$i")
        .mkString(",\n    ")
      s"""WITH base AS (SELECT user_id, event_id,
         |    CAST(epoch_us(ts) AS BIGINT) AS ts_us,
         |    CAST(round(value * 100) AS BIGINT) AS v_cents FROM events),
         | lagged AS (SELECT user_id, event_id, v_cents,
         |    $lags
         |  FROM base WINDOW w AS (PARTITION BY user_id
         |    ORDER BY ts_us, event_id))
         |SELECT user_id, event_id, v_cents,
         |  CAST(${taps.map(_._1).mkString(" + ")} AS BIGINT) AS ewma_num,
         |  CAST(${taps.map(_._2).mkString(" + ")} AS BIGINT) AS ewma_den
         | FROM lagged ORDER BY user_id, event_id""".stripMargin
    },

    "e16_twap" ->
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS v_cents FROM events),
        | seg AS (SELECT user_id, v_cents,
        |    lead(ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) - ts_us AS dur_us
        |  FROM e),
        | agg AS (SELECT user_id,
        |    CAST(sum(dur_us) AS BIGINT) AS span_us,
        |    CAST(sum(dur_us * v_cents) AS BIGINT) AS weighted_fp
        |  FROM seg WHERE dur_us IS NOT NULL GROUP BY user_id)
        |SELECT user_id, span_us, weighted_fp,
        |  CAST(weighted_fp AS DOUBLE) / span_us AS twap_cents
        | FROM agg WHERE span_us > 0 ORDER BY user_id""".stripMargin,

    "e14_yoy_growth" ->
      """WITH rev AS (SELECT c_mktsegment AS segment,
        |    CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS rev_cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2)
        |SELECT segment, yr, rev_cents,
        |  lag(rev_cents) OVER (PARTITION BY segment ORDER BY yr)
        |    AS prev_cents,
        |  rev_cents - lag(rev_cents) OVER (PARTITION BY segment
        |    ORDER BY yr) AS delta_cents
        | FROM rev ORDER BY segment, yr""".stripMargin,

    "e13_active_users" ->
      """WITH ev AS (SELECT user_id,
        |    date_trunc('week', ts) AS wk FROM events),
        | keyed AS (SELECT user_id,
        |    strftime(wk, '%Y-%m-%d') AS week_str,
        |    strftime(date_trunc('month', wk), '%Y-%m-%d') AS month_str
        |  FROM ev),
        | wau AS (SELECT week_str, month_str,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |  FROM keyed GROUP BY 1, 2),
        | mau AS (SELECT month_str,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        |  FROM keyed GROUP BY 1)
        |SELECT week_str, wau, mau, wau * 10000 // mau AS stickiness_bp
        | FROM wau JOIN mau USING (month_str)
        | ORDER BY week_str""".stripMargin,

    "e12_outliers" ->
      """WITH ev AS (SELECT event_id, user_id,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        | st AS (SELECT user_id, count(*) AS n, sum(x) AS s,
        |    sum(x * x) AS q FROM ev GROUP BY user_id)
        |SELECT event_id, ev.user_id, x
        | FROM ev JOIN st ON ev.user_id = st.user_id
        | WHERE (n*x - s) * (n*x - s) > 4 * (n*q - s*s)
        | ORDER BY event_id""".stripMargin,

    "e10_last_touch" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |    CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
        | marked AS (SELECT user_id, event_id, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END
        |        IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS click_id
        |  FROM ev)
        |SELECT event_id AS purchase_id, user_id, click_id
        | FROM marked WHERE event_type = 'purchase'
        | ORDER BY purchase_id""".stripMargin,

    "e11_rfm" ->
      """WITH m AS (SELECT o_custkey AS custkey,
        |    max(date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE))) AS last_day,
        |    count(*) AS frequency,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS monetary_cents
        |  FROM orders GROUP BY 1),
        | j AS (SELECT custkey, c_mktsegment AS segment, last_day,
        |    frequency, monetary_cents
        |  FROM m JOIN customer ON custkey = c_custkey)
        |SELECT custkey, segment, last_day, frequency, monetary_cents,
        |  CAST(ntile(4) OVER (PARTITION BY segment
        |    ORDER BY last_day, custkey) AS BIGINT) AS r_q,
        |  CAST(ntile(4) OVER (PARTITION BY segment
        |    ORDER BY frequency, custkey) AS BIGINT) AS f_q,
        |  CAST(ntile(4) OVER (PARTITION BY segment
        |    ORDER BY monetary_cents, custkey) AS BIGINT) AS m_q
        | FROM j ORDER BY custkey""".stripMargin,

    "x5_interval_join" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |    event_type FROM events),
        | v AS (SELECT user_id, day AS v_day,
        |    min(us) AS v_start, max(us) AS v_end
        |   FROM ev WHERE event_type = 'view' GROUP BY user_id, day),
        | c AS (SELECT user_id, day AS c_day,
        |    min(us) AS c_start, max(us) AS c_end
        |   FROM ev WHERE event_type = 'click' GROUP BY user_id, day)
        |SELECT v.user_id, v_day, c_day,
        |  CAST(least(v_end, c_end) - greatest(v_start, c_start) AS BIGINT)
        |    AS overlap_us
        | FROM v JOIN c ON v.user_id = c.user_id
        |   AND v_start <= c_end AND c_start <= v_end
        | ORDER BY v.user_id, v_day, c_day""".stripMargin,

    // The oracle computes the expected URL components from the source
    // columns the URL was built from — construction ground truth.
    "p20_url_parse" ->
      """SELECT c_custkey,
        |  lower(c_mktsegment) || '.example.com' AS host,
        |  '/cust/' || c_custkey AS path,
        |  CAST(c_nationkey AS VARCHAR) AS nation_param
        | FROM customer ORDER BY c_custkey""".stripMargin,

    "t15_bigram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        | bi AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |    i -> array_to_string(list_slice(tk, i, i + 1), ' '))) AS bigram
        |  FROM toks WHERE len(tk) >= 2),
        | corpus AS (SELECT bigram, count(*) AS cnt FROM bi GROUP BY bigram)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(CASE WHEN cnt >= 5 THEN 1 ELSE 0 END) * 10000
        |    // count(*) AS BIGINT) AS common_bp
        | FROM bi JOIN corpus USING (bigram)
        | GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "s13_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |  FROM lineitem WHERE l_quantity >= 45
        |  GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "l1_limit_lookup" ->
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = 7
        | ORDER BY o_orderkey LIMIT 1""".stripMargin,

    "l2_slice" ->
      """SELECT c_custkey, c_name FROM customer ORDER BY c_custkey
        | LIMIT 5 OFFSET 10""".stripMargin,

    "l7_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        | ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "l8_union" ->
      """SELECT DISTINCT nk FROM (
        |  SELECT c_nationkey AS nk FROM customer
        |  UNION ALL SELECT s_nationkey FROM supplier) ORDER BY nk""".stripMargin,

    "l9_intersect" ->
      """SELECT c_nationkey AS nk FROM customer
        | INTERSECT SELECT s_nationkey FROM supplier ORDER BY nk""".stripMargin,

    "l10_except" ->
      """SELECT n_nationkey AS nk FROM nation
        | EXCEPT SELECT s_nationkey FROM supplier ORDER BY nk""".stripMargin,

    "w1_rank" ->
      """SELECT c_custkey, c_nationkey, rn, rnk FROM (
        |  SELECT c_custkey, c_nationkey,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey) AS rn,
        |    rank() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey) AS rnk
        |  FROM customer) WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin,

    "w2_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS running_cents
        |  FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "w3_lag" ->
      """SELECT o_custkey, o_orderkey,
        |  strftime(lag(o_orderdate, 1) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |    '%Y-%m-%d %H:%M:%S') AS prev_date
        |  FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    // ntile/percent_rank/cume_dist are frame-free; first/nth use the
    // default RANGE-to-current-row frame, deterministic because the order
    // key (o_totalprice, o_orderkey) is unique (no peer rows).
    "w4_window_suite" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cdist,
        |  first_value(o_orderkey) OVER w AS first_key,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |  FROM orders WHERE o_custkey <= 100
        |  WINDOW w AS (PARTITION BY o_orderpriority
        |               ORDER BY o_totalprice, o_orderkey)
        |  ORDER BY o_orderkey""".stripMargin,

    "e1_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |    AS hour_str,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |  FROM events GROUP BY hour_str ORDER BY hour_str""".stripMargin,

    "s5_csv_roundtrip" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        | ORDER BY c_custkey""".stripMargin,

    "s11_json_roundtrip" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
        | ORDER BY c_custkey""".stripMargin,

    "p4_exists" ->
      """SELECT c_custkey,
        |  CASE WHEN c_custkey IN (SELECT o_custkey FROM orders
        |                          WHERE o_totalprice > 400000)
        |       THEN 1 ELSE 0 END AS has_big_order
        |  FROM customer ORDER BY c_custkey""".stripMargin,

    // The string-bound value coerces to the column type (server-side
    // parameter semantics): numeric >=, plus the AND'd <> guard.
    "p4b_exists_operators" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        | WHERE o_totalprice >= CAST('400000' AS DOUBLE)
        |   AND o_orderstatus <> 'F'
        | ORDER BY o_orderkey""".stripMargin,

    "a3_count_cached" ->
      "SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'F'",

    "a6_rollup" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS prio,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents
        |  FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |  ORDER BY status, prio""".stripMargin,

    "a11_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS prio,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents
        |  FROM orders
        |  GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |  ORDER BY status, prio""".stripMargin,

    // The MG summary itself is order-dependent internal state; the gated
    // RESULT is the exact recount-and-threshold, which plain SQL mirrors.
    "a12_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS token
        |   FROM documents WHERE text IS NOT NULL),
        | tot AS (SELECT count(*) AS total FROM tok)
        | SELECT token, CAST(count(*) AS BIGINT) AS cnt,
        |   CAST(total AS BIGINT) AS total
        |  FROM tok, tot GROUP BY token, total
        |  HAVING count(*) >= total * 0.03125
        |  ORDER BY token""".stripMargin,

    // CM cells are order-independent sums, so the oracle recomputes each
    // queried cell as the collision-group count under the same md5
    // universal hash family ((2j+1)h + 7919j + 13 mod p mod width).
    // Benford replay: floor() before the digit (DuckDB's double→int
    // CAST rounds, Spark's truncates — floor removes the divergence),
    // same per-mille literals.
    "a22_benford" ->
      """WITH digits AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders WHERE o_totalprice >= 1.0),
        | counts AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_d
        |  FROM digits GROUP BY digit),
        | total AS (SELECT CAST(sum(n_d) AS BIGINT) AS n_total FROM counts),
        | profile AS (SELECT CAST(unnest([1,2,3,4,5,6,7,8,9]) AS BIGINT)
        |    AS digit,
        |  CAST(unnest([301,176,125,97,79,67,58,51,46]) AS BIGINT) AS p_pm)
        |SELECT p.digit, coalesce(c.n_d, 0) AS n_d,
        |  (SELECT n_total FROM total) AS n_total,
        |  p.p_pm,
        |  (coalesce(c.n_d, 0) * 1000 - (SELECT n_total FROM total) * p.p_pm)
        |    * (coalesce(c.n_d, 0) * 1000
        |       - (SELECT n_total FROM total) * p.p_pm)
        |    AS dev_sq,
        |  (SELECT n_total FROM total) * p.p_pm * 1000 AS chi_den
        | FROM profile p LEFT JOIN counts c ON c.digit = p.digit
        | ORDER BY p.digit""".stripMargin,

    // Behavioral entropy replay: t18's fixed-point ln discipline over
    // the per-user event-type histogram.
    "a23_behavior_entropy" ->
      """WITH ev AS (SELECT user_id, event_type FROM events),
        | n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |  FROM ev GROUP BY user_id),
        | pc AS (SELECT ev.user_id, event_type,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM ev GROUP BY ev.user_id, event_type),
        | terms AS (SELECT pc.user_id, n.n_events,
        |    cnt * CAST(round(ln(CAST(n.n_events AS DOUBLE) / cnt) * 1e9)
        |      AS BIGINT) AS term_fp
        |  FROM pc JOIN n ON pc.user_id = n.user_id)
        |SELECT user_id, max(n_events) AS n_events,
        |  CAST(sum(term_fp) AS BIGINT) AS entropy_fp
        | FROM terms GROUP BY user_id ORDER BY user_id""".stripMargin,

    // MAD replay: the low-median rank trick twice, deterministic
    // (value, event_id) order both times.
    "a21_mad_outliers" ->
      """WITH ev AS (SELECT user_id, event_id,
        |    CAST(round(value*100) AS BIGINT) AS v FROM events),
        | med AS (SELECT user_id, v AS med_cents FROM (
        |   SELECT user_id, v,
        |     row_number() OVER (PARTITION BY user_id
        |       ORDER BY v, event_id) AS rn,
        |     count(*) OVER (PARTITION BY user_id) AS cnt
        |   FROM ev) WHERE rn = (cnt + 1) // 2),
        | dev AS (SELECT ev.user_id, ev.event_id, ev.v, med.med_cents,
        |    abs(ev.v - med.med_cents) AS dev
        |  FROM ev JOIN med ON ev.user_id = med.user_id),
        | mad AS (SELECT user_id, dev AS mad_cents FROM (
        |   SELECT user_id, dev,
        |     row_number() OVER (PARTITION BY user_id
        |       ORDER BY dev, event_id) AS rn,
        |     count(*) OVER (PARTITION BY user_id) AS cnt
        |   FROM dev) WHERE rn = (cnt + 1) // 2)
        |SELECT d.user_id, d.event_id, d.v AS v_cents, d.med_cents,
        |  m.mad_cents
        | FROM dev d JOIN mad m ON d.user_id = m.user_id
        | WHERE d.dev > 3 * m.mad_cents
        | ORDER BY d.user_id, d.event_id""".stripMargin,

    // Gini replay: per-segment rank over per-customer revenue, the same
    // cross-multiplied rational.
    "a20_gini" ->
      """WITH rev AS (SELECT c_mktsegment AS segment, c_custkey AS ck,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS rev_cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY segment, ck),
        | ranked AS (SELECT segment, rev_cents,
        |    CAST(row_number() OVER (PARTITION BY segment
        |      ORDER BY rev_cents, ck) AS BIGINT) AS i
        |  FROM rev),
        | agg AS (SELECT segment, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(rev_cents) AS BIGINT) AS sum_cents,
        |    CAST(sum(i * rev_cents) AS BIGINT) AS weighted
        |  FROM ranked GROUP BY segment)
        |SELECT segment, n, sum_cents,
        |  2*weighted - (n+1)*sum_cents AS g_num,
        |  n*sum_cents AS g_den
        | FROM agg ORDER BY segment""".stripMargin,

    // CUSUM replay: same day table, same n-scaled prefix + running-min
    // identity, same alarm rule.
    "e29_cusum_drift" ->
      """WITH days AS (SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000
        |    AS d,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1),
        | tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS tot FROM days),
        | c AS (SELECT d, v,
        |    CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
        |    CAST(sum(v) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum
        |  FROM days),
        | p AS (SELECT d, v,
        |    (SELECT n FROM tot) * cum - i * (SELECT tot FROM tot) AS p
        |  FROM c),
        | s AS (SELECT d, v,
        |    p - least(CAST(0 AS BIGINT),
        |      min(p) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING))
        |      AS s_scaled
        |  FROM p)
        |SELECT d, v, s_scaled,
        |  s_scaled > (SELECT tot FROM tot) AS alarm
        | FROM s ORDER BY d""".stripMargin,

    // Overlap-totals replay: x5's CTEs + one user-keyed aggregation.
    "x12_overlap_totals" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |    event_type FROM events),
        | v AS (SELECT user_id, day AS v_day,
        |    min(us) AS v_start, max(us) AS v_end
        |   FROM ev WHERE event_type = 'view' GROUP BY user_id, day),
        | c AS (SELECT user_id, day AS c_day,
        |    min(us) AS c_start, max(us) AS c_end
        |   FROM ev WHERE event_type = 'click' GROUP BY user_id, day),
        | o AS (SELECT v.user_id,
        |    CAST(least(v_end, c_end) - greatest(v_start, c_start)
        |      AS BIGINT) AS overlap_us
        |  FROM v JOIN c ON v.user_id = c.user_id
        |    AND v_start <= c_end AND c_start <= v_end)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_overlaps,
        |  CAST(sum(overlap_us) AS BIGINT) AS total_overlap_us,
        |  CAST(max(overlap_us) AS BIGINT) AS max_overlap_us
        | FROM o GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Allen-relation replay: the same co-occurring pairs (the banded
    // join's naive mirror), the same CASE ladder order.
    "x13_allen_relations" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |    event_type FROM events),
        | v AS (SELECT user_id, day AS v_day,
        |    min(us) AS v_start, max(us) AS v_end
        |   FROM ev WHERE event_type = 'view' GROUP BY user_id, day),
        | c AS (SELECT user_id, day AS c_day,
        |    min(us) AS c_start, max(us) AS c_end
        |   FROM ev WHERE event_type = 'click' GROUP BY user_id, day),
        | o AS (SELECT v.user_id, v_start, v_end, c_start, c_end,
        |    CASE WHEN v_start = c_start AND v_end = c_end THEN 'equals'
        |      WHEN v_start = c_start AND v_end < c_end THEN 'starts'
        |      WHEN v_start = c_start THEN 'started_by'
        |      WHEN v_end = c_end AND v_start > c_start THEN 'finishes'
        |      WHEN v_end = c_end THEN 'finished_by'
        |      WHEN v_end = c_start THEN 'meets'
        |      WHEN c_end = v_start THEN 'met_by'
        |      WHEN v_start > c_start AND v_end < c_end THEN 'during'
        |      WHEN v_start < c_start AND v_end > c_end THEN 'contains'
        |      WHEN v_start < c_start THEN 'overlaps'
        |      ELSE 'overlapped_by' END AS relation
        |  FROM v JOIN c ON v.user_id = c.user_id
        |    AND v_start <= c_end AND c_start <= v_end)
        |SELECT relation, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(least(v_end, c_end) - greatest(v_start, c_start))
        |    AS BIGINT) AS total_overlap_us
        | FROM o GROUP BY relation ORDER BY relation""".stripMargin,

    // Winnowing replay: same md5 gram hashes, same window minima
    // (list_sort[1] — lexicographic over lowercase hex, identical to
    // array_min), same shared-fingerprint filter.
    "d23_winnowing" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        | g AS (SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN []
        |      ELSE list_transform(range(1, len(tk) - 1), i ->
        |        md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS h
        |  FROM t),
        | f AS (SELECT doc_id, unnest(
        |    CASE WHEN len(h) < 4 THEN list_distinct(h)
        |      ELSE list_distinct(list_transform(range(1, len(h) - 2),
        |        j -> list_sort(h[j:j+3])[1])) END) AS fp
        |  FROM g)
        |SELECT fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc
        | FROM f GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
        | ORDER BY fp""".stripMargin,

    // Quality-mixture replay: t2's quality formula verbatim, the same
    // per-source (quality desc, doc_id) top-10.
    "c15_quality_mixture" ->
      """WITH q AS (SELECT doc_id, source,
        |  least(1.0, CAST(len(regexp_extract_all(lower(text), '\S+')) AS DOUBLE) / 100.0) * 0.5
        |  + (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
        |           / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.3
        |  + least(1.0, CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'),
        |        tk -> tk IN ('the','a','and','of','to','is','in','that','it','for'))) AS DOUBLE)
        |      * 5.0 / greatest(CAST(len(regexp_extract_all(lower(text), '\S+')) AS DOUBLE), 1.0)) * 0.2
        |  AS quality
        |  FROM documents WHERE text IS NOT NULL),
        | r AS (SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY quality DESC, doc_id) AS rr FROM q)
        |SELECT source, doc_id, quality FROM r WHERE rr <= 10
        | ORDER BY source, doc_id""".stripMargin,

    // Code-detector replay: the same translate/line-split integer
    // counts and the same fixed integer-ratio rule.
    "t32_code_detect" ->
      """WITH d AS (SELECT doc_id, text,
        |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |    CAST(length(text)
        |      - length(translate(text, '{}();=<>[]', ''))
        |      AS BIGINT) AS n_symbols,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(list_filter(string_split(text, chr(10)),
        |      x -> regexp_matches(x, '^(  |\t)'))) AS BIGINT)
        |      AS n_indented
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, n_lines, n_symbols, n_chars, n_indented,
        |  n_chars > 0 AND (n_symbols * 20 >= n_chars
        |    OR n_indented * 5 >= n_lines * 2) AS is_code
        | FROM d ORDER BY doc_id""".stripMargin,

    // FK-audit replay: NOT EXISTS per edge (anti-join semantics
    // including NULL-child-key orphans), one UNION ALL report.
    "j14_fk_audit" ->
      """SELECT 'customer.c_nationkey->nation' AS fk,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer c WHERE NOT
        |    EXISTS (SELECT 1 FROM nation n
        |      WHERE n.n_nationkey = c.c_nationkey)) AS n_orphans,
        |  (SELECT count(*) FROM customer c WHERE NOT EXISTS
        |    (SELECT 1 FROM nation n
        |      WHERE n.n_nationkey = c.c_nationkey)) = 0 AS ok
        |UNION ALL
        |SELECT 'lineitem.l_orderkey->orders',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |    = 0
        |UNION ALL
        |SELECT 'lineitem.l_partkey->part',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)),
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) = 0
        |UNION ALL
        |SELECT 'lineitem.l_suppkey->supplier',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)),
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
        |    = 0
        |UNION ALL
        |SELECT 'nation.n_regionkey->region',
        |  (SELECT count(*) FROM nation),
        |  (SELECT count(*) FROM nation n WHERE NOT EXISTS
        |    (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey)),
        |  (SELECT count(*) FROM nation n WHERE NOT EXISTS
        |    (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
        |    = 0
        |UNION ALL
        |SELECT 'orders.o_custkey->customer',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |    = 0
        |UNION ALL
        |SELECT 'supplier.s_nationkey->nation',
        |  (SELECT count(*) FROM supplier),
        |  (SELECT count(*) FROM supplier s WHERE NOT EXISTS
        |    (SELECT 1 FROM nation n
        |      WHERE n.n_nationkey = s.s_nationkey)),
        |  (SELECT count(*) FROM supplier s WHERE NOT EXISTS
        |    (SELECT 1 FROM nation n
        |      WHERE n.n_nationkey = s.s_nationkey)) = 0
        |ORDER BY fk""".stripMargin,

    // Spearman replay: midranks from a cumulative window over the
    // distinct-value count tables (the replay side need not be
    // scale-safe), same decimal products and pinned double.
    "a29_spearman" ->
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        | cx AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM u
        |   GROUP BY x),
        | rx AS (SELECT x, 2 * (CAST(sum(c) OVER (ORDER BY x
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) - c) + c + 1 AS x_r2
        |   FROM cx),
        | cy AS (SELECT y, CAST(count(*) AS BIGINT) AS c FROM u
        |   GROUP BY y),
        | ry AS (SELECT y, 2 * (CAST(sum(c) OVER (ORDER BY y
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) - c) + c + 1 AS y_r2
        |   FROM cy),
        | j AS (SELECT u.user_id, rx.x_r2, ry.y_r2 FROM u
        |   JOIN rx ON u.x = rx.x JOIN ry ON u.y = ry.y),
        | agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x_r2) AS BIGINT) AS sx,
        |    CAST(sum(y_r2) AS BIGINT) AS sy,
        |    sum(CAST(x_r2 AS HUGEINT) * y_r2) AS sxy,
        |    sum(CAST(x_r2 AS HUGEINT) * x_r2) AS sxx,
        |    sum(CAST(y_r2 AS HUGEINT) * y_r2) AS syy
        |  FROM j)
        |SELECT n,
        |  CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |      * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
        |      <= 0.0 THEN NULL ELSE
        |    CAST(round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |      / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |      * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
        |      * 1e9) AS BIGINT) END AS rho_fp
        | FROM agg""".stripMargin,

    // Uplift-decile replay: same (score desc, user_id) rank, same
    // floor-decile cut, same integer basis points.
    "e31_uplift_deciles" ->
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS score,
        |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS converted
        |  FROM events GROUP BY user_id),
        | r AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY score DESC, user_id)
        |      AS BIGINT) AS rn,
        |    CAST(count(*) OVER () AS BIGINT) AS n_u FROM u),
        | d AS (SELECT (10 * (rn - 1)) // n_u AS decile,
        |    user_id % 2 AS variant, converted FROM r),
        | a AS (SELECT decile,
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END)
        |      AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END)
        |      AS BIGINT) AS c1
        |  FROM d GROUP BY decile)
        |SELECT decile, n0, c0, n1, c1,
        |  CASE WHEN n0 = 0 OR n1 = 0 THEN NULL ELSE
        |    c1 * 10000 // n1 - c0 * 10000 // n0 END AS uplift_bp
        | FROM a ORDER BY decile""".stripMargin,

    // Seasonal-anomaly replay: same lag-7 day join, same exact integer
    // low-median / MAD ranks, same 3-MAD flag.
    "e30_seasonal_anomaly" ->
      """WITH days AS (SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000
        |    AS d,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1),
        | res AS (SELECT a.d, a.v, a.v - b.v AS resid
        |  FROM days a JOIN days b ON a.d = b.d + 7),
        | med AS (SELECT resid AS m FROM (
        |    SELECT resid, row_number() OVER (ORDER BY resid, d) AS rn
        |    FROM res)
        |  WHERE rn = (SELECT (count(*) + 1) // 2 FROM res)),
        | dev AS (SELECT d, v, resid,
        |    abs(resid - (SELECT m FROM med)) AS dv FROM res),
        | mad AS (SELECT dv AS m FROM (
        |    SELECT dv, row_number() OVER (ORDER BY dv, d) AS rn FROM dev)
        |  WHERE rn = (SELECT (count(*) + 1) // 2 FROM dev))
        |SELECT d, v, resid,
        |  abs(resid - (SELECT m FROM med)) > 3 * (SELECT m FROM mad)
        |    AS is_anom
        | FROM dev ORDER BY d""".stripMargin,

    // χ² replay: the same full grid (zero cells included), the same
    // per-cell fixed-point rounding before the integer sum.
    "a28_chi2_independence" ->
      """WITH cells AS (SELECT event_type, user_id % 2 AS variant,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2),
        | r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
        |   FROM cells GROUP BY 1),
        | c AS (SELECT variant, CAST(sum(o) AS BIGINT) AS ct
        |   FROM cells GROUP BY 1),
        | tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        | grid AS (SELECT r.event_type, c.variant, r.rt, c.ct,
        |    coalesce(cells.o, 0) AS o, (SELECT n FROM tot) AS n
        |  FROM r CROSS JOIN c
        |  LEFT JOIN cells ON cells.event_type = r.event_type
        |    AND cells.variant = c.variant),
        | terms AS (SELECT *,
        |    CAST(round(pow(CAST(o AS DOUBLE) * n
        |      - CAST(rt AS DOUBLE) * ct, 2)
        |      / (CAST(rt AS DOUBLE) * ct * n) * 1e9) AS BIGINT)
        |      AS term_fp
        |  FROM grid)
        |SELECT CAST(max(n) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST((count(DISTINCT event_type) - 1)
        |    * (count(DISTINCT variant) - 1) AS BIGINT) AS df,
        |  CAST(sum(term_fp) AS BIGINT) AS chi2_fp
        | FROM terms""".stripMargin,

    // Welch replay: same one-rollup sums (squares in HUGEINT), same
    // variance/t/df pinned doubles and guards.
    // Theil-Sen replay: same monthly rollup, same within-nation pair
    // slopes as doubles, same explicit middle-rank median selection.
    "a30_theil_sen" ->
      """WITH monthly AS (SELECT c_nationkey AS nation,
        |    (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
        |      AS m,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        | p AS (SELECT a.nation,
        |    CAST(b.rev - a.rev AS DOUBLE) / CAST(b.m - a.m AS DOUBLE)
        |      AS slope
        |  FROM monthly a JOIN monthly b
        |    ON a.nation = b.nation AND a.m < b.m),
        | rk AS (SELECT nation, slope,
        |    row_number() OVER (PARTITION BY nation ORDER BY slope) AS r,
        |    count(*) OVER (PARTITION BY nation) AS n FROM p)
        |SELECT nation, CAST(max(n) AS BIGINT) AS n_pairs,
        |  CAST(round(avg(slope) * 1e6) AS BIGINT) AS slope_fp
        | FROM rk WHERE r = (n + 1) // 2 OR r = n // 2 + 1
        | GROUP BY nation ORDER BY nation""".stripMargin,

    // Mann-Kendall replay: a30's monthly series, the sign-pair sum,
    // integer tie-corrected 18·Var(S), the same continuity-corrected
    // z spelling over IEEE-exact sqrt.
    "a34_mann_kendall" ->
      """WITH monthly AS (SELECT c_nationkey AS nation,
        |    (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
        |      AS m,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        | s AS (SELECT a.nation,
        |    CAST(sum(CASE WHEN b.rev > a.rev THEN 1
        |      WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT)
        |      AS s_stat
        |  FROM monthly a JOIN monthly b
        |    ON a.nation = b.nation AND a.m < b.m
        |  GROUP BY a.nation),
        | ties AS (SELECT nation, CAST(count(*) AS BIGINT) AS t
        |  FROM monthly GROUP BY nation, rev),
        | nt AS (SELECT nation, CAST(sum(t) AS BIGINT) AS n_months,
        |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        |  FROM ties GROUP BY nation),
        | v AS (SELECT s.nation, nt.n_months, s.s_stat,
        |    n_months * (n_months - 1) * (2 * n_months + 5) - tie_term
        |      AS var18
        |  FROM s JOIN nt ON s.nation = nt.nation)
        |SELECT nation, n_months, s_stat, var18,
        |  CASE WHEN var18 <= 0 THEN NULL ELSE
        |    CAST(round((s_stat - CASE WHEN s_stat > 0 THEN 1
        |      WHEN s_stat < 0 THEN -1 ELSE 0 END)
        |      / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1e6) AS BIGINT)
        |    END AS z_fp
        | FROM v ORDER BY nation""".stripMargin,

    // δ-presence replay: one conditional-sum aggregation, integer //.
    "v6_delta_presence" ->
      """SELECT source, n_chars // 100 AS len_bucket,
        |  CAST(count(*) AS BIGINT) AS n_pop,
        |  CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_released,
        |  CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)
        |    AS BIGINT) * 10000 // count(*) AS delta_bp,
        |  CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)
        |    AS BIGINT) * 10000 // count(*) BETWEEN 500 AND 9000
        |    AS presence_safe
        | FROM documents GROUP BY source, n_chars // 100
        | ORDER BY source, len_bucket""".stripMargin,

    // BH replay: the same six per-user metrics, a31's z algebra per
    // metric, the same Φ⁻¹ literal ladder and z-space rejection rule.
    // SPRT replay: the same fixed-point LLR constants interpolated as
    // BIGINT literals; integer products and sums throughout.
    "e33_sprt" ->
      s"""WITH daily AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n,
        |    CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
        |      THEN user_id END) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        | scored AS (SELECT day, n, c,
        |    c * $SprtL1Fp + (n - c) * ($SprtL0Fp) AS llr_fp
        |  FROM daily),
        | cumd AS (SELECT day, n, c,
        |    CAST(sum(llr_fp) OVER (ORDER BY day) AS BIGINT) AS llr_cum_fp
        |  FROM scored)
        |SELECT day, n, c, llr_cum_fp,
        |  CASE WHEN llr_cum_fp >= $SprtAFp THEN 'accept_h1'
        |    WHEN llr_cum_fp <= -$SprtAFp THEN 'accept_h0'
        |    ELSE 'continue' END AS decision
        | FROM cumd ORDER BY day""".stripMargin,

    "e32_fdr_bh" ->
      """WITH u AS (SELECT user_id % 2 AS variant,
        |    sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS m_revenue,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS m_purchases,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS m_views,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS m_clicks,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS m_value_all,
        |    count(DISTINCT CAST(ts AS DATE)) AS m_active_days
        |  FROM events GROUP BY user_id),
        | st AS (
        |  SELECT variant, 'm_active_days' AS metric,
        |    CAST(m_active_days AS BIGINT) AS x FROM u
        |  UNION ALL SELECT variant, 'm_clicks', m_clicks FROM u
        |  UNION ALL SELECT variant, 'm_purchases', m_purchases FROM u
        |  UNION ALL SELECT variant, 'm_revenue', m_revenue FROM u
        |  UNION ALL SELECT variant, 'm_value_all', m_value_all FROM u
        |  UNION ALL SELECT variant, 'm_views', m_views FROM u),
        | w AS (SELECT metric,
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(sum(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT)
        |      AS s0,
        |    sum(CASE WHEN variant = 0 THEN CAST(x AS HUGEINT) * x
        |      ELSE 0 END) AS q0,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(sum(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT)
        |      AS s1,
        |    sum(CASE WHEN variant = 1 THEN CAST(x AS HUGEINT) * x
        |      ELSE 0 END) AS q1
        |  FROM st GROUP BY metric),
        | v AS (SELECT *,
        |    CASE WHEN n0 < 2 THEN NULL ELSE
        |      (CAST(n0 AS DOUBLE) * q0 - CAST(s0 AS DOUBLE) * s0)
        |      / (CAST(n0 AS DOUBLE) * (n0 - 1)) END AS v0_d,
        |    CASE WHEN n1 < 2 THEN NULL ELSE
        |      (CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)
        |      / (CAST(n1 AS DOUBLE) * (n1 - 1)) END AS v1_d
        |  FROM w),
        | se AS (SELECT *, v0_d / n0 + v1_d / n1 AS se2_d FROM v),
        | z AS (SELECT metric, n0, n1,
        |    CASE WHEN se2_d IS NULL OR se2_d <= 0.0 THEN NULL ELSE
        |      abs((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
        |        / sqrt(se2_d)) END AS abs_z
        |  FROM se),
        | rk AS (SELECT *, row_number() OVER (
        |    ORDER BY abs_z DESC NULLS LAST, metric) AS rank FROM z),
        | hit AS (SELECT *,
        |    abs_z >= CASE rank WHEN 1 THEN 2.638257 WHEN 2 THEN 2.39398
        |      WHEN 3 THEN 2.241403 WHEN 4 THEN 2.128045
        |      WHEN 5 THEN 2.036834 ELSE 1.959964 END AS hit
        |  FROM rk),
        | mh AS (SELECT max(CASE WHEN hit THEN rank END) AS max_hit
        |  FROM hit)
        |SELECT metric, n0, n1,
        |  CAST(round(abs_z * 1e6) AS BIGINT) AS z_fp,
        |  CAST(rank AS BIGINT) AS rank,
        |  coalesce(rank <= max_hit, false) AS rejected
        | FROM hit CROSS JOIN mh ORDER BY rank""".stripMargin,

    "a31_welch_ttest" ->
      """WITH u AS (SELECT user_id % 2 AS variant,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS x
        |  FROM events GROUP BY user_id),
        | w AS (SELECT
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(sum(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT)
        |      AS s0,
        |    sum(CASE WHEN variant = 0 THEN CAST(x AS HUGEINT) * x
        |      ELSE 0 END) AS q0,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(sum(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT)
        |      AS s1,
        |    sum(CASE WHEN variant = 1 THEN CAST(x AS HUGEINT) * x
        |      ELSE 0 END) AS q1
        |  FROM u),
        | v AS (SELECT *,
        |    CASE WHEN n0 < 2 THEN NULL ELSE
        |      (CAST(n0 AS DOUBLE) * q0 - CAST(s0 AS DOUBLE) * s0)
        |      / (CAST(n0 AS DOUBLE) * (n0 - 1)) END AS v0_d,
        |    CASE WHEN n1 < 2 THEN NULL ELSE
        |      (CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)
        |      / (CAST(n1 AS DOUBLE) * (n1 - 1)) END AS v1_d
        |  FROM w),
        | se AS (SELECT *, v0_d / n0 + v1_d / n1 AS se2_d FROM v)
        |SELECT n0, n1,
        |  CASE WHEN se2_d IS NULL OR se2_d <= 0.0 THEN NULL ELSE
        |    CAST(round((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
        |      / sqrt(se2_d) * 1e6) AS BIGINT) END AS t_fp,
        |  CASE WHEN se2_d IS NULL OR se2_d <= 0.0 THEN NULL ELSE
        |    CAST(round(se2_d * se2_d
        |      / ((v0_d / n0) * (v0_d / n0) / (n0 - 1)
        |      + (v1_d / n1) * (v1_d / n1) / (n1 - 1)) * 1e3)
        |      AS BIGINT) END AS df_fp
        | FROM se""".stripMargin,

    // Mann-Whitney replay: per-value midranks doubled to integers, the
    // HUGEINT tie term, the same pinned z expression and guards.
    "a27_mann_whitney" ->
      """WITH ev AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
        |    event_type = 'view' AS is_a
        |  FROM events WHERE event_type IN ('view', 'click')),
        | counts AS (SELECT v,
        |    CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS c2,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY v),
        | ranked AS (SELECT *,
        |    coalesce(CAST(sum(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS cum_before
        |  FROM counts),
        | agg AS (SELECT
        |    CAST(sum(c1) AS BIGINT) AS n1,
        |    CAST(sum(c2) AS BIGINT) AS n2,
        |    sum(CAST(c1 AS HUGEINT) * (2 * cum_before + c + 1)) AS r1_x2,
        |    sum(CAST(c AS HUGEINT) * c * c - c) AS tie
        |  FROM ranked),
        | u AS (SELECT n1, n2,
        |    CAST(r1_x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT)
        |      AS u1_x2,
        |    CAST(n1 AS DOUBLE) * n2 / 12.0
        |      * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
        |      - CAST(tie AS DOUBLE)
        |      / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))) AS vterm_d
        |  FROM agg)
        |SELECT n1, n2, u1_x2,
        |  CASE WHEN n1 = 0 OR n2 = 0 OR vterm_d <= 0.0 THEN NULL ELSE
        |    CAST(round((CAST(u1_x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * n2)
        |      / (2.0 * sqrt(vterm_d)) * 1e6) AS BIGINT) END AS z_fp,
        |  abs(z_fp) > 1960000 AS significant
        | FROM u""".stripMargin,

    // KS replay: per-value counts, one cumulative window, the same
    // cross-multiplied max and the same pinned critical-value compare.
    "a25_ks_test" ->
      """WITH ev AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
        |    event_type = 'view' AS is_a
        |  FROM events WHERE event_type IN ('view', 'click')),
        | counts AS (SELECT v,
        |    CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS c2
        |  FROM ev GROUP BY v),
        | tot AS (SELECT
        |    CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n2
        |  FROM ev),
        | cdf AS (SELECT
        |    sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum1,
        |    sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum2
        |  FROM counts),
        | agg AS (SELECT (SELECT n1 FROM tot) AS n1,
        |    (SELECT n2 FROM tot) AS n2,
        |    CAST(max(abs(cum1 * (SELECT n2 FROM tot)
        |      - cum2 * (SELECT n1 FROM tot))) AS BIGINT) AS d_num
        |  FROM cdf)
        |SELECT n1, n2, d_num, n1 * n2 AS d_den,
        |  CAST(CAST(d_num AS HUGEINT) * 10000 // (n1 * n2) AS BIGINT)
        |    AS d_bp,
        |  CASE WHEN n1 = 0 OR n2 = 0 THEN NULL ELSE
        |    CAST(d_num AS DOUBLE) / (n1 * n2) > 1.358 *
        |    sqrt((CAST(n1 AS DOUBLE) + n2) / (CAST(n1 AS DOUBLE) * n2))
        |  END AS significant
        | FROM agg""".stripMargin,

    // Multi-quantile replay: same rank trick, same ceil(q·n) cutpoints.
    "a24_group_quantiles" ->
      """WITH base AS (SELECT event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
        | r AS (SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY v, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM base)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(min(CASE WHEN rn = (n + 3) // 4 THEN v END) AS BIGINT)
        |    AS p25,
        |  CAST(min(CASE WHEN rn = (n + 1) // 2 THEN v END) AS BIGINT)
        |    AS p50,
        |  CAST(min(CASE WHEN rn = (3 * n + 3) // 4 THEN v END) AS BIGINT)
        |    AS p75
        | FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    "a19_weighted_median" ->
      """WITH li AS (SELECT l_returnflag AS flag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
        |    CAST(l_quantity AS BIGINT) AS w FROM lineitem),
        | c AS (SELECT flag, v,
        |    sum(w) OVER (PARTITION BY flag ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cumw,
        |    sum(w) OVER (PARTITION BY flag) AS total FROM li)
        |SELECT flag, min(v) AS weighted_median_cents
        | FROM c WHERE cumw * 2 >= total GROUP BY flag
        | ORDER BY flag""".stripMargin,

    "a18_windowed_distinct" ->
      """WITH ev AS (SELECT event_id, event_type, user_id FROM events),
        | d AS (SELECT event_type,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
        |  FROM ev GROUP BY 1)
        |SELECT event_id, ev.event_type, user_id, distinct_users
        | FROM ev JOIN d USING (event_type)
        | WHERE event_id % 100 = 0 ORDER BY event_id""".stripMargin,

    "a17_countmin" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS token
        |  FROM documents WHERE text IS NOT NULL),
        | hashed AS (
        |  SELECT token,
        |    CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT)
        |      % 2147483647 AS h
        |  FROM toks),
        | cells AS (
        |  SELECT j, ((2*j+1)*h + 7919*j + 13) % 2147483647 % 1024 AS b,
        |    count(*) AS cnt
        |  FROM hashed, range(4) t(j) GROUP BY j, b),
        | q AS (
        |  SELECT token,
        |    CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT)
        |      % 2147483647 AS h
        |  FROM (VALUES ('the'),('and'),('of'),('data'),('to'),('a'),
        |        ('in'),('is'),('for'),('zyzzyva_absent')) v(token)),
        | qcells AS (
        |  SELECT q.token, j,
        |    ((2*j+1)*h + 7919*j + 13) % 2147483647 % 1024 AS b
        |  FROM q, range(4) t(j)),
        | est AS (
        |  SELECT token, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est_cnt
        |  FROM qcells LEFT JOIN cells USING (j, b) GROUP BY token),
        | ex AS (
        |  SELECT token, count(*) AS exact_cnt FROM toks
        |  WHERE token IN ('the','and','of','data','to','a','in','is',
        |                  'for','zyzzyva_absent')
        |  GROUP BY token)
        |SELECT token, CAST(coalesce(exact_cnt, 0) AS BIGINT) AS exact_cnt,
        |  est_cnt
        | FROM est LEFT JOIN ex USING (token) ORDER BY token""".stripMargin,

    // The sketch estimate is engine-specific; the oracle checks the exact
    // count and asserts the Spark-side sketch sat within its error envelope
    // (TRUE here == the boolean Spark computed from its own sketch).
    "a7_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS sketch_within_5pct FROM lineitem""".stripMargin,

    // Same envelope contract as a7: exact median checked, sketch drift
    // flips the boolean.
    "a10_approx_percentile" ->
      """SELECT quantile_cont(l_extendedprice, 0.5) AS exact_median,
        |  TRUE AS sketch_within_1pct FROM lineitem""".stripMargin,

    // Grouped log-histogram replay: the same bucketing with the running
    // sum partitioned by event_type, per-group ceil-rank selection.
    "a35_group_log_histogram" ->
      """WITH v AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        | b AS (SELECT event_type, CASE WHEN v < 64 THEN v
        |    ELSE (v >> (length(bin(v)) - 7)) << (length(bin(v)) - 7)
        |    END AS low
        |  FROM v WHERE v >= 0),
        | bc AS (SELECT event_type, low, CAST(count(*) AS BIGINT) AS cnt
        |  FROM b GROUP BY 1, 2),
        | cum AS (SELECT event_type, low,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY low)
        |      AS BIGINT) AS cum
        |  FROM bc),
        | n AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
        |  FROM bc GROUP BY 1),
        | thr AS (SELECT n.event_type, p_bp, n.n,
        |    (n.n * p_bp + 9999) // 10000 AS k
        |  FROM n CROSS JOIN
        |    (SELECT CAST(unnest([5000, 9900]) AS BIGINT) AS p_bp))
        |SELECT thr.event_type AS event_type, thr.p_bp, thr.n, thr.k,
        |  CAST(min(cum.low) AS BIGINT) AS est
        | FROM cum JOIN thr ON cum.event_type = thr.event_type
        |   AND cum.cum >= thr.k
        | GROUP BY 1, 2, 3, 4 ORDER BY 1, 2""".stripMargin,

    // KMV replay: the same 12-hex md5 draws, bottom-k via ORDER BY
    // LIMIT, the (k-1)*2^48/h_k estimator with the small-domain exact
    // branch.
    "a33_kmv_distinct" ->
      s"""WITH h AS (SELECT DISTINCT CAST(('0x' ||
        |    substr(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
        |  FROM events),
        | kth AS (SELECT CAST(count(*) AS BIGINT) AS k_actual,
        |    CAST(max(h) AS BIGINT) AS h_k
        |  FROM (SELECT h FROM h ORDER BY h LIMIT 64)),
        | exact AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
        |    AS exact_users FROM events)
        |SELECT k_actual, h_k,
        |  CASE WHEN k_actual < 64 THEN k_actual
        |    ELSE (63 * $Hex12Space) // h_k END AS est_users,
        |  exact_users,
        |  abs((CASE WHEN k_actual < 64 THEN k_actual
        |    ELSE (63 * $Hex12Space) // h_k END) - exact_users) * 5
        |    <= exact_users AS within_20pct
        | FROM kth CROSS JOIN exact""".stripMargin,

    // Poisson-bootstrap replay: identical md5 draws and inverse-CDF
    // ladder (cuts interpolated from the same Scala constants),
    // integer replicate moments.
    "e34_poisson_bootstrap" ->
      s"""WITH u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      >= 14 AS BIGINT) AS x
        |  FROM events GROUP BY user_id),
        | reps AS (SELECT u.user_id, u.x, r.range AS r
        |  FROM u CROSS JOIN range(0, 32) r),
        | drawn AS (SELECT r, x, CAST(('0x' ||
        |    substr(md5(concat_ws('|', user_id, r)), 1, 12)) AS BIGINT)
        |    AS u48
        |  FROM reps),
        | wgt AS (SELECT r, x, ${poissonCase("u48", "")} AS w FROM drawn),
        | per AS (SELECT r, CAST(sum(w) AS BIGINT) AS n_eff,
        |    CAST(sum(w * x) AS BIGINT) AS c_eff
        |  FROM wgt GROUP BY r),
        | rb AS (SELECT CASE WHEN n_eff = 0 THEN NULL
        |    ELSE c_eff * 10000 // n_eff END AS rate_bp FROM per)
        |SELECT CAST(count(*) AS BIGINT) AS n_reps,
        |  CAST(sum(rate_bp) // count(*) AS BIGINT) AS mean_bp,
        |  CAST(count(*) * sum(rate_bp * rate_bp)
        |    - sum(rate_bp) * sum(rate_bp) AS BIGINT) AS var_num,
        |  CAST(count(*) * (count(*) - 1) AS BIGINT) AS var_den
        | FROM rb""".stripMargin,

    // Log-histogram replay: the same top-7-significant-bits bucketing
    // (bin() prints BIGINT without leading zeros in both engines), the
    // running sum over the bounded bucket table, ceil-rank selection.
    "a32_log_histogram" ->
      """WITH v AS (SELECT CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
        | b AS (SELECT CASE WHEN v < 64 THEN v
        |    ELSE (v >> (length(bin(v)) - 7)) << (length(bin(v)) - 7)
        |    END AS low
        |  FROM v WHERE v >= 0),
        | bc AS (SELECT low, CAST(count(*) AS BIGINT) AS cnt
        |        FROM b GROUP BY low),
        | cum AS (SELECT low, CAST(sum(cnt) OVER (ORDER BY low) AS BIGINT)
        |          AS cum FROM bc),
        | n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM bc),
        | thr AS (SELECT p_bp, n.n AS n,
        |    (n.n * p_bp + 9999) // 10000 AS k
        |  FROM (SELECT CAST(unnest([5000, 9000, 9900]) AS BIGINT) AS p_bp)
        |  CROSS JOIN n)
        |SELECT thr.p_bp, thr.n, thr.k, CAST(min(cum.low) AS BIGINT) AS est
        | FROM cum JOIN thr ON cum.cum >= thr.k
        | GROUP BY 1, 2, 3 ORDER BY p_bp""".stripMargin,

    "l3_positional" ->
      """SELECT c_custkey, c_name FROM customer ORDER BY c_custkey
        | LIMIT 1 OFFSET 41""".stripMargin,

    "l4_column_extract" ->
      "SELECT DISTINCT p_brand FROM part ORDER BY p_brand",

    "j7_replace_children" ->
      """WITH recomputed AS (
        |  SELECT o_orderkey + 5000000 AS o_orderkey, o_custkey,
        |         0.0 AS o_totalprice
        |    FROM orders WHERE o_custkey % 10 = 0)
        | SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_custkey NOT IN (SELECT o_custkey FROM recomputed)
        | UNION ALL
        | SELECT * FROM recomputed
        | ORDER BY o_orderkey""".stripMargin,

    "t1_text_stats" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '\S+')) AS n_tokens,
        |  length(text) AS n_chars_m,
        |  len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct
        |  FROM documents ORDER BY doc_id""".stripMargin,

    "t16_bpe_tokens" ->
      """WITH c AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '\S+')) AS BIGINT)
        |      AS n_words,
        |    CAST(len(regexp_extract_all(lower(text),
        |      ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS BIGINT) AS n_bpe
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, n_words, n_bpe,
        |  CASE WHEN n_words > 0 THEN n_bpe * 10000 // n_words END
        |    AS bpe_per_word_bp
        | FROM c ORDER BY doc_id""".stripMargin,

    // Per-token −ln p rounded to 1e-9 fixed point BEFORE the sum — the
    // per-doc aggregate is an integer reduce, so both engines agree
    // bit-for-bit; the one double division producing avg_nll runs once
    // per output row from identical integers.
    "t17_unigram_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        | c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        |       FROM toks GROUP BY tok),
        | tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM c),
        | scored AS (
        |  SELECT doc_id,
        |    CAST(round(-ln(CAST(cnt AS DOUBLE) / n_total) * 1e9) AS BIGINT)
        |      AS nll_fp
        |  FROM toks JOIN c USING (tok) CROSS JOIN tot),
        | per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(nll_fp) AS BIGINT) AS sum_nll_fp
        |  FROM scored GROUP BY doc_id)
        |SELECT doc_id, n_tokens, sum_nll_fp,
        |  CAST(sum_nll_fp AS DOUBLE) / 1e9 / n_tokens AS avg_nll
        | FROM per ORDER BY doc_id""".stripMargin,

    // CCNet bucketing: t17's surprisal statement + per-language ntile(3)
    // with the deterministic (avg_nll, doc_id) order.
    "c13_ccnet_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        | c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        |       FROM toks GROUP BY tok),
        | tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM c),
        | scored AS (
        |  SELECT doc_id,
        |    CAST(round(-ln(CAST(cnt AS DOUBLE) / n_total) * 1e9) AS BIGINT)
        |      AS nll_fp
        |  FROM toks JOIN c USING (tok) CROSS JOIN tot),
        | per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(nll_fp) AS BIGINT) AS sum_nll_fp
        |  FROM scored GROUP BY doc_id),
        | b AS (
        |  SELECT per.doc_id, d.lang,
        |    CAST(sum_nll_fp AS DOUBLE) / 1e9 / n_tokens AS avg_nll
        |  FROM per JOIN documents d USING (doc_id)),
        | ranked AS (
        |  SELECT doc_id, lang, avg_nll,
        |    CAST(ntile(3) OVER (PARTITION BY lang
        |      ORDER BY avg_nll, doc_id) AS BIGINT) AS bucket
        |  FROM b)
        |SELECT doc_id, lang, avg_nll, bucket,
        |  CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |    ELSE 'tail' END AS bucket_name
        | FROM ranked ORDER BY doc_id""".stripMargin,

    // DSIR replay: hashed unigram+bigram buckets, smoothed bucket
    // log-ratios (one pinned double expression), integer doc weights,
    // deterministic top-k. DuckDB's range(1, n) is already empty for
    // n <= 1, so the bigram guard Spark needs is implicit here.
    "c14_dsir_resample" ->
      """WITH base AS (SELECT doc_id,
        |    (lang = 'en' AND source = 'src18') AS is_tgt,
        |    regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        | feats AS (SELECT doc_id, is_tgt,
        |    CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 1024 AS bucket
        |  FROM (SELECT doc_id, is_tgt, unnest(list_concat(tk,
        |      list_transform(range(1, len(tk)), i ->
        |        tk[CAST(i AS INT)] || ' ' || tk[CAST(i + 1 AS INT)]))) AS f
        |    FROM base)),
        | bc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_raw_b,
        |    CAST(count(*) FILTER (WHERE is_tgt) AS BIGINT) AS n_tgt_b
        |  FROM feats GROUP BY bucket),
        | tots AS (SELECT CAST(count(*) AS BIGINT) AS n_raw,
        |    CAST(count(*) FILTER (WHERE is_tgt) AS BIGINT) AS n_tgt
        |  FROM feats),
        | lr AS (SELECT bucket,
        |    CAST(round(ln((CAST(n_tgt_b + 1 AS DOUBLE)
        |        * CAST((SELECT n_raw FROM tots) + 1024 AS DOUBLE))
        |      / (CAST(n_raw_b + 1 AS DOUBLE)
        |        * CAST((SELECT n_tgt FROM tots) + 1024 AS DOUBLE))) * 1e9)
        |      AS BIGINT) AS lr_fp
        |  FROM bc)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feat,
        |  CAST(sum(lr_fp) AS BIGINT) AS weight_fp
        | FROM feats JOIN lr USING (bucket) WHERE NOT is_tgt
        | GROUP BY doc_id ORDER BY weight_fp DESC, doc_id LIMIT 50""".stripMargin,

    "t20_bpe_train" -> BpeTrainSql(64),

    "t21_bpe_encode" -> BpeEncodeSql(64),

    // Unicode canonicalization via DuckDB's nfc_normalize/strip_accents
    // builtins — parity with the JDK Normalizer expressions pinned on
    // the NFD fixture (combining marks embedded in the literal).
    "t25_unicode_normalize" -> (
      """WITH d AS (
        |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        |  UNION ALL SELECT * FROM (VALUES
        |    (CAST(-22 AS BIGINT), 'café crème Noël'),
        |    (CAST(-21 AS BIGINT), 'cafe""" + "́" + """ cre""" +
        "̀" + """me No""" + "̈" + """el')) t(doc_id, text))
        |SELECT doc_id, nfc_normalize(text) AS nfc_text,
        |  strip_accents(lower(nfc_normalize(text))) AS folded,
        |  nfc_normalize(text) <> text AS changed
        | FROM d ORDER BY doc_id""").stripMargin,

    // Hashing-trick classifier: md5-prefix bucket, Knuth weight,
    // integer sum, sign label — replayed bucket-for-bucket.
    "t24_hashed_classifier" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+'))
        |    AS tok
        |  FROM documents WHERE text IS NOT NULL),
        | w AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 1024
        |      AS bucket
        |  FROM toks),
        | s AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum((bucket * 2654435761) % 1000000007 - 500000000)
        |      AS BIGINT) AS score_fp
        |  FROM w GROUP BY doc_id)
        |SELECT doc_id, n_tokens, score_fp, score_fp > 0 AS label
        | FROM s ORDER BY doc_id""".stripMargin,

    // Stupid Backoff, CCNet shape: LM counts from the even-id half; seen
    // bigram → cnt_b/cnt_prev, unseen → 0.4·U(tok), doc-initial → U(tok),
    // U = cnt_u/N with pseudo-count 1 when OOV; per-token -ln p rounded to
    // 1e-9 units before the per-doc sum (order-independent integer
    // reduce). Parallel unnests zip positionally, pairing each token with
    // its predecessor.
    "t19_backoff_surprisal" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        | tp AS (
        |  SELECT doc_id, unnest(tk) AS tok,
        |    unnest(list_transform(range(1, len(tk) + 1), i ->
        |      CASE WHEN i > 1 THEN tk[i - 1] END)) AS prev
        |  FROM d),
        | tr AS (SELECT * FROM tp WHERE doc_id % 2 = 0),
        | uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt_u
        |         FROM tr GROUP BY tok),
        | tot AS (SELECT CAST(sum(cnt_u) AS BIGINT) AS n_total FROM uni),
        | bi AS (SELECT prev, tok, CAST(count(*) AS BIGINT) AS cnt_b
        |        FROM tr WHERE prev IS NOT NULL GROUP BY prev, tok),
        | scored AS (
        |  SELECT tp.doc_id,
        |    CASE WHEN bi.cnt_b IS NOT NULL THEN
        |      CAST(round(-ln(CAST(bi.cnt_b AS DOUBLE) / up.cnt_u) * 1e9)
        |        AS BIGINT)
        |    WHEN tp.prev IS NULL THEN
        |      CAST(round(-ln(CAST(coalesce(u.cnt_u, 1) AS DOUBLE) / n_total)
        |        * 1e9) AS BIGINT)
        |    ELSE
        |      CAST(round(-ln(0.4 * (CAST(coalesce(u.cnt_u, 1) AS DOUBLE)
        |        / n_total)) * 1e9) AS BIGINT)
        |    END AS nll_fp,
        |    CASE WHEN tp.prev IS NOT NULL AND bi.cnt_b IS NULL
        |      THEN 1 ELSE 0 END AS is_b,
        |    CASE WHEN u.cnt_u IS NULL THEN 1 ELSE 0 END AS is_oov
        |  FROM tp
        |  LEFT JOIN uni u ON u.tok = tp.tok
        |  LEFT JOIN uni up ON up.tok = tp.prev
        |  LEFT JOIN bi ON bi.prev = tp.prev AND bi.tok = tp.tok
        |  CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(is_b) AS BIGINT) AS n_backoff,
        |  CAST(sum(is_oov) AS BIGINT) AS n_oov,
        |  CAST(sum(nll_fp) AS BIGINT) AS sum_nll_fp,
        |  CAST(sum(nll_fp) AS DOUBLE) / 1e9 / count(*) AS avg_nll
        | FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Good-Turing replay: token counts -> frequency-of-frequencies ->
    // the r+1 self-join; r* fixed-pointed with the engine's exact
    // spelling (((r+1) * N_{r+1}) / N_r) * 1e9.
    "t34_good_turing" ->
      """WITH d AS (
        |  SELECT regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        | tc AS (SELECT unnest(tk) AS tok FROM d),
        | cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS r
        |         FROM tc GROUP BY tok),
        | nr AS (SELECT r, CAST(count(*) AS BIGINT) AS n_types
        |        FROM cnt GROUP BY r)
        |SELECT a.r, a.n_types, a.r * a.n_types AS mass,
        |  CAST(round((a.r + 1) * CAST(b.n_types AS DOUBLE) / a.n_types
        |    * 1e9) AS BIGINT) AS r_star_fp
        | FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
        | ORDER BY a.r LIMIT 20""".stripMargin,

    // Kneser-Ney replay: train bigrams on even doc_ids, context totals
    // c(v) and fan-outs N1+(v.), continuation counts N1+(.w), total
    // bigram types N1+(..); the interpolated-KN probability spelled
    // with the engine's exact parenthesization and left-association.
    "t35_kneser_ney" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        | tp AS (
        |  SELECT doc_id, unnest(tk) AS tok,
        |    unnest(list_transform(range(1, len(tk) + 1), i ->
        |      CASE WHEN i > 1 THEN tk[i - 1] END)) AS prev
        |  FROM d),
        | bi AS (SELECT prev, tok, CAST(count(*) AS BIGINT) AS cnt_b
        |        FROM tp WHERE doc_id % 2 = 0 AND prev IS NOT NULL
        |        GROUP BY prev, tok),
        | ctx AS (SELECT prev, CAST(sum(cnt_b) AS BIGINT) AS cnt_ctx,
        |          CAST(count(*) AS BIGINT) AS n1_fwd
        |         FROM bi GROUP BY prev),
        | cont AS (SELECT tok, CAST(count(*) AS BIGINT) AS n1_bwd
        |          FROM bi GROUP BY tok),
        | types AS (SELECT CAST(count(*) AS BIGINT) AS n1_all FROM bi),
        | scored AS (
        |  SELECT tp.doc_id,
        |    CASE WHEN tp.prev IS NOT NULL AND ctx.cnt_ctx IS NOT NULL
        |    THEN CAST(round(-ln(
        |      (greatest(CAST(coalesce(bi.cnt_b, 0) AS DOUBLE) - 0.75, 0.0)
        |       + 0.75 * ctx.n1_fwd *
        |         (CAST(coalesce(cont.n1_bwd, 1) AS DOUBLE) / n1_all))
        |      / ctx.cnt_ctx) * 1e9) AS BIGINT)
        |    ELSE CAST(round(-ln(
        |      CAST(coalesce(cont.n1_bwd, 1) AS DOUBLE) / n1_all) * 1e9)
        |      AS BIGINT)
        |    END AS nll_fp,
        |    CASE WHEN tp.prev IS NOT NULL AND ctx.cnt_ctx IS NULL
        |      THEN 1 ELSE 0 END AS is_cb,
        |    CASE WHEN cont.n1_bwd IS NULL THEN 1 ELSE 0 END AS is_oov
        |  FROM tp
        |  LEFT JOIN cont ON cont.tok = tp.tok
        |  LEFT JOIN ctx ON ctx.prev = tp.prev
        |  LEFT JOIN bi ON bi.prev = tp.prev AND bi.tok = tp.tok
        |  CROSS JOIN types)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(is_cb) AS BIGINT) AS n_ctx_backoff,
        |  CAST(sum(is_oov) AS BIGINT) AS n_oov,
        |  CAST(sum(nll_fp) AS BIGINT) AS sum_nll_fp,
        |  CAST(sum(nll_fp) AS DOUBLE) / 1e9 / count(*) AS avg_nll
        | FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Each distinct char contributes cnt * round(ln(n/cnt)*1e9) — exact
    // integers, so the sum is engine-exact; one double division per row.
    "t18_char_entropy" ->
      """WITH chars AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |    unnest(string_split(text, '')) AS ch
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
        | pc AS (
        |  SELECT doc_id, n_chars, ch, CAST(count(*) AS BIGINT) AS cnt
        |  FROM chars GROUP BY doc_id, n_chars, ch),
        | terms AS (
        |  SELECT doc_id, n_chars,
        |    cnt * CAST(round(ln(CAST(n_chars AS DOUBLE) / cnt) * 1e9)
        |      AS BIGINT) AS term_fp
        |  FROM pc),
        | per AS (
        |  SELECT doc_id, max(n_chars) AS n_chars,
        |    CAST(sum(term_fp) AS BIGINT) AS entropy_fp
        |  FROM terms GROUP BY doc_id)
        |SELECT doc_id, n_chars, entropy_fp,
        |  CAST(entropy_fp AS DOUBLE) / 1e9 / n_chars AS entropy_nats
        | FROM per ORDER BY doc_id""".stripMargin,

    // Gopher rule battery: every verdict is cross-multiplied integer
    // arithmetic, so both engines compute identical booleans.
    "t22_gopher_rules" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    regexp_extract_all(lower(text), '\S+') AS tk,
        |    string_split(text, chr(10)) AS ln
        |  FROM documents WHERE text IS NOT NULL),
        | m AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(tk, t -> len(t))), 0)
        |      AS BIGINT) AS wchars,
        |    CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS BIGINT)
        |      AS n_sym,
        |    CAST(len(ln) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(ln, l -> regexp_matches(l, '^\s*[-*•]')))
        |      AS BIGINT) AS n_bullet,
        |    CAST(len(list_filter(ln,
        |      l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS BIGINT) AS n_ell,
        |    CAST(len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))
        |      AS BIGINT) AS n_alpha,
        |    CAST(len(list_intersect(list_distinct(tk),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT)
        |      AS n_stop
        |  FROM d)
        |SELECT doc_id, n_words,
        |  n_words >= 50 AND n_words <= 100000 AS r_word_count,
        |  wchars >= n_words * 3 AND wchars <= n_words * 10 AS r_mean_wordlen,
        |  n_sym * 10 <= n_words AS r_symbol_ratio,
        |  n_bullet * 10 <= n_lines * 9 AS r_bullet_lines,
        |  n_ell * 10 <= n_lines * 3 AS r_ellipsis_lines,
        |  n_alpha * 10 >= n_words * 8 AS r_alpha_words,
        |  n_stop >= 1 AS r_stopwords,
        |  (n_words >= 50 AND n_words <= 100000)
        |    AND (wchars >= n_words * 3 AND wchars <= n_words * 10)
        |    AND n_sym * 10 <= n_words
        |    AND n_bullet * 10 <= n_lines * 9
        |    AND n_ell * 10 <= n_lines * 3
        |    AND n_alpha * 10 >= n_words * 8
        |    AND n_stop >= 1 AS gopher_pass
        | FROM m ORDER BY doc_id""".stripMargin,

    // Conjunctive retrieval: postings restricted to the query terms, then
    // docs with a full intersection; tf_total is the crude relevance key.
    "t23_boolean_search" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+'))
        |    AS term
        |  FROM documents),
        | post AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY doc_id, term),
        | hit AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
        |    CAST(sum(tf) AS BIGINT) AS tf_total
        |  FROM post WHERE term IN ('spark', 'join', 'hash')
        |  GROUP BY doc_id)
        |SELECT doc_id, n_terms_hit, tf_total FROM hit
        | WHERE n_terms_hit = 3 ORDER BY doc_id""".stripMargin,

    "t2_quality" ->
      """SELECT doc_id,
        |  least(1.0, CAST(len(regexp_extract_all(lower(text), '\S+')) AS DOUBLE) / 100.0) * 0.5
        |  + (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
        |           / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.3
        |  + least(1.0, CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'),
        |        tk -> tk IN ('the','a','and','of','to','is','in','that','it','for'))) AS DOUBLE)
        |      * 5.0 / greatest(CAST(len(regexp_extract_all(lower(text), '\S+')) AS DOUBLE), 1.0)) * 0.2
        |  AS quality
        |  FROM documents ORDER BY doc_id""".stripMargin,

    "t3_langid" ->
      """WITH scores AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(regexp_extract_all(lower(text), '\S+'),
        |      t -> t IN ('the','a','and','of','to','is','in','that','it','for'))) AS en,
        |    len(list_filter(regexp_extract_all(lower(text), '\S+'),
        |      t -> t IN ('le','la','les','de','et','un','une','est','que','pour'))) AS fr,
        |    len(list_filter(regexp_extract_all(lower(text), '\S+'),
        |      t -> t IN ('el','la','los','de','y','un','una','es','que','para'))) AS es,
        |    len(list_filter(regexp_extract_all(lower(text), '\S+'),
        |      t -> t IN ('der','die','das','und','ein','ist','zu','den','von','mit'))) AS de
        |  FROM documents)
        | SELECT doc_id, lang,
        |   CASE WHEN en >= fr AND en >= es AND en >= de THEN 'en'
        |        WHEN fr >= es AND fr >= de THEN 'fr'
        |        WHEN es >= de THEN 'es'
        |        ELSE 'de' END AS lang_pred
        | FROM scores ORDER BY doc_id""".stripMargin,

    "t4_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(
        |    regexp_extract_all(lower(text), '\S+'))), ' ')) AS fp
        |  FROM documents ORDER BY doc_id""".stripMargin,

    "t5_rolling_hash" ->
      """SELECT doc_id,
        |  CAST(list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(text) + 1),
        |        i -> CAST(unicode(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
        |    (acc, cp) -> (acc * 31 + cp) % 1000000007) AS BIGINT) AS rh
        |  FROM documents ORDER BY doc_id""".stripMargin,

    "t6_fuzzy_match" ->
      """SELECT id_a, id_b, dist FROM (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |    CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |  FROM part a JOIN part b
        |    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |   AND a.p_partkey < b.p_partkey)
        | WHERE dist <= 3 ORDER BY id_a, id_b""".stripMargin,

    // PMI replay: same bigram/unigram counts, one pinned-order double
    // expression rounded at 1e-9.
    // Heaps-law replay: hash-order doc prefixes, four conditional
    // distinct counts, same fixed-point β quotients.
    "t31_heaps_law" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |  WHERE text IS NOT NULL),
        | nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM d),
        | ranked AS (SELECT doc_id, text,
        |    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)),
        |      doc_id) AS rn
        |  FROM d),
        | toks AS (SELECT
        |    rn * 4 <= (SELECT n_docs FROM nd) AS p1,
        |    rn * 2 <= (SELECT n_docs FROM nd) AS p2,
        |    rn * 4 <= 3 * (SELECT n_docs FROM nd) AS p3,
        |    unnest(regexp_extract_all(lower(text), '\S+')) AS tok
        |  FROM ranked),
        | agg AS (SELECT
        |    CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
        |    CAST(sum(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS t2,
        |    CAST(sum(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS t3,
        |    CAST(count(*) AS BIGINT) AS t4,
        |    CAST(count(DISTINCT CASE WHEN p1 THEN tok END) AS BIGINT)
        |      AS v1,
        |    CAST(count(DISTINCT CASE WHEN p2 THEN tok END) AS BIGINT)
        |      AS v2,
        |    CAST(count(DISTINCT CASE WHEN p3 THEN tok END) AS BIGINT)
        |      AS v3,
        |    CAST(count(DISTINCT tok) AS BIGINT) AS v4
        |  FROM toks)
        |SELECT t1, t2, t3, t4, v1, v2, v3, v4,
        |  CAST(round(ln(CAST(v2 AS DOUBLE) / v1)
        |    / ln(CAST(t2 AS DOUBLE) / t1) * 1e9) AS BIGINT) AS beta12_fp,
        |  CAST(round(ln(CAST(v4 AS DOUBLE) / v1)
        |    / ln(CAST(t4 AS DOUBLE) / t1) * 1e9) AS BIGINT) AS beta14_fp
        | FROM agg""".stripMargin,

    // Vocab-drift replay: conditional counts per half, (count desc,
    // token) top-100, set algebra on the two 100-row vocabularies.
    "t30_vocab_drift" ->
      """WITH toks AS (SELECT doc_id % 2 = 0 AS half_a,
        |    unnest(regexp_extract_all(lower(text), '\S+')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        | counts AS (SELECT half_a, tok, CAST(count(*) AS BIGINT) AS n
        |  FROM toks GROUP BY half_a, tok),
        | top AS (SELECT half_a, tok FROM (
        |   SELECT half_a, tok, row_number() OVER (PARTITION BY half_a
        |     ORDER BY n DESC, tok) AS r FROM counts) WHERE r <= 100),
        | a AS (SELECT tok FROM top WHERE half_a),
        | b AS (SELECT tok FROM top WHERE NOT half_a),
        | s AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
        |   (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b,
        |   (SELECT CAST(count(*) AS BIGINT) FROM a JOIN b USING (tok))
        |     AS n_inter)
        |SELECT n_a, n_b, n_inter, n_a + n_b - n_inter AS n_union,
        |  n_inter * 10000 // (n_a + n_b - n_inter) AS jaccard_bp,
        |  n_inter * 10000 // least(n_a, n_b) AS overlap_bp
        | FROM s""".stripMargin,

    "t29_pmi_collocations" ->
      """WITH base AS (SELECT regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        | un AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
        |   SELECT unnest(tk) AS w FROM base) GROUP BY w),
        | tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM un),
        | big AS (SELECT unnest(list_transform(range(1, len(tk)), i ->
        |    struct_pack(w1 := tk[CAST(i AS INT)],
        |      w2 := tk[CAST(i + 1 AS INT)]))) AS b
        |   FROM base WHERE len(tk) >= 2),
        | bg AS (SELECT b.w1 AS w1, b.w2 AS w2,
        |    CAST(count(*) AS BIGINT) AS n_ab FROM big GROUP BY 1, 2),
        | j AS (SELECT bg.w1, bg.w2, n_ab, a.n AS n_a, c.n AS n_b
        |  FROM bg JOIN un a ON bg.w1 = a.w JOIN un c ON bg.w2 = c.w
        |  WHERE n_ab >= 20)
        |SELECT w1, w2, n_ab, n_a, n_b,
        |  CAST(round(ln(CAST(n_ab AS DOUBLE) * (SELECT n_total FROM tot)
        |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) * 1e9)
        |    AS BIGINT) AS pmi_fp
        | FROM j ORDER BY pmi_fp DESC, w1, w2 LIMIT 25""".stripMargin,

    // RAKE replay: same frequency stoplist, islands segmentation via
    // pos - row_number(), degree scoring — all integer.
    // TextRank replay: t27's tokenization, the co-occurrence pairing,
    // then g1's exact integer PageRank unrolled 3 rounds (same
    // contrib/teleport spelling; // floors = Spark div on positives).
    "t36_textrank" -> {
      val rounds = (1 to 3).map { r =>
        val p = r - 1
        s""",
           | r$r AS (SELECT e0.b AS id,
           |    CAST(sum((s.score * 85 // 100) // deg.outdeg) AS BIGINT)
           |      AS m
           |  FROM e0 JOIN s$p s ON s.id = e0.a
           |  JOIN deg ON deg.a = e0.a GROUP BY e0.b),
           | s$r AS MATERIALIZED (SELECT id, (150000000000 // nn) + m
           |    AS score
           |  FROM r$r CROSS JOIN n)""".stripMargin
      }.mkString
      """WITH base AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '\S+') AS t
        |  FROM documents WHERE text IS NOT NULL),
        | toks0 AS (SELECT doc_id, u.pos AS pos, u.w AS w FROM (
        |   SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
        |     i -> struct_pack(pos := i,
        |       w := regexp_replace(t[CAST(i AS INT)], '[^\p{L}\p{N}]', '',
        |         'g')))) AS u
        |   FROM base) WHERE u.w <> ''),
        | stop AS (SELECT w FROM (SELECT w, count(*) AS n FROM toks0
        |   GROUP BY w ORDER BY n DESC, w LIMIT 5)),
        | cw AS (SELECT doc_id, pos, w,
        |    lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS pw,
        |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS pp
        |  FROM toks0 WHERE w NOT IN (SELECT w FROM stop)),
        | pairs AS (SELECT pw AS a, w AS b FROM cw
        |   WHERE pp IS NOT NULL AND pos - pp <= 2 AND w <> pw),
        | e0 AS MATERIALIZED (SELECT DISTINCT a, b FROM
        |   (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs)),
        | deg AS MATERIALIZED (SELECT a, CAST(count(*) AS BIGINT)
        |    AS outdeg FROM e0 GROUP BY a),
        | n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM deg),
        | s0 AS MATERIALIZED (SELECT a AS id, 1000000000000 // nn
        |    AS score FROM deg CROSS JOIN n)""".stripMargin + rounds +
        "\nSELECT id AS word, score FROM s3" +
        "\n ORDER BY score DESC, word LIMIT 30"
    },

    "t27_rake_keywords" ->
      """WITH base AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '\S+') AS t
        |  FROM documents WHERE text IS NOT NULL),
        | toks0 AS (SELECT doc_id, u.pos AS pos, u.w AS w FROM (
        |   SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
        |     i -> struct_pack(pos := i,
        |       w := regexp_replace(t[CAST(i AS INT)], '[^\p{L}\p{N}]', '',
        |         'g')))) AS u
        |   FROM base) WHERE u.w <> ''),
        | stop AS (SELECT w FROM (SELECT w, count(*) AS n FROM toks0
        |   GROUP BY w ORDER BY n DESC, w LIMIT 5)),
        | runs AS (SELECT doc_id, pos, w,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |      AS phrase_id
        |  FROM toks0 WHERE w NOT IN (SELECT w FROM stop)),
        | phrases AS (SELECT doc_id, phrase_id,
        |    string_agg(w, ' ' ORDER BY pos) AS phrase,
        |    CAST(count(*) AS BIGINT) AS n_words
        |  FROM runs GROUP BY doc_id, phrase_id HAVING count(*) <= 8),
        | wip AS (SELECT r.doc_id, r.phrase_id, r.w, p.n_words
        |  FROM runs r JOIN phrases p
        |    ON r.doc_id = p.doc_id AND r.phrase_id = p.phrase_id),
        | deg AS (SELECT w, CAST(sum(n_words) AS BIGINT) AS deg
        |  FROM wip GROUP BY w),
        | scored AS (SELECT wip.doc_id, wip.phrase_id,
        |    CAST(sum(deg.deg) AS BIGINT) AS score
        |  FROM wip JOIN deg ON wip.w = deg.w
        |  GROUP BY wip.doc_id, wip.phrase_id),
        | agg AS (SELECT p.phrase,
        |    CAST(max(p.n_words) AS BIGINT) AS n_words,
        |    CAST(count(*) AS BIGINT) AS n_occ,
        |    CAST(max(s.score) AS BIGINT) AS score
        |  FROM scored s JOIN phrases p
        |    ON s.doc_id = p.doc_id AND s.phrase_id = p.phrase_id
        |  GROUP BY p.phrase)
        |SELECT phrase, n_words, n_occ, score FROM agg
        | ORDER BY score DESC, phrase LIMIT 40""".stripMargin,

    // Zipf replay: integer floor-log2 via binary-string length on both
    // engines (bin() in Spark, format('{:b}') in DuckDB) — no libm log.
    "t26_zipf_fit" ->
      """WITH toks AS (SELECT unnest(regexp_extract_all(lower(text),
        |    '\S+')) AS token FROM documents),
        | vocab AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM toks
        |   GROUP BY token ORDER BY n DESC, token LIMIT 1024),
        | ranked AS (SELECT n, CAST(row_number() OVER (
        |     ORDER BY n DESC, token) AS BIGINT) AS r FROM vocab),
        | pts AS (SELECT
        |   CAST(length(format('{:b}', r)) - 1 AS BIGINT) AS x,
        |   CAST(length(format('{:b}', n)) - 1 AS BIGINT) AS y
        |  FROM ranked),
        | agg AS (SELECT CAST(count(*) AS BIGINT) AS n_pts,
        |   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |   CAST(sum(x*y) AS BIGINT) AS sxy,
        |   CAST(sum(x*x) AS BIGINT) AS sxx FROM pts)
        |SELECT n_pts, sx, sy, sxy, sxx,
        |  n_pts*sxy - sx*sy AS slope_num,
        |  n_pts*sxx - sx*sx AS slope_den FROM agg""".stripMargin,

    "t7_vocab_topk" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS token
        |    FROM documents)
        | GROUP BY token ORDER BY n DESC, token LIMIT 25""".stripMargin,

    "t8_doc_frequency" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS df FROM (
        |  SELECT DISTINCT * FROM (
        |    SELECT doc_id,
        |      unnest(regexp_extract_all(lower(text), '\S+')) AS token
        |      FROM documents))
        | GROUP BY token ORDER BY df DESC, token LIMIT 25""".stripMargin,

    "t10_pii_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      text || ' contact: user' || CAST(doc_id AS VARCHAR) ||
        |        '@example.com phone 555-' ||
        |        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '[EMAIL]', 'g'),
        |    '\b\d{3}[- ]\d{4}\b', '[PHONE]', 'g') AS clean
        |  FROM documents ORDER BY doc_id""".stripMargin,

    "t9_tfidf_top" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+'))
        |    AS token FROM documents),
        | tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
        |         GROUP BY doc_id, token),
        | dfreq AS (SELECT token, count(*) AS df FROM
        |   (SELECT DISTINCT * FROM toks) GROUP BY token),
        | scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
        |    CAST(tf.tf AS DOUBLE) * (SELECT count(*) FROM documents)
        |      / dfreq.df AS score
        |  FROM tf JOIN dfreq USING (token)),
        | top AS (
        |  SELECT doc_id, token, tf, df, score,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY score DESC, token) AS rn
        |  FROM scored)
        | SELECT doc_id, token, CAST(tf AS BIGINT) AS tf,
        |   CAST(df AS BIGINT) AS df, score
        |  FROM top WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // Same arithmetic sequence as the Spark side (left-assoc, one
    // rounding to 1e-9 fixed point per term, integer per-doc sum).
    "t14_bm25" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        | toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+'))
        |    AS token FROM docs),
        | dl AS (
        |  SELECT doc_id, len(regexp_extract_all(lower(text), '\S+')) AS dl
        |  FROM docs),
        | tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM toks
        |   WHERE token IN ('spark', 'join', 'fast') GROUP BY doc_id, token),
        | dfreq AS (
        |  SELECT token, count(*) AS df
        |  FROM (SELECT DISTINCT doc_id, token FROM toks)
        |   WHERE token IN ('spark', 'join', 'fast') GROUP BY token),
        | scalars AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
        | scored AS (
        |  SELECT tf.doc_id,
        |    CAST(round(
        |      (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
        |        (CAST(df AS DOUBLE) + 0.5)
        |      * CAST(tf AS DOUBLE) * 2.2 /
        |      (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |        (CAST(dl AS DOUBLE) /
        |          (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
        |      * 1e9) AS BIGINT) AS score_fp
        |  FROM tf JOIN dfreq USING (token)
        |       JOIN dl ON tf.doc_id = dl.doc_id, scalars)
        | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |   CAST(sum(score_fp) AS DOUBLE) / 1e9 AS score
        |  FROM scored GROUP BY doc_id
        |  ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "b2_zorder_layout" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CAST(list_sum(list_transform(range(0, 21), i ->
        |    (((CAST(l_partkey AS BIGINT) >> i) & 1) << (2 * i)) +
        |    (((CAST(l_suppkey AS BIGINT) >> i) & 1) << (2 * i + 1))))
        |    AS BIGINT) AS z
        |  FROM lineitem
        |  ORDER BY z, l_orderkey, l_linenumber LIMIT 100""".stripMargin,

    "s12_schema_evolution" ->
      """SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal
        |  FROM customer WHERE c_custkey % 2 = 0
        | UNION ALL
        | SELECT c_custkey, CAST(NULL AS VARCHAR), c_acctbal
        |  FROM customer WHERE c_custkey % 2 = 1
        | ORDER BY c_custkey""".stripMargin,

    "d1_exact_dedup" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_docs,
        |  min(doc_id) AS keeper_id
        |  FROM documents GROUP BY content_hash ORDER BY content_hash""".stripMargin,

    "d2_minhash_lsh" -> (MinHashScoredCtes +
      """
        | SELECT id_a, id_b, est_jaccard, jaccard FROM scored
        |  WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin),

    // d2's pairs attributed to their endpoints' sources (unordered pair
    // via least/greatest), aggregated to the shard matrix.
    "d19_shard_dup_matrix" -> (MinHashScoredCtes +
      """,
        | p AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.5),
        | s AS (SELECT doc_id, source FROM documents)
        |SELECT least(sa.source, sb.source) AS shard_a,
        |  greatest(sa.source, sb.source) AS shard_b,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        | FROM p JOIN s sa ON p.id_a = sa.doc_id
        |        JOIN s sb ON p.id_b = sb.doc_id
        | GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Pairs (d2's mirror, shared CTEs) closed under transitivity by a
    // recursive min-label walk — the SQL twin of label propagation.
    // Truth restricted to the id-hash sample (first md5 hex < 8) — mirror
    // of the Spark side's sampled audit; guarded division degrades to NULL.
    "d16_lsh_recall" -> (MinHashScoredCtes +
      """,
        | sig_s AS (
        |  SELECT * FROM sig
        |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))
        |    AS BIGINT) < 8),
        | truth AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sig_s) a
        |  JOIN (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sig_s) b
        |    ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
        |  HAVING CAST(count(*) AS DOUBLE) /
        |    CAST(a.sz + b.sz - count(*) AS DOUBLE) >= 0.3),
        | cand_s AS (
        |  SELECT id_a, id_b FROM pairs
        |  WHERE CAST(('0x' || substr(md5(CAST(id_a AS VARCHAR)), 1, 1))
        |      AS BIGINT) < 8
        |    AND CAST(('0x' || substr(md5(CAST(id_b AS VARCHAR)), 1, 1))
        |      AS BIGINT) < 8),
        | tp AS (SELECT p.id_a, p.id_b FROM cand_s p
        |   JOIN truth t ON p.id_a = t.id_a AND p.id_b = t.id_b)
        |SELECT (SELECT count(*) FROM truth) AS n_truth_s,
        |  (SELECT count(*) FROM pairs) AS n_cand,
        |  (SELECT count(*) FROM cand_s) AS n_cand_s,
        |  (SELECT count(*) FROM tp) AS n_tp_s,
        |  CASE WHEN (SELECT count(*) FROM truth) > 0 THEN
        |    (SELECT count(*) FROM tp) * 10000
        |      // (SELECT count(*) FROM truth) END AS recall_bp,
        |  CASE WHEN (SELECT count(*) FROM cand_s) > 0 THEN
        |    (SELECT count(*) FROM tp) * 10000
        |      // (SELECT count(*) FROM cand_s) END AS precision_bp""".stripMargin),

    "d6_dup_clusters" -> (MinHashScoredCtes +
      """,
        | dup_pairs AS (
        |  SELECT id_a, id_b FROM scored WHERE jaccard >= 0.5),
        | cc_edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM dup_pairs
        |  UNION SELECT id_b, id_a FROM dup_pairs),
        | walk(id, lbl) AS (
        |  SELECT src, src FROM cc_edges
        |  UNION
        |  SELECT e.dst, w.lbl FROM walk w JOIN cc_edges e ON e.src = w.id)
        | SELECT id AS doc_id, min(lbl) AS cluster_id FROM walk
        |  GROUP BY id ORDER BY doc_id""".stripMargin),

    "p15_profile" ->
      """SELECT 'doc_id' AS col_name, count(*) AS n,
        |  count(*) - count(doc_id) AS n_null,
        |  count(DISTINCT doc_id) AS n_distinct FROM documents
        | UNION ALL
        | SELECT 'lang', count(*), count(*) - count(lang),
        |  count(DISTINCT lang) FROM documents
        | UNION ALL
        | SELECT 'source', count(*), count(*) - count(source),
        |  count(DISTINCT source) FROM documents
        | UNION ALL
        | SELECT 'text', count(*), count(*) - count(text),
        |  count(DISTINCT text) FROM documents
        | ORDER BY col_name""".stripMargin,

    "p17_constraint_audit" ->
      """SELECT 'lineitem_orphan_order' AS constraint_name,
        |  CAST(count(*) AS BIGINT) AS n_violations FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        | UNION ALL
        | SELECT 'event_user_not_customer', CAST(count(*) AS BIGINT)
        |  FROM events
        |  WHERE user_id NOT IN (SELECT c_custkey FROM customer)
        | UNION ALL
        | SELECT 'duplicate_event_id',
        |  CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM (
        |   SELECT event_id, count(*) AS c FROM events
        |    GROUP BY event_id HAVING count(*) > 1)
        | UNION ALL
        | SELECT 'order_null_custkey', CAST(count(*) AS BIGINT) FROM orders
        |  WHERE o_custkey IS NULL
        | ORDER BY constraint_name""".stripMargin,

    "q4_exists_late" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
        | FROM orders o
        | WHERE EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        | GROUP BY o_orderpriority
        | ORDER BY o_orderpriority""".stripMargin,

    "p16_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS min_k,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS max_k
        |  FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Same recursive walk, then drop every non-minimum cluster member.
    "c4_cluster_dedup" -> (MinHashScoredCtes +
      """,
        | dup_pairs AS (
        |  SELECT id_a, id_b FROM scored WHERE jaccard >= 0.5),
        | cc_edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM dup_pairs
        |  UNION SELECT id_b, id_a FROM dup_pairs),
        | walk(id, lbl) AS (
        |  SELECT src, src FROM cc_edges
        |  UNION
        |  SELECT e.dst, w.lbl FROM walk w JOIN cc_edges e ON e.src = w.id),
        | losers AS (
        |  SELECT id FROM (
        |    SELECT id, min(lbl) AS lbl FROM walk GROUP BY id)
        |  WHERE id <> lbl)
        | SELECT lang, count(*) AS n_docs FROM documents
        |  WHERE doc_id NOT IN (SELECT id FROM losers)
        |  GROUP BY lang ORDER BY lang""".stripMargin),

    // Canonical-selection replay: c4's MinHash + recursive-CTE CC, t2's
    // quality expression, max-q + min-id tie-break via plain aggregates.
    "c16_canonical_selection" -> (MinHashScoredCtes +
      """,
        | dup_pairs AS (
        |  SELECT id_a, id_b FROM scored WHERE jaccard >= 0.5),
        | cc_edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM dup_pairs
        |  UNION SELECT id_b, id_a FROM dup_pairs),
        | walk(id, lbl) AS (
        |  SELECT src, src FROM cc_edges
        |  UNION
        |  SELECT e.dst, w.lbl FROM walk w JOIN cc_edges e ON e.src = w.id),
        | clusters AS (
        |  SELECT id, CAST(min(lbl) AS BIGINT) AS cluster_id
        |  FROM walk GROUP BY id),
        | qual AS (SELECT doc_id,
        |  least(1.0, CAST(len(regexp_extract_all(lower(text), '\S+')) AS DOUBLE) / 100.0) * 0.5
        |  + (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
        |           / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.3
        |  + least(1.0, CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'),
        |        tk -> tk IN ('the','a','and','of','to','is','in','that','it','for'))) AS DOUBLE)
        |      * 5.0 / greatest(CAST(len(regexp_extract_all(lower(text), '\S+')) AS DOUBLE), 1.0)) * 0.2
        |    AS q
        |  FROM documents WHERE text IS NOT NULL),
        | m AS (SELECT c.cluster_id, qual.doc_id, qual.q
        |  FROM clusters c JOIN qual ON qual.doc_id = c.id),
        | best AS (SELECT cluster_id, CAST(count(*) AS BIGINT)
        |    AS n_members, max(q) AS best_q
        |  FROM m GROUP BY cluster_id)
        |SELECT b.cluster_id, b.n_members, b.best_q,
        |  CAST(min(m.doc_id) AS BIGINT) AS canonical_id
        | FROM m JOIN best b
        |   ON m.cluster_id = b.cluster_id AND m.q = b.best_q
        | GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),

    "d3_simhash" -> (SimHashSketchCtes +
      """,
        | ch AS (
        |  SELECT doc_id, simhash, c,
        |    (simhash >> (CAST(c AS INT) * 15)) & 32767 AS chunk_val
        |  FROM (SELECT doc_id, simhash, unnest(range(0, 4)) AS c FROM sk)),
        | pairs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    bit_count(xor(a.simhash, b.simhash)) AS hamming
        |  FROM ch a JOIN ch b
        |    ON a.c = b.c AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id)
        | SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming FROM pairs
        |  WHERE hamming <= 6 ORDER BY id_a, id_b""".stripMargin),

    // The DECLARATIVE similarity join (optimizer-rewritten Spark-side):
    // the mirror is the straightforward all-pairs statement of the
    // semantics — exactness of the chunk rewrite at d=3 is what's gated.
    "d8_auto_hamming_join" -> (SimHashSketchCtes +
      """
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |   CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        | FROM sk a JOIN sk b ON a.doc_id < b.doc_id
        | WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        | ORDER BY id_a, id_b""".stripMargin),

    // Prefix-filter replay: the NAIVE all-pairs join — the candidate
    // rule changes cost, never the matched set.
    "d22_prefix_filter_join" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents),
        | shs AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
        |    i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS sh
        |  FROM toks WHERE len(tk) >= 3),
        | pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS c,
        |    CAST(len(a.sh) AS BIGINT) AS la, CAST(len(b.sh) AS BIGINT) AS lb
        |  FROM shs a JOIN shs b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT id_a, id_b, CAST(c AS DOUBLE) / (la + lb - c) AS jaccard
        |  FROM pairs)
        | WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin,

    "d4_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, source, regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents),
        | shs AS (
        |  SELECT doc_id, source, list_distinct(list_transform(range(1, len(tk) - 1),
        |    i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS sh
        |  FROM toks WHERE len(tk) >= 3)
        | SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
        |  FROM shs a JOIN shs b
        |    ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        | WHERE jaccard >= 0.3 ORDER BY id_a, id_b""".stripMargin,

    // Containment from the same shingle sets as d4, both directions from
    // one intersection; keep pairs clearing the threshold either way.
    "t12_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, source, regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents),
        | shs AS (
        |  SELECT doc_id, source, list_distinct(list_transform(range(1, len(tk) - 1),
        |    i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS sh
        |  FROM toks WHERE len(tk) >= 3)
        | SELECT id_a, id_b, cont_a_in_b, cont_b_in_a FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      CAST(len(a.sh) AS DOUBLE) AS cont_a_in_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      CAST(len(b.sh) AS DOUBLE) AS cont_b_in_a
        |  FROM shs a JOIN shs b
        |    ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        | WHERE greatest(cont_a_in_b, cont_b_in_a) >= 0.5
        | ORDER BY id_a, id_b""".stripMargin,

    // Plane count derived from the corpus count exactly as
    // Similarity.autoPlanes does (integer bit-length, occupancy 32, clamp
    // [4,16]); degenerate buckets capped at 1000 like the Spark side.
    "d5_embed_neardup" ->
      """WITH np AS (
        |  SELECT LEAST(16, GREATEST(4,
        |    CASE WHEN (count(*) + 31) // 32 <= 1 THEN 1
        |         ELSE length(bin((count(*) + 31) // 32 - 1)) END)) AS p
        |  FROM embeddings),
        | v AS (
        |  SELECT vec_id, embedding AS x,
        |    CAST(list_sum(list_transform(range(0, p), j ->
        |      CASE WHEN CAST(list_sum(list_transform(range(0, 64), i ->
        |        (CASE WHEN CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '_' ||
        |             CAST(i AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0
        |          THEN 1 ELSE -1 END) *
        |        CAST(round(CAST(x[CAST(i AS INT) + 1] AS DOUBLE) * 1e6) AS BIGINT)))
        |        AS BIGINT) > 0
        |      THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END))
        |      AS BIGINT) AS bucket
        |  FROM embeddings, np
        |  QUALIFY count(*) OVER (PARTITION BY bucket) <= 1000),
        | pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.x AS xa, b.x AS xb
        |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
        | scored AS (
        |  SELECT id_a, id_b,
        |    CAST(CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(xa[i] AS DOUBLE) * CAST(xb[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS DOUBLE) /
        |    (sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(xa[i] AS DOUBLE) * CAST(xa[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS DOUBLE)) *
        |     sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(xb[i] AS DOUBLE) * CAST(xb[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS DOUBLE))) AS cos
        |  FROM pairs)
        | SELECT DISTINCT id_a, id_b, cos FROM scored
        |  WHERE cos >= 0.45 ORDER BY id_a, id_b""".stripMargin,

    // Blocklist mirror: plain NOT EXISTS over the sketch CTE — the naive
    // statement of the anti similarity join the optimizer re-plans.
    "d10_blocklist_dedup" -> (SimHashSketchCtes +
      """
        | SELECT s.doc_id FROM sk s
        | WHERE s.doc_id % 20 <> 0
        |  AND NOT EXISTS (
        |    SELECT 1 FROM sk b
        |    WHERE b.doc_id % 20 = 0
        |      AND bit_count(xor(s.simhash, b.simhash)) <= 3)
        | ORDER BY doc_id""".stripMargin),

    // Incremental admission mirror: the shared toks/shs/sig/bands CTEs
    // (no degenerate-bucket QUALIFY — that guard
    // belongs to the corpus index build), increment docs dropped on a
    // verified corpus collision or as the higher id of a within-increment
    // pair. Shingle-less increment docs have no bands and sail through.
    "d9_incremental_dedup" -> ("WITH " + MinHashBandCtes +
      """,
        | cross_drop AS (
        |  SELECT DISTINCT p.inc_id FROM (
        |    SELECT DISTINCT i.doc_id AS inc_id, c.doc_id AS corp_id
        |    FROM bands i JOIN bands c ON i.band = c.band
        |    WHERE i.doc_id % 10 = 0 AND c.doc_id % 10 <> 0) p
        |  JOIN sig sa ON sa.doc_id = p.inc_id
        |  JOIN sig sb ON sb.doc_id = p.corp_id
        |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
        |        >= 0.5),
        | inc_drop AS (
        |  SELECT DISTINCT p.id_b FROM (
        |    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |    FROM bands a JOIN bands b
        |      ON a.band = b.band AND a.doc_id < b.doc_id
        |    WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 = 0) p
        |  JOIN sig sa ON sa.doc_id = p.id_a
        |  JOIN sig sb ON sb.doc_id = p.id_b
        |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
        |        >= 0.5)
        | SELECT doc_id, lang FROM documents
        | WHERE doc_id % 10 = 0
        |  AND doc_id NOT IN (SELECT inc_id FROM cross_drop)
        |  AND doc_id NOT IN (SELECT id_b FROM inc_drop)
        | ORDER BY doc_id""".stripMargin),

    // The five stages in SQL, CTE per stage — quality band, segment
    // first-wins + reassembly, 4-gram decontamination, domain cap on
    // cleaned length, prefix-sum packing.
    "c7_curation_pipeline" ->
      """WITH q0 AS (
        |  SELECT doc_id, source, regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents WHERE doc_id % 25 <> 0 AND text IS NOT NULL),
        | q1 AS (
        |  SELECT doc_id, source, tk FROM q0
        |  WHERE len(tk) BETWEEN 20 AND 500
        |    AND 1.0 - CAST(len(list_distinct(list_transform(range(1, len(tk) - 1),
        |      i -> array_to_string(list_slice(tk, i, i + 2), ' ')))) AS DOUBLE)
        |      / CAST(len(tk) - 2 AS DOUBLE) <= 0.2),
        | starts AS (
        |  SELECT doc_id, source, tk,
        |    unnest(range(1, greatest(len(tk), 1) + 1, 8)) AS start FROM q1),
        | seg AS (
        |  SELECT doc_id, source, start,
        |    array_to_string(list_slice(tk, start, start + 7), ' ') AS chunk
        |  FROM starts WHERE len(list_slice(tk, start, start + 7)) > 0),
        | ranked AS (
        |  SELECT doc_id, source, start, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, start) AS rn
        |  FROM seg),
        | cleaned AS (
        |  SELECT doc_id, min(source) AS source,
        |    string_agg(chunk, ' ' ORDER BY start) AS clean_text
        |  FROM ranked WHERE rn = 1 GROUP BY doc_id),
        | ctk AS (
        |  SELECT doc_id, source, clean_text,
        |    regexp_extract_all(lower(clean_text), '\S+') AS tk FROM cleaned),
        | gpos AS (
        |  SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 3, 0) + 1)) AS i
        |  FROM ctk),
        | grams AS (
        |  SELECT DISTINCT doc_id, array_to_string(list_slice(tk, i, i + 3), ' ') AS g
        |  FROM gpos),
        | btoks AS (
        |  SELECT regexp_extract_all(lower(text), '\S+') AS tk FROM documents
        |  WHERE doc_id % 25 = 0 AND text IS NOT NULL),
        | bpos AS (
        |  SELECT tk, unnest(range(1, greatest(len(tk) - 3, 0) + 1)) AS i
        |  FROM btoks),
        | bgrams AS (
        |  SELECT DISTINCT array_to_string(list_slice(tk, i, i + 3), ' ') AS g
        |  FROM bpos),
        | contaminated AS (
        |  SELECT DISTINCT grams.doc_id FROM grams JOIN bgrams USING (g)),
        | decon AS (
        |  SELECT c.doc_id, c.source, c.clean_text, length(c.clean_text)
        |    AS n_chars_clean
        |  FROM ctk c
        |  WHERE c.doc_id NOT IN (SELECT doc_id FROM contaminated)),
        | capped AS (
        |  SELECT doc_id, source, clean_text FROM (
        |    SELECT *, row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars_clean DESC, doc_id) AS r FROM decon)
        |  WHERE r <= 10),
        | pt AS (
        |  SELECT source AS shard, doc_id,
        |    CAST(len(regexp_extract_all(lower(clean_text), '\S+')) AS BIGINT)
        |      AS n_tokens
        |  FROM capped),
        | packed AS (
        |  SELECT shard, doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS pb
        |  FROM pt)
        | SELECT shard, doc_id, n_tokens, pb // 512 AS seq_no,
        |   pb % 512 AS seq_offset
        |  FROM packed ORDER BY shard, doc_id""".stripMargin,

    "d14_bloom_prefilter" ->
      """SELECT doc_id, lang FROM documents
        | WHERE doc_id % 10 = 0 AND text IS NOT NULL
        |  AND md5(text) NOT IN (
        |   SELECT md5(text) FROM documents
        |    WHERE doc_id % 10 <> 0 AND text IS NOT NULL)
        | ORDER BY doc_id""".stripMargin,

    "d17_leakage_rate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
        |    FROM documents WHERE text IS NOT NULL),
        | pos AS (
        |  SELECT doc_id, tk,
        |    unnest(range(1, greatest(len(tk) - 3, 0) + 1)) AS i
        |  FROM toks),
        | grams AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(tk, i, i + 3), ' ') AS g
        |  FROM pos),
        | cg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 25 <> 0),
        | bg AS (SELECT doc_id, g FROM grams WHERE doc_id % 25 = 0),
        | leaked AS (SELECT DISTINCT doc_id FROM bg JOIN cg USING (g)),
        | nb AS (SELECT count(*) AS n FROM toks WHERE doc_id % 25 = 0)
        |SELECT (SELECT n FROM nb) AS n_bench,
        |  (SELECT count(*) FROM leaked) AS n_leaked,
        |  CASE WHEN (SELECT n FROM nb) > 0 THEN
        |    (SELECT count(*) FROM leaked) * 10000 // (SELECT n FROM nb)
        |  END AS leak_bp""".stripMargin,

    // Grams are DISTINCT per doc, so per-gram row count = document
    // frequency — the dup flag is ndocs >= 2, no doc pair materialized.
    "d18_substring_dup" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        | e AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(1, len(tk) - 6),
        |      i -> array_to_string(list_slice(tk, i, i + 7), ' ')))) AS gram
        |  FROM toks WHERE len(tk) >= 8),
        | g AS (SELECT gram, CAST(count(*) AS BIGINT) AS ndocs
        |       FROM e GROUP BY gram),
        | per AS (
        |  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN g.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup
        |  FROM e JOIN g USING (gram) GROUP BY e.doc_id)
        |SELECT doc_id, n_grams, n_dup,
        |  CAST(n_dup AS DOUBLE) / n_grams AS dup_frac
        | FROM per ORDER BY doc_id""".stripMargin,

    "d11_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
        |    FROM documents WHERE text IS NOT NULL),
        | pos AS (
        |  SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 3, 0) + 1)) AS i
        |  FROM toks),
        | grams AS (
        |  SELECT DISTINCT doc_id, array_to_string(list_slice(tk, i, i + 3), ' ') AS g
        |  FROM pos),
        | bench AS (
        |  SELECT g, min(doc_id) AS first_bench_id FROM grams
        |   WHERE doc_id % 25 = 0 GROUP BY g),
        | tr AS (SELECT doc_id, g FROM grams WHERE doc_id % 25 <> 0)
        | SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams,
        |   min(first_bench_id) AS first_bench_id
        |  FROM tr JOIN bench USING (g) GROUP BY tr.doc_id
        |  ORDER BY tr.doc_id""".stripMargin,

    "d12_paragraph_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
        |    FROM documents WHERE text IS NOT NULL),
        | starts AS (
        |  SELECT doc_id, tk,
        |    unnest(range(1, greatest(len(tk), 1) + 1, 8)) AS start
        |  FROM t),
        | seg AS (
        |  SELECT doc_id, start,
        |    array_to_string(list_slice(tk, start, start + 7), ' ') AS chunk
        |  FROM starts WHERE len(list_slice(tk, start, start + 7)) > 0),
        | ranked AS (
        |  SELECT doc_id, start, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, start) AS rn,
        |    count(*) OVER (PARTITION BY doc_id) AS n_seg
        |  FROM seg),
        | kept AS (SELECT * FROM ranked WHERE rn = 1)
        | SELECT doc_id, string_agg(chunk, ' ' ORDER BY start) AS clean_text,
        |   CAST(max(n_seg) AS BIGINT) AS n_seg,
        |   CAST(count(*) AS BIGINT) AS n_kept
        |  FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "n12_knn_graph" -> (IvfAssignCtes +
      """
        | cells AS (SELECT vec_id, x, nrm, cent_id FROM assign WHERE r = 1),
        | pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(a.x[i] AS DOUBLE) * CAST(b.x[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS pdot,
        |    a.nrm AS na, b.nrm AS nb
        |  FROM cells a JOIN cells b
        |    ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id),
        | ranked AS (
        |  SELECT id_a, id_b,
        |    row_number() OVER (PARTITION BY id_a ORDER BY
        |      CAST(pdot AS DOUBLE) /
        |        (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC,
        |      id_b) AS rank
        |  FROM pairs)
        |SELECT id_a AS vec_id, CAST(rank AS BIGINT) AS rank,
        |  id_b AS neighbor_id
        | FROM ranked WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin),

    "d13_semdedup" -> (IvfAssignCtesAuto +
      """
        | cells AS (SELECT vec_id, x, nrm, cent_id FROM assign WHERE r = 1),
        | pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, b.cent_id AS cell,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(a.x[i] AS DOUBLE) * CAST(b.x[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS pdot,
        |    a.nrm AS na, b.nrm AS nb
        |  FROM cells a JOIN cells b
        |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id),
        | close_pairs AS (
        |  SELECT id_a, id_b, cell FROM pairs
        |  WHERE CAST(pdot AS DOUBLE) /
        |    (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= 0.45)
        | SELECT id_b AS vec_id, cell, min(id_a) AS keeper_id,
        |   CAST(count(*) AS BIGINT) AS n_close
        |  FROM close_pairs GROUP BY id_b, cell ORDER BY vec_id""".stripMargin),

    // Ensemble mirror: table t of 2 uses planes [t*p, (t+1)*p) of the same
    // md5-parity sign matrix, p derived from the corpus count (occupancy 32,
    // clamp [4, MaxPlanes/nTables = 8]); candidate pairs distinct'd across
    // tables BEFORE the one exact scoring per pair (mirrors the Spark plan).
    "d7_lsh_ensemble" ->
      """WITH np AS (
        |  SELECT LEAST(8, GREATEST(4,
        |    CASE WHEN (count(*) + 31) // 32 <= 1 THEN 1
        |         ELSE length(bin((count(*) + 31) // 32 - 1)) END)) AS p
        |  FROM embeddings),
        | b AS (SELECT vec_id, embedding AS x FROM embeddings),
        | bk AS (
        |  SELECT vec_id, t,
        |    CAST(list_sum(list_transform(range(0, p), j ->
        |      CASE WHEN CAST(list_sum(list_transform(range(0, 64), i ->
        |        (CASE WHEN CAST(('0x' || substr(md5(CAST(t*p + j AS VARCHAR) || '_' ||
        |             CAST(i AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0
        |          THEN 1 ELSE -1 END) *
        |        CAST(round(CAST(x[CAST(i AS INT) + 1] AS DOUBLE) * 1e6) AS BIGINT)))
        |        AS BIGINT) > 0
        |      THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END))
        |      AS BIGINT) AS bucket
        |  FROM b, (SELECT unnest(range(0, 2)) AS t) tt, np
        |  QUALIFY count(*) OVER (PARTITION BY t, bucket) <= 1000),
        | pairs AS (
        |  SELECT DISTINCT a.vec_id AS id_a, bb.vec_id AS id_b
        |  FROM bk a JOIN bk bb
        |    ON a.t = bb.t AND a.bucket = bb.bucket AND a.vec_id < bb.vec_id),
        | scored AS (
        |  SELECT id_a, id_b,
        |    CAST(CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS DOUBLE) /
        |    (sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS DOUBLE)) *
        |     sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS DOUBLE))) AS cos
        |  FROM pairs
        |  JOIN embeddings ea ON ea.vec_id = id_a
        |  JOIN embeddings eb ON eb.vec_id = id_b)
        | SELECT id_a, id_b, cos FROM scored
        |  WHERE cos >= 0.45 ORDER BY id_a, id_b""".stripMargin,

    // The one-pass quality battery: t11's repetition + t2's quality
    // formula + t3's language CASE, conjoined over the same token CTE.
    "c5_quality_pipeline" ->
      """WITH f AS (
        |  SELECT doc_id, lang, text,
        |    regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        | g AS (
        |  SELECT doc_id, lang, text, tk, len(tk) AS n_tokens,
        |    len(list_distinct(list_transform(range(1, len(tk) - 1),
        |      i -> array_to_string(list_slice(tk, i, i + 2), ' ')))) AS n_distinct
        |  FROM f WHERE len(tk) BETWEEN 20 AND 500),
        | h AS (
        |  SELECT doc_id, lang, text, tk, n_tokens,
        |    1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens - 2 AS DOUBLE)
        |      AS dup_frac,
        |    len(list_filter(tk,
        |      t -> t IN ('the','a','and','of','to','is','in','that','it','for'))) AS en,
        |    len(list_filter(tk,
        |      t -> t IN ('le','la','les','de','et','un','une','est','que','pour'))) AS fr,
        |    len(list_filter(tk,
        |      t -> t IN ('el','la','los','de','y','un','una','es','que','para'))) AS es,
        |    len(list_filter(tk,
        |      t -> t IN ('der','die','das','und','ein','ist','zu','den','von','mit'))) AS de
        |  FROM g)
        | SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens
        | FROM h
        | WHERE dup_frac <= 0.2
        |  AND least(1.0, CAST(len(tk) AS DOUBLE) / 100.0) * 0.5
        |    + (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
        |             / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.3
        |    + least(1.0, CAST(en AS DOUBLE)
        |        * 5.0 / greatest(CAST(len(tk) AS DOUBLE), 1.0)) * 0.2 >= 0.5
        |  AND (CASE WHEN en >= fr AND en >= es AND en >= de THEN 'en'
        |            WHEN fr >= es AND fr >= de THEN 'fr'
        |            WHEN es >= de THEN 'es'
        |            ELSE 'de' END) = lang
        | ORDER BY doc_id""".stripMargin,

    "c6_pack_sequences" ->
      """WITH t AS (
        |  SELECT source AS shard, doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '\S+')) AS BIGINT)
        |      AS n_tokens
        |   FROM documents WHERE text IS NOT NULL),
        | c AS (
        |  SELECT shard, doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS pb
        |  FROM t)
        | SELECT shard, doc_id, n_tokens, pb // 512 AS seq_no,
        |   pb % 512 AS seq_offset
        |  FROM c ORDER BY shard, doc_id""".stripMargin,

    "c8_packed_corpus" ->
      """WITH t AS (
        |  SELECT source AS shard, doc_id, text,
        |    CAST(len(regexp_extract_all(lower(text), '\S+')) AS BIGINT)
        |      AS n_tokens
        |   FROM documents WHERE text IS NOT NULL),
        | c AS (
        |  SELECT shard, doc_id, text, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS pb
        |  FROM t)
        | SELECT shard, pb // 512 AS seq_no,
        |   string_agg(text, ' ' ORDER BY doc_id) AS seq_text,
        |   CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |   CAST(count(*) AS BIGINT) AS n_docs
        |  FROM c GROUP BY shard, seq_no
        |  ORDER BY shard, seq_no""".stripMargin,

    "t13_domain_cap" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rank
        |  FROM documents)
        | SELECT doc_id, source, n_chars, CAST(rank AS BIGINT) AS rank
        |  FROM r WHERE rank <= 10 ORDER BY source, rank""".stripMargin,

    // Repetition filter: total vs distinct trigram counts per document,
    // one floating division (the same toks/shingle derivation as the
    // minhash CTEs, without the distinct-only restriction).
    "t11_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        | g AS (
        |  SELECT doc_id, len(tk) - 2 AS n_ngrams,
        |    len(list_distinct(list_transform(range(1, len(tk) - 1),
        |      i -> array_to_string(list_slice(tk, i, i + 2), ' ')))) AS n_distinct
        |  FROM toks WHERE len(tk) >= 3)
        | SELECT doc_id, CAST(n_ngrams AS BIGINT) AS n_ngrams,
        |  CAST(n_distinct AS BIGINT) AS n_distinct,
        |  1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_ngrams AS DOUBLE) AS dup_frac
        | FROM g ORDER BY doc_id""".stripMargin,

    "n1_ann_brute" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
        |            WHERE vec_id < 8),
        | c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
        | scored AS (
        |  SELECT q_id, c_id,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS dot_fp,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS na_fp,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS nb_fp
        |  FROM q JOIN c ON q_id <> c_id),
        | ranked AS (
        |  SELECT q_id, c_id,
        |    CAST(dot_fp AS DOUBLE) /
        |      (sqrt(CAST(na_fp AS DOUBLE)) * sqrt(CAST(nb_fp AS DOUBLE))) AS cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY dot_fp DESC, c_id) AS rank
        |  FROM scored)
        | SELECT q_id, c_id, rank, cos FROM ranked
        |  WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // MIPS: n1's scored pairs ranked by the raw fixed-point dot (inner
    // product), no normalization; ip is the one descale division.
    "n16_mips" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
        |            WHERE vec_id < 8),
        | c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
        | scored AS (
        |  SELECT q_id, c_id,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS ip_fp
        |  FROM q JOIN c ON q_id <> c_id),
        | ranked AS (
        |  SELECT q_id, c_id, ip_fp,
        |    row_number() OVER (PARTITION BY q_id ORDER BY ip_fp DESC, c_id)
        |      AS rank
        |  FROM scored)
        | SELECT q_id, c_id, rank, CAST(ip_fp AS DOUBLE) / 1e12 AS ip
        |  FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // Incremental maintenance oracle: the FULL recompute — the merged
    // summary must be indistinguishable from never having split the data.
    "j12_delta_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_v,
        |  CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS min_v,
        |  CAST(max(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS max_v,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
        |    / count(*) AS avg_v
        | FROM lineitem GROUP BY l_returnflag, l_linestatus
        | ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // n1's brute-force statement with the metadata predicate on the
    // candidate side — pre-filter semantics, exact over the qualifying set.
    "n13_ann_filtered" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
        |            WHERE vec_id < 8),
        | c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings
        |        WHERE label % 2 = 0),
        | scored AS (
        |  SELECT q_id, c_id,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS dot_fp,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS na_fp,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS nb_fp
        |  FROM q JOIN c ON q_id <> c_id),
        | ranked AS (
        |  SELECT q_id, c_id,
        |    CAST(dot_fp AS DOUBLE) /
        |      (sqrt(CAST(na_fp AS DOUBLE)) * sqrt(CAST(nb_fp AS DOUBLE))) AS cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY dot_fp DESC, c_id) AS rank
        |  FROM scored)
        | SELECT q_id, c_id, rank, cos FROM ranked
        |  WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // n1's scored-pairs CTE with a radius predicate instead of a rank cut:
    // range semantics — the result set is every pair above the cosine
    // threshold, data-driven in size.
    "n14_range_search" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
        |            WHERE vec_id < 8),
        | c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
        | scored AS (
        |  SELECT q_id, c_id,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS dot_fp,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS na_fp,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS nb_fp
        |  FROM q JOIN c ON q_id <> c_id)
        | SELECT q_id, c_id,
        |   CAST(dot_fp AS DOUBLE) /
        |     (sqrt(CAST(na_fp AS DOUBLE)) * sqrt(CAST(nb_fp AS DOUBLE))) AS cos
        |  FROM scored
        |  WHERE CAST(dot_fp AS DOUBLE) /
        |     (sqrt(CAST(na_fp AS DOUBLE)) * sqrt(CAST(nb_fp AS DOUBLE))) >= 0.3
        |  ORDER BY q_id, c_id""".stripMargin,

    // Refinement is exact, so the LSH range result is precisely the true
    // range pairs that shared a bucket — the oracle re-derives the exact
    // pairs, marks bucket agreement, and aggregates; no second scoring
    // pass needed.
    "n15_range_recall" -> (LshBucketCte +
      """
        | q AS (SELECT vec_id AS q_id, x AS qv, bucket AS qb FROM b
        |        WHERE vec_id < 8),
        | c AS (SELECT vec_id AS c_id, x AS cv, bucket AS cb FROM b),
        | scored AS (
        |  SELECT q_id, c_id, qb, cb,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS dot_fp,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS na_fp,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS nb_fp
        |  FROM q JOIN c ON q_id <> c_id),
        | exact AS (
        |  SELECT q_id, c_id, qb, cb FROM scored
        |  WHERE CAST(dot_fp AS DOUBLE) /
        |    (sqrt(CAST(na_fp AS DOUBLE)) * sqrt(CAST(nb_fp AS DOUBLE))) >= 0.3)
        |SELECT q_id, CAST(count(*) AS BIGINT) AS n_true,
        |  CAST(sum(CASE WHEN qb = cb THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |  CAST(sum(CASE WHEN qb = cb THEN 1 ELSE 0 END) AS DOUBLE) /
        |    count(*) AS recall
        | FROM exact GROUP BY q_id ORDER BY q_id""".stripMargin),

    // Single-probe and multi-probe LSH share the bucket CTE and the
    // scoring/ranking tail — only the query-side probe set differs.
    "n2_ann_lsh" -> (LshBucketCte +
      """
        | q AS (SELECT vec_id AS q_id, x AS qv, bucket FROM b WHERE vec_id < 8),""".stripMargin +
      LshRankTail),

    // Recall mirror: the LSH top-5 and the exact top-5 re-derived side by
    // side, intersected per query.
    "n11_ann_recall" -> (LshBucketCte +
      """
        | q AS (SELECT vec_id AS q_id, x AS qv, bucket FROM b WHERE vec_id < 8),
        | c AS (SELECT vec_id AS c_id, x AS cv, bucket FROM b),
        | ascored AS (
        |  SELECT q_id, c_id,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS dot_fp
        |  FROM q JOIN c ON q_id <> c_id AND q.bucket = c.bucket),
        | aranked AS (
        |  SELECT q_id, c_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY dot_fp DESC, c_id) AS rank
        |  FROM ascored),
        | approx AS (SELECT q_id, c_id FROM aranked WHERE rank <= 5),
        | escored AS (
        |  SELECT q_id, c_id,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS dot_fp
        |  FROM q JOIN c ON q_id <> c_id),
        | eranked AS (
        |  SELECT q_id, c_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY dot_fp DESC, c_id) AS rank
        |  FROM escored),
        | exact AS (SELECT q_id, c_id FROM eranked WHERE rank <= 5)
        | SELECT e.q_id, CAST(count(a.c_id) AS BIGINT) AS n_hit,
        |   CAST(count(a.c_id) AS DOUBLE) / 5.0 AS recall
        |  FROM exact e LEFT JOIN approx a
        |    ON e.q_id = a.q_id AND e.c_id = a.c_id
        |  GROUP BY e.q_id ORDER BY e.q_id""".stripMargin),

    // Probe set = own bucket + each 1-bit flip (mirrors lshTopKMultiProbe).
    "n4_ann_multiprobe" -> (LshBucketCte +
      """
        | q AS (
        |  SELECT q_id, qv, unnest(probes) AS bucket FROM (
        |    SELECT vec_id AS q_id, x AS qv,
        |      list_append(list_transform(range(0, 4),
        |        j -> xor(bucket, CAST(1 AS BIGINT) << j)), bucket) AS probes
        |    FROM b WHERE vec_id < 8)),""".stripMargin +
      LshRankTail),

    // IVF-flat mirror: hash-order centroid sample, nearest-cell assignment
    // (fixed-point dots — the CTEs shared with n6's k-means step), 2-probe
    // search, exact in-cell ranking.
    // Recall-curve replay: shared assignment CTEs, three probe depths,
    // the brute-force truth, one integer recall rollup.
    "n18_recall_curve" -> (IvfAssignCtes +
      """
        | ccell AS (SELECT vec_id AS c_id, x AS cvx, cent_id AS cell
        |   FROM assign WHERE r = 1),
        | qcell AS (SELECT vec_id AS q_id, x AS qvx, nrm AS qnorm,
        |   cent_id AS cell, r FROM assign WHERE r <= 4 AND vec_id < 8),
        | scored AS (
        |  SELECT q.q_id, c.c_id, q.r AS probe_r,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(q.qvx[i] AS DOUBLE) * CAST(c.cvx[i] AS DOUBLE)
        |        * 1e12) AS BIGINT))) AS BIGINT) AS dot_fp
        |  FROM qcell q JOIN ccell c
        |    ON q.q_id <> c.c_id AND q.cell = c.cell),
        | approx AS (
        |  SELECT np.nprobe, s.q_id, s.c_id,
        |    row_number() OVER (PARTITION BY np.nprobe, s.q_id
        |      ORDER BY s.dot_fp DESC, s.c_id) AS rank
        |  FROM (SELECT CAST(unnest([1, 2, 4]) AS BIGINT) AS nprobe) np
        |    JOIN scored s ON s.probe_r <= np.nprobe),
        | bq AS (SELECT vec_id AS q_id, x AS qvx FROM base
        |   WHERE vec_id < 8),
        | bscored AS (
        |  SELECT q.q_id, b.vec_id AS c_id,
        |    row_number() OVER (PARTITION BY q.q_id ORDER BY
        |      CAST(list_sum(list_transform(range(1, 65), i ->
        |        CAST(round(CAST(q.qvx[i] AS DOUBLE) * CAST(b.x[i] AS DOUBLE)
        |          * 1e12) AS BIGINT))) AS BIGINT) DESC, b.vec_id) AS rank
        |  FROM bq q JOIN base b ON q.q_id <> b.vec_id),
        | truth AS (SELECT q_id, c_id FROM bscored WHERE rank <= 5),
        | tcount AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
        | hits AS (SELECT a.nprobe, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM truth t JOIN approx a
        |    ON t.q_id = a.q_id AND t.c_id = a.c_id AND a.rank <= 5
        |  GROUP BY a.nprobe)
        |SELECT nprobe, n_hits, (SELECT n_truth FROM tcount) AS n_truth,
        |  n_hits * 10000 // (SELECT n_truth FROM tcount) AS recall_bp
        | FROM hits ORDER BY nprobe""".stripMargin),

    // IVF occupancy replay: the shared assignment CTEs, per-cell counts
    // with empty cells kept, load vs perfect balance in basis points.
    "n19_ivf_occupancy" -> (IvfAssignCtes +
      """
        | occ AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS n_vecs
        |   FROM assign WHERE r = 1 GROUP BY cent_id),
        | allc AS (SELECT c.cent_id,
        |   CAST(coalesce(o.n_vecs, 0) AS BIGINT) AS n_vecs
        |   FROM cents c LEFT JOIN occ o ON c.cent_id = o.cent_id),
        | tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total FROM allc)
        |SELECT cent_id, n_vecs, (SELECT n_total FROM tot) AS n_total,
        |  n_vecs * 16 * 10000 // (SELECT n_total FROM tot) AS load_bp
        | FROM allc ORDER BY cent_id""".stripMargin),

    // Incremental-index replay: frozen base-side centroids, ONE
    // assignment over all vectors (per-vector assignment is independent
    // given a frozen codebook, so incremental == rebuild identically —
    // the invariant the engine query demonstrates via its two paths).
    "n21_incremental_index" ->
      """WITH b AS (SELECT vec_id, embedding AS x,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(x[i] AS DOUBLE) * CAST(x[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS nrm
        |  FROM embeddings),
        | cents AS (SELECT vec_id AS cent_id, x AS cv, nrm AS cnrm FROM b
        |  WHERE vec_id % 10 <> 0
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        | asg AS (SELECT v.vec_id, c.cent_id,
        |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |      CAST(list_sum(list_transform(range(1, 65), i ->
        |        CAST(round(CAST(v.x[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |        AS DOUBLE) /
        |        (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE)))
        |        DESC,
        |      c.cent_id) AS r
        |  FROM b v CROSS JOIN cents c),
        | counts AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS n
        |  FROM asg WHERE r = 1 GROUP BY cent_id)
        |SELECT cent_id, n AS n_incr, n AS n_full,
        |  true AS matches_rebuild
        | FROM counts ORDER BY cent_id""".stripMargin,

    // Beam-search replay: the √N-cell assignment CTEs (cell count
    // derived from the corpus exactly like Similarity.balancedCells),
    // the kNN-graph CTEs (rank <= 4), then the two beam rounds written
    // out — frontier top-4, neighbor expansion, anti-join against the
    // visited set, union, re-rank. The oracle scores ALL (q, node)
    // pairs once up front (values, not cost — the engine's per-round
    // anti-join is the scale shape).
    "n20_graph_beam_search" -> (IvfAssignCtesSqrt +
      """
        | cells AS (SELECT vec_id, x, nrm, cent_id FROM assign WHERE r = 1),
        | gpairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(a.x[i] AS DOUBLE) * CAST(b.x[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS pdot,
        |    a.nrm AS na, b.nrm AS nb
        |  FROM cells a JOIN cells b
        |    ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id),
        | graph AS (SELECT id_a AS g_src, id_b AS g_dst FROM (
        |   SELECT id_a, id_b, row_number() OVER (PARTITION BY id_a
        |     ORDER BY CAST(pdot AS DOUBLE) /
        |       (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC,
        |     id_b) AS rank FROM gpairs) WHERE rank <= 4),
        | q AS (SELECT vec_id AS q_id, x AS qx, nrm AS qn FROM base
        |   WHERE vec_id < 8),
        | cosv AS (
        |  SELECT q.q_id, b.vec_id AS node,
        |    CAST(CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(q.qx[i] AS DOUBLE) * CAST(b.x[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS DOUBLE) /
        |      (sqrt(CAST(q.qn AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE)))
        |      AS cos
        |  FROM q CROSS JOIN base b),
        | entry AS (SELECT vec_id AS node FROM base
        |   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1),
        | v0 AS (SELECT q_id, node, cos FROM cosv
        |   WHERE node = (SELECT node FROM entry)),
        | f0 AS (SELECT q_id, node FROM (
        |   SELECT q_id, node, row_number() OVER (PARTITION BY q_id
        |     ORDER BY cos DESC, node) AS r FROM v0) WHERE r <= 4),
        | e1 AS (SELECT DISTINCT f.q_id, g.g_dst AS node
        |   FROM f0 f JOIN graph g ON f.node = g.g_src),
        | n1 AS (SELECT e.q_id, e.node FROM e1 e
        |   LEFT JOIN v0 v ON e.q_id = v.q_id AND e.node = v.node
        |   WHERE v.node IS NULL),
        | v1 AS (SELECT * FROM v0 UNION ALL
        |   SELECT c.q_id, c.node, c.cos FROM cosv c
        |   JOIN n1 ON c.q_id = n1.q_id AND c.node = n1.node),
        | f1 AS (SELECT q_id, node FROM (
        |   SELECT q_id, node, row_number() OVER (PARTITION BY q_id
        |     ORDER BY cos DESC, node) AS r FROM v1) WHERE r <= 4),
        | e2 AS (SELECT DISTINCT f.q_id, g.g_dst AS node
        |   FROM f1 f JOIN graph g ON f.node = g.g_src),
        | n2 AS (SELECT e.q_id, e.node FROM e2 e
        |   LEFT JOIN v1 v ON e.q_id = v.q_id AND e.node = v.node
        |   WHERE v.node IS NULL),
        | v2 AS (SELECT * FROM v1 UNION ALL
        |   SELECT c.q_id, c.node, c.cos FROM cosv c
        |   JOIN n2 ON c.q_id = n2.q_id AND c.node = n2.node)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, node AS c_id, cos
        | FROM (SELECT q_id, node, cos,
        |   row_number() OVER (PARTITION BY q_id
        |     ORDER BY cos DESC, node) AS rank
        |  FROM v2 WHERE node <> q_id) WHERE rank <= 5
        | ORDER BY q_id, rank""".stripMargin),

    "n3_ann_ivf" -> (IvfAssignCtes +
      """
        | ccell AS (SELECT vec_id AS c_id, x AS cvx, nrm AS cnorm,
        |             cent_id AS cell FROM assign WHERE r = 1),
        | qcell AS (SELECT vec_id AS q_id, x AS qvx, nrm AS qnorm,
        |             cent_id AS cell FROM assign WHERE r <= 2 AND vec_id < 8),
        | scored AS (
        |  SELECT q_id, c_id, qnorm, cnorm,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(qvx[i] AS DOUBLE) * CAST(cvx[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS dot_fp
        |  FROM qcell JOIN ccell ON q_id <> c_id AND qcell.cell = ccell.cell),
        | ranked AS (
        |  SELECT q_id, c_id,
        |    CAST(dot_fp AS DOUBLE) /
        |      (sqrt(CAST(qnorm AS DOUBLE)) * sqrt(CAST(cnorm AS DOUBLE))) AS cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY dot_fp DESC, c_id) AS rank
        |  FROM scored)
        | SELECT q_id, c_id, rank, cos FROM ranked
        |  WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

    // Deletion replay: n3's CTE pipeline with the SAME tombstone
    // exclusion applied to the candidate cells (codebook and query set
    // untouched by construction, mirroring the gate's disjointness).
    "n24_index_delete" -> (IvfAssignCtes +
      """
        | ccell AS (SELECT vec_id AS c_id, x AS cvx, nrm AS cnorm,
        |             cent_id AS cell FROM assign WHERE r = 1
        |             AND NOT (vec_id % 7 = 3 AND vec_id >= 8
        |               AND vec_id NOT IN (SELECT cent_id FROM cents))),
        | qcell AS (SELECT vec_id AS q_id, x AS qvx, nrm AS qnorm,
        |             cent_id AS cell FROM assign WHERE r <= 2 AND vec_id < 8),
        | scored AS (
        |  SELECT q_id, c_id, qnorm, cnorm,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(qvx[i] AS DOUBLE) * CAST(cvx[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS dot_fp
        |  FROM qcell JOIN ccell ON q_id <> c_id AND qcell.cell = ccell.cell),
        | ranked AS (
        |  SELECT q_id, c_id,
        |    CAST(dot_fp AS DOUBLE) /
        |      (sqrt(CAST(qnorm AS DOUBLE)) * sqrt(CAST(cnorm AS DOUBLE))) AS cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY dot_fp DESC, c_id) AS rank
        |  FROM scored)
        | SELECT q_id, c_id, rank, cos FROM ranked
        |  WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

    // Maintenance-interleave replay: n24's pipeline with the DELTA rows
    // (vec_id % 10 = 0) excluded from the tombstone predicate — n29's
    // tombstones are base-only, folded physically mid-stream, so the
    // live set is exactly rebuild-minus-base-tombstones.
    "n29_maintenance_interleave" -> (IvfAssignCtes +
      """
        | ccell AS (SELECT vec_id AS c_id, x AS cvx, nrm AS cnorm,
        |             cent_id AS cell FROM assign WHERE r = 1
        |             AND NOT (vec_id % 7 = 3 AND vec_id >= 8
        |               AND vec_id % 10 <> 0
        |               AND vec_id NOT IN (SELECT cent_id FROM cents))),
        | qcell AS (SELECT vec_id AS q_id, x AS qvx, nrm AS qnorm,
        |             cent_id AS cell FROM assign WHERE r <= 2 AND vec_id < 8),
        | scored AS (
        |  SELECT q_id, c_id, qnorm, cnorm,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(qvx[i] AS DOUBLE) * CAST(cvx[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS dot_fp
        |  FROM qcell JOIN ccell ON q_id <> c_id AND qcell.cell = ccell.cell),
        | ranked AS (
        |  SELECT q_id, c_id,
        |    CAST(dot_fp AS DOUBLE) /
        |      (sqrt(CAST(qnorm AS DOUBLE)) * sqrt(CAST(cnorm AS DOUBLE))) AS cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY dot_fp DESC, c_id) AS rank
        |  FROM scored)
        | SELECT q_id, c_id, rank, cos FROM ranked
        |  WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

    // Compaction-audit replay: n3's assignment CTEs, dead = n24's
    // tombstone predicate, per-cell counts + basis-point dead fraction.
    "n26_compaction_audit" -> (IvfAssignCtes +
      """
        | ccell AS (SELECT vec_id AS c_id, cent_id AS cell
        |             FROM assign WHERE r = 1),
        | dead AS (SELECT c_id FROM ccell
        |   WHERE c_id % 7 = 3 AND c_id >= 8
        |     AND c_id NOT IN (SELECT cent_id FROM cents))
        |SELECT cell,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN c_id IN (SELECT c_id FROM dead)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dead,
        |  CAST(sum(CASE WHEN c_id IN (SELECT c_id FROM dead)
        |    THEN 1 ELSE 0 END) AS BIGINT) * 10000 // count(*) AS dead_bp,
        |  CAST(sum(CASE WHEN c_id IN (SELECT c_id FROM dead)
        |    THEN 1 ELSE 0 END) AS BIGINT) * 10000 // count(*) >= 500
        |    AS compact
        | FROM ccell GROUP BY cell ORDER BY cell""".stripMargin),

    // Exact per-class centroids in long format: lateral range join
    // transposes the vectors; fixed-point sums + one final division.
    "n5_class_centroids" ->
      """SELECT CAST(label AS BIGINT) AS label, i - 1 AS dim,
        |  CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT))
        |    AS BIGINT) AS sum_fp,
        |  count(*) AS n,
        |  CAST(CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT))
        |    AS BIGINT) AS DOUBLE) / 1e6 / count(*) AS mean
        |  FROM embeddings, range(1, 65) t(i)
        |  GROUP BY label, dim ORDER BY label, dim""".stripMargin,

    // One Lloyd iteration: the SAME assignment CTEs as n3, then the new
    // per-cell centroid sums (n5's transpose shape over assigned cells).
    "n6_kmeans_iter" -> (IvfAssignCtes +
      """
        | assigned AS (
        |  SELECT cent_id, x FROM assign WHERE r = 1)
        | SELECT cent_id, i - 1 AS dim,
        |  CAST(sum(CAST(round(CAST(x[i] AS DOUBLE) * 1e6) AS BIGINT))
        |    AS BIGINT) AS sum_fp,
        |  count(*) AS n,
        |  CAST(CAST(sum(CAST(round(CAST(x[i] AS DOUBLE) * 1e6) AS BIGINT))
        |    AS BIGINT) AS DOUBLE) / 1e6 / count(*) AS mean
        |  FROM assigned, range(1, 65) t(i)
        |  GROUP BY cent_id, dim ORDER BY cent_id, dim""".stripMargin),

    // Int8 quantization mirror: per-vector scale max|x|/127 (floored at
    // 1e-30), elements round(x/s), integer dot, rank by (s_q*s_c)*idot.
    // Cascade replay: n7's int8 coarse CTEs cut at coarseK=20, then
    // n1's exact fixed-point scoring restricted to the survivors.
    "n17_cascade_rerank" ->
      """WITH m AS (
        |  SELECT vec_id, embedding AS x,
        |    greatest(list_max(list_transform(embedding,
        |      v -> abs(CAST(v AS DOUBLE)))), 1e-30) / 127.0 AS s
        |  FROM embeddings),
        | qz AS (
        |  SELECT vec_id, s,
        |    list_transform(x, v ->
        |      CAST(round(CAST(v AS DOUBLE) / s) AS BIGINT)) AS q8
        |  FROM m),
        | qq AS (SELECT vec_id AS q_id, s AS qs, q8 AS qv FROM qz
        |        WHERE vec_id < 8),
        | cc AS (SELECT vec_id AS c_id, s AS cs, q8 AS cv FROM qz),
        | coarse AS (
        |  SELECT q_id, c_id FROM (
        |   SELECT q_id, c_id,
        |     row_number() OVER (PARTITION BY q_id
        |       ORDER BY (qs * cs) * CAST(list_sum(list_transform(
        |         range(1, 65), i -> qv[i] * cv[i])) AS DOUBLE) DESC, c_id)
        |       AS crank
        |   FROM qq JOIN cc ON q_id <> c_id)
        |  WHERE crank <= 20),
        | fq AS (SELECT vec_id AS q_id, embedding AS fqv FROM embeddings
        |        WHERE vec_id < 8),
        | fc AS (SELECT vec_id AS c_id, embedding AS fcv FROM embeddings),
        | scored AS (
        |  SELECT coarse.q_id, coarse.c_id,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(fqv[i] AS DOUBLE) * CAST(fcv[i] AS DOUBLE)
        |        * 1e12) AS BIGINT))) AS BIGINT) AS dot_fp,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(fqv[i] AS DOUBLE) * CAST(fqv[i] AS DOUBLE)
        |        * 1e12) AS BIGINT))) AS BIGINT) AS na_fp,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(fcv[i] AS DOUBLE) * CAST(fcv[i] AS DOUBLE)
        |        * 1e12) AS BIGINT))) AS BIGINT) AS nb_fp
        |  FROM coarse JOIN fq ON coarse.q_id = fq.q_id
        |    JOIN fc ON coarse.c_id = fc.c_id),
        | ranked AS (
        |  SELECT q_id, c_id,
        |    CAST(dot_fp AS DOUBLE) /
        |      (sqrt(CAST(na_fp AS DOUBLE)) * sqrt(CAST(nb_fp AS DOUBLE)))
        |      AS cos,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY dot_fp DESC, c_id) AS rank
        |  FROM scored)
        | SELECT q_id, c_id, CAST(rank AS BIGINT) AS rank, cos FROM ranked
        |  WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "n7_ann_quantized" ->
      """WITH m AS (
        |  SELECT vec_id, embedding AS x,
        |    greatest(list_max(list_transform(embedding,
        |      v -> abs(CAST(v AS DOUBLE)))), 1e-30) / 127.0 AS s
        |  FROM embeddings),
        | qz AS (
        |  SELECT vec_id, s,
        |    list_transform(x, v ->
        |      CAST(round(CAST(v AS DOUBLE) / s) AS BIGINT)) AS q8
        |  FROM m),
        | q AS (SELECT vec_id AS q_id, s AS qs, q8 AS qv FROM qz
        |        WHERE vec_id < 8),
        | c AS (SELECT vec_id AS c_id, s AS cs, q8 AS cv FROM qz),
        | scored AS (
        |  SELECT q_id, c_id, qs, cs,
        |    CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * cv[i]))
        |      AS BIGINT) AS idot
        |  FROM q JOIN c ON q_id <> c_id),
        | ranked AS (
        |  SELECT q_id, c_id, (qs * cs) * CAST(idot AS DOUBLE) AS score,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY (qs * cs) * CAST(idot AS DOUBLE) DESC, c_id) AS rank
        |  FROM scored)
        | SELECT q_id, c_id, CAST(rank AS BIGINT) AS rank, score FROM ranked
        |  WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // PQ mirror: hash-order sample codewords per subspace, fixed-point-L2
    // encoding (code tie-break), ADC = sum of 4 exact LUT entries.
    "n9_ann_pq" ->
      """WITH base AS (SELECT vec_id, embedding AS x FROM embeddings),
        | mm AS (SELECT unnest(range(0, 4)) AS m),
        | smp AS (
        |  SELECT vec_id, x,
        |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
        |      AS code
        |  FROM base ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        | cb AS (
        |  SELECT code, m, list_slice(x, m*16 + 1, m*16 + 16) AS cbs
        |  FROM smp, mm),
        | csub AS (
        |  SELECT vec_id AS c_id, m, list_slice(x, m*16 + 1, m*16 + 16) AS s
        |  FROM base, mm),
        | enc AS (
        |  SELECT c_id, m, code FROM (
        |   SELECT c_id, csub.m AS m, cb.code AS code,
        |     row_number() OVER (PARTITION BY c_id, csub.m ORDER BY
        |       (CAST(list_sum(list_transform(range(1, 17), i ->
        |          CAST(round(CAST(s[i] AS DOUBLE) * CAST(s[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |          AS BIGINT)
        |        + CAST(list_sum(list_transform(range(1, 17), i ->
        |          CAST(round(CAST(cbs[i] AS DOUBLE) * CAST(cbs[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |          AS BIGINT)
        |        - 2 * CAST(list_sum(list_transform(range(1, 17), i ->
        |          CAST(round(CAST(s[i] AS DOUBLE) * CAST(cbs[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |          AS BIGINT)) ASC, cb.code) AS r
        |   FROM csub JOIN cb ON csub.m = cb.m) t WHERE r = 1),
        | qsub AS (
        |  SELECT vec_id AS q_id, m, list_slice(x, m*16 + 1, m*16 + 16) AS qs
        |  FROM base, mm WHERE vec_id < 8),
        | lut AS (
        |  SELECT q_id, cb.m AS m, cb.code AS code,
        |    CAST(list_sum(list_transform(range(1, 17), i ->
        |      CAST(round(CAST(qs[i] AS DOUBLE) * CAST(cbs[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS ip_fp
        |  FROM qsub JOIN cb ON qsub.m = cb.m),
        | scored AS (
        |  SELECT q_id, c_id, CAST(sum(ip_fp) AS BIGINT) AS approx_dot
        |  FROM enc JOIN lut ON enc.m = lut.m AND enc.code = lut.code
        |  WHERE q_id <> c_id
        |  GROUP BY q_id, c_id),
        | ranked AS (
        |  SELECT q_id, c_id, approx_dot,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY approx_dot DESC, c_id) AS rank
        |  FROM scored)
        | SELECT q_id, c_id, CAST(rank AS BIGINT) AS rank, approx_dot
        | FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // IVF-PQ mirror: the IVF assignment CTEs (cells ARE the hash-order
    // sample, cosine assignment) + the PQ encode/LUT CTEs (same sample's
    // subvectors as codewords), ADC restricted to probed cells.
    "n10_ann_ivfpq" -> (IvfAssignCtes +
      """
        | mm AS (SELECT unnest(range(0, 4)) AS m),
        | psmp AS (
        |  SELECT vec_id, x,
        |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
        |      AS code
        |  FROM base ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        | pcb AS (
        |  SELECT code, m, list_slice(x, m*16 + 1, m*16 + 16) AS cbs
        |  FROM psmp, mm),
        | pcsub AS (
        |  SELECT vec_id AS c_id, m, list_slice(x, m*16 + 1, m*16 + 16) AS s
        |  FROM base, mm),
        | penc AS (
        |  SELECT c_id, m, code FROM (
        |   SELECT c_id, pcsub.m AS m, pcb.code AS code,
        |     row_number() OVER (PARTITION BY c_id, pcsub.m ORDER BY
        |       (CAST(list_sum(list_transform(range(1, 17), i ->
        |          CAST(round(CAST(s[i] AS DOUBLE) * CAST(s[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |          AS BIGINT)
        |        + CAST(list_sum(list_transform(range(1, 17), i ->
        |          CAST(round(CAST(cbs[i] AS DOUBLE) * CAST(cbs[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |          AS BIGINT)
        |        - 2 * CAST(list_sum(list_transform(range(1, 17), i ->
        |          CAST(round(CAST(s[i] AS DOUBLE) * CAST(cbs[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |          AS BIGINT)) ASC, pcb.code) AS r
        |   FROM pcsub JOIN pcb ON pcsub.m = pcb.m) t WHERE r = 1),
        | pqsub AS (
        |  SELECT vec_id AS q_id, m, list_slice(x, m*16 + 1, m*16 + 16) AS qs
        |  FROM base, mm WHERE vec_id < 8),
        | plut AS (
        |  SELECT q_id, pcb.m AS m, pcb.code AS code,
        |    CAST(list_sum(list_transform(range(1, 17), i ->
        |      CAST(round(CAST(qs[i] AS DOUBLE) * CAST(cbs[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS ip_fp
        |  FROM pqsub JOIN pcb ON pqsub.m = pcb.m),
        | ccell AS (SELECT vec_id AS c_id, cent_id AS cell FROM assign
        |            WHERE r = 1),
        | qcell AS (SELECT vec_id AS q_id, cent_id AS cell FROM assign
        |            WHERE r <= 4 AND vec_id < 8),
        | scored AS (
        |  SELECT qcell.q_id AS q_id, penc.c_id AS c_id,
        |    CAST(sum(ip_fp) AS BIGINT) AS approx_dot
        |  FROM penc
        |  JOIN ccell ON ccell.c_id = penc.c_id
        |  JOIN qcell ON qcell.cell = ccell.cell AND qcell.q_id <> penc.c_id
        |  JOIN plut ON plut.q_id = qcell.q_id AND plut.m = penc.m
        |           AND plut.code = penc.code
        |  GROUP BY qcell.q_id, penc.c_id),
        | ranked AS (
        |  SELECT q_id, c_id, approx_dot,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY approx_dot DESC, c_id) AS rank
        |  FROM scored)
        | SELECT q_id, c_id, CAST(rank AS BIGINT) AS rank, approx_dot
        | FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

    // Two unrolled Lloyd iterations: n6's assignment CTEs, means, densify
    // to float vectors (list(... ORDER BY dim)), reassign against the new
    // centroids, re-mean — the exact mirror of kmeansIterations(iters=2).
    "n8_kmeans_converge" -> (IvfAssignCtes +
      """
        | it1 AS (
        |  SELECT cent_id, i - 1 AS dim,
        |    CAST(sum(CAST(round(CAST(x[i] AS DOUBLE) * 1e6) AS BIGINT))
        |      AS BIGINT) AS sum_fp,
        |    count(*) AS n
        |  FROM (SELECT cent_id, x FROM assign WHERE r = 1), range(1, 65) t(i)
        |  GROUP BY cent_id, dim),
        | cv1 AS (
        |  SELECT cent_id,
        |    list(CAST(CAST(sum_fp AS DOUBLE) / 1e6 / n AS FLOAT)
        |      ORDER BY dim) AS cv
        |  FROM it1 GROUP BY cent_id),
        | cv1n AS (
        |  SELECT cent_id, cv,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS cnrm
        |  FROM cv1),
        | cpairs2 AS (
        |  SELECT b.vec_id, b.x, b.nrm, c.cent_id, c.cnrm,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(b.x[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE) * 1e12) AS BIGINT)))
        |      AS BIGINT) AS cdot
        |  FROM base b CROSS JOIN cv1n c),
        | assign2 AS (
        |  SELECT vec_id, x, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY
        |      CAST(cdot AS DOUBLE) /
        |        (sqrt(CAST(nrm AS DOUBLE)) * sqrt(CAST(cnrm AS DOUBLE))) DESC,
        |      cent_id) AS r
        |  FROM cpairs2)
        | SELECT cent_id, i - 1 AS dim,
        |  CAST(sum(CAST(round(CAST(x[i] AS DOUBLE) * 1e6) AS BIGINT))
        |    AS BIGINT) AS sum_fp,
        |  count(*) AS n,
        |  CAST(CAST(sum(CAST(round(CAST(x[i] AS DOUBLE) * 1e6) AS BIGINT))
        |    AS BIGINT) AS DOUBLE) / 1e6 / count(*) AS mean
        |  FROM (SELECT cent_id, x FROM assign2 WHERE r = 1), range(1, 65) t(i)
        |  GROUP BY cent_id, dim ORDER BY cent_id, dim""".stripMargin),

    // Fixture rows pin the header decoder against hand-computed constants:
    // the bytes are VALUES-listed above in fixtureMedia (hex), so the
    // expected format/width/height and sha256 are literal facts of those
    // bytes, not a re-implementation of the decoder in SQL.
    "m1_media_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  sha256(text) AS sha256,
        |  CAST(NULL AS VARCHAR) AS format,
        |  CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height
        |  FROM documents
        |UNION ALL
        |SELECT * FROM (VALUES
        |  (CAST(-5 AS BIGINT), CAST(33 AS BIGINT),
        |   'e0e6fd836f2c429c829e082ee65f96870ef1ac2b9a72f83860398ad2b86c62e6',
        |   'png', CAST(640 AS BIGINT), CAST(480 AS BIGINT)),
        |  (-4, 41,
        |   '576d9f1c577762883f0cf8e7b9a10f26ea91a316b439c93dfb7cf72ba59f3458',
        |   'jpeg', 320, 240),
        |  (-3, 13,
        |   'c063181f9c09f08a90c17635edc70b41a8c92217233e23eeac5d54a37096b1ff',
        |   'gif', 320, 200),
        |  (-2, 30,
        |   '258bc3e002aeba581cf05d17a493e4d0d540d66c291a4b1c70c0c5c32ada8efd',
        |   'bmp', 100, 50),
        |  (-1, 5,
        |   'e2867e538491f86ac5906b12ac667abf7761171d1ae94d867c231df82b0c7c90',
        |   NULL, NULL, NULL)
        |) t(doc_id, n_bytes, sha256, format, width, height)
        |ORDER BY doc_id""".stripMargin,

    // dHash56 replay: 9×7 grid of code-point means (integer div), 56
    // neighbor-compare bits packed little-endian by (row, col); payloads
    // shorter than 63 code points are NULL (undecodable thumbnail).
    // CDC replay: per-position 8-point window hash via list_reduce over
    // a code-point slice; boundary iff h%64==0; md5 per chunk substring.
    "d21_cdc_chunks" ->
      """WITH d AS (SELECT doc_id, text,
        |    CAST(length(text) AS BIGINT) AS n,
        |    list_transform(range(1, length(text) + 1), i ->
        |      CAST(unicode(substr(text, CAST(i AS INT), 1)) AS BIGINT))
        |      AS cps
        |  FROM documents WHERE text IS NOT NULL),
        | bnd AS (SELECT doc_id, text, n,
    |    list_concat(list_concat(
        |      [CAST(0 AS BIGINT)],
        |      list_filter(range(8, n + 1), i ->
        |        list_reduce(
        |          list_prepend(CAST(0 AS BIGINT),
        |            list_slice(cps, CAST(i - 7 AS INT), CAST(i AS INT))),
        |          (acc, cp) -> (acc * 31 + cp) % 1000000007) % 64 = 0)),
        |      CASE WHEN n > 0 THEN [n] ELSE [] END) AS bs
        |  FROM d),
        | chunks AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(bs)), k ->
        |      CASE WHEN bs[CAST(k + 1 AS INT)] > bs[CAST(k AS INT)]
        |        THEN md5(substr(text, CAST(bs[CAST(k AS INT)] + 1 AS INT),
        |          CAST(bs[CAST(k + 1 AS INT)] - bs[CAST(k AS INT)] AS INT)))
        |        END)) AS digest
        |  FROM bnd),
        | agg AS (SELECT digest, CAST(count(*) AS BIGINT) AS n_occ,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM chunks WHERE digest IS NOT NULL GROUP BY digest)
        |SELECT digest, n_occ, n_docs FROM agg WHERE n_docs >= 2
        | ORDER BY n_occ DESC, digest LIMIT 100""".stripMargin,

    // Media cluster replay: m8's pairs closed by the recursive min-label
    // walk (d6's pattern).
    "m9_media_dedup_clusters" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, text, length(text) // 63 AS q
        |  FROM documents WHERE text IS NOT NULL),
        | grid AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 63), t ->
        |      list_sum(list_transform(
        |        string_split(substr(text, t * q + 1, q), ''),
        |        c -> unicode(c))) // q) AS v
        |  FROM d WHERE q > 0),
        | hashed AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(0, 56), b ->
        |      CASE WHEN v[(b // 8) * 9 + (b % 8) + 1] >
        |                v[(b // 8) * 9 + (b % 8) + 2]
        |        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)
        |      AS phash
        |  FROM grid),
        | dup_pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM hashed a JOIN hashed b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 4),
        | cc_edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM dup_pairs
        |  UNION SELECT id_b, id_a FROM dup_pairs),
        | walk(id, lbl) AS (
        |  SELECT src, src FROM cc_edges
        |  UNION
        |  SELECT e.dst, w.lbl FROM walk w JOIN cc_edges e ON e.src = w.id)
        |SELECT id AS doc_id, min(lbl) AS cluster_id FROM walk
        | GROUP BY id ORDER BY doc_id""".stripMargin,

    // Media near-dup replay: m7's dHash grid verbatim, then the naive
    // all-pairs bit_count join — the engine's pigeonhole rewrite changes
    // candidate generation, never the matched set.
    "m8_media_neardup" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) // 63 AS q
        |  FROM documents WHERE text IS NOT NULL),
        | grid AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 63), t ->
        |      list_sum(list_transform(
        |        string_split(substr(text, t * q + 1, q), ''),
        |        c -> unicode(c))) // q) AS v
        |  FROM d WHERE q > 0),
        | hashed AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(0, 56), b ->
        |      CASE WHEN v[(b // 8) * 9 + (b % 8) + 1] >
        |                v[(b // 8) * 9 + (b % 8) + 2]
        |        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)
        |      AS phash
        |  FROM grid)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        | FROM hashed a JOIN hashed b ON a.doc_id < b.doc_id
        | WHERE bit_count(xor(a.phash, b.phash)) <= 4
        | ORDER BY id_a, id_b""".stripMargin,

    "m7_phash" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    length(text) // 63 AS q
        |  FROM documents WHERE text IS NOT NULL),
        | grid AS (
        |  SELECT doc_id, n_bytes,
        |    list_transform(range(0, 63), t ->
        |      list_sum(list_transform(
        |        string_split(substr(text, t * q + 1, q), ''),
        |        c -> unicode(c))) // q) AS v
        |  FROM d WHERE q > 0),
        | hashed AS (
        |  SELECT doc_id, n_bytes,
        |    CAST(list_sum(list_transform(range(0, 56), b ->
        |      CASE WHEN v[(b // 8) * 9 + (b % 8) + 1] >
        |                v[(b // 8) * 9 + (b % 8) + 2]
        |        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)
        |      AS phash
        |  FROM grid)
        |SELECT doc_id, n_bytes, phash FROM hashed
        |UNION ALL
        |SELECT doc_id, n_bytes, CAST(NULL AS BIGINT) AS phash
        | FROM d WHERE q = 0
        |ORDER BY doc_id""".stripMargin,

    "m6_audio_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  CAST(NULL AS VARCHAR) AS format, CAST(NULL AS BIGINT) AS channels,
        |  CAST(NULL AS BIGINT) AS sample_rate, CAST(NULL AS BIGINT) AS bits,
        |  CAST(NULL AS BIGINT) AS duration_ms
        |  FROM documents
        |UNION ALL
        |SELECT * FROM (VALUES
        |  (CAST(-13 AS BIGINT), CAST(44 AS BIGINT), 'wav', CAST(2 AS BIGINT),
        |   CAST(44100 AS BIGINT), CAST(16 AS BIGINT), CAST(500 AS BIGINT)),
        |  (-12, 26, 'flac', 2, 48000, 16, 10000),
        |  (-11, 4, 'mp3', 2, 44100, NULL, NULL)
        |) a(doc_id, n_bytes, format, channels, sample_rate, bits, duration_ms)
        |ORDER BY doc_id""".stripMargin,

    // Real-kernel replay (r9): corpus text payloads carry no container
    // magic → all-NULL features; the fixtures' dims / stream params /
    // exact PCM stats are hand-computed from the payload bytes (peak
    // 32768 and sumsq 32767²+32768²+… exercise both int16 extremes).
    "m2_media_features" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  CAST(NULL AS VARCHAR) AS format,
        |  CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
        |  CAST(NULL AS BIGINT) AS channels,
        |  CAST(NULL AS BIGINT) AS sample_rate,
        |  CAST(NULL AS BIGINT) AS peak, CAST(NULL AS BIGINT) AS sumsq
        |  FROM documents
        |UNION ALL
        |SELECT * FROM (VALUES
        |  (CAST(-30 AS BIGINT), CAST(60 AS BIGINT), 'wav',
        |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(1 AS BIGINT),
        |   CAST(8000 AS BIGINT), CAST(32768 AS BIGINT),
        |   CAST(2149428163 AS BIGINT)),
        |  (-29, 56, 'wav', NULL, NULL, 1, 8000, 32768, 2149418138),
        |  (-28, 26, 'flac', NULL, NULL, 2, 48000, NULL, NULL),
        |  (-5, 33, 'png', 640, 480, NULL, NULL, NULL, NULL),
        |  (-4, 41, 'jpeg', 320, 240, NULL, NULL, NULL, NULL),
        |  (-3, 13, 'gif', 320, 200, NULL, NULL, NULL, NULL),
        |  (-2, 30, 'bmp', 100, 50, NULL, NULL, NULL, NULL),
        |  (-1, 5, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
        |) v(doc_id, n_bytes, format, width, height, channels,
        |    sample_rate, peak, sumsq)
        |ORDER BY doc_id""".stripMargin,

    // Real-pixel thumbnail replay: corpus text payloads are not BMPs →
    // NULL; the fixtures' box averages are hand-computed from the pixel
    // bytes in Multimodal.fixtureBmps and pinned here. n_bytes for the
    // fixtures: 54-byte headers + 24 / 16 / 16 pixel bytes.
    "m5_thumbnail" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
        |  CAST(NULL AS VARCHAR) AS thumb_hex FROM documents
        |UNION ALL
        |SELECT * FROM (VALUES
        |  (CAST(-20 AS BIGINT), CAST(78 AS BIGINT),
        |    '7f7f007f7fff4040409f209f'),
        |  (CAST(-19 AS BIGINT), CAST(70 AS BIGINT),
        |    '0a141e28323c46505a646e78'),
        |  (CAST(-18 AS BIGINT), CAST(70 AS BIGINT),
        |    CAST(NULL AS VARCHAR)))
        |  v(doc_id, n_bytes, thumb_hex)
        |ORDER BY doc_id""".stripMargin,

    // PCM block replay: the 8 fixture samples' per-block peaks and sums
    // of squares hand-computed (32767² and 32768 exercise both int16
    // extremes); the truncated fixture redistributes 6 samples over 4
    // blocks by the same integer bounds; the corpus clause is the
    // RIFF-magic tripwire.
    "m12_audio_blocks" ->
      """SELECT * FROM (VALUES
        |  (CAST(-30 AS BIGINT), CAST(0 AS BIGINT), CAST(2 AS BIGINT),
        |   CAST(1000 AS BIGINT), CAST(1000000 AS BIGINT)),
        |  (CAST(-30 AS BIGINT), CAST(1 AS BIGINT), CAST(2 AS BIGINT),
        |   CAST(32767 AS BIGINT), CAST(1074676289 AS BIGINT)),
        |  (CAST(-30 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT),
        |   CAST(32768 AS BIGINT), CAST(1073741849 AS BIGINT)),
        |  (CAST(-30 AS BIGINT), CAST(3 AS BIGINT), CAST(2 AS BIGINT),
        |   CAST(100 AS BIGINT), CAST(10025 AS BIGINT)),
        |  (CAST(-29 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT),
        |   CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |  (CAST(-29 AS BIGINT), CAST(1 AS BIGINT), CAST(2 AS BIGINT),
        |   CAST(1000 AS BIGINT), CAST(2000000 AS BIGINT)),
        |  (CAST(-29 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT),
        |   CAST(32767 AS BIGINT), CAST(1073676289 AS BIGINT)),
        |  (CAST(-29 AS BIGINT), CAST(3 AS BIGINT), CAST(2 AS BIGINT),
        |   CAST(32768 AS BIGINT), CAST(1073741849 AS BIGINT)))
        |  v(doc_id, block, n_samples, peak, sumsq)
        |UNION ALL
        |SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        | FROM documents WHERE substr(text, 1, 4) = 'RIFF'
        |ORDER BY doc_id, block""".stripMargin,

    // EXIF replay: fixture tags hand-walked from the assembled APP1
    // bytes; corpus rows (not JPEG) and the EXIF-less JPEG are all-NULL.
    // GPS-scrub replay: the corpus rows pass through (text payloads are
    // not JPEG — no EXIF, lengths preserved); the fixtures' expected
    // rows are hand-derived from the bytes in fixtureExif/fixtureGps:
    // only -25 carries tag 0x8825, its orientation must survive the
    // scrub, and the re-parse must report the GPS block gone.
    "m13_gps_scrub" ->
      """SELECT doc_id, CAST(NULL AS BIGINT) AS orientation,
        |  CAST(NULL AS VARCHAR) AS make, CAST(NULL AS VARCHAR) AS model,
        |  CAST(NULL AS VARCHAR) AS datetime,
        |  false AS gps_before, false AS gps_after, true AS len_same
        | FROM documents
        |UNION ALL
        |SELECT * FROM (VALUES
        |  (CAST(-25 AS BIGINT), CAST(6 AS BIGINT),
        |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |    CAST(NULL AS VARCHAR), true, false, true),
        |  (CAST(-14 AS BIGINT), CAST(6 AS BIGINT), 'Acme', 'X100',
        |    '2024:01:15 10:30:00', false, false, true),
        |  (CAST(-13 AS BIGINT), CAST(3 AS BIGINT), CAST(NULL AS VARCHAR),
        |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |    false, false, true),
        |  (CAST(-12 AS BIGINT), CAST(NULL AS BIGINT),
        |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |    CAST(NULL AS VARCHAR), false, false, true))
        |  v(doc_id, orientation, make, model, datetime,
        |    gps_before, gps_after, len_same)
        |ORDER BY doc_id""".stripMargin,

    "m11_exif" ->
      """SELECT doc_id, CAST(NULL AS BIGINT) AS orientation,
        |  CAST(NULL AS VARCHAR) AS make, CAST(NULL AS VARCHAR) AS model,
        |  CAST(NULL AS VARCHAR) AS datetime FROM documents
        |UNION ALL
        |SELECT * FROM (VALUES
        |  (CAST(-14 AS BIGINT), CAST(6 AS BIGINT), 'Acme', 'X100',
        |    '2024:01:15 10:30:00'),
        |  (CAST(-13 AS BIGINT), CAST(3 AS BIGINT), CAST(NULL AS VARCHAR),
        |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
        |  (CAST(-12 AS BIGINT), CAST(NULL AS BIGINT),
        |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |    CAST(NULL AS VARCHAR)))
        |  v(doc_id, orientation, make, model, datetime)
        |ORDER BY doc_id""".stripMargin,

    // PNG thumbnail replay: the truecolor fixture's pixels equal the
    // BMP fixture's (cross-format agreement pinned), the RGBA fixture's
    // means exclude alpha, the palette fixture refuses. n_bytes are the
    // full container sizes (88 / 81 / 68).
    "m10_png_thumbnail" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
        |  CAST(NULL AS VARCHAR) AS thumb_hex FROM documents
        |UNION ALL
        |SELECT * FROM (VALUES
        |  (CAST(-17 AS BIGINT), CAST(88 AS BIGINT),
        |    '7f7f007f7fff4040409f209f'),
        |  (CAST(-16 AS BIGINT), CAST(81 AS BIGINT),
        |    '0a141e28323c46505a646e78'),
        |  (CAST(-15 AS BIGINT), CAST(68 AS BIGINT),
        |    CAST(NULL AS VARCHAR)))
        |  v(doc_id, n_bytes, thumb_hex)
        |ORDER BY doc_id""".stripMargin,

    // Real GIF-frame replay: the fixtures' frame tables hand-walked from
    // the bytes in Multimodal.fixtureGifs; the corpus clause is a
    // tripwire — any GIF-magic text row would make the engine emit
    // frames the oracle's dummy row cannot match.
    "m3_frames" ->
      """SELECT * FROM (VALUES
        |  (CAST(-23 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |   CAST(0 AS BIGINT), CAST(4 AS BIGINT), CAST(3 AS BIGINT),
        |   CAST(10 AS BIGINT), false),
        |  (CAST(-23 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT),
        |   CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT),
        |   CAST(200 AS BIGINT), true),
        |  (CAST(-22 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |   CAST(0 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT),
        |   CAST(NULL AS BIGINT), false))
        |  v(doc_id, frame_idx, frame_left, frame_top, width, height,
        |    delay_cs, local_palette)
        |UNION ALL
        |SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT), false
        | FROM documents WHERE substr(text, 1, 4) = 'GIF8'
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // Chunk starts 1, 41, 81, … (step = size - overlap); tail windows
    // shorter than the overlap are dropped unless they are the only chunk.
    "c3_token_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
        |    FROM documents WHERE text IS NOT NULL),
        | starts AS (
        |  SELECT doc_id, tk,
        |    unnest(range(1, greatest(len(tk), 1) + 1, 40)) AS start
        |  FROM t),
        | chunks AS (
        |  SELECT doc_id, CAST(start AS BIGINT) AS start,
        |    CAST(len(tk[start : start + 49]) AS BIGINT) AS n_tokens,
        |    md5(array_to_string(tk[start : start + 49], ' ')) AS chunk_hash
        |  FROM starts)
        | SELECT doc_id, start, n_tokens, chunk_hash FROM chunks
        |  WHERE start = 1 OR n_tokens > 10
        |  ORDER BY doc_id, start""".stripMargin,

    "c1_corpus_clean" ->
      """WITH keepers AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        | toks AS (
        |  SELECT doc_id, lang, text,
        |    len(regexp_extract_all(lower(text), '\S+')) AS n_tokens
        |  FROM documents),
        | scored AS (
        |  SELECT doc_id, lang, n_tokens,
        |    least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.5
        |    + (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
        |             / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.3
        |    + least(1.0, CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'),
        |          tk -> tk IN ('the','a','and','of','to','is','in','that','it','for'))) AS DOUBLE)
        |        * 5.0 / greatest(CAST(n_tokens AS DOUBLE), 1.0)) * 0.2 AS quality
        |  FROM toks)
        | SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens
        | FROM scored
        | WHERE doc_id IN (SELECT doc_id FROM keepers)
        |   AND n_tokens BETWEEN 20 AND 200
        |   AND quality >= 0.5
        | ORDER BY doc_id""".stripMargin,

    "c2_neardup_dedup" -> ("WITH " + MinHashBandCtes +
      """,
        | bands_f AS (
        |  SELECT * FROM bands QUALIFY count(*) OVER (PARTITION BY band) <= 1000),
        | pairs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands_f a JOIN bands_f b
        |    ON a.band = b.band AND a.doc_id < b.doc_id),
        | scored AS (
        |  SELECT id_a, id_b,
        |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
        |      CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) AS jaccard
        |  FROM pairs
        |  JOIN sig sa ON sa.doc_id = id_a
        |  JOIN sig sb ON sb.doc_id = id_b),
        | losers AS (
        |  SELECT DISTINCT id_b AS doc_id FROM scored WHERE jaccard >= 0.5)
        | SELECT lang, count(*) AS n_docs FROM documents
        |  WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        |  GROUP BY lang ORDER BY lang""".stripMargin),

    "st1_stream_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |    AS hour_str,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |  FROM events GROUP BY hour_str ORDER BY hour_str""".stripMargin,

    // Salting is result-invisible: the oracle runs the PLAIN join/distinct.
    "k1_skew_salted_join" -> PriorityRevenueSql,

    // So is bucketing — same mirror, different physical strategy.
    "b1_bucketed_join" -> PriorityRevenueSql,

    "k2_skew_salted_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct_l_partkey
        |  FROM lineitem GROUP BY l_returnflag
        |  ORDER BY l_returnflag""".stripMargin,

    // Dedup on (user_id, event_type, ts): micros-truncated ts on both
    // sides (Spark converts the nanos column; epoch_us truncates the same).
    "st5_streaming_dedup" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT (user_id, epoch_us(ts))) AS BIGINT) AS n
        |  FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Gap-sessions per user; the stateful stream only EMITS sessions closed
    // by a later event, so the mirror drops each user's last session.
    "st6_stateful_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
        |    FROM events),
        | marked AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 14400000000 THEN 1
        |         ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        | sess AS (
        |  SELECT user_id, ts_us,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked),
        | agg AS (
        |  SELECT user_id, sid, min(ts_us) AS start_us, max(ts_us) AS end_us,
        |    count(*) AS n_events
        |  FROM sess GROUP BY user_id, sid)
        | SELECT user_id, start_us, end_us, CAST(n_events AS BIGINT) AS n_events
        |  FROM agg
        |  WHERE sid < (SELECT max(s2.sid) FROM agg s2
        |               WHERE s2.user_id = agg.user_id)
        |  ORDER BY user_id, start_us""".stripMargin,

    // last-3 events per user by (ts, event_id) recency, -1 padded
    "st14_list_state" ->
      """WITH r AS (SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(epoch_us(ts) AS BIGINT) DESC,
        |        event_id DESC) AS rk
        |  FROM events)
        |SELECT user_id,
        |  coalesce(max(CASE WHEN rk=1 THEN event_id END), -1) AS e1,
        |  coalesce(max(CASE WHEN rk=2 THEN event_id END), -1) AS e2,
        |  coalesce(max(CASE WHEN rk=3 THEN event_id END), -1) AS e3
        |FROM r WHERE rk <= 3 GROUP BY user_id ORDER BY user_id"""
        .stripMargin,

    // timer sessions: gap-sessions that were closed by a later event
    // (sid < user max) OR whose ms-resolution timer (end/1000 + gap_ms)
    // fell below the final watermark (max ts / 1000 - delay_ms)
    "st13_timer_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
        |    FROM events),
        | wm AS (SELECT (max(ts_us) // 1000) - 3600000 AS wm_ms FROM e),
        | marked AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 14400000000 THEN 1
        |         ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        | sess AS (
        |  SELECT user_id, ts_us,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked),
        | agg AS (
        |  SELECT user_id, sid, min(ts_us) AS start_us, max(ts_us) AS end_us,
        |    count(*) AS n_events
        |  FROM sess GROUP BY user_id, sid)
        | SELECT user_id, start_us, end_us, CAST(n_events AS BIGINT) AS n_events
        |  FROM agg, wm
        |  WHERE sid < (SELECT max(s2.sid) FROM agg s2
        |               WHERE s2.user_id = agg.user_id)
        |     OR (end_us // 1000) + 14400000 < wm_ms
        |  ORDER BY user_id, start_us""".stripMargin,

    // key-only watermark dedup: one batch keeps one row per (user, type)
    "st12_dedup_within_watermark" ->
      """SELECT event_type, count(DISTINCT user_id) AS n
        |  FROM events GROUP BY event_type ORDER BY event_type"""
        .stripMargin,

    // transformWithState running totals: one Update-mode micro-batch over
    // the whole corpus == the plain batch aggregate.
    "st11_transform_with_state" ->
      """SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |  FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Native streaming session windows: gap-sessions (same >= break rule
    // as st3's batch session_window) with end = last + gap, emitted only
    // when sealed by the final watermark max(ts) - delay.
    "st8_streaming_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
        |    FROM events),
        | marked AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w >= 86400000000 THEN 1
        |         ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        | sess AS (
        |  SELECT user_id, ts_us,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked),
        | agg AS (
        |  SELECT user_id, sid, min(ts_us) AS start_us,
        |    CAST(max(ts_us) + 86400000000 AS BIGINT) AS end_us,
        |    count(*) AS n
        |  FROM sess GROUP BY user_id, sid),
        | wm AS (SELECT max(ts_us) - 3600000000 AS w FROM e)
        | SELECT user_id, start_us, end_us, CAST(n AS BIGINT) AS n
        |  FROM agg, wm WHERE end_us < w
        |  ORDER BY user_id, start_us""".stripMargin,

    "st17_rate_cap" ->
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
        | ranked AS (SELECT user_id, event_id,
        |    row_number() OVER (
        |      PARTITION BY user_id, ts_us // 86400000000
        |      ORDER BY ts_us, event_id) AS rn
        |  FROM e)
        |SELECT user_id, event_id FROM ranked WHERE rn <= 3
        | ORDER BY event_id""".stripMargin,

    // PSI drift replay: batch daily bucket histogram on the decided
    // prefix (st16's end < max ts rule), fixed 0..9 grid, same smoothed
    // fixed-point term, same 0.2 alert threshold.
    // Streaming SRM replay: batch day-window split counts on the
    // watermark-decided prefix (windows whose end precedes max ts),
    // same exact (n0−n1)²/n and 3.841 alarm.
    "st25_stream_srm" ->
      """WITH e AS (SELECT CAST(epoch_us(ts) AS BIGINT) AS us,
        |    user_id % 2 AS variant FROM events),
        | wm AS (SELECT max(us) AS w FROM e),
        | c AS (SELECT us - us % 86400000000 AS w_us,
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1
        |  FROM e GROUP BY 1)
        |SELECT w_us, n0, n1,
        |  CASE WHEN n0 + n1 = 0 THEN NULL ELSE
        |    CAST(round(pow(CAST(n0 - n1 AS DOUBLE), 2) / (n0 + n1)
        |      * 1e9) AS BIGINT) END AS chi2_fp,
        |  CASE WHEN n0 + n1 = 0 THEN NULL ELSE
        |    CAST(round(pow(CAST(n0 - n1 AS DOUBLE), 2) / (n0 + n1)
        |      * 1e9) AS BIGINT) > 3841000000 END AS srm
        | FROM c WHERE w_us + 86400000000 < (SELECT w FROM wm)
        | ORDER BY w_us""".stripMargin,

    "st24_stream_psi_drift" ->
      """WITH e AS (SELECT CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |    least(9, CAST(round(value * 100) AS BIGINT) // 5000) AS bucket
        |  FROM events),
        | base AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_base
        |  FROM e WHERE ts_us < 1704153600000000 GROUP BY bucket),
        | nb AS (SELECT CAST(sum(c_base) AS BIGINT) AS n_base FROM base),
        | wm AS (SELECT max(ts_us) AS w FROM e),
        | cur AS (SELECT ts_us - ts_us % 86400000000 AS w_us, bucket,
        |    CAST(count(*) AS BIGINT) AS c_cur FROM e GROUP BY 1, 2),
        | hrs AS (SELECT DISTINCT w_us FROM cur
        |  WHERE w_us + 86400000000 < (SELECT w FROM wm)),
        | grid AS (SELECT h.w_us, b.bucket, coalesce(bb.c_base, 0) AS c_base
        |  FROM hrs h CROSS JOIN (SELECT CAST(unnest(range(0, 10)) AS BIGINT)
        |    AS bucket) b
        |  LEFT JOIN base bb ON b.bucket = bb.bucket),
        | j AS (SELECT g.w_us, g.bucket, g.c_base,
        |    coalesce(c.c_cur, 0) AS c_cur
        |  FROM grid g LEFT JOIN cur c
        |    ON g.w_us = c.w_us AND g.bucket = c.bucket),
        | t AS (SELECT w_us, c_base, c_cur,
        |    CAST(sum(c_cur) OVER (PARTITION BY w_us) AS BIGINT) AS n_cur
        |  FROM j),
        | terms AS (SELECT w_us, n_cur,
        |    CAST(round((CAST(c_cur + 1 AS DOUBLE)
        |        / (n_cur + 10)
        |      - CAST(c_base + 1 AS DOUBLE)
        |        / ((SELECT n_base FROM nb) + 10))
        |      * ln((CAST(c_cur + 1 AS DOUBLE) / (n_cur + 10))
        |      / (CAST(c_base + 1 AS DOUBLE)
        |        / ((SELECT n_base FROM nb) + 10))) * 1e9) AS BIGINT)
        |      AS term_fp
        |  FROM t)
        |SELECT w_us, CAST(max(n_cur) AS BIGINT) AS n_cur,
        |  CAST(sum(term_fp) AS BIGINT) AS psi_fp,
        |  CAST(sum(term_fp) AS BIGINT) > 200000000 AS drift
        | FROM terms GROUP BY w_us ORDER BY w_us""".stripMargin,

    "st16_chained_windows" ->
      """WITH e AS (SELECT CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        | q AS (SELECT ts_us - ts_us % 900000000 AS qs,
        |    count(*) AS n, sum(cents) AS cents FROM e GROUP BY 1),
        | h AS (SELECT qs - qs % 3600000000 AS hs,
        |    CAST(sum(n) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS value_cents,
        |    CAST(max(n) AS BIGINT) AS peak_quarter_n
        |  FROM q GROUP BY 1),
        | wm AS (SELECT max(ts_us) AS w FROM e)
        |SELECT strftime(to_timestamp(hs // 1000000),
        |    '%Y-%m-%d %H:%M:%S') AS hour_str,
        |  n, value_cents, peak_quarter_n
        | FROM h, wm WHERE hs + 3600000000 < w
        | ORDER BY hour_str""".stripMargin,

    "st2_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        | d AS (
        |  SELECT user_id, ts_us - lag(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id) AS gap
        |  FROM e)
        | SELECT user_id, count(*) AS n_events,
        |   CAST(1 + sum(CASE WHEN gap > 86400000000 THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n_sessions
        | FROM d GROUP BY user_id ORDER BY user_id""".stripMargin,

    "x7_interval_coalesce" ->
      """WITH iv AS (SELECT o_custkey AS custkey,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS s,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      + 14 AS e
        |  FROM orders),
        | marked AS (SELECT custkey, s, e,
        |    CASE WHEN max(e) OVER pre IS NULL OR s > max(e) OVER pre
        |      THEN 1 ELSE 0 END AS ni
        |  FROM iv WINDOW pre AS (PARTITION BY custkey ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        | grp AS (SELECT custkey, s, e,
        |    sum(ni) OVER (PARTITION BY custkey ORDER BY s, e
        |      ROWS UNBOUNDED PRECEDING) AS g
        |  FROM marked)
        |SELECT custkey, min(s) AS start_day, max(e) AS end_day,
        |  count(*) AS n_merged
        | FROM grp GROUP BY custkey, g ORDER BY custkey, start_day""".stripMargin,

    "x6_asof_forward" ->
      """WITH u AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS side,
        |    CASE WHEN event_type = 'purchase' THEN event_id END
        |      AS purchase_id,
        |    CASE WHEN event_type = 'error' THEN event_id END AS error_id
        |  FROM events WHERE event_type IN ('purchase', 'error')),
        | filled AS (
        |  SELECT user_id, purchase_id,
        |    first_value(error_id IGNORE NULLS) OVER (
        |      PARTITION BY user_id
        |      ORDER BY ts_us, side, error_id ASC NULLS LAST
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS error_id
        |  FROM u)
        |SELECT purchase_id, user_id, error_id FROM filled
        | WHERE purchase_id IS NOT NULL ORDER BY purchase_id""".stripMargin,

    // Mirrors AsOfJoin.nearest: both directional carries under ONE sort
    // (purchase side = 1 so an equal-time error lands in the backward
    // frame at distance 0 — which the tie rule prefers anyway).
    "x8_asof_nearest" ->
      """WITH u AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS side,
        |    CASE WHEN event_type = 'purchase' THEN event_id END
        |      AS purchase_id,
        |    CASE WHEN event_type = 'error' THEN event_id END AS error_id,
        |    CASE WHEN event_type = 'error' THEN CAST(epoch_us(ts) AS BIGINT)
        |      END AS rt_us
        |  FROM events WHERE event_type IN ('purchase', 'error')),
        | filled AS (
        |  SELECT user_id, purchase_id, ts_us,
        |    last_value(rt_us IGNORE NULLS) OVER wb AS bt,
        |    first_value(rt_us IGNORE NULLS) OVER wf AS ft,
        |    last_value(error_id IGNORE NULLS) OVER wb AS b_id,
        |    first_value(error_id IGNORE NULLS) OVER wf AS f_id
        |  FROM u
        |  WINDOW wb AS (PARTITION BY user_id
        |      ORDER BY ts_us, side, error_id ASC NULLS LAST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY user_id
        |      ORDER BY ts_us, side, error_id ASC NULLS LAST
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT purchase_id, user_id,
        |  CASE WHEN bt IS NOT NULL AND (ft IS NULL OR ts_us - bt <= ft - ts_us)
        |       THEN b_id ELSE f_id END AS error_id
        | FROM filled WHERE purchase_id IS NOT NULL
        | ORDER BY purchase_id""".stripMargin,

    // Mirrors AsOfJoin.interpolate: both (time, value) carries under ONE
    // sort; blend = bv + (fv-bv)·(t-tb)/(tf-tb) with every operand a
    // micros-exact double, degrading to the one-sided carry at the edges.
    "x9_asof_interpolate" ->
      """WITH u AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS side,
        |    CASE WHEN event_type = 'purchase' THEN event_id END
        |      AS purchase_id,
        |    CASE WHEN event_type = 'page_view' THEN CAST(epoch_us(ts)
        |      AS BIGINT) END AS rt_us,
        |    CASE WHEN event_type = 'page_view' THEN CAST(value AS DOUBLE)
        |      END AS v
        |  FROM events WHERE event_type IN ('purchase', 'page_view')),
        | filled AS (
        |  SELECT user_id, purchase_id, ts_us,
        |    last_value(rt_us IGNORE NULLS) OVER wb AS bt,
        |    first_value(rt_us IGNORE NULLS) OVER wf AS ft,
        |    last_value(v IGNORE NULLS) OVER wb AS bv,
        |    first_value(v IGNORE NULLS) OVER wf AS fv
        |  FROM u
        |  WINDOW wb AS (PARTITION BY user_id
        |      ORDER BY ts_us, side, v ASC NULLS LAST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY user_id
        |      ORDER BY ts_us, side, v ASC NULLS LAST
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT purchase_id, user_id,
        |  CASE WHEN bt IS NOT NULL AND ft IS NOT NULL THEN
        |    bv + (fv - bv) * ((CAST(ts_us AS DOUBLE) - CAST(bt AS DOUBLE)) /
        |      (CAST(ft AS DOUBLE) - CAST(bt AS DOUBLE)))
        |  WHEN bt IS NOT NULL THEN bv
        |  WHEN ft IS NOT NULL THEN fv END AS value_interp
        | FROM filled WHERE purchase_id IS NOT NULL
        | ORDER BY purchase_id""".stripMargin,

    // Sweep-line replay: same boundary points, same (t, delta) order
    // (ROWS frame), per-day max + first instant — tie-order-invariant
    // aggregates only, as the query comment argues.
    "x10_peak_concurrency" ->
      """WITH e AS (SELECT CAST(epoch_us(ts) AS BIGINT) AS t0 FROM events),
        | pts AS (SELECT t0 AS t, CAST(1 AS BIGINT) AS delta FROM e
        |  UNION ALL
        |  SELECT t0 + 300000000, CAST(-1 AS BIGINT) FROM e),
        | r AS (SELECT t, delta, sum(delta) OVER (ORDER BY t, delta
        |    ROWS UNBOUNDED PRECEDING) AS run FROM pts),
        | d AS (SELECT t, run, t - t % 86400000000 AS day_us FROM r),
        | m AS (SELECT day_us, t, run,
        |    max(run) OVER (PARTITION BY day_us) AS day_max FROM d)
        |SELECT day_us, CAST(max(day_max) AS BIGINT) AS peak,
        |  CAST(min(t) AS BIGINT) AS peak_at_us
        | FROM m WHERE run = day_max GROUP BY day_us
        | ORDER BY day_us""".stripMargin,

    // Kaplan-Meier replay: first signup, first later purchase, horizon
    // censoring, reverse-cumulative at-risk counts, fixed-point ln terms.
    "e23_km_survival" ->
      """WITH ev AS (SELECT user_id, event_type,
        |    CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
        | su AS (SELECT user_id, CAST(min(ts_us) AS BIGINT) AS s_us
        |  FROM ev WHERE event_type = 'signup' GROUP BY user_id),
        | fp AS (SELECT ev.user_id, CAST(min(ts_us) AS BIGINT) AS p_us
        |  FROM ev JOIN su ON ev.user_id = su.user_id
        |  WHERE event_type = 'purchase' AND ts_us > s_us
        |  GROUP BY ev.user_id),
        | hz AS (SELECT max(ts_us) AS h_us FROM ev),
        | subj AS (SELECT
        |    CASE WHEN p_us IS NOT NULL
        |      THEN (p_us - s_us) // 86400000000
        |      ELSE ((SELECT h_us FROM hz) - s_us) // 86400000000 END
        |      AS t_days,
        |    p_us IS NOT NULL AS is_event
        |  FROM su LEFT JOIN fp ON su.user_id = fp.user_id),
        | byday AS (SELECT t_days, CAST(count(*) AS BIGINT) AS n_at,
        |    CAST(sum(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d_n
        |  FROM subj GROUP BY t_days),
        | risk AS (SELECT t_days, d_n,
        |    CAST(sum(n_at) OVER (ORDER BY t_days
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
        |      AS n_risk
        |  FROM byday),
        | terms AS (SELECT t_days, n_risk, d_n,
        |    CASE WHEN n_risk > d_n THEN
        |      CAST(round(ln(CAST(n_risk - d_n AS DOUBLE) / n_risk) * 1e9)
        |        AS BIGINT) END AS term_fp
        |  FROM risk WHERE d_n > 0)
        |SELECT t_days, n_risk, d_n,
        |  CAST(sum(term_fp) OVER (ORDER BY t_days
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ln_s_fp
        | FROM terms ORDER BY t_days""".stripMargin,

    "x1_asof_join" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |      ORDER BY o_orderkey DESC) AS rn FROM orders) WHERE rn = 1)
        | SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice
        | FROM events e ASOF LEFT JOIN o
        |   ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        | ORDER BY e.event_id""".stripMargin,

    "x3_asof_tolerance" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |      ORDER BY o_orderkey DESC) AS rn FROM orders) WHERE rn = 1)
        | SELECT e.event_id, e.user_id,
        |   CASE WHEN e.ts <= o.o_orderdate + INTERVAL 30 DAY
        |        THEN o.o_orderkey END AS o_orderkey,
        |   CASE WHEN e.ts <= o.o_orderdate + INTERVAL 30 DAY
        |        THEN o.o_totalprice END AS o_totalprice
        | FROM events e ASOF LEFT JOIN o
        |   ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        | ORDER BY e.event_id""".stripMargin,

    "st4_stream_static_join" ->
      """SELECT c_mktsegment, count(*) AS n
        |  FROM events JOIN customer ON user_id = c_custkey
        |  GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // scd2_temporal_lookup's history construction, but the last interval
    // is open-ended (the "current record" convention) and the probes are
    // the event stream's event times — the batch replay of st19's
    // stream-static SCD2 enrichment.
    "st19_stream_temporal_lookup" ->
      """WITH dedup AS (SELECT o_custkey AS custkey, o_orderdate,
        |    o_orderkey, o_orderpriority,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        | changes AS (SELECT * FROM dedup
        |   WHERE prev IS NULL OR prev <> o_orderpriority),
        | hist AS (SELECT custkey, o_orderpriority,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS from_day,
        |    coalesce(date_diff('day', DATE '1970-01-01',
        |        CAST(lead(o_orderdate) OVER (PARTITION BY custkey
        |          ORDER BY o_orderdate, o_orderkey) AS DATE)) - 1,
        |      2147483647) AS to_incl
        |  FROM changes)
        |SELECT e.event_id, e.user_id, h.o_orderpriority AS priority
        | FROM events e JOIN hist h ON e.user_id = h.custkey
        |  AND date_diff('day', DATE '1970-01-01', CAST(e.ts AS DATE))
        |    >= h.from_day
        |  AND date_diff('day', DATE '1970-01-01', CAST(e.ts AS DATE))
        |    <= h.to_incl
        | ORDER BY event_id""".stripMargin,

    // ONE attribution mirror for both spellings — x2 (batch bucketized
    // range join) and st7 (watermarked stream-stream join) pin the SAME
    // semantics, so they must share the SQL structurally.
    "st7_stream_stream_join" -> AttributionSql,

    "st15_stream_outer_join" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id,
        |    CAST(epoch_us(ts) AS BIGINT) AS p_us
        |   FROM events WHERE event_type = 'purchase'
        |    AND epoch_us(ts) <= (SELECT least(
        |        max(CASE WHEN event_type = 'purchase'
        |          THEN epoch_us(ts) END),
        |        max(CASE WHEN event_type = 'click'
        |          THEN epoch_us(ts) END)) - 14400000000 FROM events)),
        | c AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS c_us
        |   FROM events WHERE event_type = 'click')
        |SELECT purchase_id, CAST(count(c.user_id) AS BIGINT) AS n_clicks
        | FROM p LEFT JOIN c ON p.user_id = c.user_id
        |   AND c.c_us >= p.p_us AND c.c_us <= p.p_us + 7200000000
        | GROUP BY purchase_id ORDER BY purchase_id""".stripMargin,

    // The binning is result-invisible: the oracle runs the plain
    // inequality join.
    "x2_range_join" -> AttributionSql,

    "st3_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        | d AS (
        |  SELECT user_id, ts_us - lag(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id) AS gap
        |  FROM e)
        | SELECT user_id,
        |   CAST(1 + sum(CASE WHEN gap >= 86400000000 THEN 1 ELSE 0 END)
        |     AS BIGINT) AS n_sessions
        | FROM d GROUP BY user_id ORDER BY user_id""".stripMargin,

    "e2_sliding_window" ->
      """WITH starts AS (
        |  SELECT date_trunc('hour', ts) AS w FROM events
        |  UNION ALL
        |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR FROM events)
        | SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS win_start,
        |        count(*) AS n
        | FROM starts GROUP BY w ORDER BY win_start""".stripMargin,

    // Dense hourly spine between the sparse slice's min and max hours
    // (generate_series is end-inclusive, like Spark's sequence).
    "e4_gapfill" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour, count(*) AS n,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS value_cents
        |  FROM events WHERE user_id % 97 = 0 GROUP BY 1),
        | bounds AS (SELECT min(hour) AS lo, max(hour) AS hi FROM hourly),
        | spine AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
        |  FROM bounds)
        | SELECT strftime(spine.hour, '%Y-%m-%d %H:%M:%S') AS hour_str,
        |   coalesce(n, CAST(0 AS BIGINT)) AS n,
        |   coalesce(value_cents, CAST(0 AS BIGINT)) AS value_cents
        | FROM spine LEFT JOIN hourly ON spine.hour = hourly.hour
        | ORDER BY hour_str""".stripMargin,

    "e3_pivot" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |  FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "a8_percentile" ->
      """SELECT quantile_cont(l_extendedprice, 0.5) AS median_price,
        |       quantile_cont(l_extendedprice, 0.9) AS p90_price
        |  FROM lineitem""".stripMargin,

    "a9_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS prio, count(*) AS n
        |  FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |  ORDER BY status, prio""".stripMargin,

    "s8_stratified_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
        |  FROM documents) WHERE rn <= 10 ORDER BY doc_id""".stripMargin,

    "s9_train_test_split" ->
      """SELECT lang,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))
        |         AS INT) < 4
        |       THEN 'test' ELSE 'train' END AS split,
        |  count(*) AS n
        |  FROM documents GROUP BY lang, split ORDER BY lang, split""".stripMargin,

    // Temperature mixture: quota ∝ round(sqrt(n)·1e9) over integer-div —
    // sqrt is IEEE-correctly-rounded, so quotas are engine-exact.
    "s18_temperature_mix" ->
      """WITH n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_rows
        |    FROM documents GROUP BY lang),
        | w AS (SELECT lang,
        |    CAST(round(sqrt(CAST(n_rows AS DOUBLE)) * 1e9) AS BIGINT)
        |      AS w_fp FROM n),
        | tot AS (SELECT CAST(sum(w_fp) AS BIGINT) AS w_tot FROM w),
        | q AS (SELECT lang, 120 * w_fp // w_tot AS quota
        |   FROM w CROSS JOIN tot),
        | r AS (SELECT lang, doc_id, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled
        | FROM r JOIN q USING (lang) WHERE rn <= quota
        | GROUP BY lang ORDER BY lang""".stripMargin,

    // URL canonicalization replayed with the identical regexes (the
    // Java/RE2 common subset; no parse_url on either side).
    "d20_url_dedup" ->
      """WITH u AS (
        |  SELECT c_custkey,
        |    'https://' ||
        |    CASE WHEN c_custkey % 2 = 0 THEN 'Example.COM'
        |         ELSE 'example.com' END ||
        |    '/cust/' || CAST(c_custkey % 500 AS VARCHAR) ||
        |    CASE WHEN c_custkey % 3 = 0 THEN '/' ELSE '' END || '?' ||
        |    CASE WHEN c_custkey % 2 = 0
        |      THEN 'id=' || CAST(c_custkey % 500 AS VARCHAR) ||
        |        '&utm_source=mail&ref=nav'
        |      ELSE 'ref=nav&id=' || CAST(c_custkey % 500 AS VARCHAR) END
        |      AS url
        |  FROM customer),
        | q AS (
        |  SELECT c_custkey, url,
        |    array_to_string(list_sort(list_filter(
        |      string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
        |      p -> NOT starts_with(p, 'utm_') AND p <> '')), '&')
        |      AS canon_q
        |  FROM u),
        | c AS (
        |  SELECT c_custkey,
        |    lower(regexp_extract(url, '^https?://([^/?#]+)', 1)) ||
        |    regexp_replace(
        |      regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1),
        |      '/+$', '') ||
        |    CASE WHEN canon_q <> '' THEN '?' || canon_q ELSE '' END
        |      AS canonical_url
        |  FROM q)
        |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_variants,
        |  CAST(min(c_custkey) AS BIGINT) AS keeper_id
        | FROM c GROUP BY canonical_url ORDER BY canonical_url""".stripMargin,

    // Generalization ladder: per-width grouped counts folded to a
    // one-row readout each, then the minimal clean width marked.
    "v2_generalization" ->
      """WITH lv AS (
        |  SELECT w.width, lang, n_chars // w.width AS bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM documents
        |  CROSS JOIN (SELECT unnest([50, 100, 200, 400, 800]) AS width) w
        |  GROUP BY 1, 2, 3),
        | per AS (
        |  SELECT CAST(width AS BIGINT) AS width,
        |    CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(min(n) AS BIGINT) AS min_group,
        |    CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violations
        |  FROM lv GROUP BY width),
        | ok AS (SELECT min(width) AS min_ok FROM per
        |   WHERE n_violations = 0)
        |SELECT width, n_groups, min_group, n_violations,
        |  n_violations = 0 AS k_anonymous,
        |  coalesce(width = (SELECT min_ok FROM ok), FALSE) AS chosen
        | FROM per ORDER BY width""".stripMargin,

    // k-anonymity / l-diversity audit: one grouped aggregation over the
    // quasi-identifier tuple; verdicts are integer comparisons.
    "v1_k_anonymity" ->
      """SELECT source, n_chars // 100 AS len_bucket,
        |  CAST(count(*) AS BIGINT) AS k_of_group,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_sensitive,
        |  count(*) >= 5 AS k_ok,
        |  count(DISTINCT lang) >= 3 AS l_ok
        | FROM documents GROUP BY source, len_bucket
        | ORDER BY source, len_bucket""".stripMargin,

    // Recursive (c,l)-diversity replay: the same (count desc, value asc)
    // frequency rank within each QID group, r1 vs c-weighted tail.
    "v5_recursive_ldiv" ->
      """WITH base AS (SELECT source, n_chars // 100 AS len_bucket,
        |    coalesce(CAST(lang AS VARCHAR), '~null~') AS sens
        |  FROM documents),
        | gs AS (SELECT source, len_bucket, sens, count(*) AS n_gs
        |  FROM base GROUP BY 1, 2, 3),
        | rk AS (SELECT *, row_number() OVER (
        |    PARTITION BY source, len_bucket
        |    ORDER BY n_gs DESC, sens) AS r FROM gs)
        |SELECT source, len_bucket,
        |  CAST(sum(n_gs) AS BIGINT) AS k_of_group,
        |  CAST(count(*) AS BIGINT) AS n_sensitive,
        |  CAST(max(CASE WHEN r = 1 THEN n_gs END) AS BIGINT) AS r1,
        |  CAST(sum(CASE WHEN r >= 2 THEN n_gs ELSE 0 END) AS BIGINT)
        |    AS tail_sum,
        |  max(CASE WHEN r = 1 THEN n_gs END)
        |    < 2 * sum(CASE WHEN r >= 2 THEN n_gs ELSE 0 END) AS rl_ok
        | FROM rk GROUP BY source, len_bucket
        | ORDER BY source, len_bucket""".stripMargin,

    // Entropy ℓ-diversity replay: identical per-cell fixed-point
    // entropy terms, summed exactly; the ln(3) threshold rounded the
    // same way on both engines.
    "v7_entropy_ldiv" ->
      """WITH base AS (SELECT source, n_chars // 100 AS len_bucket,
        |    coalesce(CAST(lang AS VARCHAR), '~null~') AS sens
        |  FROM documents),
        | gs AS (SELECT source, len_bucket, sens,
        |    CAST(count(*) AS BIGINT) AS n_gs
        |  FROM base GROUP BY 1, 2, 3),
        | wk AS (SELECT source, len_bucket, n_gs,
        |    CAST(sum(n_gs) OVER (PARTITION BY source, len_bucket)
        |      AS BIGINT) AS k_of_group
        |  FROM gs),
        | terms AS (SELECT source, len_bucket, k_of_group,
        |    CAST(round(-(CAST(n_gs AS DOUBLE) / k_of_group)
        |      * ln(CAST(n_gs AS DOUBLE) / k_of_group) * 1e9) AS BIGINT)
        |      AS h_term_fp
        |  FROM wk)
        |SELECT source, len_bucket,
        |  CAST(max(k_of_group) AS BIGINT) AS k_of_group,
        |  CAST(count(*) AS BIGINT) AS n_sensitive,
        |  CAST(sum(h_term_fp) AS BIGINT) AS entropy_fp,
        |  CAST(sum(h_term_fp) AS BIGINT)
        |    >= CAST(round(ln(3.0) * 1e9) AS BIGINT) AS el_ok
        | FROM terms GROUP BY source, len_bucket
        | ORDER BY source, len_bucket""".stripMargin,

    // Jensen-Shannon drift replay: same halves, same cents-div-1000
    // bins, same per-bin fixed-point contributions summed exactly.
    "a36_js_drift" ->
      """WITH e AS (SELECT CAST(epoch_us(ts) AS BIGINT) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
        | bins AS (SELECT v // 1000 AS bin,
        |    CAST(sum(CASE WHEN us < 1705363200000000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN us >= 1705363200000000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c2
        |  FROM e GROUP BY 1),
        | tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |    CAST(sum(c2) AS BIGINT) AS n2 FROM bins),
        | terms AS (SELECT bin, n1, n2,
        |    CAST(round((
        |      CASE WHEN c1 = 0 THEN 0.0 ELSE
        |        0.5 * (CAST(c1 AS DOUBLE)/n1) * ln((CAST(c1 AS DOUBLE)/n1)
        |        / ((CAST(c1 AS DOUBLE)/n1 + CAST(c2 AS DOUBLE)/n2)/2)) END
        |      + CASE WHEN c2 = 0 THEN 0.0 ELSE
        |        0.5 * (CAST(c2 AS DOUBLE)/n2) * ln((CAST(c2 AS DOUBLE)/n2)
        |        / ((CAST(c1 AS DOUBLE)/n1 + CAST(c2 AS DOUBLE)/n2)/2)) END
        |    ) * 1e9) AS BIGINT) AS t_fp
        |  FROM bins CROSS JOIN tot)
        |SELECT CAST(max(n1) AS BIGINT) AS n_first,
        |  CAST(max(n2) AS BIGINT) AS n_second,
        |  CAST(count(*) AS BIGINT) AS n_bins,
        |  CAST(sum(t_fp) AS BIGINT) AS js_fp,
        |  CAST(sum(t_fp) AS BIGINT) > 50000000 AS drifted
        | FROM terms""".stripMargin,

    // t-closeness replay: the same cross-multiplied TVD algebra; the
    // absent-values term folds in via N_g·(N − Σ n_v over present).
    "v3_t_closeness" ->
      """WITH base AS (SELECT source, n_chars // 100 AS len_bucket,
        |    coalesce(CAST(lang AS VARCHAR), '~null~') AS sens
        |  FROM documents),
        | tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM base),
        | gv AS (SELECT source, len_bucket, sens,
        |    CAST(count(*) AS BIGINT) AS n_gv
        |  FROM base GROUP BY source, len_bucket, sens),
        | v AS (SELECT sens, CAST(count(*) AS BIGINT) AS n_v
        |  FROM base GROUP BY sens),
        | g AS (SELECT source, len_bucket,
        |    CAST(sum(n_gv) AS BIGINT) AS n_g,
        |    CAST(sum(n_v) AS BIGINT) AS sum_v_present
        |  FROM gv JOIN v USING (sens) GROUP BY source, len_bucket),
        | agg AS (SELECT gv.source, gv.len_bucket,
        |    CAST(max(g.n_g) AS BIGINT) AS k_of_group,
        |    CAST(sum(abs(n_gv * (SELECT n_total FROM tot) - n_v * g.n_g))
        |      + max(g.n_g * ((SELECT n_total FROM tot) - g.sum_v_present))
        |      AS BIGINT) AS tvd_num,
        |    CAST(max(2 * g.n_g * (SELECT n_total FROM tot)) AS BIGINT)
        |      AS tvd_den
        |  FROM gv JOIN v USING (sens)
        |    JOIN g ON gv.source IS NOT DISTINCT FROM g.source
        |      AND gv.len_bucket IS NOT DISTINCT FROM g.len_bucket
        |  GROUP BY gv.source, gv.len_bucket)
        |SELECT source, len_bucket, k_of_group, tvd_num, tvd_den,
        |  tvd_num * 10000 // tvd_den AS tvd_bp,
        |  tvd_num * 10000 // tvd_den <= 2500 AS t_ok
        | FROM agg ORDER BY source, len_bucket""".stripMargin,

    // Seeded DP release replay: same keyed md5 uniform, same inverse-CDF
    // Laplace expression, rounded then floored at zero.
    "v4_dp_release" ->
      """WITH g AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY source, lang),
        | h AS (SELECT source, lang, n,
        |    CAST(CAST(('0x' || substr(md5('graft-r7' || '|'
        |      || coalesce(CAST(source AS VARCHAR), '~null~') || '|'
        |      || coalesce(CAST(lang AS VARCHAR), '~null~')), 1, 8))
        |      AS BIGINT) AS DOUBLE) AS hv
        |  FROM g),
        | u AS (SELECT source, lang, n,
        |    (hv + 0.5) / 4294967296.0 - 0.5 AS uu FROM h)
        |SELECT source, lang,
        |  CAST(greatest(0, n + CAST(round(-(1.0 / 1.0) * sign(uu)
        |    * ln(1.0 - 2.0 * abs(uu))) AS BIGINT)) AS BIGINT) AS n_released
        | FROM u ORDER BY source, lang""".stripMargin,

    "c12_corpus_card" ->
      """WITH d AS (SELECT source, lang, md5(text) AS digest,
        |    CAST(len(regexp_extract_all(lower(text), '\S+')) AS BIGINT)
        |      AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT)
        |      AS n_punct
        |  FROM documents WHERE text IS NOT NULL),
        | g AS (SELECT digest, count(*) AS grp_n FROM d GROUP BY digest)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_punct) AS BIGINT) AS n_punct,
        |  CAST(sum(CASE WHEN grp_n > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dupped,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        | FROM d JOIN g USING (digest)
        | GROUP BY source ORDER BY source""".stripMargin,

    "c11_indoc_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
        |    FROM documents WHERE text IS NOT NULL),
        | starts AS (
        |  SELECT doc_id, tk,
        |    unnest(range(1, greatest(len(tk), 1) + 1, 2)) AS start
        |  FROM t),
        | seg AS (
        |  SELECT doc_id, start,
        |    array_to_string(list_slice(tk, start, start + 1), ' ') AS chunk
        |  FROM starts WHERE len(list_slice(tk, start, start + 1)) > 0),
        | ranked AS (
        |  SELECT doc_id, start, chunk,
        |    row_number() OVER (PARTITION BY doc_id, chunk ORDER BY start)
        |      AS rn,
        |    count(*) OVER (PARTITION BY doc_id) AS n_seg
        |  FROM seg),
        | kept AS (SELECT * FROM ranked WHERE rn = 1)
        | SELECT doc_id, string_agg(chunk, ' ' ORDER BY start) AS clean_text,
        |   CAST(max(n_seg) AS BIGINT) AS n_seg,
        |   CAST(count(*) AS BIGINT) AS n_kept
        |  FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "c10_curriculum" ->
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(lower(text), '\S+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        | cum AS (SELECT doc_id, lang, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY n_tokens, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang) AS total_tokens
        |  FROM d)
        |SELECT doc_id, lang, n_tokens,
        |  CASE WHEN cum_tokens * 100 <= total_tokens * 40 THEN 1
        |       WHEN cum_tokens * 100 <= total_tokens * 80 THEN 2
        |       ELSE 3 END AS phase
        | FROM cum ORDER BY doc_id""".stripMargin,

    "c9_data_mixture" ->
      """WITH n AS (SELECT count(*) AS corpus_n FROM documents),
        | w AS (SELECT * FROM (VALUES ('src1', 40), ('src2', 30),
        |    ('src3', 20), ('src4', 10)) t(source, w_pct)),
        | q AS (SELECT source, ((corpus_n * 8 // 100) * w_pct) // 100
        |    AS quota FROM n, w),
        | ranked AS (SELECT doc_id, d.source, quota,
        |    row_number() OVER (PARTITION BY d.source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents d JOIN q USING (source))
        |SELECT doc_id, source FROM ranked WHERE rn <= quota
        | ORDER BY doc_id""".stripMargin,

    // Golden-record replay: same three source feeds, same
    // priority-coalesce per column, same conflict flag.
    "j13_golden_record" ->
      """WITH s1 AS (SELECT c_custkey AS k, 1 AS src, c_name AS name,
        |    c_mktsegment AS segment FROM customer WHERE c_custkey % 2 = 0),
        | s2 AS (SELECT c_custkey AS k, 2 AS src, lower(c_name) AS name,
        |    c_mktsegment AS segment FROM customer WHERE c_custkey % 3 = 0),
        | s3 AS (SELECT c_custkey AS k, 3 AS src, c_name AS name,
        |    CAST(NULL AS VARCHAR) AS segment FROM customer),
        | a AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |   UNION ALL SELECT * FROM s3)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_sources,
        |  coalesce(min(CASE WHEN src = 1 THEN name END),
        |    min(CASE WHEN src = 2 THEN name END),
        |    min(CASE WHEN src = 3 THEN name END)) AS name,
        |  coalesce(min(CASE WHEN src = 1 THEN segment END),
        |    min(CASE WHEN src = 2 THEN segment END),
        |    min(CASE WHEN src = 3 THEN segment END)) AS segment,
        |  count(DISTINCT name) > 1 AS name_conflict
        | FROM a GROUP BY k ORDER BY k""".stripMargin,

    "j11_snapshot_diff" ->
      """WITH olds AS (SELECT o_custkey AS key, count(*) AS n,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS c
        |  FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
        |    AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
        |  GROUP BY 1),
        | news AS (SELECT o_custkey AS key, count(*) AS n,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS c
        |  FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        |    AND CAST(o_orderdate AS DATE) < DATE '2002-01-01'
        |  GROUP BY 1),
        | oh AS (SELECT key, md5(n || '|' || c) AS h FROM olds),
        | nh AS (SELECT key, md5(n || '|' || c) AS h FROM news),
        | fj AS (SELECT oh.key AS ok, oh.h AS ohh, nh.key AS nk, nh.h AS nhh
        |   FROM oh FULL OUTER JOIN nh ON oh.key = nh.key)
        |SELECT coalesce(ok, nk) AS key,
        |  CASE WHEN ok IS NULL THEN 'added'
        |       WHEN nk IS NULL THEN 'removed'
        |       WHEN ohh <> nhh THEN 'changed' END AS status
        | FROM fj
        | WHERE ok IS NULL OR nk IS NULL OR ohh <> nhh
        | ORDER BY key""".stripMargin,

    "j10_cdc_apply" ->
      """WITH base AS (SELECT c_custkey AS key,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer),
        | ch AS (SELECT o_custkey AS key, o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 17 = 0 THEN 'D' ELSE 'U' END AS op,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS new_bal
        |  FROM orders),
        | last AS (SELECT key, op, new_bal FROM (
        |   SELECT *, row_number() OVER (PARTITION BY key
        |     ORDER BY seq DESC) AS rn FROM ch) WHERE rn = 1)
        |SELECT key, bal_cents FROM base
        | WHERE key NOT IN (SELECT key FROM last)
        |UNION ALL
        |SELECT key, new_bal FROM last WHERE op <> 'D'
        |ORDER BY key""".stripMargin,

    "s17_source_agg_pushdown" ->
      """SELECT count(*) AS n FROM range(100000, 50000000)""",

    "s16_custom_source" ->
      """SELECT id % 10 AS bucket, count(*) AS n,
        |  CAST(sum((id * 2654435761) % 1000000007) AS BIGINT) AS sum_val
        | FROM range(100000, 300000) t(id)
        | GROUP BY 1 ORDER BY bucket""".stripMargin,

    // Windowed replay: hour buckets over the derived event time, exact
    // integer sums — window state merged across triggers must vanish.
    "st21_stream_windowed_seq" ->
      """SELECT strftime(
        |    to_timestamp((1704067200 + id) // 3600 * 3600),
        |    '%Y-%m-%d %H:%M:%S') AS hour_str,
        |  count(*) AS n,
        |  CAST(sum((id * 2654435761) % 1000000007) AS BIGINT) AS sum_val
        | FROM range(0, 20000) t(id)
        | GROUP BY hour_str ORDER BY hour_str""".stripMargin,

    // Streaming drain of the same generated domain == batch aggregate
    // over it (exact replay; the micro-batching must not change results).
    "st20_custom_stream_source" ->
      """SELECT id % 10 AS bucket, count(*) AS n,
        |  CAST(sum((id * 2654435761) % 1000000007) AS BIGINT) AS sum_val
        | FROM range(0, 10000) t(id)
        | GROUP BY 1 ORDER BY bucket""".stripMargin,

    "s15_fixed_width" ->
      """WITH lines AS (SELECT
        |    rpad(CAST(c_custkey AS VARCHAR), 10, ' ') ||
        |    rpad(c_mktsegment, 12, ' ') ||
        |    rpad(CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS VARCHAR),
        |      14, ' ') AS line
        |  FROM customer)
        |SELECT CAST(trim(substr(line, 1, 10)) AS BIGINT) AS custkey,
        |  trim(substr(line, 11, 12)) AS segment,
        |  CAST(trim(substr(line, 23, 14)) AS BIGINT) AS bal_cents
        | FROM lines ORDER BY custkey""".stripMargin,

    "l11_union_by_name" ->
      """WITH u AS (
        |  SELECT o_orderkey AS key,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |    CAST(NULL AS BIGINT) AS qty, 'orders' AS src
        |  FROM orders
        |  UNION ALL
        |  SELECT l_orderkey,
        |    CAST(round(l_extendedprice * 100) AS BIGINT),
        |    CAST(l_quantity AS BIGINT), 'lineitem'
        |  FROM lineitem)
        |SELECT src, count(*) AS n,
        |  CAST(sum(price_cents) AS BIGINT) AS sum_price_cents,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty
        | FROM u GROUP BY src ORDER BY src""".stripMargin,

    "p23_sequence_gaps" ->
      """WITH k AS (SELECT o_orderkey AS k FROM orders
        |    WHERE o_orderkey % 7 <> 0),
        | g AS (SELECT k, lag(k) OVER (ORDER BY k) AS prev FROM k)
        |SELECT prev + 1 AS gap_lo, k - 1 AS gap_hi
        | FROM g WHERE prev IS NOT NULL AND k - prev > 1
        | ORDER BY gap_lo""".stripMargin,

    "p22_quarantine" ->
      """WITH t AS (SELECT event_id,
        |    concat_ws(',',
        |      CASE WHEN NOT coalesce(value <= 30, FALSE)
        |        THEN 'value_cap' END,
        |      CASE WHEN NOT coalesce(event_type IN
        |          ('view', 'click', 'purchase', 'signup'), FALSE)
        |        THEN 'known_type' END) AS reasons
        |  FROM events)
        |SELECT event_id, reasons FROM t WHERE reasons <> ''
        | ORDER BY event_id""".stripMargin,

    "p21_date_features" ->
      """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
        |  FROM orders WHERE o_orderkey % 7 = 0)
        |SELECT o_orderkey,
        |  strftime(d, '%Y-%m-%d') AS d_str,
        |  CAST(year(d) AS BIGINT) AS yr,
        |  CAST(quarter(d) AS BIGINT) AS qtr,
        |  CAST(month(d) AS BIGINT) AS mo,
        |  CAST(day(d) AS BIGINT) AS dom,
        |  CAST(dayofweek(d) + 1 AS BIGINT) AS dow,
        |  strftime(last_day(d), '%Y-%m-%d') AS month_end,
        |  strftime(d + INTERVAL 1 MONTH, '%Y-%m-%d') AS next_month,
        |  strftime(date_trunc('week', d), '%Y-%m-%d') AS week_start
        | FROM o ORDER BY o_orderkey""".stripMargin,

    "sql2_sql_pipeline" ->
      """SELECT n_name,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    // SQL-surface natives replay: d21's chunk CTEs grouped per source.
    "sql3_sql_native_fns" ->
      """WITH d AS (SELECT doc_id, source, text,
        |    CAST(length(text) AS BIGINT) AS n,
        |    list_transform(range(1, length(text) + 1), i ->
        |      CAST(unicode(substr(text, CAST(i AS INT), 1)) AS BIGINT))
        |      AS cps
        |  FROM documents WHERE text IS NOT NULL),
        | bnd AS (SELECT doc_id, source, text, n,
        |    list_concat(list_concat(
        |      [CAST(0 AS BIGINT)],
        |      list_filter(range(8, n + 1), i ->
        |        list_reduce(
        |          list_prepend(CAST(0 AS BIGINT),
        |            list_slice(cps, CAST(i - 7 AS INT), CAST(i AS INT))),
        |          (acc, cp) -> (acc * 31 + cp) % 1000000007) % 64 = 0)),
        |      CASE WHEN n > 0 THEN [n] ELSE [] END) AS bs
        |  FROM d),
        | chunks AS (SELECT doc_id, source,
        |    unnest(list_transform(range(1, len(bs)), k ->
        |      CASE WHEN bs[CAST(k + 1 AS INT)] > bs[CAST(k AS INT)]
        |        THEN md5(substr(text, CAST(bs[CAST(k AS INT)] + 1 AS INT),
        |          CAST(bs[CAST(k + 1 AS INT)] - bs[CAST(k AS INT)] AS INT)))
        |        END)) AS digest
        |  FROM bnd)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(count(DISTINCT digest) AS BIGINT) AS n_distinct
        | FROM chunks WHERE digest IS NOT NULL
        | GROUP BY source ORDER BY source""".stripMargin,

    "sql1_engine_sql" ->
      """SELECT p_partkey,
        |  CASE WHEN strpos(p_type, ' ') <= 1 THEN ''
        |       ELSE substr(p_type, 1, strpos(p_type, ' ') - 1) END AS type_head,
        |  CASE WHEN strpos(p_type, ' ') = 0 THEN ''
        |       ELSE substr(p_type, strpos(p_type, ' ') + 1) END AS type_tail,
        |  CAST(list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(p_name) + 1),
        |        i -> CAST(unicode(substr(p_name, CAST(i AS INT), 1)) AS BIGINT))),
        |    (acc, cp) -> (acc * 31 + cp) % 1000000007) AS BIGINT) AS name_hash
        |  FROM part WHERE p_size <= 10
        |  ORDER BY p_partkey""".stripMargin,

    "etl1_pipeline" ->
      """WITH mapped AS (
        |  SELECT c_custkey AS cust_id, c_name AS full_name,
        |         c_mktsegment AS segment, 'legacy-crm' AS source_system
        |    FROM customer WHERE c_custkey > 10),
        | dedup AS (
        |  SELECT * FROM (
        |    SELECT m.*, row_number() OVER (PARTITION BY trim(segment)
        |      ORDER BY cust_id) AS rn FROM mapped m) WHERE rn = 1),
        | dst AS (SELECT DISTINCT trim(c_mktsegment) AS k FROM customer
        |          WHERE c_custkey <= 2)
        | SELECT cust_id, full_name, segment, source_system FROM dedup
        |  WHERE trim(segment) NOT IN (SELECT k FROM dst)
        |  ORDER BY cust_id""".stripMargin,

    // Versioned-table replay: MERGE = src ∪ (base ⟕anti src), DELETE =
    // survivors where the predicate is not true — pure SQL over the
    // same base tables the gate's temp-dir lifecycle started from.
    "etl2_versioned_merge" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus
        |   FROM orders WHERE o_orderkey % 3 <> 0),
        | src AS (SELECT o_orderkey, o_custkey + 1000000 AS o_custkey,
        |     'U' AS o_orderstatus FROM orders WHERE o_orderkey % 7 = 0
        |   UNION ALL
        |   SELECT o_orderkey + 50000000 AS o_orderkey, o_custkey,
        |     'N' AS o_orderstatus FROM orders WHERE o_orderkey % 997 = 1),
        | merged AS (SELECT * FROM src
        |   UNION ALL
        |   SELECT * FROM base
        |    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src))
        |SELECT o_orderkey, o_custkey, o_orderstatus FROM merged
        | WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 0)
        | ORDER BY o_orderkey""".stripMargin,

    "etl3_versioned_children" ->
      """WITH base AS (SELECT l_orderkey,
        |    CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    CAST(l_quantity AS BIGINT) AS l_quantity
        |   FROM lineitem WHERE l_orderkey % 4 = 1),
        | rec AS (SELECT l_orderkey, l_linenumber + 100 AS l_linenumber,
        |    l_quantity * 2 AS l_quantity FROM base WHERE l_orderkey % 28 = 1)
        |SELECT * FROM (
        |  SELECT * FROM base
        |   WHERE l_orderkey NOT IN (SELECT l_orderkey FROM rec)
        |  UNION ALL SELECT * FROM rec)
        | ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "etl5_versioned_partitioned" ->
      """WITH base AS (SELECT l_orderkey,
        |    CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    CAST(l_quantity AS BIGINT) AS l_quantity, l_returnflag
        |   FROM lineitem),
        | afterdel AS (SELECT * FROM base
        |   WHERE NOT (l_returnflag = 'R' AND l_orderkey % 2 = 0)),
        | upd AS (SELECT l_orderkey, l_linenumber,
        |    l_quantity * 3 AS l_quantity, l_returnflag FROM base
        |   WHERE l_returnflag = 'N' AND l_orderkey % 100 = 1),
        | merged AS (SELECT * FROM upd
        |   UNION ALL
        |   SELECT a.* FROM afterdel a
        |    WHERE NOT EXISTS (SELECT 1 FROM upd u
        |      WHERE u.l_orderkey = a.l_orderkey
        |        AND u.l_linenumber = a.l_linenumber))
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        | FROM merged GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "st28_stream_versioned_sink" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id
        | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // CDF replay: final state = merge-then-delete over base (etl4's v3),
    // then classify keys by set membership and null-safe value compare.
    "etl6_versioned_changes" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus
        |   FROM orders WHERE o_orderkey % 3 <> 0),
        | upd AS (SELECT o_orderkey, o_custkey + 1000000 AS o_custkey,
        |    'U' AS o_orderstatus FROM orders WHERE o_orderkey % 7 = 0),
        | v2 AS (SELECT * FROM upd
        |   UNION ALL
        |   SELECT * FROM base
        |    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)),
        | final AS (SELECT * FROM v2
        |   WHERE NOT (o_orderstatus = 'O' AND o_orderkey % 13 = 0)),
        | ins AS (SELECT f.o_orderkey, f.o_custkey, f.o_orderstatus,
        |    'insert' AS _change_type FROM final f
        |   WHERE f.o_orderkey NOT IN (SELECT o_orderkey FROM base)),
        | del AS (SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus,
        |    'delete' AS _change_type FROM base b
        |   WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM final)),
        | chg AS (SELECT b.o_orderkey FROM base b
        |   JOIN final f ON b.o_orderkey = f.o_orderkey
        |  WHERE b.o_custkey IS DISTINCT FROM f.o_custkey
        |     OR b.o_orderstatus IS DISTINCT FROM f.o_orderstatus),
        | pre AS (SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus,
        |    'update_preimage' AS _change_type FROM base b
        |   WHERE b.o_orderkey IN (SELECT o_orderkey FROM chg)),
        | post AS (SELECT f.o_orderkey, f.o_custkey, f.o_orderstatus,
        |    'update_postimage' AS _change_type FROM final f
        |   WHERE f.o_orderkey IN (SELECT o_orderkey FROM chg))
        |SELECT o_orderkey, o_custkey, o_orderstatus, _change_type FROM (
        |  SELECT * FROM ins UNION ALL SELECT * FROM del
        |  UNION ALL SELECT * FROM pre UNION ALL SELECT * FROM post)
        | ORDER BY o_orderkey, _change_type""".stripMargin,

    "st29_stream_cdf" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus
        |   FROM orders WHERE o_orderkey % 3 <> 0),
        | delta AS (SELECT o_orderkey, o_custkey + 1000000 AS o_custkey,
        |    'U' AS o_orderstatus FROM orders WHERE o_orderkey % 7 = 0),
        | ins AS (SELECT d.o_orderkey, d.o_custkey, d.o_orderstatus,
        |    'insert' AS _change_type FROM delta d
        |   WHERE d.o_orderkey NOT IN (SELECT o_orderkey FROM base)),
        | pre AS (SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus,
        |    'update_preimage' AS _change_type FROM base b
        |   WHERE b.o_orderkey IN (SELECT o_orderkey FROM delta)),
        | post AS (SELECT d.o_orderkey, d.o_custkey, d.o_orderstatus,
        |    'update_postimage' AS _change_type FROM delta d
        |   WHERE d.o_orderkey IN (SELECT o_orderkey FROM base))
        |SELECT o_orderkey, o_custkey, o_orderstatus, _change_type FROM (
        |  SELECT * FROM ins UNION ALL SELECT * FROM pre
        |  UNION ALL SELECT * FROM post)
        | ORDER BY o_orderkey, _change_type""".stripMargin,

    "etl7_multi_table_txn" ->
      """WITH obase AS (SELECT o_orderkey, o_custkey, o_orderstatus
        |   FROM orders WHERE o_orderkey % 3 <> 0),
        | oupd AS (SELECT o_orderkey, o_custkey + 1000000 AS o_custkey,
        |    'U' AS o_orderstatus FROM orders WHERE o_orderkey % 7 = 0),
        | ofinal AS (SELECT * FROM oupd
        |   UNION ALL
        |   SELECT * FROM obase
        |    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM oupd)),
        | cupd AS (SELECT c_custkey, c_acctbal + 10000 AS c_acctbal,
        |    'SEG' AS c_mktsegment FROM customer WHERE c_custkey % 5 = 0),
        | cfinal AS (SELECT * FROM cupd
        |   UNION ALL
        |   SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
        |    WHERE c_custkey NOT IN (SELECT c_custkey FROM cupd))
        |SELECT tbl, k, v1, tag FROM (
        |  SELECT 'orders' AS tbl, o_orderkey AS k,
        |         CAST(o_custkey AS DOUBLE) AS v1, o_orderstatus AS tag
        |    FROM ofinal
        |  UNION ALL
        |  SELECT 'customer' AS tbl, c_custkey AS k,
        |         CAST(c_acctbal AS DOUBLE) AS v1, c_mktsegment AS tag
        |    FROM cfinal)
        | ORDER BY tbl, k""".stripMargin,

    "etl8_schema_evolution" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus
        |   FROM orders WHERE o_orderkey % 3 <> 0),
        | upd AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |    CAST(o_totalprice AS DOUBLE) AS o_price
        |   FROM orders WHERE o_orderkey % 7 = 0)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_price FROM (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CAST(NULL AS DOUBLE) AS o_price
        |    FROM base
        |   WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL
        |  SELECT * FROM upd)
        | ORDER BY o_orderkey""".stripMargin,

    "etl9_clustered_merge" ->
      """WITH li AS (SELECT l_orderkey,
        |    CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    CAST(l_quantity AS BIGINT) AS l_quantity FROM lineitem),
        | fin AS (SELECT l_orderkey, l_linenumber,
        |    CASE WHEN l_orderkey % 500 = 1 THEN l_quantity * 7
        |         ELSE l_quantity END AS l_quantity FROM li)
        |SELECT l_orderkey % 10 AS bucket, COUNT(*) AS n,
        |       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        |  FROM fin GROUP BY 1 ORDER BY 1""".stripMargin,

    "etl4_table_time_travel" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus
        |   FROM orders WHERE o_orderkey % 3 <> 0),
        | upd AS (SELECT o_orderkey, o_custkey + 1000000 AS o_custkey,
        |    'U' AS o_orderstatus FROM orders WHERE o_orderkey % 7 = 0),
        | v2 AS (SELECT * FROM upd
        |   UNION ALL
        |   SELECT * FROM base
        |    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)),
        | v3 AS (SELECT * FROM v2
        |   WHERE NOT (o_orderstatus = 'O' AND o_orderkey % 13 = 0))
        |SELECT snap, o_orderkey, o_custkey, o_orderstatus FROM (
        |  SELECT 'v1' AS snap, * FROM base
        |  UNION ALL SELECT 'v2' AS snap, * FROM v2
        |  UNION ALL SELECT 'v3' AS snap, * FROM v3)
        | ORDER BY snap, o_orderkey""".stripMargin
  )
}

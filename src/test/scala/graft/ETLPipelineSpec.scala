package graft

import java.nio.file.Files
import graft.etl.{ColumnMapping, ETLPipeline, PipelineSpec, Sinks}

/** End-to-end config-driven run: JSON → flows → parquet destinations,
  * replicating the reference's `php etl.php config.json` entry point
  * (SURVEY.md §3.1) including re-run idempotence (second run appends 0
  * rows because every mapped row anti-joins against the destination).
  */
class ETLPipelineSpec extends SparkSpec {

  test("config run writes destinations; re-run appends nothing") {
    val tmp = Files.createTempDirectory("graft_etl").toString
    val spec = PipelineSpec.parse(
      """{"tables":[
        | {"flow":"customer -> dim_segment",
        |  "columns":{"cust_id":"[c_custkey]","segment":"[c_mktsegment]",
        |             "source_system":"etl-test"},
        |  "unique":["segment"]},
        | {"flow":"supplier -> dim_supplier",
        |  "columns":["s_suppkey <- [s_suppkey]", "s_name"],
        |  "unique":["s_suppkey"]}
        |]}""".stripMargin)

    // the CLI's loop: <table>.parquet under sf, destinations appended
    // under tmp
    val runTs = ColumnMapping.runTimestamp()
    def runOnce(): Seq[(String, Long)] =
      Main.run(spark, spec, sf, tmp, runTs)
        .map(r => r.destination -> r.appended)

    val first = runOnce()
    assert(first.toMap.apply("dim_segment") === 5L) // 5 distinct segments
    assert(first.toMap.apply("dim_supplier") === 10L)
    // columns follow the mapping (arrow list form incl. self-mapping)
    assert(spark.read.parquet(s"$tmp/dim_supplier").columns.sorted.toSeq ===
      Seq("s_name", "s_suppkey"))

    val second = runOnce()
    assert(second.toMap.apply("dim_segment") === 0L) // idempotent
    assert(second.toMap.apply("dim_supplier") === 0L)
  }

  test("re-run plan: the destination probe adds no aggregate and no " +
    "exchange of its own — one hash exchange per unique column's window") {
    val tmp = Files.createTempDirectory("graft_etl_plan").toString
    val flow = PipelineSpec.parse(
      """{"tables":[{"flow":"customer -> dim_customer",
        |  "columns":["c_custkey","c_name","c_mktsegment"],
        |  "unique":["c_custkey","c_name"]}]}""".stripMargin).flows.head
    val customer = Tables.load(spark, sf, "customer")
    Sinks.appendParquet(ETLPipeline.transform(
      customer.filter("c_custkey <= 100"), flow, None,
      orderCol = Some("c_custkey")), tmp)

    val rerun = ETLPipeline.transform(customer, flow,
      Some(spark.read.parquet(tmp)), orderCol = Some("c_custkey"))
    val plan = rerun.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"expected anti joins:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"the destination keys must not be aggregated:\n$plan")
    val n = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(n === 2, s"expected one hash exchange per window, got $n:\n$plan")
    assert(rerun.count() === customer.filter("c_custkey > 100").count())
  }

  test("query list form: operator strings parse reference-style, coerce " +
    "string-bound values to the column type, AND-join") {
    val spec = PipelineSpec.parse(
      """{"tables":[{"flow":"orders -> big",
        |  "columns":["o_orderkey","o_orderstatus"],
        |  "query":["o_totalprice >= 400000", "o_orderstatus <> F"]}]}"""
        .stripMargin)
    val flow = spec.flows.head
    assert(flow.queryConds === Seq(
      graft.etl.ExistsProbe.Cond("o_totalprice", ">=", "400000"),
      graft.etl.ExistsProbe.Cond("o_orderstatus", "<>", "F")))
    val orders = Tables.load(spark, sf, "orders")
    val out = ETLPipeline.transform(orders, flow, None,
      orderCol = Some("o_orderkey"))
    val expect = orders
      .filter(org.apache.spark.sql.functions.col("o_totalprice") >= 400000.0
        && org.apache.spark.sql.functions.col("o_orderstatus") =!= "F")
      .count()
    assert(out.count() === expect)
    assert(expect > 0) // the fixture actually exercises the predicate
  }

  test("query list form fails fast at PARSE time on malformed conditions " +
    "(etl.php:92-110 posture)") {
    def bad(q: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        PipelineSpec.parse(
          s"""{"tables":[{"flow":"a -> b","columns":["x"],
             |  "query":["$q"]}]}""".stripMargin)
      }
      assert(e.getMessage.contains("exists condition"))
    }
    bad("o_totalprice")             // no operator
    bad("o_totalprice >=")          // no value
    bad("o_totalprice ~~ 4")        // operator outside the allowlist
    bad("bad-name = 4")             // invalid identifier
    // and an unknown COLUMN fails at transform time with a clear message
    val spec = PipelineSpec.parse(
      """{"tables":[{"flow":"orders -> b","columns":["o_orderkey"],
        |  "query":["nope = 1"]}]}""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      ETLPipeline.transform(Tables.load(spark, sf, "orders"),
        spec.flows.head, None, orderCol = Some("o_orderkey"))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("ExistsProbe.exists answers the boolean probe contract") {
    import graft.etl.ExistsProbe
    val orders = Tables.load(spark, sf, "orders")
    assert(ExistsProbe.exists(orders,
      Seq(ExistsProbe.parseCond("o_totalprice >= 400000"))))
    assert(!ExistsProbe.exists(orders,
      Seq(ExistsProbe.parseCond("o_totalprice >= 400000"),
        ExistsProbe.parseCond("o_totalprice < 0"))))
  }
}

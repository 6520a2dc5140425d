package graft

import java.nio.file.Files
import graft.etl._

/** Full config-driven pipeline with a JDBC SOURCE (embedded Derby): the
  * reference's actual shape — config declares connections, the flow reads a
  * database table, maps/dedups, and lands in the destination (reference:
  * sdk/etl.php:79-143 with connections at :128-132).
  */
class JdbcPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("per-flow inline connections override the global block") {
    val spec = PipelineSpec.parse(
      """{"connections": {"from": {"url": "jdbc:global"}},
        | "tables": [
        |  {"flow": "a -> b",
        |   "connections": {"from": {"url": "jdbc:flow-local",
        |                            "options": {"driver": "d"}}}},
        |  {"flow": "c -> d"}]}""".stripMargin)
    assert(spec.sourceConnection(spec.flows(0)).get.url === "jdbc:flow-local")
    assert(spec.sourceConnection(spec.flows(0)).get.options ===
      Map("driver" -> "d"))
    assert(spec.sourceConnection(spec.flows(1)).get.url === "jdbc:global")
    assert(spec.flows(0).inlineTo.isEmpty)

    // a named connection resolves to its entry; an inline `from` on the
    // same flow wins over the name
    val named = PipelineSpec.parse(
      """{"connections": {"from": {"url": "jdbc:global"},
        |                 "erp": {"url": "jdbc:erp"}},
        | "tables": [
        |  {"flow": "a -> b", "connection": "erp"},
        |  {"flow": "c -> d", "connection": "erp",
        |   "connections": {"from": {"url": "jdbc:flow-local"}}}]}"""
        .stripMargin)
    assert(named.sourceConnection(named.flows(0)).get.url === "jdbc:erp")
    assert(named.sourceConnection(named.flows(1)).get.url ===
      "jdbc:flow-local")

    // a misspelled name fails at parse time instead of reading the
    // global source
    val e = intercept[IllegalArgumentException](PipelineSpec.parse(
      """{"connections": {"from": {"url": "jdbc:global"},
        |                 "erp": {"url": "jdbc:erp"}},
        | "tables": [{"flow": "a -> b", "connection": "epr"}]}"""
        .stripMargin))
    assert(e.getMessage.contains("a -> b") && e.getMessage.contains("epr"),
      e.getMessage)
  }

  test("config with connections block drives a JDBC-source flow") {
    val dbPath = Files.createTempDirectory("graft_derby2").toString + "/db"
    val url = s"jdbc:derby:$dbPath;create=true"
    val opts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")

    // seed the "operational database"
    val seed = Seq((1, "Acme", "ACTIVE"), (2, "Beta", "ACTIVE"),
      (3, "Acme", "INACTIVE")).toDF("id", "company", "status")
    // Spark's default StringType mapping is CLOB in Derby, which can't be
    // compared in pushed-down predicates — declare VARCHARs explicitly.
    JdbcSink.append(seed, url, "src_companies", opts +
      ("createTableColumnTypes" ->
        "company VARCHAR(64), status VARCHAR(16)"))

    val spec = PipelineSpec.parse(
      s"""{"connections": {
         |   "from": {"url": "$url",
         |            "options": {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}}},
         | "tables": [
         |  {"flow": "src_companies -> dim_companies",
         |   "columns": {"company_id": "[id]", "name": "[company]",
         |               "source_system": "erp"},
         |   "unique": ["name"],
         |   "query": "status = 'ACTIVE'"}]}""".stripMargin)

    val conn = spec.sourceConnection(spec.flows.head).get
    assert(conn.url === url)

    val source = Sources.jdbc(spark, conn.url, spec.flows.head.from,
      conn.options)
    // Derby uppercases unquoted identifiers; normalize for the mapping
    val normalized = source.toDF(source.columns.map(_.toLowerCase): _*)
    val out = ETLPipeline.transform(normalized, spec.flows.head,
      destination = None, orderCol = Some("company_id"))
      .orderBy("company_id").collect()

    // status filter drops id=3; dedup on name is a no-op for the survivors
    assert(out.map(_.getInt(0)).toSeq === Seq(1, 2))
    assert(out.map(_.getString(1)).toSeq === Seq("Acme", "Beta"))
    assert(out.forall(_.getString(2) == "erp"))
  }

  test("JDBC DESTINATION: flow lands in the 'to' database; re-run inserts " +
    "nothing (anti-join against the live table)") {
    val dbPath = Files.createTempDirectory("graft_derby3").toString + "/db"
    val url = s"jdbc:derby:$dbPath;create=true"
    val opts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    JdbcSink.append(
      Seq((1, "Acme"), (2, "Beta"), (3, "Acme")).toDF("id", "company"),
      url, "src_companies", opts)

    val spec = PipelineSpec.parse(
      s"""{"connections": {
         |   "from": {"url": "$url",
         |            "options": {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}},
         |   "to":   {"url": "$url",
         |            "options": {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}}},
         | "tables": [
         |  {"flow": "src_companies -> dim_companies2",
         |   "columns": {"company_id": "[id]", "name": "[company]"},
         |   "unique": ["company_id"]}]}""".stripMargin)
    val flow = spec.flows.head
    assert(spec.destinationConnection(flow).get.url === url)

    // first run: destination table doesn't exist → probe yields None,
    // write creates it (the reference's first add_many)
    val Seq(first) = Main.run(spark, spec, sourceDir = "/nonexistent",
      destDir = "/nonexistent", runTs = etl.ColumnMapping.runTimestamp())
    assert(first.destination === "dim_companies2" && first.appended === 3L)

    // second run: every company_id exists in the live destination → the
    // anti-join keeps nothing, zero rows appended (idempotent replay)
    val Seq(second) = Main.run(spark, spec, sourceDir = "/nonexistent",
      destDir = "/nonexistent", runTs = etl.ColumnMapping.runTimestamp())
    assert(second.appended === 0L)
    assert(Sources.jdbc(spark, url, "dim_companies2", opts).count() === 3L)
  }

  test("config run to a JDBC destination: a row the database rejects " +
    "costs that row, not the run") {
    val tmp = Files.createTempDirectory("graft_derby4").toString
    val url = s"jdbc:derby:$tmp/db;create=true"
    val opts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val conn = JdbcSink.connect(url, opts)
    try conn.createStatement().execute(
      "CREATE TABLE dim_guard (company_id INT, name VARCHAR(20) NOT NULL)")
    finally conn.close()
    Seq[(Int, String)]((1, "Acme"), (2, null), (3, "Beta"), (4, "Core"))
      .toDF("id", "company").write.parquet(s"$tmp/src_guard.parquet")

    val spec = PipelineSpec.parse(
      s"""{"connections": {
         |   "to": {"url": "$url",
         |          "options": {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}}},
         | "tables": [
         |  {"flow": "src_guard -> dim_guard",
         |   "columns": {"company_id": "[id]", "name": "[company]"},
         |   "unique": ["company_id"]}]}""".stripMargin)
    val Seq(report) = Main.run(spark, spec, sourceDir = tmp,
      destDir = "/nonexistent", runTs = etl.ColumnMapping.runTimestamp())
    assert(report.read === 4L)
    assert(report.appended === 3L)
    assert(report.failed === 1L)
    assert(report.errors.exists(e =>
      e.toUpperCase.contains("NAME") && e.toUpperCase.contains("NULL")),
      s"expected a NOT NULL violation on NAME, got: ${report.errors}")
    assert(Sources.jdbc(spark, url, "dim_guard", opts).collect()
      .map(_.getAs[Int]("COMPANY_ID")).sorted.toSeq === Seq(1, 3, 4))
  }
}

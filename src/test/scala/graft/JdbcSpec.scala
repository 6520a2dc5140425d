package graft

import java.nio.file.Files
import graft.etl.{Sinks, Sources}

/** Real JDBC sink + source roundtrip against embedded Derby (ships with
  * Spark) — the actual database path of the reference's batch-insert sink
  * and table scans (SURVEY §2.1 S1/S7), not just the parquet stand-in.
  */
class JdbcSpec extends SparkSpec {
  import spark.implicits._

  private val dbPath = Files.createTempDirectory("graft_derby").toString + "/db"
  private val url = s"jdbc:derby:$dbPath;create=true"
  private val opts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")

  test("batched JDBC append then projected/filtered JDBC scan") {
    val src = Seq((1, "alpha", 10.5), (2, "beta", 20.25), (3, "gamma", 30.0))
      .toDF("id", "name", "amount")
    val written = Sinks.jdbc(src, url, "t_items", opts)
    assert(written === 3L)

    // full scan back
    val back = Sources.jdbc(spark, url, "t_items", opts)
    assert(back.count() === 3L)
    assert(back.columns.map(_.toLowerCase).sorted.toSeq ===
      Seq("amount", "id", "name"))

    // predicate pushdown to the database (WHERE reaches Derby)
    val filtered = Sources.jdbc(spark, url, "t_items", opts)
      .filter($"id" > 1).select("name")
    assert(filtered.collect().map(_.getString(0)).sorted.toSeq ===
      Seq("beta", "gamma"))
    val plan = filtered.queryExecution.executedPlan.toString
    // '*' prefix marks filters handled by the database itself
    assert(plan.contains("PushedFilters: [*IsNotNull(id), *GreaterThan(id,1)]"),
      s"JDBC pushdown missing:\n$plan")

    // append mode adds rows (the reference's batch-insert semantics)
    Sinks.jdbc(src.filter($"id" === 1), url, "t_items", opts)
    assert(Sources.jdbc(spark, url, "t_items", opts).count() === 4L)
  }

  private def snapshot(table: String): Seq[(Int, String, Double)] =
    Sources.jdbc(spark, url, table, opts).collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("name"),
        r.getAs[Double]("amount")))
      .sortBy(_._1).toSeq

  test("upsert: update-else-insert in place, idempotent on re-run") {
    val seed = Seq((1, "alpha", 10.0), (2, "beta", 20.0))
      .toDF("id", "name", "amount")
    Sinks.jdbc(seed, url, "t_ups", opts)

    // 2 exists (update), 3 doesn't (insert)
    val batch = Seq((2, "beta2", 25.0), (3, "gamma", 30.0))
      .toDF("id", "name", "amount")
    val applied = graft.etl.JdbcSink.upsert(batch, url, "t_ups",
      Seq("id"), opts)
    assert(applied === 2L)
    val expected = Seq((1, "alpha", 10.0), (2, "beta2", 25.0),
      (3, "gamma", 30.0))
    assert(snapshot("t_ups") === expected)

    // idempotence: the same batch applied again changes nothing
    graft.etl.JdbcSink.upsert(batch, url, "t_ups", Seq("id"), opts)
    assert(snapshot("t_ups") === expected)
  }

  test("delete by key set; replace-children delete-then-insert, idempotent") {
    val kids = Seq((10, 1, "a", 0.0), (11, 1, "b", 0.0), (12, 2, "c", 0.0))
      .toDF("id", "parent", "name", "amount")
    Sinks.jdbc(kids, url, "t_kids", opts)

    // recompute parent 1's children as a fresh set
    val recomputed = Seq((20, 1, "x", 1.0), (21, 1, "y", 1.0))
      .toDF("id", "parent", "name", "amount")
    graft.etl.JdbcSink.replaceChildren(recomputed, url, "t_kids",
      Seq("parent"), opts)
    def ids() = Sources.jdbc(spark, url, "t_kids", opts).collect()
      .map(_.getAs[Int]("id")).sorted.toSeq
    assert(ids() === Seq(12, 20, 21))

    // second run deletes what the first inserted and re-inserts: no growth
    graft.etl.JdbcSink.replaceChildren(recomputed, url, "t_kids",
      Seq("parent"), opts)
    assert(ids() === Seq(12, 20, 21))

    // targeted delete by key tuple
    val deleted = graft.etl.JdbcSink.delete(
      Seq(2).toDF("parent"), url, "t_kids", Seq("parent"), opts)
    assert(deleted === 1L)
    assert(ids() === Seq(20, 21))
  }

  /** A table with a NOT NULL column for poison rows to violate. */
  private def guardTable(name: String): Unit = {
    val conn = graft.etl.JdbcSink.connect(url,
      Some("org.apache.derby.jdbc.EmbeddedDriver"))
    try conn.createStatement().execute(s"""CREATE TABLE $name ("id" INT
      PRIMARY KEY, "name" VARCHAR(20) NOT NULL, "amount" DOUBLE)""")
    finally conn.close()
  }

  test("upsert isolates poison rows: rollback + row-replay, report, heal") {
    guardTable("t_guard")
    val batch = Seq((1, "ok", 1.0), (2, null.asInstanceOf[String], 2.0),
      (3, "fine", 3.0)).toDF("id", "name", "amount")
    val report = graft.etl.JdbcSink.upsertReport(batch, url, "t_guard",
      Seq("id"), opts)
    assert(report.applied === 2L)
    assert(report.failed === 1L)
    assert(report.errors.exists(_.toLowerCase.contains("null")),
      s"expected a NOT NULL violation sample, got: ${report.errors}")
    def ids() = Sources.jdbc(spark, url, "t_guard", opts).collect()
      .map(_.getAs[Int]("id")).sorted.toSeq
    assert(ids() === Seq(1, 3)) // batch-mates of the poison row landed

    // healing the row and re-running completes the set
    val fixed = Seq((2, "healed", 2.0)).toDF("id", "name", "amount")
    graft.etl.JdbcSink.upsert(fixed, url, "t_guard", Seq("id"), opts)
    assert(ids() === Seq(1, 2, 3))
  }

  test("connect retries then fails with the reference's error") {
    val t0 = System.nanoTime()
    val e = intercept[RuntimeException] {
      graft.etl.JdbcSink.connect("jdbc:nosuchdb:x", None,
        attempts = 3, delayMs = 20)
    }
    assert(e.getMessage.contains("Too many attempt"))
    assert((System.nanoTime() - t0) / 1e6 >= 40) // 2 sleeps of 20ms happened

    // the class decides wherever it sits in the chain: a permanent 42
    // behind a wrapper with another state fails on the first attempt, a
    // transient 08 behind the same wrapper is retried every attempt
    def attemptsUntilThrow(inner: String): (Int, Throwable) = {
      var n = 0
      val e = intercept[Throwable] {
        graft.etl.JdbcSink.withRetry(attempts = 3, delayMs = 20) {
          n += 1
          throw new java.sql.SQLException("wrap", "XJ001",
            new java.sql.SQLException("inner", inner))
        }
      }
      (n, e)
    }
    val (permanent, e42) = attemptsUntilThrow("42X05")
    assert(permanent === 1)
    assert(graft.etl.JdbcSink.isMissingRelation(e42))
    val (transient, e08) = attemptsUntilThrow("08001")
    assert(transient === 3)
    assert(e08.getMessage.contains("Too many attempt"))
  }

  test("poison row after a committed batch: its batch replays, the " +
    "batches before and after it land") {
    guardTable("t_cross")
    // one partition, batches {1,2} {3,null} {5}
    val rows = Seq[(Int, String, Double)]((1, "a", 1.0), (2, "b", 2.0),
      (3, "c", 3.0), (4, null, 4.0), (5, "e", 5.0))
      .toDF("id", "name", "amount").coalesce(1)
    val report = graft.etl.JdbcSink.upsertReport(rows, url, "t_cross",
      Seq("id"), opts, batchSize = 2)
    assert(report.applied === 4L)
    assert(report.failed === 1L)
    assert(Sources.jdbc(spark, url, "t_cross", opts).collect()
      .map(_.getAs[Int]("id")).sorted.toSeq === Seq(1, 2, 3, 5))
  }

  test("error samples are capped at 20 per partition; every failure " +
    "is still counted") {
    guardTable("t_cap")
    val rows = (1 to 25).map(i => (i, null.asInstanceOf[String], i.toDouble))
      .toDF("id", "name", "amount").coalesce(1)
    val report = graft.etl.JdbcSink.upsertReport(rows, url, "t_cap",
      Seq("id"), opts)
    assert(report.applied === 0L)
    assert(report.failed === 25L)
    assert(report.errors.size === 20)
  }
}

package graft

import java.nio.file.Files
import java.sql.{DriverManager, SQLException}
import org.apache.spark.TaskContext
import org.apache.spark.sql.functions.udf
import graft.etl.{JdbcSink, Sources}
import graft.etl.JdbcSink.UpsertReport

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
    val written = JdbcSink.append(src, url, "t_items", opts)
    assert(written.applied === 3L)

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
    JdbcSink.append(src.filter($"id" === 1), url, "t_items", opts)
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
    JdbcSink.append(seed, url, "t_ups", opts)

    // 2 exists (update), 3 doesn't (insert)
    val batch = Seq((2, "beta2", 25.0), (3, "gamma", 30.0))
      .toDF("id", "name", "amount")
    val applied = graft.etl.JdbcSink.upsertReport(batch, url, "t_ups",
      Seq("id"), opts).applied
    assert(applied === 2L)
    val expected = Seq((1, "alpha", 10.0), (2, "beta2", 25.0),
      (3, "gamma", 30.0))
    assert(snapshot("t_ups") === expected)

    // idempotence: the same batch applied again changes nothing
    graft.etl.JdbcSink.upsertReport(batch, url, "t_ups", Seq("id"), opts)
    assert(snapshot("t_ups") === expected)
  }

  /** A table with a NOT NULL column for poison rows to violate. */
  private def guardTable(name: String): Unit = {
    val conn = JdbcSink.connect(url, opts)
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
    graft.etl.JdbcSink.upsertReport(fixed, url, "t_guard", Seq("id"), opts)
    assert(ids() === Seq(1, 2, 3))
  }

  test("connect retries then fails with the reference's error") {
    val t0 = System.nanoTime()
    val e = intercept[RuntimeException] {
      JdbcSink.connect("jdbc:nosuchdb:x", attempts = 3, delayMs = 20)
    }
    assert(e.getMessage.contains("Too many attempt"))
    assert((System.nanoTime() - t0) / 1e6 >= 40) // 2 sleeps of 20ms happened

    // the class decides wherever it sits in the chain: a permanent 42
    // behind a wrapper with another state fails on the first attempt, a
    // transient 08 behind the same wrapper is retried every attempt
    def attemptsUntilThrow(inner: String, code: Int = 0): (Int, Throwable) = {
      var n = 0
      val e = intercept[Throwable] {
        graft.etl.JdbcSink.withRetry(attempts = 3, delayMs = 20) {
          n += 1
          throw new java.sql.SQLException("wrap", "XJ001",
            new java.sql.SQLException("inner", inner, code))
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
    // 08004 is Derby's authentication failure (vendor code 40000), which
    // no retry can fix, and also MySQL's "Too many connections" (1040)
    assert(attemptsUntilThrow("08004", 40000)._1 === 1)
    assert(attemptsUntilThrow("08004", 1040)._1 === 3)
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

  test("credentials in the options reach the database: upsert and append " +
    "into a Derby database that requires authentication") {
    val path = Files.createTempDirectory("graft_derby_auth").toString + "/db"
    val setup = JdbcSink.connect(s"jdbc:derby:$path;create=true", opts)
    try Seq("derby.user.etl" -> "secret",
      "derby.authentication.provider" -> "BUILTIN",
      "derby.connection.requireAuthentication" -> "true").foreach {
      case (k, v) => setup.createStatement().execute(
        s"CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY('$k', '$v')")
    } finally setup.close()
    // reboot so the properties hold; a clean shutdown reports 08006
    val down = intercept[SQLException](
      DriverManager.getConnection(s"jdbc:derby:$path;shutdown=true"))
    assert(down.getSQLState === "08006")
    val authUrl = s"jdbc:derby:$path"
    assert(intercept[SQLException](DriverManager.getConnection(authUrl))
      .getSQLState === "08004")

    val creds = opts ++ Map("user" -> "etl", "password" -> "secret")
    val conn = JdbcSink.connect(authUrl, creds)
    try conn.createStatement().execute(
      """CREATE TABLE t_auth ("id" INT PRIMARY KEY, "name" VARCHAR(20))""")
    finally conn.close()
    val upserted = JdbcSink.upsertReport(
      Seq((1, "a"), (2, "b")).toDF("id", "name"), authUrl, "t_auth",
      Seq("id"), creds)
    assert(upserted === UpsertReport(2L, 0L, Nil))
    val appended = JdbcSink.append(Seq((3, "c")).toDF("id", "name"),
      authUrl, "t_auth", creds)
    assert(appended === UpsertReport(1L, 0L, Nil))
    assert(Sources.jdbc(spark, authUrl, "t_auth", creds).collect()
      .map(_.getAs[Int]("id")).sorted.toSeq === Seq(1, 2, 3))
  }

  test("append matches Spark's JDBC writer on table shapes: an existing " +
    "table with upper-cased columns, and a table it creates itself") {
    // created outside graft with unquoted names, which Derby upper-cases:
    // the data frame's lower-case names resolve against them
    val conn = JdbcSink.connect(url, opts)
    try conn.createStatement().execute(
      "CREATE TABLE t_upper (id INT, name VARCHAR(20))")
    finally conn.close()
    val rows = Seq((1, "a"), (2, "b")).toDF("id", "name")
    assert(JdbcSink.append(rows, url, "t_upper", opts).applied === 2L)
    assert(Sources.jdbc(spark, url, "t_upper", opts).collect()
      .map(r => (r.getAs[Int]("ID"), r.getAs[String]("NAME")))
      .sortBy(_._1).toSeq === Seq((1, "a"), (2, "b")))

    // first run: append creates the table (strings map to CLOB on Derby);
    // a null lands in the nullable string column
    val fresh = Seq[(Int, String)]((1, "x"), (2, null)).toDF("id", "name")
    assert(JdbcSink.append(fresh, url, "t_fresh", opts).applied === 2L)
    assert(Sources.jdbc(spark, url, "t_fresh", opts).collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("name")))
      .sortBy(_._1).toSeq === Seq((1, "x"), (2, null)))
  }

  test("a failed append attempt leaves no rows behind: the task retry " +
    "inserts each row once") {
    // one partition of 1,500 rows; the first attempt fails after its first
    // 1,000-row batch ran, and the suite's master retries the task once
    val failFirstAttempt = udf { (id: Long) =>
      if (id == 1200L && TaskContext.get().attemptNumber() == 0)
        throw new IllegalStateException("injected failure")
      id
    }.asNondeterministic()
    val rows = spark.range(1, 1501).coalesce(1)
      .select(failFirstAttempt($"id").as("id"))
    assert(JdbcSink.append(rows, url, "t_retry", opts).applied === 1500L)
    val back = Sources.jdbc(spark, url, "t_retry", opts)
    assert(back.count() === 1500L)
    assert(back.distinct().count() === 1500L)
  }
}

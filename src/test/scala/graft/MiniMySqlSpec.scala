package graft

import java.sql.SQLException

import org.apache.spark.sql.functions._
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types._

import graft.etl.{JdbcSink, MiniMySql}

/** [[JdbcSink]] against MySQL-family dialect behavior (r10-verdict
  * missing item 1): the reference's sinks are MariaDB, s10 gates Derby
  * — these pin the layers where the two dialects DIFFER, through the
  * MiniMySql in-process engine that enforces MySQL's quoting, error
  * codes, and Connector/J batch reporting.
  */
class MiniMySqlSpec extends SparkSpec {
  import spark.implicits._

  private def freshDb(): (String, String, Map[String, String]) = {
    val db = "spec_" + java.util.UUID.randomUUID().toString.take(8)
    MiniMySql.ensureRegistered()
    MiniMySql.createTable(db, "t",
      Seq(MiniMySql.ColDef("id", notNull = true),
        MiniMySql.ColDef("v", notNull = true)),
      pk = Seq("id"))
    (db, MiniMySql.UrlPrefix + db,
      Map("driver" -> "graft.etl.MiniMySqlDriver$"))
  }

  private def scan(db: String) =
    MiniMySql.scanDF(spark, db, "t", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))

  test("upsert with backtick quoting: inserts, then updates-else-inserts " +
    "through the SUCCESS_NO_INFO re-probe") {
    val (db, url, opts) = freshDb()
    val seed = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    assert(JdbcSink.upsertReport(seed, url, "t", Seq("id"), opts)
      .applied === 3L)
    val upd = Seq((2L, "B"), (3L, "C"), (4L, "d")).toDF("id", "v")
    assert(JdbcSink.upsertReport(upd, url, "t", Seq("id"), opts)
      .applied === 3L)
    assert(scan(db).orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "B"), (3L, "C"), (4L, "d")))
  }

  test("quoting follows the URL's dialect: upsertReport with no quoting " +
    "argument inserts, then updates") {
    val (db, url, opts) = freshDb()
    assert(JdbcDialects.get(url).quoteIdentifier("v") === "`v`")
    val seed = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(JdbcSink.upsertReport(seed, url, "t", Seq("id"), opts) ===
      JdbcSink.UpsertReport(2L, 0L, Nil))
    val upd = Seq((2L, "B")).toDF("id", "v")
    assert(JdbcSink.upsertReport(upd, url, "t", Seq("id"), opts) ===
      JdbcSink.UpsertReport(1L, 0L, Nil))
    assert(scan(db).orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "B")))
  }

  test("the dialect tripwire: double-quoted identifiers are a 1064/42000 " +
    "syntax error, fail-fast (never retried)") {
    val (_, url, opts) = freshDb()
    val conn = JdbcSink.connect(url, opts)
    val t0 = System.nanoTime()
    // no JdbcSink write emits double quotes for this URL any more, so the
    // statement is raw, under the connection retry policy
    val e = try intercept[SQLException] {
      JdbcSink.withRetry(attempts = 7, delayMs = 3000) {
        conn.prepareStatement("UPDATE t SET \"v\" = ? WHERE \"id\" = ?")
      }
    } finally conn.close()
    // class-42 states are non-retryable: the 7x3s backoff must NOT run
    assert((System.nanoTime() - t0) / 1e9 < 3.0)
    def states(t: Throwable): Set[String] = {
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collect {
        case s: SQLException => Option(s.getSQLState).getOrElse("")
      }.toSet
    }
    assert(states(e).contains("42000"))
  }

  test("a missing table is MySQL's 1146/42S02 and isMissingRelation " +
    "sees it") {
    val (_, url, opts) = freshDb()
    val df = Seq((1L, "a")).toDF("id", "v")
    // the upsert propagates it instead of counting the rows as failed
    val e = intercept[org.apache.spark.SparkException](
      JdbcSink.upsertReport(df, url, "missing_tbl", Seq("id"), opts))
    assert(JdbcSink.isMissingRelation(e))
  }

  test("poison rows carry MySQL 1048/23000 and are isolated, not fatal: " +
    "batch-mates land, the null row is counted out") {
    val (db, url, opts) = freshDb()
    val rows = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, null), (3L, "c")).toDF("id", "v")
    val rpt = JdbcSink.upsertReport(rows, url, "t", Seq("id"), opts)
    assert(rpt.applied === 2L)
    assert(rpt.failed === 1L)
    assert(rpt.errors.exists(_.contains("cannot be null")))
    assert(scan(db).orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (3L, "c")))
  }

  test("upsert is idempotent under the dialect (at-least-once safety)") {
    val (db, url, opts) = freshDb()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    JdbcSink.upsertReport(df, url, "t", Seq("id"), opts)
    JdbcSink.upsertReport(df, url, "t", Seq("id"), opts)
    assert(scan(db).orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b")))
  }
}

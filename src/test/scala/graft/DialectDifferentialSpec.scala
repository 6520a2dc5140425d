package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{JdbcSink, MiniMySql, Sources}

/** Differential gate for the MySQL dialect double: the SAME mutation
  * plan (seed → overlapping upsert → poison batch) runs
  * against live embedded Derby and against MiniMySql, and the final
  * tables must be IDENTICAL — the two engines differ in everything
  * JdbcSink is sensitive to (quoting, batch-count reporting, SQLState
  * vocabulary), so convergence is evidence the double's dialect
  * behaviors sit behind the same update-else-insert semantics a real
  * server gives, not a parallel implementation of the test's
  * expectations.
  */
class DialectDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  /** One full mutation plan against a connection; returns the table. */
  private def runPlan(url: String, opts: Map[String, String],
                      seedVia: DataFrame => Unit,
                      read: () => DataFrame): DataFrame = {
    seedVia(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v"))
    // overlapping upsert: update 3-4, insert 5-6 — forced through
    // whatever batch-count reporting the engine gives
    JdbcSink.upsertReport(
      Seq((3L, "C"), (4L, "D"), (5L, "e"), (6L, "f")).toDF("id", "v"),
      url, "t_diff", Seq("id"), opts)
    // poison batch: null v on id=7 is isolated, 8 lands
    JdbcSink.upsertReport(
      Seq[(java.lang.Long, String)]((7L, null), (8L, "h")).toDF("id", "v"),
      url, "t_diff", Seq("id"), opts)
    read()
  }

  test("Derby and MiniMySql converge to the identical table under the " +
    "same seed/upsert/poison plan") {
    // Derby side — table created with the SAME constraints the
    // MiniMySql side declares (PK + NOT NULL), so the poison row is
    // rejected by both engines rather than accepted by a
    // constraint-free Spark-writer table (the first run of this spec
    // caught exactly that asymmetry: Derby landed (7, null))
    val tmp = java.nio.file.Files.createTempDirectory("graft_diff").toString
    val derbyUrl = s"jdbc:derby:$tmp/db;create=true"
    val derbyOpts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    locally {
      val c = JdbcSink.connect(derbyUrl, derbyOpts)
      try c.createStatement().executeUpdate(
        """CREATE TABLE t_diff ("id" BIGINT NOT NULL PRIMARY KEY,
          | "v" VARCHAR(100) NOT NULL)""".stripMargin)
      finally c.close()
    }
    val derby = runPlan(derbyUrl, derbyOpts,
      seedVia = df => JdbcSink.upsertReport(df, derbyUrl, "t_diff",
        Seq("id"), derbyOpts),
      read = () => Sources.jdbc(spark, derbyUrl, "t_diff", derbyOpts)
        .select(col("id").cast("long"), col("v")))
    // MiniMySql side (backticks, SUCCESS_NO_INFO batches, MySQL states)
    MiniMySql.ensureRegistered()
    val db = "diff_" + java.util.UUID.randomUUID().toString.take(8)
    val myUrl = MiniMySql.UrlPrefix + db
    val myOpts = Map("driver" -> "graft.etl.MiniMySqlDriver$")
    MiniMySql.createTable(db, "t_diff",
      Seq(MiniMySql.ColDef("id", notNull = true),
        MiniMySql.ColDef("v", notNull = true)), pk = Seq("id"))
    val mini = runPlan(myUrl, myOpts,
      seedVia = df => JdbcSink.upsertReport(df, myUrl, "t_diff", Seq("id"),
        myOpts),
      read = () => MiniMySql.scanDF(spark, db, "t_diff", schema))
    val a = derby.orderBy("id").as[(Long, String)].collect().toSeq
    val b = mini.orderBy("id").as[(Long, String)].collect().toSeq
    assert(a === b)
    assert(a === Seq((1L, "a"), (2L, "b"), (3L, "C"), (4L, "D"), (5L, "e"),
      (6L, "f"), (8L, "h")))
  }

  test("concurrent partitions through MiniMySql's writer lock: a " +
    "4-partition upsert lands every row exactly once") {
    MiniMySql.ensureRegistered()
    val db = "conc_" + java.util.UUID.randomUUID().toString.take(8)
    val url = MiniMySql.UrlPrefix + db
    val opts = Map("driver" -> "graft.etl.MiniMySqlDriver$")
    MiniMySql.createTable(db, "t_diff",
      Seq(MiniMySql.ColDef("id", notNull = true),
        MiniMySql.ColDef("v", notNull = true)), pk = Seq("id"))
    val rows = (1L to 400L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(4) // 4 executor connections mutating concurrently
    assert(JdbcSink.upsertReport(rows, url, "t_diff", Seq("id"), opts,
      batchSize = 50).applied === 400L)
    val got = MiniMySql.scanDF(spark, db, "t_diff", schema)
    assert(got.count() === 400L)
    assert(got.select(sum(col("id"))).as[Long].head() === 400L * 401 / 2)
    // idempotent re-run under the same concurrency
    assert(JdbcSink.upsertReport(rows, url, "t_diff", Seq("id"), opts,
      batchSize = 50).applied === 400L)
    assert(MiniMySql.scanDF(spark, db, "t_diff", schema).count() === 400L)
  }
}

package perfbench

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.JdbcSink

import Workload.{dirBytes, path, expect}

/** The reference's update-else-insert sink: `JdbcSink.upsertReport` of a
  * seeded batch into an embedded Derby table with a PRIMARY KEY, pre-seeded
  * so that half the batch updates existing keys and half inserts new ones.
  * Executor-side JDBC batching is the work; nothing shuffles.
  *
  * Derby runs with its default durability: the log is forced to disk at
  * every commit (the sink commits every `BatchSize` rows per partition).
  */
final class JdbcWorkload(val spark: SparkSession, seed: Long, scale: Double,
                         work: String) extends Workload {
  import JdbcWorkload._

  /** Pristine rows; the batch holds as many, half of them updates. */
  private val n0 = math.max(1000L, (BaseRows * scale).toLong)
  private val half = n0 / 2
  private val batchPath = s"$work/src/batch.parquet"
  private val url = s"jdbc:derby:$work/derby/bench;create=true"
  private val options = Map("driver" -> Driver)

  private var report: JdbcSink.UpsertReport = _
  // expected (rows, sum of amount) per "ver" after a pass
  private var expected = Map.empty[Int, (Long, Long)]

  val sourceRoot: String = s"$work/src"
  val destRoot: String = s"$work/derby"
  def inputRows: Long = 2 * half

  private def h(salt: Int): Column = xxhash64(col("id"), lit(seed), lit(salt))
  private def amount(ver: Int): Column = pmod(h(ver), lit(1000000L))
  private def name: Column = concat(lit("acct-"), pmod(h(7), lit(100000L)).cast("string"))

  def generate(): Seq[(String, Long, Long)] = {
    val parts = spark.sparkContext.defaultParallelism
    val pristine = spark.range(0, n0, 1, parts)
      .select(col("id"), name.as("name"), amount(0).as("amount"), lit(0).as("ver"))
    // Even keys below n0 are updated, keys from n0 up are inserted; rows
    // are shuffled so every JDBC batch mixes both.
    val batch = spark.range(0, 2 * half, 1, parts)
      .select(when(col("id") < half, col("id") * 2)
        .otherwise(col("id") - half + n0).as("id"))
      .select(col("id"), name.as("name"), amount(1).as("amount"), lit(1).as("ver"))
      .orderBy(h(9))
    batch.write.mode("overwrite").parquet(batchPath)
    withConnection { c =>
      val st = c.createStatement()
      Seq("bench_pristine", "bench_target").foreach { t =>
        st.execute(s"""CREATE TABLE $t ("id" BIGINT PRIMARY KEY,
          |"name" VARCHAR(32), "amount" BIGINT, "ver" INT)""".stripMargin)
      }
    }
    pristine.write.mode("append").option("batchsize", "10000")
      .jdbc(url, "bench_pristine", props)
    def sums(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col("amount"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val b = spark.read.parquet(batchPath)
    expected = Map(
      1 -> sums(b),
      0 -> sums(pristine.join(b.select("id"), Seq("id"), "left_anti")))
    Seq(("bench_pristine", n0, dirBytes(path(s"$work/derby"))),
      ("batch", 2 * half, dirBytes(path(batchPath))))
  }

  def reset(): Unit = withConnection { c =>
    val st = c.createStatement()
    st.execute("TRUNCATE TABLE bench_target")
    st.executeUpdate("INSERT INTO bench_target SELECT * FROM bench_pristine")
    c.commit()
    val got = rowCount(c)
    expect(got == n0, s"restored bench_target holds $got rows, pristine $n0")
  }

  def pass(tr: Tracer, root: Long): Map[String, Double] = {
    val batch = tr.span("src.load", root)(_ => spark.read.parquet(batchPath))
    report = tr.span("jdbc.upsert", root)(_ =>
      JdbcSink.upsertReport(batch, url, "bench_target", Seq("id"), options,
        batchSize = BatchSize))
    Map("jdbc.rows_applied" -> report.applied.toDouble,
      "jdbc.rows_failed" -> report.failed.toDouble)
  }

  def check(): Unit = {
    expect(report.failed == 0,
      s"upsert failed ${report.failed} rows: ${report.errors.take(3)}")
    expect(report.applied == 2 * half,
      s"upsert applied ${report.applied} of ${2 * half} rows")
    withConnection { c =>
      expect(rowCount(c) == n0 + half, "row count after upsert")
      expected.foreach { case (ver, (rows, total)) =>
        val rs = c.createStatement().executeQuery(
          s"""SELECT COUNT(*), SUM("amount") FROM bench_target WHERE "ver" = $ver""")
        rs.next()
        val got = (rs.getLong(1), rs.getLong(2))
        expect(got == (rows, total),
          s"ver=$ver rows/sum of amount read back $got, expected ${(rows, total)}")
      }
    }
  }

  private def rowCount(c: Connection): Long = {
    val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM bench_target")
    rs.next()
    rs.getLong(1)
  }

  private def props: java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("driver", Driver)
    p
  }

  private def withConnection[T](body: Connection => T): T = {
    Class.forName(Driver)
    val c = DriverManager.getConnection(url)
    try {
      c.setAutoCommit(false)
      val r = body(c)
      c.commit()
      r
    } finally c.close()
  }
}

object JdbcWorkload {
  /** Pristine rows at scale 1; the batch upserts as many. */
  val BaseRows = 30000L
  val BatchSize = 1000
  val Driver = "org.apache.derby.jdbc.EmbeddedDriver"

  /** Shuts the embedded engine down so its files are closed. */
  def shutdown(): Unit =
    try DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case _: java.sql.SQLException => () }
}

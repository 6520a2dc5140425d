package perfbench

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.etl.{ColumnMapping, ETLPipeline, FlowSpec, Orchestrator, PipelineSpec, Sinks}

import Workload.{dataFiles, deleteTree, dirBytes, footerRows, linkTree, path, expect}

/** The config-driven migration, as `graft.Main.runFlow` runs it:
  * `PipelineSpec.parse` → `Orchestrator.runStages` → per flow
  * `spark.read.parquet` (source and destination) → `ETLPipeline.transform`
  * → `Sinks.appendParquet`. Two flows with independent destinations make
  * one concurrent stage.
  *
  * `initial_load` (rerun = false) migrates into an empty destination each
  * pass: dedup shuffles and the parquet writer do the work.
  * `rerun_delta` (rerun = true) re-runs the same config over the full
  * sources plus about 2% new rows against the destination the initial load
  * produced, restored before every pass: the destination scans and
  * anti-joins do the work and the write is small.
  */
final class EtlWorkload(val spark: SparkSession, seed: Long, scale: Double,
                        work: String, rerun: Boolean) extends Workload {
  import EtlWorkload._

  private val n = math.max(1000L, (BaseRows * scale).toLong)
  private val delta = if (rerun) n / 50 else 0L
  private val parts = spark.sparkContext.defaultParallelism * 2
  private val src = s"$work/src"
  private val pristine = s"$work/pristine"
  private val destBase = s"$work/dest"
  private val flows = PipelineSpec.parse(Config).flows

  private var passNo = 0
  private var dest = s"$destBase/pass-0"
  private var pristineRows = Map.empty[String, Long]
  // (rows, checksum) appended per destination by the first checked pass
  private val reference = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  private val outputs = ArrayBuffer[DataFrame]()

  val sourceRoot: String = src
  val destRoot: String = destBase
  def inputRows: Long = 2 * (n + delta)

  def generate(): Seq[(String, Long, Long)] = {
    writeTable("customers", customers(0, n), "overwrite")
    writeTable("orders", orders(0, n), "overwrite")
    if (rerun) {
      // The destination a first migration of the base rows leaves behind.
      dest = pristine
      pass(new Tracer(false), 0L)
      dest = s"$destBase/pass-0"
      pristineRows = flows.map(f => f.to -> rowsIn(s"$pristine/${f.to}")).toMap
      writeTable("customers", customers(n, n + delta), "append")
      writeTable("orders", orders(n, n + delta), "append")
    }
    Seq("customers", "orders").map { t =>
      (t, n + delta, dirBytes(path(s"$src/$t.parquet")))
    }
  }

  def reset(): Unit = {
    deleteTree(path(dest).toAbsolutePath)
    passNo += 1
    dest = s"$destBase/pass-$passNo"
    if (rerun) {
      linkTree(path(pristine), path(dest))
      pristineRows.foreach { case (t, rows) =>
        val got = rowsIn(s"$dest/$t")
        expect(got == rows, s"restored $t holds $got rows, pristine $rows")
      }
    }
    outputs.clear()
  }

  def pass(tr: Tracer, root: Long): Map[String, Double] = {
    val spec = tr.span("config.parse", root)(_ => PipelineSpec.parse(Config))
    val runTs = ColumnMapping.runTimestamp()
    val appended = Orchestrator.stagesByDestination(spec).flatMap { stage =>
      tr.span("orch.stage", root) { sid =>
        Orchestrator.runStages(Seq(stage.map { flow => () =>
          tr.span("orch.flow", sid)(fid => runFlow(tr, fid, flow, runTs))
        })).head
      }
    }
    Map("rows_appended" -> appended.sum.toDouble)
  }

  private def runFlow(tr: Tracer, parent: Long, flow: FlowSpec,
                      runTs: String): Long = {
    val source = tr.span("src.load", parent)(_ =>
      spark.read.parquet(s"$src/${flow.from}.parquet"))
    val destination = tr.span("dest.load", parent) { _ =>
      val p = s"$dest/${flow.to}"
      if (Files.exists(path(p))) Some(spark.read.parquet(p)) else None
    }
    val out = tr.span("etl.transform", parent)(_ =>
      ETLPipeline.transform(source, flow, destination, runTs = runTs))
    outputs.synchronized(outputs += out)
    tr.span("sink.appendParquet", parent)(_ =>
      Sinks.appendParquet(out, s"$dest/${flow.to}"))
  }

  /** Runs each flow's transform output into the `noop` sink, concurrently
    * like the stage did: the plan's own execution time without the writer.
    */
  override def diagnose(tr: Tracer, root: Long): Map[String, Double] = {
    val outs = outputs.synchronized(outputs.toList)
    tr.span("etl.exec.stage", root) { sid =>
      Orchestrator.runStages(Seq(outs.map { o => () =>
        tr.span("etl.exec", sid)(_ =>
          o.write.format("noop").mode("overwrite").save())
      }))
    }
    Map.empty
  }

  /** Every pass: the appended rows' count and content checksum per
    * destination equal the first pass's. The last pass is also verified in
    * full (see `verify`); identical content carries that over to the rest.
    */
  def check(): Unit =
    Await.result(Future.sequence(flows.map(f => Future(check(f)))), Duration.Inf)

  private def check(flow: FlowSpec): Unit = {
    val t = flow.to
    val app = appended(t)
    val r = app.agg(count(lit(1)),
      sum(pmod(xxhash64(app.columns.map(col).toSeq: _*), lit(1000000007L)))).head()
    val got = (r.getLong(0), r.getLong(1))
    expect(got._1 > 0, s"$t: no rows appended")
    val ref = reference.putIfAbsent(t, got)
    expect(ref == null || ref == got,
      s"$t: appended (rows, checksum) $got differs from the first pass's $ref")
  }

  override def verify(): Unit = Await.result(
    Future.sequence(flows.map(f => Future(verify(f, appended(f.to))))), Duration.Inf)

  /** Rows appended by the last pass: files the pristine destination lacks. */
  private def appended(t: String): DataFrame = {
    val fresh = dataFiles(path(s"$dest/$t")) -- dataFiles(path(s"$pristine/$t"))
    expect(fresh.nonEmpty, s"$t: pass appended no file")
    spark.read.parquet(fresh.toSeq.sorted.map(f => s"$dest/$t/$f"): _*)
  }

  /** Appended keys are unique per unique column after trim and absent from
    * the prior destination; the single-key flow appends exactly the
    * distinct trimmed refs the destination lacked.
    */
  private def verify(flow: FlowSpec, app: DataFrame): Unit = {
    val t = flow.to
    def norm(df: DataFrame, k: String): Column =
      if (df.schema(k).dataType == StringType) trim(col(k)) else col(k)
    val rows = app.count()
    val distinct = app.agg(count_distinct(norm(app, flow.unique.head)),
      flow.unique.tail.map(k => count_distinct(norm(app, k))): _*).head()
    flow.unique.zipWithIndex.foreach { case (k, i) =>
      expect(distinct.getLong(i) == rows,
        s"$t: ${distinct.getLong(i)} distinct trimmed $k over $rows appended rows")
    }
    val prior = if (rerun) Some(spark.read.parquet(s"$pristine/$t")) else None
    prior.foreach { p =>
      flow.unique.foreach { k =>
        val clash = app.select(norm(app, k).as("k"))
          .join(p.select(norm(p, k).as("k")), Seq("k"), "left_semi").count()
        expect(clash == 0, s"$t: $clash appended $k values already existed")
      }
    }
    if (t == "dst_orders") {
      val refs = spark.read.parquet(s"$src/orders.parquet")
        .select(trim(col("ref")).as("k")).distinct()
      val expected = prior.fold(refs)(p =>
        refs.join(p.select(trim(col("ref")).as("k")), Seq("k"), "left_anti")).count()
      expect(rows == expected, s"$t: appended $rows rows, expected $expected")
    }
  }

  private def rowsIn(dir: String): Long =
    footerRows(path(dir), spark.sparkContext.hadoopConfiguration)

  private def writeTable(name: String, df: DataFrame, mode: String): Unit =
    df.write.mode(mode).parquet(s"$src/$name.parquet")

  private def rows(from: Long, until: Long): DataFrame =
    spark.range(from, until, 1, if (from == 0) parts else 2).toDF()

  private def h(salt: Int): Column = xxhash64(col("id"), lit(seed), lit(salt))

  /** About 10% of rows repeat an earlier row's key (a key below their own
    * index), about 10% of string keys carry trailing blanks.
    */
  private def key(dupSalt: Int, pickSalt: Int, share: Int): Column =
    when(pmod(h(dupSalt), lit(share.toLong)) === 0 && col("id") > 0,
      pmod(h(pickSalt), col("id"))).otherwise(col("id"))

  private def blanks(s: Column, salt: Int): Column =
    when(pmod(h(salt), lit(10L)) === 0, concat(s, lit("  "))).otherwise(s)

  private def customers(from: Long, until: Long): DataFrame =
    rows(from, until).select(
      key(1, 2, 10).as("id"),
      blanks(concat(lit("u"), key(3, 4, 20).cast("string"),
        lit("@mail.example")), 5).as("email"),
      concat(lit("name_"), pmod(h(6), lit(100000L)).cast("string")).as("name"),
      element_at(array(Cities.map(lit): _*),
        (pmod(h(7), lit(Cities.size.toLong)) + 1).cast("int")).as("city"),
      pmod(h(8), lit(1000L)).cast("int").as("score"),
      when(pmod(h(9), lit(20L)) === 0, lit("deleted"))
        .otherwise(lit("active")).as("status"))

  private def orders(from: Long, until: Long): DataFrame =
    rows(from, until).select(
      blanks(concat(lit("R"), lpad(key(11, 12, 10).cast("string"), 10, "0")),
        13).as("ref"),
      pmod(h(14), lit(n)).as("customer_id"),
      (pmod(h(15), lit(1000000L)) / 100.0).as("total"),
      date_add(lit("2020-01-01").cast("date"),
        pmod(h(16), lit(1500L)).cast("int")).as("placed"))
}

object EtlWorkload {
  /** Source rows per table at scale 1. */
  val BaseRows = 200000L

  val Cities = Seq("Paris", "Lyon", "Abidjan", "Dakar", "Lille", "Nantes",
    "Bouake", "Yamoussoukro", "Marseille", "Toulouse", "Bordeaux", "Rennes")

  /** Two independent flows, one stage: the first has two unique columns
    * and a `query` filter, the second one string key and the list form.
    */
  val Config: String =
    """{"tables": [
      |  {"flow": "customers -> dst_customers",
      |   "columns": {"id": "[id]", "email": "[email]", "name": "[name]",
      |               "city": "[city]", "score": "[score]", "origin": "legacy"},
      |   "unique": ["id", "email"],
      |   "query": "status <> 'deleted'"},
      |  {"flow": "orders -> dst_orders",
      |   "columns": ["ref", "customer_id", "amount <- [total]",
      |               "placed_on <- [placed]"],
      |   "unique": ["ref"]}
      |]}""".stripMargin
}

package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.DefaultFormats
import org.json4s.jackson.JsonMethods

import graft.etl.{ColumnMapping, ETLPipeline, PipelineSpec}

/** The CLI's migration loop, `Main.run`, end to end on parquet: stage
  * order, the per-flow report against hand counts, re-run idempotence, a
  * URI destination, and the plan the observed read count leaves behind.
  */
class MainSpec extends SparkSpec {
  import spark.implicits._

  private val runTs = ColumnMapping.runTimestamp()

  /** Source `a` (8 rows, an unused `note` column) and a destination `x`
    * already holding "Delta ". The staged-file layout names a source
    * `<t>.parquet` and a destination `<t>`, so a link makes `x`'s
    * destination directory flow 2's source.
    *
    * Flow 1 `a -> x`, unique name, query status = 'A': ids 1, 2, 3, 5, 6, 8
    * pass the query (read 6); 3 ("Acme ") repeats 1's name after trimming
    * and 5's "Delta" is already in `x`, so 1, 2, 6, 8 are appended.
    * Flow 2 `x -> y`, query id < 100: it reads only what flow 1 appended.
    */
  private def fixture(): (String, String, PipelineSpec) = {
    val tmp = Files.createTempDirectory("graft_main").toString
    val (src, dest) = (s"$tmp/src", s"$tmp/dest")
    Seq((1, "Acme", "A", "n"), (2, "Beta", "A", "n"), (3, "Acme ", "A", "n"),
      (4, "Core", "B", "n"), (5, "Delta", "A", "n"), (6, "Echo", "A", "n"),
      (7, "Beta", "B", "n"), (8, "Fox", "A", "n"))
      .toDF("id", "name", "status", "note")
      .coalesce(1).write.parquet(s"$src/a.parquet")
    Seq((100, "Delta ")).toDF("id", "name").write.parquet(s"$dest/x")
    Files.createSymbolicLink(Paths.get(s"$src/x.parquet"), Paths.get(s"$dest/x"))
    val spec = PipelineSpec.parse(
      """{"tables":[
        | {"flow":"a -> x", "columns":{"id":"[id]","name":"[name]"},
        |  "unique":["name"], "query":"status = 'A'"},
        | {"flow":"x -> y", "columns":{"key":"[id]","label":"[name]"},
        |  "unique":["key"], "query":"id < 100"}
        |]}""".stripMargin)
    (src, dest, spec)
  }

  test("Main.run: flows run in stage order and report hand-counted reads " +
    "and appends; a re-run appends nothing and reads the same") {
    val (src, dest, spec) = fixture()
    def counts(rs: Seq[Main.FlowReport]) =
      rs.map(r => (r.destination, r.read, r.appended, r.failed))

    val first = Main.run(spark, spec, src, dest, runTs)
    assert(counts(first) === Seq(("x", 6L, 4L, 0L), ("y", 4L, 4L, 0L)))
    assert(first.forall(r => r.errors.isEmpty &&
      Seq(r.loadMs, r.planMs, r.writeMs).forall(_ >= 0)))
    assert(spark.read.parquet(s"$dest/x").as[(Int, String)].collect()
      .map(_._1).sorted.toSeq === Seq(1, 2, 6, 8, 100))
    assert(spark.read.parquet(s"$dest/y").select("key").as[Int].collect()
      .sorted.toSeq === Seq(1, 2, 6, 8))

    val second = Main.run(spark, spec, src, dest, runTs)
    assert(counts(second) === Seq(("x", 6L, 0L, 0L), ("y", 4L, 0L, 0L)))

    // the CLI's line round-trips to the report
    implicit val formats: DefaultFormats.type = DefaultFormats
    assert(JsonMethods.parse(first.head.json).extract[Main.FlowReport] ===
      first.head)
  }

  test("a URI destDir is probed on its own filesystem: a re-run appends " +
    "nothing") {
    val tmp = Files.createTempDirectory("graft_main_uri").toString
    Seq((1, "Acme"), (2, "Beta")).toDF("id", "name")
      .write.parquet(s"$tmp/a.parquet")
    val spec = PipelineSpec.parse(
      """{"tables":[{"flow":"a -> x", "columns":["id","name"],
        |  "unique":["id"]}]}""".stripMargin)
    def appended() = Main.run(spark, spec, tmp, s"file://$tmp/dest", runTs)
      .map(_.appended)
    assert(appended() === Seq(2L))
    assert(appended() === Seq(0L))
  }

  test("the CLI sets the shuffle width only for a local master with none " +
    "given") {
    assert(Main.shuffleWidth("local[4]", None) ===
      Some(Runtime.getRuntime.availableProcessors()))
    assert(Main.shuffleWidth("yarn", None) === None)
    assert(Main.shuffleWidth("local[4]", Some("64")) === None)
  }

  test("the observed read count blocks no pushdown: the source scan's " +
    "filters and schema match the unobserved transform's") {
    val (src, dest, spec) = fixture()
    def scan(plan: String): Set[String] = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("/a.parquet"))
      .flatMap("(PushedFilters: \\[[^\\]]*\\]|ReadSchema: \\S+)".r.findAllIn)
      .toSet
    val unobserved = scan(ETLPipeline.transform(
      spark.read.parquet(s"$src/a.parquet"), spec.flows.head,
      Some(spark.read.parquet(s"$dest/x")), runTs = runTs)
      .queryExecution.executedPlan.toString)
    assert(unobserved.exists(_.contains("EqualTo(status,A)")), unobserved)
    assert(unobserved.exists(s => s.startsWith("ReadSchema") &&
      !s.contains("note")), unobserved)

    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Main.run(spark, spec, src, dest, runTs)
      // listener delivery is asynchronous
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!plans.asScala.exists(_.contains("/a.parquet")) &&
        System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val cli = plans.asScala.map(scan).filter(_.nonEmpty).toSeq
    assert(cli.nonEmpty, plans.asScala.mkString("\n"))
    cli.foreach(s => assert(s === unobserved))
  }
}

package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.etl.{ETLPipeline, JdbcSink, Orchestrator, PipelineSpec, Sinks}
import graft.etl.JdbcSink.UpsertReport

/** CLI entry point — parity with the reference's `php etl.php <config.json>`
  * (reference: sdk/etl.php:161, CLI parse sdk/lib/console.php:13-56).
  *
  * Usage:
  *   graft.Main <config.json> <sourceDir> <destDir> [--master local[*]]
  *
  * Source tables are parquet files named `<table>.parquet` under sourceDir;
  * destinations are parquet directories under destDir (append mode, created
  * on first write). Both may be filesystem URIs (`file://`, `hdfs://`, …).
  * Flows run in dependency stages (sequential between stages, parallel
  * within — the shell-orchestration parity of `etl/Orchestrator`) through
  * [[run]], and each flow prints one JSON line, its [[FlowReport]]: the
  * rows it read and appended, like the reference's per-table count and
  * progress output, plus its failed rows and up to three of their errors
  * when a database destination rejected some.
  */
object Main {

  /** One flow's outcome. `read` counts the source rows that pass the
    * flow's `query` — the reference's cursor count
    * (sdk/migrate_assures.php:404-406); `appended` the rows that landed
    * after dedup and the destination probe; `failed` the rows a database
    * destination rejected, with up to three of their `errors`. The
    * milliseconds are wall time for loading the source and destination,
    * planning the transform and running the write job that gathers every
    * count.
    */
  final case class FlowReport(destination: String, read: Long, appended: Long,
                              failed: Long, errors: Seq[String], loadMs: Long,
                              planMs: Long, writeMs: Long) {
    def json: String = Serialization.write(this)(DefaultFormats)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: graft.Main <config.json> <sourceDir> <destDir> [--master M]")
      sys.exit(2)
    }
    val Array(configPath, sourceDir, destDir) = args.take(3)
    val master = args.sliding(2).collectFirst {
      case Array("--master", m) => m
    }.getOrElse("local[*]")

    if (!Files.exists(Paths.get(configPath))) {
      System.err.println(s"config not found: $configPath")
      sys.exit(2)
    }
    val spec =
      try PipelineSpec.parse(Files.readString(Paths.get(configPath)))
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"invalid config: ${e.getMessage}")
          sys.exit(2); throw e
      }

    val builder = SparkSession.builder()
      .master(master)
      .appName("graft-etl")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // spark-submit hands its --conf values over as system properties
    shuffleWidth(master, sys.props.get("spark.sql.shuffle.partitions"))
      .foreach(n => builder.config("spark.sql.shuffle.partitions", n.toLong))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, spec, sourceDir, destDir, etl.ColumnMapping.runTimestamp())
      .foreach(r => println(r.json))
    finally spark.stop()
  }

  /** The shuffle width the CLI sets: a `local` master's cores, unless the
    * user gave one. A builder option overrides a spark-submit `--conf`, and
    * on a cluster the driver's cores say nothing about the executors'.
    */
  private[graft] def shuffleWidth(master: String,
                                  userWidth: Option[String]): Option[Int] =
    if (master.startsWith("local") && userWidth.isEmpty)
      Some(Runtime.getRuntime.availableProcessors())
    else None

  /** The migration loop: the config's flows in
    * [[Orchestrator.stagesByDestination]] stages, one [[FlowReport]] per
    * flow in config order.
    */
  def run(spark: SparkSession, spec: PipelineSpec, sourceDir: String,
          destDir: String, runTs: String): Seq[FlowReport] = {
    import scala.concurrent.ExecutionContext.Implicits.global
    Orchestrator.runStages(Orchestrator.stagesByDestination(spec).map(_.map {
      flow => () => runFlow(spark, spec, flow, sourceDir, destDir, runTs)
    })).flatten
  }

  /** Source resolution honors the config's connections block: a flow with
    * a resolvable JDBC connection reads from that database; otherwise the
    * table is a parquet file under sourceDir (the staged-file layout).
    */
  private def loadTable(spark: SparkSession, spec: PipelineSpec,
                        flow: etl.FlowSpec, sourceDir: String): DataFrame =
    spec.sourceConnection(flow) match {
      case Some(conn) => readJdbc(spark, conn, flow.from)
      case None =>
        spark.read.parquet(s"$sourceDir/${flow.from}.parquet")
    }

  /** A JDBC table with its column names lower-cased (databases such as
    * Derby report unquoted names in upper case).
    */
  private def readJdbc(spark: SparkSession, conn: etl.ConnectionSpec,
                       table: String): DataFrame = {
    val df = etl.Sources.jdbc(spark, conn.url, table, conn.options)
    df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*)
  }

  /** Destination state for the anti-join probe. ONLY a
    * table-doesn't-exist failure (SQLState class 42) counts as absent —
    * first run: the write then creates the table, exactly as the
    * reference's first `add_many` did. An unreachable database PROPAGATES
    * (after the source-layer retry): treating it as "no destination" would
    * silently skip the anti-join and insert duplicate keys. A parquet
    * destination's filesystem is resolved from its path, so a URI destDir
    * is probed on its own store.
    */
  private def loadDest(spark: SparkSession, spec: PipelineSpec,
                       flow: etl.FlowSpec,
                       destDir: String): Option[DataFrame] =
    spec.destinationConnection(flow) match {
      case Some(conn) =>
        try Some(readJdbc(spark, conn, flow.to))
        catch {
          case t: Throwable if JdbcSink.isMissingRelation(t) => None
        }
      case None =>
        val p = new Path(s"$destDir/${flow.to}")
        if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
          Some(spark.read.parquet(p.toString))
        else None
    }

  /** Transform one flow and append to its destination — the database named
    * by the config's `to` connection through [[JdbcSink.append]], where a
    * row the database rejects is skipped and reported (reference: every
    * task's `add_many` insert ran against the destination PDO,
    * sdk/etl.php:128-150, and replayed failed rows one by one,
    * sdk/migrate_assures.php:419-456), or a parquet directory under destDir
    * otherwise, which reports no failures. `read` is observed inside the
    * write job, so the report costs no job of its own.
    */
  private def runFlow(spark: SparkSession, spec: PipelineSpec,
                      flow: etl.FlowSpec, sourceDir: String, destDir: String,
                      runTs: String): FlowReport = {
    var t = System.nanoTime()
    def lap(): Long = { val t0 = t; t = System.nanoTime(); (t - t0) / 1000000 }
    val (source, dest) = (loadTable(spark, spec, flow, sourceDir),
      loadDest(spark, spec, flow, destDir))
    val loadMs = lap()
    val read = Observation()
    val out = ETLPipeline.transform(source, flow, dest, observe = Some(read),
      runTs = runTs)
    val planMs = lap()
    val r = spec.destinationConnection(flow) match {
      case Some(conn) => JdbcSink.append(out, conn.url, flow.to, conn.options)
      case None =>
        UpsertReport(Sinks.appendParquet(out, s"$destDir/${flow.to}"), 0, Nil)
    }
    FlowReport(flow.to, read.get("rows").asInstanceOf[Long], r.applied,
      r.failed, r.errors.take(3), loadMs, planMs, lap())
  }
}

package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * on first write). Flows run in dependency stages (sequential between
  * stages, parallel within — the shell-orchestration parity of
  * `etl/Orchestrator`), and each flow reports its appended row count like
  * the reference's progress output, plus its failed rows and up to three of
  * their errors when a database destination rejected some.
  */
object Main {

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

    val spark = SparkSession.builder()
      .master(master)
      .appName("graft-etl")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions",
        Runtime.getRuntime.availableProcessors().toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val runTs = etl.ColumnMapping.runTimestamp()
    import scala.concurrent.ExecutionContext.Implicits.global
    val stages = Orchestrator.stagesByDestination(spec)
    stages.zipWithIndex.foreach { case (stage, i) =>
      println(s"[graft] stage ${i + 1}/${stages.length}: " +
        stage.map(f => s"${f.from} -> ${f.to}").mkString(", "))
      // The reference printed per-table counts before each run
      // (sdk/migrate_assures.php:404-406 "Migrating a total of %d
      // records"); here the source counts also give the progress bar its
      // target. The count is one metadata-cheap pass per source.
      val targets =
        stage.map(f => f -> sourceCount(spark, spec, f, sourceDir))
      targets.foreach { case (f, n) =>
        println(s"[graft]   ${f.from}: migrating $n source rows")
      }
      val progress = Progress.attach(spark,
        label = s"stage ${i + 1}", target = targets.map(_._2).sum)
      // Each flow is timed inside its own closure: the flows of a stage
      // run concurrently, so the stage's wall time is no one flow's time.
      val counts =
        try Orchestrator.runStages(Seq(stage.map { flow => () =>
          val t0 = System.nanoTime()
          val (dest, r) = runFlow(spark, spec, flow, sourceDir, destDir, runTs)
          (dest, r, (System.nanoTime() - t0) / 1e9)
        }))
        finally progress.close()
      counts.head.foreach { case (dest, r, secs) =>
        val rate = if (secs > 0) f"${r.applied / secs}%.0f rows/s" else "n/a"
        val failed = if (r.failed == 0) "" else
          s"; ${r.failed} failed: ${r.errors.take(3).mkString(" | ")}"
        println(f"[graft]   $dest: appended ${r.applied} rows in $secs%.1f s" +
          s" ($rate)$failed")
      }
    }
    spark.stop()
  }

  /** Source resolution honors the config's connections block: a flow with
    * a resolvable JDBC connection reads from that database; otherwise the
    * table is a parquet file under sourceDir (the staged-file layout).
    */
  private[graft] def loadTable(spark: SparkSession, spec: etl.PipelineSpec,
                               flow: etl.FlowSpec,
                               sourceDir: String): DataFrame =
    spec.sourceConnection(flow) match {
      case Some(conn) =>
        val df = etl.Sources.jdbc(spark, conn.url, flow.from, conn.options)
        df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*)
      case None =>
        spark.read.parquet(s"$sourceDir/${flow.from}.parquet")
    }

  /** Destination state for the anti-join probe. ONLY a
    * table-doesn't-exist failure (SQLState class 42) counts as absent —
    * first run: the write then creates the table, exactly as the
    * reference's first `add_many` did. An unreachable database PROPAGATES
    * (after the source-layer retry): treating it as "no destination" would
    * silently skip the anti-join and insert duplicate keys.
    */
  private[graft] def loadDest(spark: SparkSession, spec: etl.PipelineSpec,
                              flow: etl.FlowSpec,
                              destDir: String): Option[DataFrame] =
    spec.destinationConnection(flow) match {
      case Some(conn) =>
        try {
          val df = etl.Sources.jdbc(spark, conn.url, flow.to, conn.options)
          Some(df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*))
        } catch {
          case t: Throwable if JdbcSink.isMissingRelation(t) => None
        }
      case None =>
        val p = s"$destDir/${flow.to}"
        if (Files.exists(Paths.get(p))) Some(spark.read.parquet(p)) else None
    }

  /** Source row count for the progress target. Parquet counts are
    * metadata-cheap; a JDBC source pushes `SELECT COUNT(*)` server-side as
    * a dbtable subquery instead of pulling the whole table just to count
    * it (Spark's JDBC source has no aggregate pushdown).
    */
  private[graft] def sourceCount(spark: SparkSession, spec: etl.PipelineSpec,
                                 flow: etl.FlowSpec,
                                 sourceDir: String): Long =
    spec.sourceConnection(flow) match {
      case Some(conn) =>
        etl.Sources.jdbc(spark, conn.url,
          s"(SELECT COUNT(*) AS graft_cnt FROM ${flow.from}) AS graft_c",
          conn.options)
          .collect()(0).get(0) match {
            case n: Number => n.longValue()
            case other => other.toString.toLong
          }
      case None =>
        spark.read.parquet(s"$sourceDir/${flow.from}.parquet").count()
    }

  /** Transform one flow and append to its destination — the database named
    * by the config's `to` connection through [[JdbcSink.append]], where a
    * row the database rejects is skipped and reported (reference: every
    * task's `add_many` insert ran against the destination PDO,
    * sdk/etl.php:128-150, and replayed failed rows one by one,
    * sdk/migrate_assures.php:419-456), or a parquet directory under destDir
    * otherwise, which reports no failures.
    */
  private[graft] def runFlow(spark: SparkSession, spec: etl.PipelineSpec,
                             flow: etl.FlowSpec, sourceDir: String,
                             destDir: String,
                             runTs: String): (String, UpsertReport) = {
    val out = ETLPipeline.transform(loadTable(spark, spec, flow, sourceDir),
      flow, loadDest(spark, spec, flow, destDir), runTs = runTs)
    flow.to -> (spec.destinationConnection(flow) match {
      case Some(conn) => JdbcSink.append(out, conn.url, flow.to, conn.options)
      case None =>
        UpsertReport(Sinks.appendParquet(out, s"$destDir/${flow.to}"), 0, Nil)
    })
  }
}

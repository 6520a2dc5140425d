package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around the benchmark's calls into each layer.
  *
  * A span is (id, parent, name, start, end); ids are unique per run and the
  * root span of each pass is the parent of everything the pass calls. When
  * disabled, `span` only runs its body, so the untraced passes pay nothing.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val nextId = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def span[T](name: String, parent: Long)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = nextId.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(Span(id, parent, name, t0, System.nanoTime()))
    }

  /** Spans recorded under root span `root`, at any depth. */
  def under(root: Long): Seq[Span] = {
    val all = spans.asScala.toSeq
    val byParent = all.groupBy(_.parent)
    def walk(id: Long): Seq[Span] =
      byParent.getOrElse(id, Nil).flatMap(s => s +: walk(s.id))
    walk(root)
  }

  def writeJson(path: String, run: Map[String, String]): Unit = {
    val body = spans.asScala.toSeq.sortBy(_.id).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ms":${s.startNs / 1e6}%.3f,"end_ms":${s.endNs / 1e6}%.3f}"""
    }
    val head = run.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path),
      s"""{$head,"spans":[${body.mkString(",\n")}]}""".getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String,
                        startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  def seconds(spans: Seq[Span], name: String): Double =
    spans.filter(_.name == name).map(_.seconds).sum
}

/** What one finished SQL execution did, reduced on the listener thread so
  * that no `QueryExecution` outlives its callback.
  */
final case class QuerySummary(
    planMs: Double,
    exchanges: Int,
    broadcasts: Int,
    shuffleBytes: Long,
    shuffleRecords: Long,
    spillBytes: Long,
    scans: Seq[Scan],
    write: Option[WriteSummary])

/** A file scan: its root paths, rows out and on-disk bytes of the files it
  * read.
  */
final case class Scan(paths: String, rows: Long, bytes: Long)

final case class WriteSummary(path: String, files: Long, bytes: Long,
                              rows: Long, jobCommitMs: Long)

object QuerySummary extends AdaptiveSparkPlanHelper {

  def of(qe: QueryExecution): QuerySummary = {
    val nodes = collect(qe.executedPlan) { case n: SparkPlan => n }
    def metric(n: SparkPlan, key: String): Long =
      n.metrics.get(key).map(_.value).getOrElse(0L)
    val exchanges = nodes.collect { case e: ShuffleExchangeLike => e }
    val write = nodes.collectFirst {
      case w @ DataWritingCommandExec(cmd: InsertIntoHadoopFsRelationCommand, _) =>
        WriteSummary(cmd.outputPath.toString, metric(w, "numFiles"),
          metric(w, "numOutputBytes"), metric(w, "numOutputRows"),
          metric(w, "jobCommitTime"))
    }
    QuerySummary(
      planMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum,
      exchanges = exchanges.size,
      broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      shuffleBytes = exchanges.map(e => metric(e, "shuffleBytesWritten")).sum,
      shuffleRecords = exchanges.map(e => metric(e, "shuffleRecordsWritten")).sum,
      spillBytes = nodes.map(n => metric(n, "spillSize")).sum,
      scans = nodes.collect { case s: FileSourceScanExec =>
        Scan(s.relation.location.rootPaths.map(_.toString).mkString(","),
          metric(s, "numOutputRows"), metric(s, "filesSize"))
      },
      write = write)
  }
}

/** Counts collected while the traced passes run: every SQL execution's
  * summary, and task/stage/job totals from the scheduler. `drain` waits for
  * the asynchronous listener bus, then hands back and clears what arrived.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  private val queries = new ConcurrentLinkedQueue[QuerySummary]()
  private val totals = scala.collection.mutable.Map[String, Double]()

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit =
    queries.add(QuerySummary.of(qe))

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  private def add(k: String, v: Double): Unit = totals.synchronized {
    totals(k) = totals.getOrElse(k, 0.0) + v
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("cpu_ns", m.executorCpuTime.toDouble)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      totals.synchronized {
        totals("peak_mem") = math.max(totals.getOrElse("peak_mem", 0.0),
          m.peakExecutionMemory.toDouble)
      }
    }
  }

  def drain(sc: org.apache.spark.SparkContext): (Seq[QuerySummary], Map[String, Double]) = {
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    val qs = Iterator.continually(queries.poll()).takeWhile(_ != null).toSeq
    val ts = totals.synchronized { val t = totals.toMap; totals.clear(); t }
    (qs, ts)
  }
}

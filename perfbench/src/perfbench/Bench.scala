package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one JVM, `local[nproc]`, one workload per run.
  *
  * {{{
  * perfbench.Bench --workload W --seed N --seconds S --trace 0|1
  *                 --work DIR [--traces DIR] [--scale F] [--warmup S]
  *                 [--min-passes K]
  * }}}
  *
  * Set-up (session start, seeded input generation, warm-up passes for
  * `--warmup` seconds) is timed as `setup_s`. Then passes run until
  * `--seconds` have elapsed and at least `--min-passes` ran, each one
  * reset → timed pass → output check; only the pass is timed. With
  * `--trace 1` the first half of the time runs untraced passes and the
  * second half traced ones, which report the per-layer metrics and the
  * tracing overhead. The last stdout line is the result object.
  */
object Bench {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, traces: String,
                        scale: Double, warmup: Double, minPasses: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String, d: => String) = m.getOrElse(k, d)
    Args(get("--workload", sys.error("--workload is required")),
      get("--seed", "1").toLong, get("--seconds", "10").toDouble,
      get("--trace", "0") == "1", get("--work", sys.error("--work is required")),
      get("--traces", "traces"),
      get("--scale", "1").toDouble, get("--warmup", "8").toDouble,
      get("--min-passes", "3").toInt)
  }

  def main(argv: Array[String]): Unit = {
    // set-up time starts at JVM start
    val t0 = System.nanoTime() -
      ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    // The session `graft.Main` builds, with its scratch inside the run's
    // work directory.
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try { run(spark, a, t0); 0 }
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          1
      } finally {
        spark.stop()
        JdbcWorkload.shutdown()
      }
    sys.exit(code)
  }

  private def workload(spark: SparkSession, a: Args): Workload = a.workload match {
    case "initial_load" => new EtlWorkload(spark, a.seed, a.scale, a.work, rerun = false)
    case "rerun_delta" => new EtlWorkload(spark, a.seed, a.scale, a.work, rerun = true)
    case "jdbc_upsert" => new JdbcWorkload(spark, a.seed, a.scale, a.work)
    case "neardup_dedup" => new NearDupWorkload(spark, a.seed, a.scale, a.work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private final class Passes {
    var attempted = 0
    var failed = 0
    val walls = ArrayBuffer[Double]()
    val layers = ArrayBuffer[Map[String, Double]]()
  }

  private def run(spark: SparkSession, a: Args, t0: Long): Unit = {
    val wl = workload(spark, a)
    log(f"session up at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val inputs = wl.generate()
    log(f"inputs generated at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    println(inputs.map { case (t, rows, bytes) =>
      s""""$t":{"rows":$rows,"bytes":$bytes}"""
    }.mkString("""{"inputs":{""", ",", "}}"))
    // Warm-up: whole passes, at least one, until `warmup` seconds have gone,
    // so that JIT compilation and lazy initialisation settle before timing.
    val off = new Tracer(false)
    val w0 = System.nanoTime()
    do {
      wl.reset(); System.gc()
      val t = System.nanoTime()
      wl.pass(off, 0L)
      val t1 = System.nanoTime()
      wl.check()
      log(f"warm-up pass ${(t1 - t) / 1e9}%.2f s, check ${(System.nanoTime() - t1) / 1e9}%.2f s")
    } while ((System.nanoTime() - w0) / 1e9 < a.warmup)
    val setupS = (System.nanoTime() - t0) / 1e9
    log(f"${a.workload}: set-up ${setupS}%.2f s, ${wl.inputRows} rows per pass")

    val plain = new Passes
    val traced = new Passes
    val tr = new Tracer(true)
    val counters = new Counters
    if (!a.trace) measure(wl, plain, a.seconds, a.minPasses, off, None)
    else {
      // two passes per half suffice for the per-layer medians
      val min = math.min(2, a.minPasses)
      measure(wl, plain, a.seconds / 2, min, off, None)
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
      try measure(wl, traced, a.seconds / 2, min, tr, Some(counters))
      finally {
        spark.listenerManager.unregister(counters)
        spark.sparkContext.removeSparkListener(counters)
      }
      tr.writeJson(s"${a.traces}/${a.workload}-seed${a.seed}.json",
        Map("workload" -> a.workload, "seed" -> a.seed.toString))
    }

    val tv = System.nanoTime()
    try { wl.verify(); log(f"verified in ${(System.nanoTime() - tv) / 1e9}%.2f s") }
    catch {
      case e: Exception =>
        plain.failed += 1
        log(s"verification of the last pass failed: $e")
    }
    val all = Seq(plain, traced)
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    if (plain.walls.isEmpty || (a.trace && traced.walls.isEmpty))
      throw new IllegalStateException("no pass completed")
    val wall = median(plain.walls.toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", wall, "s"),
        ("rows_per_s", wl.inputRows / wall, "rows/s"))
      else {
        val keys = traced.layers.flatMap(_.keys).distinct
        val med = keys.map(k => k -> median(traced.layers.map(_.getOrElse(k, 0.0)).toSeq)).toMap
        Layers.Names.map { case (k, unit) =>
          val v = k match {
            case "mem.peak_rss_mb" => Layers.peakRssMb()
            case "trace.overhead" => median(traced.walls.toSeq) / wall
            case _ => med.getOrElse(k, 0.0)
          }
          (k, v, unit)
        }
      }
    val body = metrics.map { case (k, v, u) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$body}}""")
  }

  private def measure(wl: Workload, p: Passes, seconds: Double, minPasses: Int,
                      tr: Tracer, counters: Option[Counters]): Unit = {
    val spark = wl.spark
    val start = System.nanoTime()
    while (p.attempted < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      p.attempted += 1
      try {
        val t0 = System.nanoTime()
        wl.reset()
        System.gc()
        counters.foreach(_.drain(spark.sparkContext))
        var stats = Map.empty[String, Double]
        val t1 = System.nanoTime()
        val root = tr.span("pass", 0L) { id =>
          stats = wl.pass(tr, id)
          id
        }
        val t2 = System.nanoTime()
        p.walls += (t2 - t1) / 1e9
        counters.foreach { c =>
          val (queries, tasks) = c.drain(spark.sparkContext)
          val extra = wl.diagnose(tr, root)
          c.drain(spark.sparkContext)
          p.layers += Layers.of(tr.under(root), queries, tasks, stats ++ extra,
            wl.sourceRoot, wl.destRoot)
        }
        val t3 = System.nanoTime()
        tr.span("check", root)(_ => wl.check())
        log(f"pass ${p.attempted}: reset ${(t1 - t0) / 1e9}%.2f s, pass " +
          f"${(t2 - t1) / 1e9}%.3f s, trace ${(t3 - t2) / 1e9}%.2f s, " +
          f"check ${(System.nanoTime() - t3) / 1e9}%.2f s")
      } catch {
        case e: Exception =>
          p.failed += 1
          log(s"pass ${p.attempted} failed: $e")
      }
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.stripTrailingZeros.toPlainString

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** Per-layer metrics of one traced pass, from its spans, the SQL executions
  * it ran and the scheduler's task totals.
  */
object Layers {

  /** Every per-layer metric with its unit, in report order. */
  val Names: Seq[(String, String)] = Seq(
    "orch.stage_s" -> "s", "orch.overlap" -> "ratio",
    "etl.transform_ms" -> "ms", "etl.plan_ms" -> "ms", "etl.exec_s" -> "s",
    "etl.shuffle_mb" -> "MB", "etl.shuffle_records" -> "count",
    "etl.spill_mb" -> "MB", "etl.exchanges" -> "count",
    "etl.broadcasts" -> "count", "etl.dest_rows_read" -> "count",
    "etl.keep_ratio" -> "ratio",
    "src.rows_read" -> "count", "src.mb_read" -> "MB",
    "sink.write_s" -> "s", "sink.self_s" -> "s", "sink.files" -> "count",
    "sink.mb_written" -> "MB", "sink.job_commit_ms" -> "ms",
    "jdbc.upsert_s" -> "s", "jdbc.rows_applied" -> "count",
    "jdbc.rows_failed" -> "count", "jdbc.rows_per_s" -> "rows/s",
    "lsh.candidates_s" -> "s", "lsh.verify_s" -> "s", "lsh.exact_s" -> "s",
    "lsh.candidates" -> "count", "lsh.pairs" -> "count",
    "lsh.precision" -> "ratio", "lsh.recall" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.exec_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.fetch_wait_ms" -> "ms", "spark.peak_exec_mem_mb" -> "MB",
    "mem.peak_rss_mb" -> "MB", "trace.overhead" -> "ratio")

  private val MB = 1024.0 * 1024.0

  def of(spans: Seq[Tracer.Span], queries: Seq[QuerySummary],
         tasks: Map[String, Double], stats: Map[String, Double],
         sourceRoot: String, destRoot: String): Map[String, Double] = {
    def secs(name: String) = Tracer.seconds(spans, name)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    def under(paths: String, root: String) =
      paths.split(",").exists(_.contains(Paths.get(root).toAbsolutePath.toString))
    val etl = queries.filter(_.write.exists(w => under(w.path, destRoot)))
    val writes = etl.flatMap(_.write)
    val srcScans = queries.flatMap(_.scans).filter(s => under(s.paths, sourceRoot))
    val etlSrcRows = etl.flatMap(_.scans).filter(s => under(s.paths, sourceRoot)).map(_.rows).sum
    val sinkWrite = secs("sink.appendParquet")
    val execS = secs("etl.exec")
    val upsertS = secs("jdbc.upsert")
    val candS = secs("lsh.candidates")
    val applied = stats.getOrElse("jdbc.rows_applied", 0.0)
    val pairs = stats.getOrElse("lsh.pairs", 0.0)
    val candidates = stats.getOrElse("lsh.candidates", 0.0)
    stats ++ Map(
      "orch.stage_s" -> secs("orch.stage"),
      "orch.overlap" -> ratio(secs("orch.flow"), secs("orch.stage")),
      "etl.transform_ms" -> secs("etl.transform") * 1000,
      "etl.plan_ms" -> etl.map(_.planMs).sum,
      "etl.exec_s" -> execS,
      "etl.shuffle_mb" -> etl.map(_.shuffleBytes).sum / MB,
      "etl.shuffle_records" -> etl.map(_.shuffleRecords).sum.toDouble,
      "etl.spill_mb" -> etl.map(_.spillBytes).sum / MB,
      "etl.exchanges" -> etl.map(_.exchanges).sum.toDouble,
      "etl.broadcasts" -> etl.map(_.broadcasts).sum.toDouble,
      "etl.dest_rows_read" -> etl.flatMap(_.scans)
        .filter(s => under(s.paths, destRoot)).map(_.rows).sum.toDouble,
      "etl.keep_ratio" -> ratio(stats.getOrElse("rows_appended", 0.0), etlSrcRows),
      "src.rows_read" -> srcScans.map(_.rows).sum.toDouble,
      "src.mb_read" -> srcScans.map(_.bytes).sum / MB,
      "sink.write_s" -> sinkWrite,
      "sink.self_s" -> (if (execS > 0) sinkWrite - execS else 0.0),
      "sink.files" -> writes.map(_.files).sum.toDouble,
      "sink.mb_written" -> writes.map(_.bytes).sum / MB,
      "sink.job_commit_ms" -> writes.map(_.jobCommitMs).sum.toDouble,
      "jdbc.upsert_s" -> upsertS,
      "jdbc.rows_per_s" -> ratio(applied, upsertS),
      "lsh.candidates_s" -> candS,
      "lsh.verify_s" -> (if (candS > 0) secs("lsh.nearDuplicates") - candS else 0.0),
      "lsh.exact_s" -> secs("lsh.exactDuplicates"),
      "lsh.precision" -> ratio(pairs, candidates),
      "spark.jobs" -> tasks.getOrElse("jobs", 0.0),
      "spark.stages" -> tasks.getOrElse("stages", 0.0),
      "spark.tasks" -> tasks.getOrElse("tasks", 0.0),
      "spark.exec_cpu_s" -> tasks.getOrElse("cpu_ns", 0.0) / 1e9,
      "spark.gc_s" -> tasks.getOrElse("gc_ms", 0.0) / 1000,
      "spark.fetch_wait_ms" -> tasks.getOrElse("fetch_wait_ms", 0.0),
      "spark.peak_exec_mem_mb" -> tasks.getOrElse("peak_mem", 0.0) / MB)
  }

  /** Peak resident set of this process (VmHWM), 0 where /proc is absent. */
  def peakRssMb(): Double = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) 0.0
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(p).asScala.find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
    }
  }
}

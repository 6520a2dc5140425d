package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark workload: seeded inputs, a timed pass made of the public
  * calls a user's migration makes, a state reset before each pass and an
  * output check after it. Only `pass` is timed.
  */
trait Workload {
  def spark: SparkSession

  /** Rows (documents, for the near-duplicate workload) one pass processes;
    * the base of `rows_per_s`.
    */
  def inputRows: Long

  /** Writes the seeded inputs and any pristine state. Returns, per input
    * table, its row count and on-disk bytes.
    */
  def generate(): Seq[(String, Long, Long)]

  /** Restores the pristine destination; outside the timed region. */
  def reset(): Unit

  /** The timed calls. Returns counts the pass observed, for the trace. */
  def pass(tr: Tracer, root: Long): Map[String, Double]

  /** Checks the last pass's outputs; throws with the reason when wrong. */
  def check(): Unit

  /** Checks the last pass's outputs further, where that is too costly to
    * repeat after every pass and `check` shows every pass's outputs equal.
    */
  def verify(): Unit = ()

  /** Extra executions a traced pass adds after its timed calls, to split a
    * layer's time (e.g. the plan without its sink). Returns more counts.
    */
  def diagnose(tr: Tracer, root: Long): Map[String, Double] = Map.empty

  /** Directory prefixes that hold the source inputs and the destination,
    * to attribute file scans in the trace.
    */
  def sourceRoot: String
  def destRoot: String
}

object Workload {
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** Recreates the tree `from` at `to` with hard links to its files: the
    * engine only ever adds files to a parquet directory, so the originals
    * stay untouched.
    */
  def linkTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.createLink(t, f)
    } finally s.close()
  }

  /** Row count of a parquet directory from its file footers. */
  def footerRows(dir: Path, conf: org.apache.hadoop.conf.Configuration): Long =
    dataFiles(dir).toSeq.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dir.resolve(f).toUri), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum

  /** Data files (not markers or checksums) directly under a directory. */
  def dataFiles(dir: Path): Set[String] =
    if (!Files.exists(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet")).toSet
      finally s.close()
    }

  def path(s: String): Path = Paths.get(s)

  def expect(ok: Boolean, what: => String): Unit =
    if (!ok) throw new IllegalStateException(s"check failed: $what")
}

package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** File and table sink writers — set-based replacements for the
  * reference's row/batch INSERT paths (reference: sdk/lib/db.php:220-274 —
  * single-row named-param INSERT and one multi-row batched INSERT per task;
  * sdk/src/SQLTable.php:28-36).
  *
  * Every sink here is a partitioned bulk write with the job-commit protocol
  * supplying the atomicity the reference got from transactions
  * (sdk/migrate_employeur.php:196-219). Returns the row count, mirroring
  * the reference's affected-row reporting. Database writes go through
  * [[JdbcSink]] instead: row batches with the reference's failed-row
  * replay.
  */
object Sinks {

  def appendParquet(df: DataFrame, path: String): Long =
    counted(df) { d => d.write.mode("append").parquet(path) }

  def overwriteParquet(df: DataFrame, path: String): Long =
    counted(df) { d => d.write.mode("overwrite").parquet(path) }

  /** Hive-style partitioned layout — the 100 TB table organization: queries
    * filtering on the partition columns prune whole directories at planning
    * time (`PartitionFilters` in the scan; asserted in PlanSpec). Choose
    * low-cardinality columns (date, region, status) — one directory per
    * value per write.
    */
  def partitionedParquet(df: DataFrame, path: String,
                         partitionCols: Seq[String]): Long =
    counted(df) { d =>
      d.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
    }

  /** Bucketed managed table: rows hash-partitioned into a fixed bucket
    * count on the join/aggregation keys AT WRITE TIME, so later equi-joins
    * and aggregations on those keys skip their Exchange entirely (asserted
    * in PlanSpec). The 100 TB pattern for fact-to-fact joins repeated
    * across many queries: pay the shuffle once when the table lands, never
    * again. Requires the session catalog (saveAsTable).
    */
  def bucketedTable(df: DataFrame, table: String, buckets: Int,
                    keys: Seq[String]): Long = {
    val spark = df.sparkSession
    // A previous JVM's table DIRECTORY survives while the in-memory
    // catalog does not, and CTAS refuses a managed table whose location
    // already exists — drop the entry and clear any stale location
    // (resolving the filesystem FROM the path, not the default scheme).
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    counted(df) { d =>
      // Bucket assignment and repartition(n, keys) share pmod(murmur3, n),
      // so each write task holds exactly one bucket's rows → ONE file per
      // bucket (otherwise every task emits a file into every bucket it
      // touches and a 1000-task write of 1024 buckets lands a million
      // files).
      d.repartition(buckets, keys.map(col): _*)
        .write.mode("overwrite")
        .bucketBy(buckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .saveAsTable(table)
    }
  }

  def csv(df: DataFrame, path: String, header: Boolean = true): Long =
    counted(df) { d =>
      d.write.mode("overwrite").option("header", header.toString).csv(path)
    }

  /** Newline-delimited JSON sink. Doubles survive the text round trip
    * bit-exactly (shortest-representation print, exact parse), which is
    * what lets a JSON roundtrip sit under the hash-compare gate.
    */
  def json(df: DataFrame, path: String): Long =
    counted(df)(_.write.mode("overwrite").json(path))

  /** Small-file compaction: rewrite a parquet directory into files of
    * roughly `targetFileMB` each. Streaming/append pipelines accumulate
    * small files (every micro-batch/task writes its own); at 100 TB the
    * file count itself becomes the bottleneck (listing, footer reads, task
    * scheduling).
    *
    * Commit sequence: write staging → rename target aside (`__compact_old`)
    * → promote staging → delete old LAST. The data always exists in full in
    * at least one directory, so a crash at any step is recoverable (from
    * `__compact_old` if it strikes between the renames — the canonical path
    * is briefly absent then, so concurrent readers of a live table need an
    * external commit protocol, e.g. a table format's transaction log).
    * Filesystems are resolved from the path itself, not the default scheme,
    * so compacting e.g. an s3a path with a local default FS acts on the
    * right store.
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, path: String,
                     targetFileMB: Int = 128): Long = {
    val df = spark.read.parquet(path)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val files = math.max(1,
      (bytes / (targetFileMB * 1024L * 1024L)).toInt)
    val staging = path + "__compact_staging"
    val n = counted(df.repartition(files)) {
      _.write.mode("overwrite").parquet(staging)
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(conf)
    val stagingP = new org.apache.hadoop.fs.Path(staging)
    val old = new org.apache.hadoop.fs.Path(path + "__compact_old")
    fs.delete(old, true) // leftover from a previous crashed compact
    if (!fs.rename(target, old))
      throw new java.io.IOException(s"compact: cannot move $target aside")
    if (!fs.rename(stagingP, target)) {
      fs.rename(old, target) // roll back: restore the original directory
      throw new java.io.IOException(s"compact: cannot promote $staging")
    }
    fs.delete(old, true)
    n
  }

  /** Row count observed DURING the write via `Observation` (a
    * CollectMetrics node in the same job) — one scan, no cache, no second
    * pass. The reference paid a full double-scan for this count
    * (`iterator_count` — sdk/migrate_assures.php:405); caching the write
    * set to count it would be a memory cliff at 100 TB.
    */
  private def counted(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = org.apache.spark.sql.Observation()
    write(df.observe(obs,
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }
}

package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, length, lit}

/** Source readers — the Spark analogue of the reference's `SQLTable`
  * scan-with-pushdown-by-construction (reference: sdk/src/SQLTable.php:38-50
  * bakes the column list and optional raw-SQL WHERE into its SELECT).
  *
  * Here the projection (`columns`) and predicate (`where`) are declared on
  * the lazy scan and Catalyst pushes both into the data source: parquet gets
  * `PushedFilters`/`ReadSchema` pruning, JDBC gets server-side WHERE — the
  * same effect the reference achieved by string-building SQL, but optimizer-
  * verified.
  */
object Sources {

  /** Scan with optional projection and raw-SQL predicate, the reference's
    * `SELECT $columns FROM $table WHERE $query` contract. `where` is parsed
    * by `expr`, failing fast at plan time like etl.php's config validation.
    */
  def table(spark: SparkSession, dir: String, name: String,
            columns: Seq[String] = Nil,
            where: Option[String] = None): DataFrame = {
    var df = graft.Tables.load(spark, dir, name)
    for (w <- where) df = df.filter(expr(w))
    if (columns.nonEmpty) df = df.select(columns.head, columns.tail: _*)
    df
  }

  def csv(spark: SparkSession, path: String,
          header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).csv(path)

  /** Newline-delimited JSON source. Pass the schema when it is known
    * (a round-trip from [[Sinks.json]] always knows it): inference costs
    * an extra full scan and can widen types, both wrong at 100 TB.
    */
  def json(spark: SparkSession, path: String,
           schema: Option[org.apache.spark.sql.types.StructType] = None):
      DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  /** JDBC scan with connection retry/backoff at PLAN time (reference:
    * sdk/lib/db.php:327-346 — up to 7 attempts, 3 s apart; policy shared
    * with [[JdbcSink.withRetry]], so permanent errors — missing table, bad
    * credentials — fail fast instead of sleeping through 7 attempts).
    * Spark's task retry covers executor-side failures, but `load()`
    * connects from the driver to resolve the schema, and a flaky database
    * there would otherwise fail the whole program on its first hiccup.
    */
  def jdbc(spark: SparkSession, url: String, dbtable: String,
           options: Map[String, String] = Map.empty,
           attempts: Int = 7, retryDelayMs: Long = 3000): DataFrame =
    JdbcSink.withRetry(attempts, retryDelayMs) {
      spark.read.format("jdbc")
        .option("url", url).option("dbtable", dbtable)
        .options(options).load()
    }

  /** Whole-file binary source (reference: sdk/src/IO/ReadWriter.php:99-127 —
    * `fread` of raw bytes). One row per file:
    * (path, modificationTime, length, content).
    */
  def binaryFiles(spark: SparkSession, path: String): DataFrame =
    spark.read.format("binaryFile").load(path)

  /** Byte-range read: `length` bytes from 0-based `offset` of each file —
    * the reference's `read($length, $offset)` contract
    * (sdk/src/IO/ReadWriter.php:129-147; reads past EOF truncate).
    */
  def binaryRange(spark: SparkSession, path: String, offset: Long,
                  len: Int): DataFrame =
    binaryFiles(spark, path).select(
      col("path"),
      col("content").substr(lit(offset + 1), lit(len)).as("chunk"),
      length(col("content").substr(lit(offset + 1), lit(len)))
        .cast("long").as("chunk_len"))
}

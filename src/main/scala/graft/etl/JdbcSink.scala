package graft.etl

import java.sql.{BatchUpdateException, Connection, DriverManager,
  PreparedStatement, SQLException, Statement}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

/** Real-database mutation sinks: batched UPDATE-else-INSERT (upsert),
  * MySQL's single-statement `INSERT … ON DUPLICATE KEY UPDATE` upsert,
  * batched DELETE, and delete-then-insert — the destination-mutating half
  * of the reference that plain bulk-append writers can't express
  * (reference: sdk/lib/db.php:250-274 batched statements,
  * sdk/lib/db.php:285-319 `db_update`/`db_execute`,
  * sdk/migrate_assures.php:185-236 update-vs-insert branch and
  * delete-then-reinsert of child rows).
  *
  * Where the reference probed and mutated ONE ROW PER ROUND-TRIP, every
  * mutation here runs through one per-partition loop ([[eachBatch]]): each
  * executor partition opens one connection (with the reference's
  * retry/backoff) with autocommit off, prepares its statements once, and
  * binds, executes and commits `batchSize` rows per transaction. The
  * upserts add the reference's failed-row contract
  * (sdk/migrate_assures.php:419-456) through one poison-row replay
  * ([[replaying]]): a batch that fails with a DATA error rolls back and
  * replays row by row, each row its own transaction; rows that still fail
  * are skipped, counted, and sampled (≤ 20 per partition). Any other
  * failure propagates to Spark's task retry, and so does every DELETE
  * failure.
  *
  * Identifiers are quoted with `quote` (default `"` — matches how Spark's
  * JDBC writer creates tables on Derby/Postgres; pass "`" for MySQL).
  *
  * Counts come from an accumulator, so they are reporting-grade (a retried
  * task adds twice); the STATEMENTS are idempotent — re-running an upsert
  * leaves the table unchanged — which is the property that matters for
  * at-least-once execution.
  *
  * Duplicate keys within `df` are applied in partition order, which is not
  * deterministic across runs — dedup first (`Dedup`/`Upsert` handle this)
  * exactly as the reference relied on cursor order.
  */
object JdbcSink {

  /** Open a connection with retry/backoff (reference sdk/lib/db.php:327-346:
    * up to 7 attempts, 3 s apart).
    */
  def connect(url: String, driver: Option[String] = None, attempts: Int = 7,
              delayMs: Long = 3000): Connection = {
    driver.foreach(Class.forName)
    withRetry(attempts, delayMs)(DriverManager.getConnection(url))
  }

  /** Retry policy shared by every plan-time/executor-side connection path:
    * up to `attempts`, `delayMs` apart (the reference retried everything;
    * here PERMANENT failures fail fast — SQLState class 42 (syntax /
    * missing object) or 28 (bad credentials) anywhere in the failure can
    * never succeed on retry, and interruption propagates instead of being
    * slept through).
    */
  private[graft] def withRetry[T](attempts: Int, delayMs: Long)(f: => T): T = {
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return f
      catch {
        case t: Throwable if isRetryable(t) =>
          last = t
          i += 1
          if (i < attempts) Thread.sleep(delayMs)
      }
    }
    throw new RuntimeException(
      "Too many attempt to create database connection", last)
  }

  private def isRetryable(t: Throwable): Boolean = {
    val classes = sqlStateClasses(t)
    !classes.contains("42") && !classes.contains("28") &&
      !causes(t).exists(_.isInstanceOf[InterruptedException])
  }

  /** True when the failure (anywhere in the cause chain) is the database
    * saying the relation doesn't exist / can't be parsed — SQLState class
    * 42 — as opposed to the database being unreachable.
    */
  def isMissingRelation(t: Throwable): Boolean =
    sqlStateClasses(t).contains("42")

  /** True when the failure is a ROW-LEVEL data error — SQLState class 21
    * (cardinality), 22 (data exception), or 23 (integrity constraint) —
    * the only failures the poison-row path may swallow. Anything else
    * (deadlock 40, connection 08, syntax 42, unknown) must PROPAGATE so
    * Spark's task retry re-applies the partition instead of rows being
    * silently dropped.
    */
  private def isDataError(t: Throwable): Boolean = {
    val classes = sqlStateClasses(t)
    classes.contains("21") || classes.contains("22") ||
      classes.contains("23")
  }

  private def sqlStateClasses(t: Throwable): Set[String] =
    causes(t).collect { case s: SQLException => s.getSQLState }
      .filter(st => st != null && st.length >= 2).map(_.take(2)).toSet

  /** Every throwable reachable from `t` through BOTH the cause chain and
    * the SQLException `getNextException` chain (at most 32) — drivers wrap
    * batch failures in a generic-state exception (Derby: class XJ) with
    * the real constraint violation chained behind it.
    */
  private def causes(t: Throwable): Seq[Throwable] = {
    val seen = new ArrayBuffer[Throwable]()
    var frontier = List(t)
    while (frontier.nonEmpty && seen.length < 32) {
      val cur = frontier.head
      seen += cur
      val next = cur match {
        case s: SQLException => List(s.getCause, s.getNextException)
        case _ => List(cur.getCause)
      }
      frontier = next.filter(n => n != null && (n ne cur)) ++ frontier.tail
    }
    seen.toSeq
  }

  /** Outcome of a resilient upsert: rows applied, rows that failed even
    * the row-at-a-time retry, and a bounded sample of their errors.
    */
  final case class UpsertReport(applied: Long, failed: Long,
                                errors: Seq[String])

  /** Update-else-insert each row of `df` into `table` on `keys`. Returns the
    * number of rows applied (updates + inserts). Poison rows are skipped
    * and counted — use [[upsertReport]] to see them.
    */
  def upsert(df: DataFrame, url: String, table: String, keys: Seq[String],
             options: Map[String, String] = Map.empty,
             batchSize: Int = 1000, quote: String = "\""): Long =
    upsertReport(df, url, table, keys, options, batchSize, quote).applied

  /** [[upsert]] with poison-row isolation, the reference's failed-row
    * semantics (see [[replaying]]): rows that fail alone are skipped,
    * counted, and sampled into `errors` (≤20 per partition) instead of
    * sinking the whole write. The update-vs-insert branch is decided from
    * the batched UPDATE's per-row counts — rows whose UPDATE matched
    * nothing are re-batched as INSERTs — so the semantics are exactly the
    * reference's "update if present else insert" without needing a
    * dialect-specific MERGE.
    */
  def upsertReport(df: DataFrame, url: String, table: String,
                   keys: Seq[String],
                   options: Map[String, String] = Map.empty,
                   batchSize: Int = 1000,
                   quote: String = "\""): UpsertReport = {
    val (cols, nonKeys) = upsertColumns(df, keys)
    // Column identifiers are quoted (Spark's JDBC writer creates them
    // quoted); the TABLE name passes through raw, exactly as Spark's own
    // writer emits it in CREATE/INSERT — quoting it here would miss tables
    // the writer created unquoted (e.g. Derby folds those to upper case).
    def q(n: String) = quote + n + quote
    val updateSql = s"UPDATE $table SET " +
      nonKeys.map(c => s"${q(c)} = ?").mkString(", ") +
      " WHERE " + keys.map(c => s"${q(c)} = ?").mkString(" AND ")
    val schema = df.schema
    val updateOrder = nonKeys ++ keys
    replaying(df, url, options, batchSize, "graft_upsert",
      Seq(updateSql, insertSql(table, cols, q)))(
      batch = { case (Seq(up, ins), rows) =>
        rows.foreach { r => bind(up, r, updateOrder, schema); up.addBatch() }
        val counts = up.executeBatch()
        val misses = rows.zip(counts).filter {
          case (_, 0) => true
          case (r, Statement.SUCCESS_NO_INFO) =>
            // the driver hides per-row counts (Oracle, Connector/J's
            // rewriteBatchedStatements): re-run this row's UPDATE alone —
            // the correctness of update-vs-insert can't ride on -2.
            bind(up, r, updateOrder, schema)
            up.executeUpdate() == 0
          case (_, n) if n < 0 =>
            throw new BatchUpdateException(
              s"batched UPDATE failed with status $n", counts)
          case _ => false
        }.map(_._1)
        misses.foreach { r => bind(ins, r, cols, schema); ins.addBatch() }
        if (misses.nonEmpty) ins.executeBatch()
        rows.length
      },
      one = { case (Seq(up, ins), r) =>
        bind(up, r, updateOrder, schema)
        if (up.executeUpdate() == 0) {
          bind(ins, r, cols, schema)
          ins.executeUpdate()
        }
      })
  }

  /** MySQL-dialect single-statement upsert: `INSERT … ON DUPLICATE KEY
    * UPDATE nk = VALUES(nk), …` — the shape a production MySQL sink
    * emits instead of [[upsert]]'s UPDATE-probe-then-INSERT pair (ONE
    * round trip per row instead of up to two, and Connector/J's
    * `rewriteBatchedStatements=true` collapses a whole batch into one
    * multi-value statement because the update clause holds no `?`).
    * Semantics match [[upsert]] when the table's PRIMARY KEY equals
    * `keys`: the source row wholly replaces the matched row's non-key
    * columns, and poison rows are isolated the same way. Requires the
    * target dialect to support ODKU (MySQL/MariaDB; gated against
    * [[MiniMySql]], which also pins the 1-inserted/2-changed/1-unchanged
    * affected counts this method deliberately does NOT ride on — applied
    * counts rows PROCESSED, the same meaning as [[upsert]]'s).
    */
  def upsertOnDuplicateKey(df: DataFrame, url: String, table: String,
                           keys: Seq[String],
                           options: Map[String, String] = Map.empty,
                           batchSize: Int = 1000,
                           quote: String = "`"): UpsertReport = {
    val (cols, nonKeys) = upsertColumns(df, keys)
    def q(n: String) = quote + n + quote
    val sql = insertSql(table, cols, q) + " ON DUPLICATE KEY UPDATE " +
      nonKeys.map(c => s"${q(c)} = VALUES(${q(c)})").mkString(", ")
    val schema = df.schema
    replaying(df, url, options, batchSize, "graft_odku", Seq(sql))(
      batch = { case (Seq(ins), rows) =>
        rows.foreach { r => bind(ins, r, cols, schema); ins.addBatch() }
        ins.executeBatch()
        rows.length
      },
      one = { case (Seq(ins), r) =>
        bind(ins, r, cols, schema)
        ins.executeUpdate()
      })
  }

  /** Delete every `table` row whose key tuple appears in `df` (distinct on
    * `keys` first — one DELETE per distinct tuple, batched). Returns rows
    * deleted as reported by the database.
    */
  def delete(df: DataFrame, url: String, table: String, keys: Seq[String],
             options: Map[String, String] = Map.empty,
             batchSize: Int = 1000, quote: String = "\""): Long = {
    require(keys.nonEmpty, "delete needs at least one key column")
    def q(n: String) = quote + n + quote
    val sql = s"DELETE FROM $table WHERE " +
      keys.map(c => s"${q(c)} = ?").mkString(" AND ")
    val tuples = df.select(keys.map(col): _*).distinct()
    val schema = tuples.schema
    val acc = df.sparkSession.sparkContext.longAccumulator("graft_delete")
    eachBatch(tuples, url, options.get("driver"), batchSize, Seq(sql), acc)(
      { case (Seq(st), rows) =>
        rows.foreach { r => bind(st, r, keys, schema); st.addBatch() }
        st.executeBatch().collect { case n if n > 0 => n.toLong }.sum
      }, noRecovery)
    acc.value
  }

  /** Delete-then-insert children against a live table (reference:
    * sdk/migrate_assures.php:205-227): remove every row whose PARENT key
    * appears in the recomputed set, then append the recomputed rows.
    * Idempotent by construction — a second run deletes what the first
    * inserted and re-inserts the same rows.
    */
  def replaceChildren(df: DataFrame, url: String, table: String,
                      parentKeys: Seq[String],
                      options: Map[String, String] = Map.empty): Long = {
    delete(df, url, table, parentKeys, options)
    Sinks.jdbc(df, url, table, options)
  }

  /** Applies one batch on the partition's prepared statements (in `sqls`
    * order) and returns the rows it applied; it does not commit.
    */
  private type BatchStep = (Seq[PreparedStatement], Seq[Row]) => Long

  /** Per partition, what to do when a batch or its commit throws: given
    * the connection and statements, a handler per batch that returns the
    * rows it applied instead. Unhandled failures propagate.
    */
  private type Recovery = (Connection, Seq[PreparedStatement]) =>
    Seq[Row] => PartialFunction[Throwable, Long]

  private val noRecovery: Recovery = (_, _) => _ => PartialFunction.empty

  /** The one per-partition mutation loop: one connection with autocommit
    * off, `sqls` prepared once, then each `batchSize` rows run through
    * `batch` and commit as one transaction, adding the rows applied to
    * `applied`. Empty partitions open no connection.
    */
  private def eachBatch(df: DataFrame, url: String, driver: Option[String],
                        batchSize: Int, sqls: Seq[String],
                        applied: LongAccumulator)
                       (batch: BatchStep, recover: Recovery): Unit =
    df.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val conn = connect(url, driver)
        try {
          conn.setAutoCommit(false)
          val st = sqls.map(conn.prepareStatement)
          try {
            val onError = recover(conn, st)
            it.grouped(batchSize).foreach { rows =>
              applied.add(
                try { val n = batch(st, rows); conn.commit(); n }
                catch onError(rows))
            }
          } finally st.foreach(_.close())
        } finally conn.close()
      }
    }

  /** [[eachBatch]] with poison-row isolation (reference
    * sdk/migrate_assures.php:419-456: collect failures, retry them
    * individually, log what still fails and move on). When a batch fails
    * with a data error ([[isDataError]]), the staged batches are cleared,
    * the transaction rolls back, and the batch replays through `one`, each
    * row in its own transaction; a row that fails alone with a data error
    * is rolled back, counted as failed and sampled (≤ 20 per partition).
    */
  private def replaying(df: DataFrame, url: String,
                        options: Map[String, String], batchSize: Int,
                        name: String, sqls: Seq[String])
                       (batch: BatchStep,
                        one: (Seq[PreparedStatement], Row) => Unit)
      : UpsertReport = {
    val sc = df.sparkSession.sparkContext
    val applied = sc.longAccumulator(name)
    val failed = sc.longAccumulator(s"${name}_failed")
    val errors = sc.collectionAccumulator[String](s"${name}_errors")
    eachBatch(df, url, options.get("driver"), batchSize, sqls, applied)(
      batch, { (conn, st) =>
        var sampled = 0
        def alone(r: Row): Boolean =
          try { one(st, r); conn.commit(); true }
          catch {
            case e: SQLException if isDataError(e) =>
              conn.rollback()
              failed.add(1)
              if (sampled < 20) { errors.add(e.getMessage); sampled += 1 }
              false
          }
        rows => {
          case e: SQLException if isDataError(e) =>
            // a mid-bind failure leaves entries staged
            st.foreach(_.clearBatch())
            conn.rollback()
            rows.count(alone)
        }
      })
    UpsertReport(applied.value, failed.value, errors.value.asScala.toSeq)
  }

  private def upsertColumns(df: DataFrame,
                            keys: Seq[String]): (Seq[String], Seq[String]) = {
    val cols = df.columns.toSeq
    val nonKeys = cols.filterNot(keys.contains)
    require(keys.nonEmpty && nonKeys.nonEmpty,
      s"upsert needs key and non-key columns, got keys=$keys of $cols")
    (cols, nonKeys)
  }

  private def insertSql(table: String, cols: Seq[String],
                        q: String => String): String =
    s"INSERT INTO $table (${cols.map(q).mkString(", ")})" +
      s" VALUES (${cols.map(_ => "?").mkString(", ")})"

  private def bind(st: PreparedStatement, row: Row, order: Seq[String],
                   schema: StructType): Unit = {
    var i = 0
    while (i < order.length) {
      val idx = schema.fieldIndex(order(i))
      val v = row.get(idx)
      if (v == null) st.setNull(i + 1, jdbcType(schema(idx).dataType))
      else v match {
        case s: String => st.setString(i + 1, s) // CLOB-safe (Derby)
        case d: scala.math.BigDecimal => st.setBigDecimal(i + 1, d.bigDecimal)
        case t: java.sql.Timestamp => st.setTimestamp(i + 1, t)
        case d: java.sql.Date => st.setDate(i + 1, d)
        case other => st.setObject(i + 1, other.asInstanceOf[AnyRef])
      }
      i += 1
    }
  }

  private def jdbcType(dt: DataType): Int = dt match {
    case IntegerType => java.sql.Types.INTEGER
    case LongType => java.sql.Types.BIGINT
    case DoubleType => java.sql.Types.DOUBLE
    case FloatType => java.sql.Types.REAL
    case ShortType => java.sql.Types.SMALLINT
    case ByteType => java.sql.Types.TINYINT
    case BooleanType => java.sql.Types.BOOLEAN
    case BinaryType => java.sql.Types.BINARY
    case TimestampType => java.sql.Types.TIMESTAMP
    case DateType => java.sql.Types.DATE
    case _: DecimalType => java.sql.Types.DECIMAL
    case _ => java.sql.Types.VARCHAR
  }
}

package graft.etl

import java.sql.{BatchUpdateException, Connection, DriverManager,
  PreparedStatement, SQLException, Savepoint, Statement}
import java.util.Properties

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.jdbc.{JdbcOptionsInWrite,
  JdbcUtils}
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types._

/** The two JDBC row writes: batched append (the reference's `add_many`,
  * sdk/lib/db.php:250-274) and batched UPDATE-else-INSERT (the reference's
  * update-vs-insert branch, sdk/migrate_assures.php:185-203).
  *
  * Where the reference probed and mutated ONE ROW PER ROUND-TRIP, both
  * writes run through one per-partition loop ([[writeBatches]]): each
  * executor partition opens one connection (with the reference's
  * retry/backoff) with autocommit off, prepares its statements once, and
  * binds and executes `batchSize` rows at a time. The upsert commits each
  * batch as its own transaction; the append holds the whole partition in
  * one transaction, as Spark's JDBC writer does, with a savepoint per
  * batch. The loop carries the reference's failed-row contract
  * (sdk/migrate_assures.php:419-456) as its poison-row replay: a batch that
  * fails with a DATA error rolls back (the append: to its savepoint) and
  * replays row by row, each row on its own; rows that still fail are
  * skipped, counted, and sampled (≤ 20 per partition). Any other failure
  * rolls back what the partition has not committed and propagates to
  * Spark's task retry.
  *
  * Identifiers are quoted by Spark's JDBC dialect for `url`
  * (`JdbcDialects.get(url).quoteIdentifier`): double quotes on
  * Derby/Postgres, backticks on MySQL/MariaDB.
  *
  * Counts come from an accumulator, so they are reporting-grade (a retried
  * task adds twice). The upsert's STATEMENTS are idempotent — re-running
  * an upsert leaves the table unchanged — which is the property that
  * matters for at-least-once execution. An append is not, so it commits a
  * partition only at its end: a task that fails before then leaves no
  * rows, and its retry inserts each row once.
  *
  * Duplicate keys within `df` are applied in partition order, which is not
  * deterministic across runs — dedup first (`Dedup`/`Upsert` handle this)
  * exactly as the reference relied on cursor order.
  */
object JdbcSink {

  /** Open a connection with retry/backoff (reference sdk/lib/db.php:327-346:
    * up to 7 attempts, 3 s apart). `options` are the ones Spark's JDBC
    * reader takes: `driver` names the class to load, and every other entry
    * reaches the driver as a connection property (`user`, `password`, ...;
    * drivers ignore the keys they do not know, such as Spark's own).
    */
  def connect(url: String, options: Map[String, String] = Map.empty,
              attempts: Int = 7, delayMs: Long = 3000): Connection = {
    options.get("driver").foreach(Class.forName)
    val props = new Properties()
    (options - "driver").foreach { case (k, v) => props.setProperty(k, v) }
    withRetry(attempts, delayMs)(DriverManager.getConnection(url, props))
  }

  /** Retry policy shared by every plan-time/executor-side connection path:
    * up to `attempts`, `delayMs` apart (the reference retried everything;
    * here PERMANENT failures fail fast — SQLState class 42 (syntax /
    * missing object) or 28 (bad credentials), or Derby's authentication
    * failure, anywhere in the failure can never succeed on retry, and
    * interruption propagates instead of being slept through).
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
      !causes(t).exists {
        case _: InterruptedException => true
        // Derby reports bad credentials as 08004 with its session
        // severity 40000; MySQL's "Too many connections" (08004, 1040)
        // stays transient
        case s: SQLException =>
          s.getSQLState == "08004" && s.getErrorCode == 40000
        case _ => false
      }
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

  /** Outcome of a write: rows applied, rows that failed even the
    * row-at-a-time replay, and a bounded sample of their errors.
    */
  final case class UpsertReport(applied: Long, failed: Long,
                                errors: Seq[String])

  /** Update-else-insert each row of `df` into `table` on `keys`, with
    * poison-row isolation (see the header): rows that fail alone are
    * skipped, counted, and sampled into `errors` (≤20 per partition)
    * instead of sinking the whole write. The update-vs-insert branch is
    * decided from the batched UPDATE's per-row counts — rows whose UPDATE
    * matched nothing are re-batched as INSERTs — so the semantics are
    * exactly the reference's "update if present else insert" without
    * needing a dialect-specific MERGE.
    */
  def upsertReport(df: DataFrame, url: String, table: String,
                   keys: Seq[String],
                   options: Map[String, String] = Map.empty,
                   batchSize: Int = 1000): UpsertReport = {
    val cols = df.columns.toSeq
    val nonKeys = cols.filterNot(keys.contains)
    require(keys.nonEmpty && nonKeys.nonEmpty,
      s"upsert needs key and non-key columns, got keys=$keys of $cols")
    // Column identifiers are quoted (Spark's JDBC writer creates them
    // quoted); the TABLE name passes through raw, exactly as Spark's own
    // writer emits it in CREATE/INSERT — quoting it here would miss tables
    // the writer created unquoted (e.g. Derby folds those to upper case).
    val dialect = JdbcDialects.get(url)
    def q(n: String) = dialect.quoteIdentifier(n)
    val updateSql = s"UPDATE $table SET " +
      nonKeys.map(c => s"${q(c)} = ?").mkString(", ") +
      " WHERE " + keys.map(c => s"${q(c)} = ?").mkString(" AND ")
    val insertSql = s"INSERT INTO $table (${cols.map(q).mkString(", ")})" +
      s" VALUES (${cols.map(_ => "?").mkString(", ")})"
    val schema = df.schema
    val updateOrder = nonKeys ++ keys
    writeBatches(df, url, options, batchSize, "graft_upsert",
      Seq(updateSql, insertSql), wholePartition = false)(
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
      },
      one = { case (Seq(up, ins), r) =>
        bind(up, r, updateOrder, schema)
        if (up.executeUpdate() == 0) {
          bind(ins, r, cols, schema)
          ins.executeUpdate()
        }
      })
  }

  /** Append every row of `df` to `table`, creating the table when it does
    * not exist — the reference's `add_many` batch insert
    * (sdk/lib/db.php:250-274) with its failed-row replay (see the header):
    * a row that fails alone is skipped, counted and sampled instead of
    * aborting the write. Set-up runs on the driver over one connection,
    * through Spark's own JDBC helpers, so the table and the INSERT are the
    * ones Spark's JDBC writer makes: a missing table is created with the
    * dialect's type mapping and the `createTableColumnTypes`/
    * `createTableOptions` options, identifiers are quoted by the dialect,
    * and column names resolve against an existing table's own names
    * (case-insensitively unless `spark.sql.caseSensitive`). Rows then go in
    * 1,000-row batches, one transaction per partition.
    */
  def append(df: DataFrame, url: String, table: String,
             options: Map[String, String] = Map.empty): UpsertReport = {
    val caseSensitive = df.sparkSession.sessionState.conf.caseSensitiveAnalysis
    val write = new JdbcOptionsInWrite(url, table, options)
    val conn = connect(url, options)
    val tableSchema = try JdbcUtils.getSchemaOption(conn, write).orElse {
      JdbcUtils.createTable(conn, table, df.schema, caseSensitive, write)
      Some(df.schema)
    } finally conn.close()
    val sql = JdbcUtils.getInsertStatement(table, df.schema, tableSchema,
      caseSensitive, JdbcDialects.get(url))
    val cols = df.columns.toSeq
    val schema = df.schema
    writeBatches(df, url, options, 1000, "graft_append", Seq(sql),
      wholePartition = true)(
      batch = { case (Seq(st), rows) =>
        rows.foreach { r => bind(st, r, cols, schema); st.addBatch() }
        st.executeBatch()
      },
      one = { case (Seq(st), r) =>
        bind(st, r, cols, schema)
        st.executeUpdate()
      })
  }

  /** A partition's unit of work. Per batch (the upsert), `done` commits
    * the work and `undo` rolls it back. Over the whole partition (the
    * append), `done` moves a savepoint past the work and `undo` rolls back
    * to that savepoint; the partition commits once, at its end.
    */
  private final class Tx(conn: Connection, wholePartition: Boolean) {
    private var mark: Savepoint =
      if (wholePartition) conn.setSavepoint() else null
    def done(): Unit =
      if (mark == null) conn.commit()
      else { conn.releaseSavepoint(mark); mark = conn.setSavepoint() }
    def undo(): Unit =
      if (mark == null) conn.rollback() else conn.rollback(mark)
  }

  /** The one per-partition write loop: one connection with autocommit
    * off, `sqls` prepared once, then each `batchSize` rows run through
    * `batch` (which does not commit) and end one [[Tx]] unit; the
    * partition commits at its end. Poison-row replay (reference
    * sdk/migrate_assures.php:419-456: collect failures, retry them
    * individually, log what still fails and move on): when a batch fails
    * with a data error ([[isDataError]]), the staged batches are cleared,
    * the batch's unit is undone, and the batch replays through `one`, each
    * row its own unit; a row that fails alone with a data error is undone,
    * counted as failed and sampled (≤ 20 per partition). Any other failure
    * rolls back what the partition has not committed — with
    * `wholePartition`, all of it — so a task retry starts from a clean
    * slate. Empty partitions open no connection.
    */
  private def writeBatches(df: DataFrame, url: String,
                           options: Map[String, String], batchSize: Int,
                           name: String, sqls: Seq[String],
                           wholePartition: Boolean)
                          (batch: (Seq[PreparedStatement], Seq[Row]) => Unit,
                           one: (Seq[PreparedStatement], Row) => Unit)
      : UpsertReport = {
    val sc = df.sparkSession.sparkContext
    val applied = sc.longAccumulator(name)
    val failed = sc.longAccumulator(s"${name}_failed")
    val errors = sc.collectionAccumulator[String](s"${name}_errors")
    df.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val conn = connect(url, options)
        try {
          conn.setAutoCommit(false)
          val st = sqls.map(conn.prepareStatement)
          try {
            val tx = new Tx(conn, wholePartition)
            var sampled = 0
            def alone(r: Row): Boolean =
              try { one(st, r); tx.done(); true }
              catch {
                case e: SQLException if isDataError(e) =>
                  tx.undo()
                  failed.add(1)
                  if (sampled < 20) { errors.add(e.getMessage); sampled += 1 }
                  false
              }
            it.grouped(batchSize).foreach { rows =>
              applied.add(
                try { batch(st, rows); tx.done(); rows.length }
                catch {
                  case e: SQLException if isDataError(e) =>
                    // a mid-bind failure leaves entries staged
                    st.foreach(_.clearBatch())
                    tx.undo()
                    rows.count(alone)
                })
            }
            conn.commit()
          } finally st.foreach(_.close())
        } catch {
          case t: Throwable =>
            try conn.rollback()
            catch { case e: SQLException => t.addSuppressed(e) }
            throw t
        } finally conn.close()
      }
    }
    UpsertReport(applied.value, failed.value, errors.value.asScala.toSeq)
  }

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

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{JdbcSink, MiniMySql, Sources}

/** ON DUPLICATE KEY UPDATE + multi-value INSERT rewrite coverage for the
  * MySQL dialect double (r12-verdict item 7 — the riskiest Connector/J
  * behaviors a live server would exercise): the 1-inserted / 2-changed /
  * 1-unchanged affected counts under the default CLIENT_FOUND_ROWS
  * reporting, `VALUES(col)` resolution, sequential tuple processing
  * inside one rewritten statement, the modeled-subset syntax guard, and
  * [[JdbcSink.upsertOnDuplicateKey]] — differentially against both the
  * probe-based [[JdbcSink.upsert]] on the same engine and live Derby.
  */
class MiniMySqlOdkuSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def freshDb(): (String, String, Map[String, String]) = {
    MiniMySql.ensureRegistered()
    val db = "odku_" + java.util.UUID.randomUUID().toString.take(8)
    MiniMySql.createTable(db, "t",
      Seq(MiniMySql.ColDef("id", notNull = true),
        MiniMySql.ColDef("v", notNull = true)), pk = Seq("id"))
    (db, MiniMySql.UrlPrefix + db,
      Map("driver" -> "graft.etl.MiniMySqlDriver$"))
  }

  private def conn(url: String) = MiniMySql.connect(url)

  test("ODKU affected counts: 1 inserted, 2 updated-and-changed, " +
    "1 updated-to-current (Connector/J default reporting)") {
    val (_, url, _) = freshDb()
    val c = conn(url)
    try {
      val ps = c.prepareStatement(
        "INSERT INTO `t` (`id`, `v`) VALUES (?, ?) " +
          "ON DUPLICATE KEY UPDATE `v` = VALUES(`v`)")
      ps.setObject(1, 1L); ps.setString(2, "a")
      assert(ps.executeUpdate() === 1) // fresh insert
      ps.setObject(1, 1L); ps.setString(2, "b")
      assert(ps.executeUpdate() === 2) // dup, value changed
      ps.setObject(1, 1L); ps.setString(2, "b")
      assert(ps.executeUpdate() === 1) // dup, set to its current value
    } finally c.close()
  }

  test("statement-level atomicity inside an explicit transaction: a " +
    "multi-tuple INSERT that dies mid-statement unwinds ITS OWN tuples " +
    "but keeps the transaction's earlier statements (r13 ADVICE)") {
    val (db, url, _) = freshDb()
    val c = conn(url)
    try {
      c.setAutoCommit(false)
      val one = c.prepareStatement("INSERT INTO `t` (`id`, `v`) VALUES (?, ?)")
      one.setObject(1, 1L); one.setString(2, "keep")
      assert(one.executeUpdate() === 1) // statement #1 of the tx
      val multi = c.prepareStatement(
        "INSERT INTO `t` (`id`, `v`) VALUES (?, ?), (?, ?), (?, ?)")
      multi.setObject(1, 10L); multi.setString(2, "a")
      multi.setObject(3, 11L); multi.setString(4, "b")
      multi.setObject(5, 1L); multi.setString(6, "dup") // dup key → dies
      intercept[java.sql.SQLException] { multi.executeUpdate() }
      // real MySQL: the failed STATEMENT is gone whole (tuples 10, 11
      // included), the transaction survives — commit persists only
      // statement #1
      c.commit()
    } finally c.close()
    val got = MiniMySql.scanDF(spark, db, "t", schema)
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "keep"),
      s"partial multi-row INSERT persisted: $got")
  }

  test("statement-level unwind also covers UPDATE dying mid-hit-loop: " +
    "no half-updated row set escapes into a committed tx") {
    val (db, url, _) = freshDb()
    val c = conn(url)
    try {
      c.setAutoCommit(false)
      val ins = c.prepareStatement(
        "INSERT INTO `t` (`id`, `v`) VALUES (?, ?), (?, ?)")
      ins.setObject(1, 1L); ins.setString(2, "a")
      ins.setObject(3, 2L); ins.setString(4, "a")
      ins.executeUpdate()
      // UPDATE both rows to NULL on a NOT NULL column: the first row's
      // write throws — nothing may stick
      val upd = c.prepareStatement("UPDATE `t` SET `v` = ? WHERE `v` = ?")
      upd.setObject(1, null); upd.setString(2, "a")
      intercept[java.sql.SQLException] { upd.executeUpdate() }
      c.commit()
    } finally c.close()
    val got = MiniMySql.scanDF(spark, db, "t", schema)
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "a", 2L -> "a"))
  }

  test("multi-value rewritten INSERT: one statement, tuples processed " +
    "sequentially (a later tuple updates an earlier tuple's row)") {
    val (db, url, _) = freshDb()
    val c = conn(url)
    try {
      val ps = c.prepareStatement(
        "INSERT INTO `t` (`id`, `v`) VALUES (?, ?), (?, ?), (?, ?) " +
          "ON DUPLICATE KEY UPDATE `v` = VALUES(`v`)")
      ps.setObject(1, 10L); ps.setString(2, "x")
      ps.setObject(3, 11L); ps.setString(4, "y")
      ps.setObject(5, 10L); ps.setString(6, "z") // same key as tuple 1
      // 1 (insert 10) + 1 (insert 11) + 2 (update 10: x→z)
      assert(ps.executeUpdate() === 4)
    } finally c.close()
    val got = MiniMySql.scanDF(spark, db, "t", schema)
      .as[(Long, String)].collect().toMap
    assert(got === Map(10L -> "z", 11L -> "y"))
  }

  test("multi-value INSERT without ODKU still throws 1062/23000 on a " +
    "duplicate, and the caller's rollback restores (statement atomicity)") {
    val (db, url, _) = freshDb()
    val c = conn(url)
    try {
      c.setAutoCommit(false)
      val ps = c.prepareStatement(
        "INSERT INTO `t` (`id`, `v`) VALUES (?, ?), (?, ?)")
      ps.setObject(1, 1L); ps.setString(2, "a")
      ps.setObject(3, 1L); ps.setString(4, "dup") // same key → 1062
      val e = intercept[java.sql.SQLException] { ps.executeUpdate() }
      assert(e.getErrorCode === 1062 && e.getSQLState === "23000")
      c.rollback()
    } finally c.close()
    assert(MiniMySql.scanDF(spark, db, "t", schema).count() === 0)
  }

  test("the modeled subset is guarded: a `?` in the ODKU clause is a " +
    "1064/42000 syntax error, never a silent misparse") {
    val (_, url, _) = freshDb()
    val c = conn(url)
    try {
      val e = intercept[java.sql.SQLException] {
        c.prepareStatement(
          "INSERT INTO `t` (`id`, `v`) VALUES (?, ?) " +
            "ON DUPLICATE KEY UPDATE `v` = ?")
      }
      assert(e.getErrorCode === 1064 && e.getSQLState === "42000")
    } finally c.close()
  }

  test("ODKU assigning NULL to a NOT NULL column raises 1048/23000 on " +
    "the update path too") {
    val (_, url, _) = freshDb()
    val c = conn(url)
    try {
      val ps = c.prepareStatement(
        "INSERT INTO `t` (`id`, `v`) VALUES (?, ?) " +
          "ON DUPLICATE KEY UPDATE `v` = VALUES(`v`)")
      ps.setObject(1, 1L); ps.setString(2, "a")
      ps.executeUpdate()
      ps.setObject(1, 1L); ps.setNull(2, java.sql.Types.VARCHAR)
      val e = intercept[java.sql.SQLException] { ps.executeUpdate() }
      assert(e.getErrorCode === 1048 && e.getSQLState === "23000")
    } finally c.close()
  }

  test("JdbcSink.upsertOnDuplicateKey == JdbcSink.upsert on the same " +
    "engine: identical final table under seed/overlap/poison") {
    def run(up: (org.apache.spark.sql.DataFrame, String) => Unit)
        : Map[Long, String] = {
      val (db, url, _) = freshDb()
      up(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), url)
      up(Seq((2L, "B"), (4L, "d")).toDF("id", "v"), url)
      // poison row (null v) must be isolated, 6 must land
      up(Seq[(java.lang.Long, String)]((5L, null), (6L, "f"))
        .toDF("id", "v"), url)
      MiniMySql.scanDF(spark, db, "t", schema)
        .as[(Long, String)].collect().toMap
    }
    val opts = Map("driver" -> "graft.etl.MiniMySqlDriver$")
    val viaProbe = run((df, url) =>
      JdbcSink.upsert(df, url, "`t`", Seq("id"), opts, quote = "`"))
    val viaOdku = run((df, url) => {
      val r = JdbcSink.upsertOnDuplicateKey(df, url, "`t`", Seq("id"), opts)
      assert(r.applied + r.failed === df.count())
    })
    assert(viaOdku === viaProbe)
    assert(viaOdku === Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d",
      6L -> "f"))
  }

  test("differential vs live Derby: upsertOnDuplicateKey(MiniMySql) " +
    "converges to the same table as upsert(Derby) under one plan") {
    // Derby side via the probe-based upsert (Derby has no ODKU)
    val tmp = java.nio.file.Files.createTempDirectory("graft_odku_d")
      .toString
    val derbyUrl = s"jdbc:derby:$tmp/db;create=true"
    val derbyOpts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    locally {
      val c = JdbcSink.connect(derbyUrl, derbyOpts)
      try c.createStatement().executeUpdate(
        """CREATE TABLE t ("id" BIGINT NOT NULL PRIMARY KEY,
          | "v" VARCHAR(100) NOT NULL)""".stripMargin)
      finally c.close()
    }
    def plan(up: org.apache.spark.sql.DataFrame => Unit): Unit = {
      up(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
      up(Seq((3L, "C"), (4L, "d"), (5L, "e")).toDF("id", "v"))
      up(Seq[(java.lang.Long, String)]((9L, null), (6L, "f"))
        .toDF("id", "v"))
    }
    plan(df => JdbcSink.upsert(df, derbyUrl, "t", Seq("id"), derbyOpts,
      quote = "\""))
    val derby = Sources.jdbc(spark, derbyUrl, "t", derbyOpts)
      .select(col("id").cast("long"), col("v"))
      .as[(Long, String)].collect().toMap
    val (db, url, opts) = freshDb()
    plan(df => JdbcSink.upsertOnDuplicateKey(df, url, "`t`", Seq("id"),
      opts))
    val mini = MiniMySql.scanDF(spark, db, "t", schema)
      .as[(Long, String)].collect().toMap
    assert(mini === derby)
    assert(mini === Map(1L -> "a", 2L -> "b", 3L -> "C", 4L -> "d",
      5L -> "e", 6L -> "f"))
  }
}

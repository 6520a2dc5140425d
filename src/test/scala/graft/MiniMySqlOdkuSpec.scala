package graft

import org.apache.spark.sql.types._

import graft.etl.MiniMySql

/** Multi-value INSERT rewrite and statement-atomicity coverage for the
  * MySQL dialect double (r12-verdict item 7 — the riskiest Connector/J
  * behaviors a live server would exercise): a statement that dies midway
  * unwinds only itself inside an explicit transaction, a duplicate inside
  * one rewritten statement is MySQL's 1062/23000, and an
  * `ON DUPLICATE KEY UPDATE` clause, which the double does not model, is a
  * syntax error rather than a silent misparse.
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
}

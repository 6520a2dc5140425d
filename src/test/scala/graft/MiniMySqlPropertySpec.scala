package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

import org.apache.spark.sql.types._

import graft.etl.{ExistsProbe, JdbcSink, MiniMySql}

/** Property checks for the round-11 surfaces: the exists-probe
  * operator-string parser (reference tokenization over generated
  * inputs) and the MySQL dialect double (random upsert sequences vs an
  * in-test map oracle applied last-writer-wins).
  */
class MiniMySqlPropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(prop: Prop, n: Int = 20): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  test("ExistsProbe.parseCond: every well-formed 'col op value' string " +
    "round-trips; every string missing a part is rejected") {
    val colGen = Gen.identifier.map(_.take(12)).suchThat(_.nonEmpty)
    val opGen = Gen.oneOf("=", "!=", "<>", ">", ">=", "<", "<=", "like")
    val valGen = Gen.oneOf(Gen.alphaNumStr.suchThat(_.nonEmpty),
      Gen.choose(-1000000, 1000000).map(_.toString))
    check(Prop.forAll(colGen, opGen, valGen) { (c, o, v) =>
      val cond = ExistsProbe.parseCond(s"$c $o $v")
      cond.column == c && cond.op == o.toLowerCase && cond.value == v
    })
    // missing value / missing operator always rejected
    check(Prop.forAll(colGen, opGen) { (c, o) =>
      Seq(s"$c", s"$c $o").forall { s =>
        try { ExistsProbe.parseCond(s); false }
        catch { case _: IllegalArgumentException => true }
      }
    })
    // the value may itself contain spaces (reference: str_after takes
    // THE REST) — everything after the operator survives verbatim
    val parsed = ExistsProbe.parseCond("name like a b  c")
    assert(parsed.value === "a b  c")
  }

  test("MiniMySql random upsert sequences equal a last-writer-wins " +
    "map oracle") {
    MiniMySql.ensureRegistered()
    val opGen: Gen[(Long, String)] = for {
      id <- Gen.choose(1L, 12L)           // small domain forces collisions
      v <- Gen.alphaNumStr.map(s => "v" + s.take(6))
    } yield (id, v)
    check(Prop.forAll(Gen.listOfN(24, opGen)) { ops =>
      val db = "prop_" + java.util.UUID.randomUUID().toString.take(8)
      val url = MiniMySql.UrlPrefix + db
      val jopts = Map("driver" -> "graft.etl.MiniMySqlDriver$")
      MiniMySql.createTable(db, "t",
        Seq(MiniMySql.ColDef("id", notNull = true),
          MiniMySql.ColDef("v", notNull = true)), pk = Seq("id"))
      val oracle = scala.collection.mutable.Map[Long, String]()
      ops.foreach { case (id, v) =>
        // single-row frames keep the apply order exact, so the map
        // oracle's last-writer-wins is the ground truth
        JdbcSink.upsertReport(Seq((id, v)).toDF("id", "v"), url, "t",
          Seq("id"), jopts)
        oracle(id) = v
      }
      val got = MiniMySql.scanDF(spark, db, "t", StructType(Seq(
          StructField("id", LongType), StructField("v", StringType))))
        .as[(Long, String)].collect().toMap
      MiniMySql.dropDatabase(db)
      got == oracle.toMap
    }, n = 8)
  }
}

package graft

class GraftFunctionsSpec extends SparkSpec {

  test("registered SQL functions match the Column-API semantics") {
    import spark.implicits._
    Seq(("hello world", " "), ("noseparator", " "), (" lead", " "))
      .toDF("s", "sep").createOrReplaceTempView("strs")
    val rows = spark.sql(
      """SELECT str_before(s, ' ') AS b, str_after(s, ' ') AS a,
        |       rolling_hash(s) AS h FROM strs""".stripMargin).collect()
    assert(rows(0).getString(0) === "hello")
    assert(rows(0).getString(1) === "world")
    assert(rows(1).getString(0) === "")
    assert(rows(1).getString(1) === "")
    assert(rows(2).getString(0) === "") // position-0 edge
    assert(rows(2).getString(1) === "lead")
    assert(rows(0).getLong(2) ===
      graft.functions.RollingHash.hash("hello world"))
  }

  test("codegen vector/dedup primitives are reachable from SQL") {
    import spark.implicits._
    Seq((Array(1.0f, 0.0f), Array(0.5f, 0.5f), "the quick brown fox jumps"))
      .toDF("a", "b", "text").createOrReplaceTempView("vecs")
    val r = spark.sql(
      """SELECT fp_dot(a, b) AS dot, lsh_bucket(a, 4) AS bucket,
        |       word_shingles(text, 3) AS sh,
        |       minhash_sig(word_shingles(text, 3), 4) AS sig
        |  FROM vecs""".stripMargin).collect()(0)
    assert(r.getAs[Long]("dot") === 5e11.toLong) // 1*0.5 at 1e12 scale
    // shingles of 5 tokens with k=3 → 3 shingles
    assert(r.getAs[scala.collection.Seq[String]]("sh").toSeq ===
      Seq("the quick brown", "quick brown fox", "brown fox jumps"))
    assert(r.getAs[scala.collection.Seq[Long]]("sig").length === 4)
    // SQL values match the Column-API spellings used by the operators
    val viaColumns = spark.sql("SELECT a, b, text FROM vecs")
      .select(
        graft.ops.Similarity.dotFp($"a", $"b").as("dot"),
        graft.ops.Similarity.lshBucket($"a", 4).as("bucket"),
        graft.ops.TextAnalysis.wordShingles($"text", 3).as("sh"))
      .collect()(0)
    assert(r.getAs[Long]("dot") === viaColumns.getAs[Long]("dot"))
    assert(r.getAs[Long]("bucket") === viaColumns.getAs[Long]("bucket"))
    assert(r.getAs[scala.collection.Seq[String]]("sh").toSeq ===
      viaColumns.getAs[scala.collection.Seq[String]]("sh").toSeq)
    // non-literal static arg is rejected, not silently misread
    intercept[Exception] {
      spark.sql("SELECT lsh_bucket(a, CAST(length(text) AS INT)) FROM vecs")
        .collect()
    }
  }

  test("fused expressions match composed-form null semantics") {
    // null shingle entries are SKIPPED (array_min ignores nulls in the
    // composed form); all-null input yields null components
    val r = spark.sql(
      """SELECT minhash_sig(array('a', CAST(NULL AS STRING)), 2) AS part,
        |       minhash_sig(array(CAST(NULL AS STRING)), 2) AS none,
        |       minhash_sig(array('a'), 2) AS ref""".stripMargin).collect()(0)
    assert(r.getAs[scala.collection.Seq[Any]]("part").toSeq ===
      r.getAs[scala.collection.Seq[Any]]("ref").toSeq)
    assert(r.getAs[scala.collection.Seq[Any]]("none").toSeq ===
      Seq(null, null))
    // a null vector element collapses the LSH bucket to 0 (every plane dot
    // goes null in the composed when/otherwise form)
    val b = spark.sql(
      "SELECT lsh_bucket(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), 4)")
      .collect()(0).getLong(0)
    assert(b === 0L)
    // wrong input types fail at analysis, not at runtime
    intercept[Exception] {
      spark.sql("SELECT word_shingles(5, 3)").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT minhash_sig(5, 4)").collect()
    }
  }

  test("the session extension alone registers the whole catalog") {
    GraftFunctions.builders.foreach { case (name, _) =>
      assert(spark.catalog.functionExists(name), s"$name is not registered")
    }
    assert(GraftFunctions.kernels.map(_.name).toSet
      .subsetOf(GraftFunctions.builders.map(_._1).toSet))
    val r = spark.sql(
      "SELECT nfc_normalize('e\u0301'), accent_strip('caf\u00e9')")
      .collect()(0)
    assert(r.getString(0) === "\u00e9")
    assert(r.getString(1) === "cafe")
    import spark.implicits._
    // unaliased calls keep the built-in naming: literal ints are not
    // part of the name, in SQL or through the DataFrame helper
    val docs = Seq("the quick brown fox").toDF("text")
    docs.createOrReplaceTempView("sh_docs")
    assert(spark.sql("SELECT word_shingles(text, 3) FROM sh_docs")
      .columns.toSeq === Seq("word_shingles(text)"))
    assert(docs.select(graft.ops.TextAnalysis.wordShingles($"text", 3))
      .columns.toSeq === Seq("word_shingles(text)"))
  }

  test("extensions class wires the same builders at session build time") {
    // Full builder-path coverage needs a fresh JVM-level session; here we
    // assert the extension applies cleanly to an injection point.
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(e) // must not throw
  }

  test("check rule fails fast on the self-join lineage trap") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((1, "x"), (2, "x")).toDF("id", "band")
    val right = df.select(col("id").as("id_b"), col("band").as("band_b"))
    // both condition sides resolve to the LEFT frame's attribute —
    // trivially true, silent cross join without the check. The shared
    // session carries GraftExtensions, so the injected rule fires during
    // the EAGER analysis at join() construction time.
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val e = intercept[Exception] {
      df.join(right, df("band") === df("band")).queryExecution.analyzed
    }
    assert(messages(e).exists(_.contains("compares an attribute")),
      s"unexpected failure: $e")
    // null-safe equality is the same trap
    val e2 = intercept[Exception] {
      df.join(right, df("band") <=> df("band")).queryExecution.analyzed
    }
    assert(messages(e2).exists(_.contains("compares an attribute")))
    // properly aliased per-side keys pass
    GraftChecks.trivialSelfJoin(
      df.join(right, df("band") === right("band_b"))
        .queryExecution.analyzed)
  }
}

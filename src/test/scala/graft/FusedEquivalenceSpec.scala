package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.ops.{MinHashDedup, Similarity, TextAnalysis}

/** The fused codegen expressions (WordShingles, MinHashSig, FixedPointDot,
  * LshBucket) claim EXACT semantic equality with the composed
  * built-in-expression forms they replaced — the property the whole oracle
  * parity story rests on. These checks pin it over generated adversarial
  * inputs (unicode, stray whitespace, empty strings, negative floats),
  * comparing fused vs composed inside one Spark job.
  */
class FusedEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private def check(prop: Prop, n: Int = 5): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val textGen: Gen[String] = Gen.listOfN(12, Gen.oneOf(
    Gen.alphaStr.map(_.take(4)),
    Gen.const(""), Gen.const("  "), Gen.const("\t"),
    Gen.const("Ünïcødé"), Gen.const("a.b,c"), Gen.const("MiXeD CaSe"),
    Gen.asciiPrintableStr.map(_.take(6))))
    .map(_.mkString(" "))

  test("WordShingles == array_distinct(slice/concat shingling) on text") {
    check(Prop.forAll(Gen.listOfN(6, textGen)) { texts =>
      val df = texts.toDF("text")
        .withColumn("tk", TextAnalysis.tokens(col("text")))
      val rows = df.select(
        TextAnalysis.wordShingles(col("text"), 3).as("fused"),
        array_distinct(MinHashDedup.shingles(col("tk"), 3)).as("composed"))
        .collect()
      rows.forall(r =>
        r.getAs[scala.collection.Seq[String]]("fused").toSeq ==
          r.getAs[scala.collection.Seq[String]]("composed").toSeq)
    })
  }

  test("WordChunks == tokenChunks(tokens, k, 0) chunk strings on text") {
    check(Prop.forAll(Gen.listOfN(6, textGen), Gen.chooseNum(1, 9)) {
      (texts, k) =>
        val chunksOf: org.apache.spark.sql.Column =
          GraftFunctions.wordChunks(col("text"), k)
        val rows = texts.toDF("text").select(
          chunksOf.as("fused"),
          filter(TextAnalysis.tokenChunks(
              TextAnalysis.tokens(col("text")), k, 0),
            c => c("n_tokens") > 0).as("composed"))
          .collect()
        rows.forall { r =>
          val fused = r.getAs[scala.collection.Seq[String]]("fused").toSeq
          val composed = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("composed")
            .map(_.getAs[String]("chunk")).toSeq
          fused == composed
        }
    })
  }

  test("WordChunkStructs == tokenChunks(tokens, k, overlap) incl. filter") {
    check(Prop.forAll(Gen.listOfN(6, textGen), Gen.chooseNum(2, 9),
      Gen.chooseNum(0, 1)) { (texts, k, ov) =>
        val overlap = math.min(ov, k - 1)
        val rows = texts.toDF("text").select(
          TextAnalysis.tokenChunksFused(col("text"), k, overlap)
            .as("fused"),
          TextAnalysis.tokenChunks(TextAnalysis.tokens(col("text")),
            k, overlap).as("composed"))
          .collect()
        def norm(seq: scala.collection.Seq[org.apache.spark.sql.Row]) =
          seq.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
        rows.forall { r =>
          norm(r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("fused")) ==
            norm(r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("composed"))
        }
    })
  }

  test("MinHashSig == baseHash + universal-hash mins on shingle arrays") {
    check(Prop.forAll(Gen.listOfN(6, textGen)) { texts =>
      val df = texts.toDF("text")
        .withColumn("sh", TextAnalysis.wordShingles(col("text"), 2))
        .filter(size(col("sh")) > 0)
      val rows = df.select(
        MinHashDedup.signatureFused(col("sh"), 8).as("fused"),
        MinHashDedup.signature(col("sh"), 8).as("composed"))
        .collect()
      rows.forall(r =>
        r.getAs[scala.collection.Seq[Long]]("fused").toSeq ==
          r.getAs[scala.collection.Seq[Long]]("composed").toSeq)
    })
  }

  test("SimHash.sketch (explode + codegen aggregates) == composed simhash") {
    check(Prop.forAll(Gen.listOfN(5, textGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val viaSketch = graft.ops.SimHash.sketch(df, "doc_id", "text", 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaComposed = df
        .withColumn("sh", TextAnalysis.wordShingles(col("text"), 2))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"),
          graft.ops.SimHash.simhash(col("sh")).as("simhash"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      viaSketch == viaComposed
    }, n = 4)
  }

  private val vecGen: Gen[Array[Float]] =
    Gen.listOfN(16, Gen.chooseNum(-1.0f, 1.0f)).map(_.toArray)

  test("FixedPointDot == aggregate(zip_with(round(x*y*1e12))) on floats") {
    check(Prop.forAll(Gen.listOfN(8, vecGen)) { vecs =>
      val df = vecs.map(v => (v, v.reverse)).toDF("a", "b")
      val composed = aggregate(
        zip_with(col("a"), col("b"), (x, y) =>
          round(x.cast("double") * y.cast("double") * 1e12).cast("long")),
        lit(0L), (acc, v) => acc + v)
      val rows = df.select(
        Similarity.dotFp(col("a"), col("b")).as("fused"),
        composed.as("composed")).collect()
      rows.forall(r => r.getLong(0) == r.getLong(1))
    })
  }

  test("LshBucket == per-row md5 plane-sign formula on floats") {
    // the ORIGINAL spelling: sign(j,i) from md5 hex parity, evaluated
    // per row — kept here as the executable specification
    def planeSign(j: org.apache.spark.sql.Column,
                  i: org.apache.spark.sql.Column) =
      when(conv(substring(md5(concat(j.cast("string"), lit("_"),
        i.cast("string"))), 1, 1), 16, 10).cast("long") % 2 === 0, 1L)
        .otherwise(-1L)
    def composedBucket(vec: org.apache.spark.sql.Column, nPlanes: Int) =
      aggregate(
        sequence(lit(0), lit(nPlanes - 1)),
        lit(0L),
        (acc, j) => {
          val planeDot = aggregate(
            zip_with(vec, sequence(lit(0), size(vec) - 1), (x, i) =>
              planeSign(j, i) * round(x.cast("double") * 1e6).cast("long")),
            lit(0L), (a2, v) => a2 + v)
          acc + when(planeDot > 0,
            call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))
        })
    check(Prop.forAll(Gen.listOfN(8, vecGen)) { vecs =>
      val df = vecs.map(Tuple1(_)).toDF("v")
      val rows = df.select(
        Similarity.lshBucket(col("v"), 6).as("fused"),
        composedBucket(col("v"), 6).as("composed")).collect()
      rows.forall(r => r.getLong(0) == r.getLong(1))
    }, n = 4)
  }

  test("LshBucket plane offset == the same bit slice of a wider bucket") {
    // table t's bucket over planes [o, o+n) must be exactly bits [o, o+n)
    // of the single-table bucket computed over planes [0, o+n) — the
    // property that makes ensemble tables independent WITHOUT independent
    // hashing work
    check(Prop.forAll(Gen.listOfN(8, vecGen)) { vecs =>
      val df = vecs.map(Tuple1(_)).toDF("v")
      val rows = df.select(
        Similarity.lshBucket(col("v"), 4, planeOffset = 4).as("offset"),
        Similarity.lshBucket(col("v"), 8).as("wide")).collect()
      rows.forall(r => r.getLong(0) == ((r.getLong(1) >>> 4) & 0xfL))
    }, n = 4)
  }

  test("HammingLE == bit_count(xor) <= d, including null propagation") {
    val longGen: Gen[java.lang.Long] = Gen.frequency(
      8 -> Gen.chooseNum(Long.MinValue, Long.MaxValue)
        .map(java.lang.Long.valueOf),
      1 -> Gen.const(null.asInstanceOf[java.lang.Long]))
    check(Prop.forAll(Gen.listOfN(12, Gen.zip(longGen, longGen)),
      Gen.chooseNum(0, 15)) { (pairs, d) =>
      val df = pairs.map { case (a, b) => (a, b) }.toDF("a", "b")
      val rows = df.select(
        graft.ops.SimHash.hammingLE(col("a"), col("b"), d).as("fused"),
        (bit_count(col("a").bitwiseXOR(col("b"))) <= d).as("composed"))
        .collect()
      rows.forall { r =>
        (r.isNullAt(0) && r.isNullAt(1)) ||
          (!r.isNullAt(0) && r.getBoolean(0) == r.getBoolean(1))
      }
    }, n = 5)
  }

  test("quantize: int8 range and reconstruction error within half a step") {
    check(Prop.forAll(Gen.listOfN(8, vecGen)) { vecs =>
      val df = vecs.map(Tuple1(_)).toDF("v")
      val rows = Similarity.quantize(df, "v", "s", "q8").collect()
      rows.forall { r =>
        val v = r.getAs[scala.collection.Seq[Float]]("v")
        val s = r.getDouble(r.fieldIndex("s"))
        val q = r.getAs[scala.collection.Seq[Long]]("q8")
        q.forall(x => math.abs(x) <= 127) &&
          v.zip(q).forall { case (x, c) =>
            math.abs(x.toDouble - c * s) <= s / 2 + 1e-12
          }
      }
    }, n = 4)
  }
}

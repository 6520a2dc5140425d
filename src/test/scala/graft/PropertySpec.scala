package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.etl.{AntiDestination, Dedup, Upsert}
import graft.functions.RollingHash
import graft.functions.StrFunctions._

/** Property-based semantics checks (SURVEY.md §5.3): set laws of the ETL
  * operators over generated inputs. Plain ScalaCheck (no scalatestplus
  * bridge in the offline env) — each property is checked with a bounded
  * number of Spark round-trips.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(prop: Prop, n: Int = 6): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val keyGen = Gen.listOfN(12,
    Gen.oneOf(Gen.alphaStr.map(_.take(3)), Gen.const("k "), Gen.const(" k")))

  test("dedup: output one row per distinct trimmed key, rows from input") {
    check(Prop.forAll(keyGen) { keys =>
      val df = keys.zipWithIndex.map { case (k, i) => (i, k) }
        .toDF("ord", "k")
      val out = Dedup.firstWins(df, "k", Seq(col("ord")))
        .collect().map(r => (r.getInt(0), r.getString(1)))
      val input = keys.zipWithIndex.map { case (k, i) => (i, k) }
      val distinctTrim = keys.map(_.trim).distinct.size
      out.length == distinctTrim &&
        out.forall(input.contains) &&
        // first-wins: each survivor has the min ord of its trim-group
        out.forall { case (ord, k) =>
          ord == input.filter(_._2.trim == k.trim).map(_._1).min }
    })
  }

  test("anti ∪ semi partitions the source exactly") {
    val gen = for {
      src <- Gen.listOfN(10, Gen.chooseNum(0, 6))
      dst <- Gen.listOfN(4, Gen.chooseNum(0, 6))
    } yield (src, dst)
    check(Prop.forAll(gen) { case (srcKeys, dstKeys) =>
      val src = srcKeys.zipWithIndex.toDF("k", "id")
      val dst = dstKeys.toDF("k")
      val anti = AntiDestination(src, dst, Seq("k"))
        .collect().map(_.getInt(1)).toSet
      val semi = AntiDestination.semi(src, dst, Seq("k"))
        .collect().map(_.getInt(1)).toSet
      anti.intersect(semi).isEmpty &&
        (anti ++ semi) == srcKeys.indices.toSet &&
        anti.forall(i => !dstKeys.contains(srcKeys(i)))
    })
  }

  test("upsert: result keys = src ∪ dst keys; src wins on overlap") {
    val gen = for {
      src <- Gen.listOfN(6, Gen.chooseNum(0, 8))
      dst <- Gen.listOfN(6, Gen.chooseNum(0, 8))
    } yield (src.distinct, dst.distinct)
    check(Prop.forAll(gen) { case (srcKeys, dstKeys) =>
      val src = srcKeys.map(k => (k, s"src$k")).toDF("k", "v")
      val dst = dstKeys.map(k => (k, s"dst$k")).toDF("k", "v")
      val out = Upsert(src, dst, Seq("k"))
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      out.keySet == (srcKeys ++ dstKeys).toSet &&
        srcKeys.forall(k => out(k) == s"src$k") &&
        dstKeys.filterNot(srcKeys.contains)
          .forall(k => out(k) == s"dst$k")
    })
  }

  test("strBefore + sep + strAfter reconstructs when sep mid-string") {
    val gen = for {
      a <- Gen.alphaStr.map(_.take(5)).suchThat(_.nonEmpty)
      b <- Gen.alphaStr.map(_.take(5))
    } yield (a, b)
    check(Prop.forAll(gen) { case (a, b) =>
      val s = a + "|" + b
      val row = Seq(s).toDF("s")
        .select(strBefore($"s", "|"), strAfter($"s", "|")).head()
      row.getString(0) + "|" + row.getString(1) == s
    }, n = 10)
  }

  test("rolling_hash expression == reference arithmetic on arbitrary strings") {
    check(Prop.forAll(Gen.listOfN(8, Gen.asciiPrintableStr.map(_.take(30)))) {
      strs =>
        val viaExpr = strs.toDF("s")
          .select(expr("rolling_hash(s)")).collect().map(_.getLong(0))
        viaExpr.toSeq == strs.map(RollingHash.hash)
    }, n = 5)
  }

  test("misra-gries: heavy items always survive; counters never overcount") {
    // Arbitrary multiset from a small alphabet so frequencies vary; any
    // item with freq > N/(k+1) must appear in the k=4 summary.
    val gen = Gen.listOfN(60, Gen.chooseNum(0, 9).map(i => s"it_$i"))
    check(Prop.forAll(gen) { items =>
      val cand = graft.ops.HeavyHitters.candidates(
          items.toDF("item").repartition(3), "item", k = 4)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val bound = items.size / 5.0 // N/(k+1)
      cand.size <= 4 &&
        exact.forall { case (it, f) => f <= bound || cand.contains(it) } &&
        cand.forall { case (it, c) => c <= exact(it) }
    }, n = 5)
  }

  test("bloom: inserted items always test positive, any partitioning") {
    val gen = Gen.listOfN(40, Gen.asciiPrintableStr.map(_.take(12)))
    check(Prop.forAll(gen) { strs =>
      val df = strs.toDF("s").repartition(3)
      val bf = df.agg(graft.ops.Bloom.bloomBuild(col("s"), 1 << 10, 4)
        .as("bf"))
      df.crossJoin(bf)
        .filter(!graft.ops.Bloom.mightContain(col("bf"), col("s"), 4))
        .count() == 0L
    }, n = 5)
  }

  test("mixture: per-source quota respected, selection ⊆ input, " +
      "only listed sources") {
    val gen = Gen.listOfN(60, Gen.chooseNum(0, 3))
    check(Prop.forAll(gen) { srcIdx =>
      val rows = srcIdx.zipWithIndex.map { case (sIdx, i) =>
        (i.toLong, s"s$sIdx") }
      val df = rows.toDF("id", "source")
      val weights = Seq("s0" -> 70, "s1" -> 30)
      val got = graft.ops.Sampling.mixture(df, "source", "id", weights, 50)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val n = rows.size.toLong
      val quota = Map(
        "s0" -> (n * 50 / 100) * 70 / 100,
        "s1" -> (n * 50 / 100) * 30 / 100)
      val bySrc = got.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      got.forall(rows.contains) &&
        got.forall(r => weights.exists(_._1 == r._2)) &&
        bySrc.forall { case (s, c) => c <= quota(s) }
    }, n = 5)
  }

  test("interval islands: merged spans are disjoint and count-preserving") {
    val gen = Gen.listOfN(14, Gen.zip(Gen.chooseNum(0L, 2L),
      Gen.chooseNum(0L, 60L)))
    check(Prop.forAll(gen) { ks =>
      // mirror the x7 shape over generated (key, start) with width 5
      val iv = ks.toDF("k", "s").withColumn("e", col("s") + 5)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy("s", "e")
      val runMax = max(col("e")).over(w.rowsBetween(Long.MinValue, -1))
      val grouped = iv
        .withColumn("ni", when(runMax.isNull || col("s") > runMax, 1L)
          .otherwise(0L))
        .withColumn("g", sum(col("ni")).over(
          w.rowsBetween(Long.MinValue, 0)))
        .groupBy("k", "g")
        .agg(min(col("s")).as("lo"), max(col("e")).as("hi"),
          count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      val byKey = grouped.groupBy(_._1)
      // every input interval lands in exactly one island (counts add up)
      grouped.map(_._4).sum == ks.size.toLong &&
        // islands of one key never overlap or touch
        byKey.values.forall { spans =>
          val sorted = spans.sortBy(_._2)
          sorted.zip(sorted.drop(1)).forall { case (a, b) => a._3 < b._2 }
        }
    }, n = 5)
  }

  test("ScaleSafe.exactRankValueBracket equals the reference selection " +
      "for arbitrary rank targets over tied data") {
    val gen = for {
      vals <- Gen.listOfN(60, Gen.chooseNum(0L, 8L)) // heavy ties
      q <- Gen.oneOf(0.1, 0.5, 0.9)
    } yield (vals, q)
    check(Prop.forAllNoShrink(gen) { case (vals, q) =>
      val df = vals.zipWithIndex.map { case (v, i) => (v, i.toLong) }
        .toDF("v", "id")
      val n = vals.size
      val target = math.max(1L, math.ceil(q * n).toLong)
      val ref = vals.zipWithIndex.map { case (v, i) => (v, i.toLong) }
        .sortBy(identity).apply((target - 1).toInt)._1
      val got = graft.ops.ScaleSafe.exactRankValueBracket(
          df, "v", "id", q, _ => target)
        .head().getLong(0)
      got == ref
    }, n = 5)
  }

  test("ScaleSafe two-level scans equal their global windows on " +
      "arbitrary bucket layouts") {
    val gen = for {
      ts <- Gen.listOfN(50, Gen.chooseNum(100L, 199L)) // ties across buckets
      buckets <- Gen.oneOf(1, 3, 8)
    } yield (ts, buckets)
    // NoShrink: chooseNum shrinks toward 0, escaping the generator's
    // domain (buckets = 0, ts below the bucket range)
    check(Prop.forAllNoShrink(gen) { case (ts, buckets) =>
      val df = ts.zipWithIndex.map { case (t, i) => (t, i.toLong) }
        .toDF("t", "id")
      val bucket = graft.ops.ScaleSafe.rangeBucket("t", 100L, 199L, buckets)
      val rn = graft.ops.ScaleSafe.rowNumberBucketed(
          df, Seq(col("t"), col("id")), bucket, "rn")
        .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
      val ref = ts.zipWithIndex.map { case (t, i) => (t, i.toLong) }
        .sortBy(identity).zipWithIndex
        .map { case ((_, id), r) => id -> (r + 1).toLong }.toMap
      val rs = graft.ops.ScaleSafe.runningSumBucketed(
          df, Seq(col("t"), col("id")), bucket, "id", "run")
        .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
      val refRun = ts.zipWithIndex.map { case (t, i) => (t, i.toLong) }
        .sortBy(identity)
        .scanLeft((0L, 0L)) { case ((_, acc), (_, id)) => (id, acc + id) }
        .drop(1).toMap
      rn == ref && rs == refRun
    }, n = 5)
  }
}

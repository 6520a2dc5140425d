package graft

import org.apache.spark.sql.functions._
import graft.ops.Bloom

/** Bloom filter semantics: no false negatives ever, determinism under any
  * partitioning (OR-merge), bounded false positives, and exactness of the
  * prefilter-then-verify admission.
  */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  private val items = (0 until 2000).map(i => s"item_$i")

  test("no false negatives: every inserted item tests positive") {
    val df = items.toDF("s")
    val bf = df.agg(Bloom.bloomBuild(col("s"), 1 << 14, 5).as("bf"))
    val missed = df.crossJoin(bf)
      .filter(!Bloom.mightContain(col("bf"), col("s"), 5))
      .count()
    assert(missed === 0L)
  }

  test("the filter is identical whatever the partitioning (OR merge)") {
    def bytesAt(parts: Int): Seq[Byte] =
      items.toDF("s").repartition(parts)
        .agg(Bloom.bloomBuild(col("s"), 1 << 14, 5).as("bf"))
        .collect().head.getAs[Array[Byte]](0).toSeq
    assert(bytesAt(1) === bytesAt(7))
    assert(bytesAt(7) === bytesAt(13))
  }

  test("false positives stay near the design rate") {
    val bf = items.toDF("s")
      .agg(Bloom.bloomBuild(col("s"), 1 << 14, 5).as("bf"))
    val probes = (0 until 2000).map(i => s"absent_$i").toDF("s")
    val fp = probes.crossJoin(bf)
      .filter(Bloom.mightContain(col("bf"), col("s"), 5))
      .count()
    // n=2000, m=2^14, k=5 → theoretical fp ≈ 1.7%; allow generous slack.
    assert(fp < 200, s"false-positive count $fp out of 2000 is way off")
  }

  test("admitNew equals the exact anti join, duplicates and all") {
    val corpus = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val inc = Seq(
      (10L, "alpha"),  // dup of corpus → dropped
      (11L, "delta"),  // new
      (12L, "delta"),  // new, repeated in increment → BOTH admitted
      (13L, "beta"),   // dup → dropped
      (14L, null.asInstanceOf[String]) // null text → dropped
    ).toDF("doc_id", "text")
    val out = Bloom.admitNew(inc, corpus, "text", numBits = 1 << 10)
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq === Seq(11L, 12L))
  }

  test("bloom functions are registered in SQL") {
    items.take(10).toDF("s").createOrReplaceTempView("bloom_items")
    val row = spark.sql(
      """SELECT bloom_might_contain(bf, 'item_3', 4) AS hit,
        |       bloom_might_contain(bf, 'nope_3', 4) AS maybe
        |  FROM (SELECT bloom_build(s, 1024, 4) AS bf FROM bloom_items)
        |""".stripMargin).collect().head
    assert(row.getBoolean(0) === true)
    // 'maybe' may rarely be a false positive; only assert it's a boolean.
    assert(!row.isNullAt(1))
  }

  test("probe participates in whole-stage codegen") {
    val df = items.toDF("s")
    val bf = df.agg(Bloom.bloomBuild(col("s"), 1 << 14, 5).as("bf"))
    val probed = df.crossJoin(broadcast(bf))
      .filter(Bloom.mightContain(col("bf"), col("s"), 5))
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("BloomFilterFns.mightContain"),
      s"probe missing from plan:\n$plan")
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
      s"probe fell out of codegen:\n$plan")
  }
}

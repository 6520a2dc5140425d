package graft

import org.apache.spark.sql.functions._
import graft.functions.ZOrder2

/** Z-order layout key: bit-exact interleave, SQL/codegen integration, and
  * the operational locality guarantee (bounded worst-dimension span per
  * chunk) that makes it a 2-D pruning layout.
  */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("interleave is the bit-exact Morton code") {
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 200) {
      val x = rnd.nextLong().abs % (1L << ZOrder2.Bits)
      val y = rnd.nextLong().abs % (1L << ZOrder2.Bits)
      val z = ZOrder2.interleave(x, y)
      // read the bits back out
      var rx = 0L; var ry = 0L
      for (i <- 0 until ZOrder2.Bits) {
        rx |= ((z >> (2 * i)) & 1L) << i
        ry |= ((z >> (2 * i + 1)) & 1L) << i
      }
      assert((rx, ry) === ((x, y)), s"roundtrip failed for ($x, $y)")
    }
  }

  test("negative keys are rejected") {
    intercept[IllegalArgumentException] {
      ZOrder2.interleave(-1L, 0L)
    }
  }

  test("z-sorted chunks bound BOTH dimensions; row-major bounds only one") {
    // 64×64 grid; 16 chunks of 256 points each.
    val pts = (0 until 4096).map(i => (i.toLong % 64, i.toLong / 64))
    def worstSpan(sorted: Seq[(Long, Long)]): Long =
      sorted.grouped(256).map { chunk =>
        val xs = chunk.map(_._1); val ys = chunk.map(_._2)
        math.max(xs.max - xs.min, ys.max - ys.min)
      }.max
    val zSorted = pts.sortBy { case (x, y) => ZOrder2.interleave(x, y) }
    val rowMajor = pts.sortBy { case (x, y) => y * 64 + x }
    assert(worstSpan(zSorted) === 15L)   // √256-sized quads: both dims ≤ 15
    assert(worstSpan(rowMajor) === 63L)  // x unbounded within a chunk
  }

  test("z_order is registered and stays in whole-stage codegen") {
    val df = spark.range(1000)
      .select(col("id"), (col("id") * 7 % 100).as("a"),
        (col("id") * 13 % 100).as("b"))
      .select(col("id"), expr("z_order(a, b)").as("z"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ZOrder2.interleave"), s"expression missing:\n$plan")
    assert(plan.contains("*(1) Project"), s"fell out of codegen:\n$plan")
  }
}

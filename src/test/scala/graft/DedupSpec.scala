package graft

import org.apache.spark.sql.functions._
import graft.etl.{AntiDestination, Dedup}

/** First-wins, trim-insensitive, per-column-OR dedup semantics
  * (reference: sdk/src/ETLTask.php:31-53).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("first occurrence wins in order-column order") {
    val df = Seq((3, "a"), (1, "a"), (2, "b")).toDF("ord", "k")
    val out = Dedup.firstWins(df, "k", Seq(col("ord")))
      .orderBy("ord").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(out.toSeq === Seq((1, "a"), (2, "b")))
  }

  test("trailing/leading whitespace is insensitive but original kept") {
    val df = Seq((1, "A MODIFIER   "), (2, "A MODIFIER"), (3, "  A MODIFIER"))
      .toDF("ord", "k")
    val out = Dedup.firstWins(df, "k", Seq(col("ord"))).collect()
    assert(out.length === 1)
    assert(out.head.getString(1) === "A MODIFIER   ") // untrimmed original
  }

  test("numeric keys compare as-is") {
    val df = Seq((1, 10), (2, 10), (3, 20)).toDF("ord", "k")
    assert(Dedup.firstWins(df, "k", Seq(col("ord"))).count() === 2)
  }

  test("multi-column OR semantics with cache interplay") {
    // rowA(k1=x,k2=p) passes; rowB(k1=y,k2=p) dropped by k2;
    // rowC(k1=y,k2=q) survives only if rowB did NOT claim k1=y —
    // but rowB claimed k1=y when it was checked BEFORE k2 dropped it?
    // Reference checks columns in order: rowB passes k1 (caches y),
    // then k2 drops it. rowC's k1=y is therefore a dup → dropped.
    val df = Seq((1, "x", "p"), (2, "y", "p"), (3, "y", "q"))
      .toDF("ord", "k1", "k2")
    val out = Dedup.firstWinsAny(df, Seq("k1", "k2"), Seq(col("ord")))
      .collect().map(_.getInt(0)).sorted
    assert(out.toSeq === Seq(1))
  }

  test("destination keys interleave with the per-column cache: a row " +
    "dropped by the destination probe claims no later-column values") {
    // Reference ETLTask.php:46: per column, dest-exists OR cache-hit breaks
    // BEFORE caching. rowA's k1=x exists in the destination → rowA dropped
    // at k1, so its k2=p is never claimed → rowB (sharing only k2=p)
    // survives. The naive dedup-then-anti-join order would let rowA win the
    // k2 pass first and wrongly drop rowB.
    val df = Seq((1, "x", "p"), (2, "y", "p")).toDF("ord", "k1", "k2")
    val dest = Seq(("x", "zz")).toDF("k1", "k2")
    val out = Dedup.firstWinsAny(df, Seq("k1", "k2"),
      Seq(col("ord")), Some(dest)).collect().map(_.getInt(0)).sorted
    assert(out.toSeq === Seq(2))

    // and a row dropped by a LATER column's dest probe has already claimed
    // earlier columns: rowA passes k1 (claims k1=x), dropped at k2 (dest
    // has p) → rowB sharing k1=x stays dropped at k1's window? No — rowA
    // was REMOVED by k2's anti-join AFTER k1's window ran, so rowB lost
    // k1's window to rowA and is gone: exactly the reference, where rowA
    // cached k1=x before k2 dropped it.
    val df2 = Seq((1, "x", "p"), (2, "x", "q")).toDF("ord", "k1", "k2")
    val dest2 = Seq(("zz", "p")).toDF("k1", "k2")
    val out2 = Dedup.firstWinsAny(df2, Seq("k1", "k2"),
      Seq(col("ord")), Some(dest2)).collect().map(_.getInt(0)).sorted
    assert(out2.toSeq === Seq.empty)
  }

  test("destination probe: duplicate, trim-variant and null destination " +
    "keys drop each matching row once; null-keyed rows pass the probe") {
    val src = Seq[(Int, String)]((1, "x"), (2, " x "), (3, "y"), (4, null),
      (5, "y "), (6, null), (7, "z")).toDF("ord", "k")
    val dst = Seq[String]("x", " x", "x ", "x", null, null, "z")
      .toDF("k")
    // the anti join alone: every row whose trimmed key is in dst is gone,
    // every other row — null keys included — comes through exactly once
    val probed = AntiDestination(src, dst, Seq("k"))
      .collect().map(_.getInt(0)).sorted
    assert(probed.toSeq === Seq(3, 4, 5, 6))
    // folded into first-wins: the survivors dedup on the trimmed key, and
    // the null keys form one group whose first row wins
    val out = Dedup.firstWinsAny(src, Seq("k"),
      Seq(col("ord")), Some(dst)).collect().map(_.getInt(0)).sorted
    assert(out.toSeq === Seq(3, 4))
  }

  test("anti-destination drops rows whose key exists in dst (trimmed)") {
    val src = Seq((1, "a "), (2, "b"), (3, "c")).toDF("id", "k")
    val dst = Seq(" a", "zz").toDF("k")
    val out = AntiDestination(src, dst, Seq("k"))
      .collect().map(_.getInt(0)).sorted
    assert(out.toSeq === Seq(2, 3))
  }

  test("semi keeps only rows whose key exists in dst") {
    val src = Seq((1, "a"), (2, "b")).toDF("id", "k")
    val dst = Seq("a").toDF("k")
    val out = AntiDestination.semi(src, dst, Seq("k"))
      .collect().map(_.getInt(0))
    assert(out.toSeq === Seq(1))
  }
}

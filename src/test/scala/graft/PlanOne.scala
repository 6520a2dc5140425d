package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev-only (test source set): dump `explain(formatted)` of named
  * declared queries to `plans/r15/<query>_<tag>.txt` under the working
  * directory — the before/after plan evidence the optimization rounds
  * commit.
  *
  *   sbt "Test/runMain graft.PlanOne before g18_stress_centrality ..."
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.001 — plan SHAPE is what the
  * files witness; sizes vary with sf).
  */
object PlanOne {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanOne <tag> <query>...")
    val tag = args(0)
    val names = args.drop(1).toSeq
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[8]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get("plans/r15"))
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, dir)
      val txt = s"## $n\n\n```\n" +
        df.queryExecution.explainString(FormattedMode).trim + "\n```\n"
      Files.write(Paths.get(s"plans/r15/${n}_$tag.txt"),
        txt.getBytes("UTF-8"))
      println(s"[planone] wrote ${n}_$tag.txt")
    }
    spark.stop()
  }
}

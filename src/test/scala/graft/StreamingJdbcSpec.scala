package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.etl.{JdbcSink, Sources}
import graft.streaming.StreamOps

/** Streaming → live-database upsert via foreachBatch: micro-batches of a
  * running aggregation land as update-else-insert rows in Derby, so the
  * serving table always holds current totals (and replay is idempotent).
  */
class StreamingJdbcSpec extends SparkSpec {
  import spark.implicits._

  test("streaming aggregation upserts changed groups per micro-batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dbPath = Files.createTempDirectory("graft_derby_s").toString + "/db"
    val url = s"jdbc:derby:$dbPath;create=true"
    val opts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    // create the serving table (with a pre-existing row the stream never
    // touches — upserts must leave it alone)
    JdbcSink.append(Seq((0L, 99L)).toDF("user_id", "n"), url, "t_counts",
      opts)

    val input = MemoryStream[(Long, Double)]
    val counts = input.toDF().toDF("user_id", "value")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val q = counts.writeStream
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ckpt").toString)
      .foreachBatch(
        StreamOps.jdbcUpsertBatch(url, "t_counts", Seq("user_id"), opts))
      .start()

    def table(): Map[Long, Long] =
      Sources.jdbc(spark, url, "t_counts", opts).collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n")).toMap

    input.addData((1L, 1.0), (1L, 2.0), (2L, 7.0))
    q.processAllAvailable()
    assert(table() === Map(0L -> 99L, 1L -> 2L, 2L -> 1L))

    // next batch: only user 1 changes → its row is UPDATED in place
    input.addData((1L, 3.0))
    q.processAllAvailable()
    q.stop()
    assert(table() === Map(0L -> 99L, 1L -> 3L, 2L -> 1L))
  }
}

package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.etl.VersionedTable
import graft.ops.Similarity

/** The shared snapshot store ([[graft.Snapshots]]) through its two
  * data-file stores: a pending-delete calendar whose paths contain a
  * space (entries are one per line, never whitespace-split), and the
  * ANN index's live-pointer recovery and phantom-version handling
  * (VersionedTableSpec pins the same two for tables).
  */
class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  test("a table partitioned on a value with a space retires, replays " +
    "and vacuums its files one calendar entry per line") {
    val dir = Files.createTempDirectory("graft_snap_space").toString
    VersionedTable.init(spark, dir,
      Seq((1L, 10L, "a b"), (2L, 20L, "a b"), (3L, 30L, "c"))
        .toDF("k", "v", "grp"),
      partitionBy = Seq("grp"), retain = Some(0))                  // v1
    val v1Files = VersionedTable.readManifest(spark, dir).get._2
    assert(v1Files.exists(_.contains("/grp=a b/")))
    VersionedTable.merge(spark, dir, Seq((1L, 11L, "a b"))
      .toDF("k", "v", "grp"), Seq("k"), retain = Some(0))          // v2
    val v2Files = VersionedTable.readManifest(spark, dir).get._2.toSet
    val retired = v1Files.filterNot(v2Files)
    assert(retired.nonEmpty && retired.forall(_.contains("/grp=a b/")))
    // the calendar holds one stamped entry per retired file, per line
    val pending = scala.io.Source.fromFile(
      new java.io.File(dir, "_vt_pending")).getLines().toList
    assert(pending.toSet === retired.map(r => s"2:$r").toSet)
    retired.foreach(r => assert(Files.exists(Paths.get(dir, r))))
    // the next mutation replays the entries on entry: they fell due at v2
    VersionedTable.deleteWhere(spark, dir, col("k") === 3L,
      retain = Some(0))                                            // v3
    retired.foreach(r => assert(!Files.exists(Paths.get(dir, r)), r))
    VersionedTable.vacuum(spark, dir, retain = Some(0))
    VersionedTable.readManifest(spark, dir).get._2.foreach(f =>
      assert(Files.exists(Paths.get(dir, f)), f))
    assert(VersionedTable.read(spark, dir)
      .select("k", "v", "grp").as[(Long, Long, String)].collect().toSet ===
      Set((1L, 11L, "a b"), (2L, 20L, "a b")))
  }

  test("index: a lost live pointer serves the highest .vN; a phantom " +
    ".v99 is never served and the next committing op prunes it") {
    val tmp = Files.createTempDirectory("graft_snap_index").toString
    val cells = tmp + "/cells"
    Seq(
      (1L, Array(1.0f, 0.0f), 1L, 1L),
      (2L, Array(0.9f, 0.1f), 1L, 1L),
      (3L, Array(0.0f, 1.0f), 2L, 2L),
      (4L, Array(0.1f, 0.9f), 2L, 2L),
      (5L, Array(0.5f, 0.5f), 1L, 3L))
      .toDF("c_id", "c_vec", "c_norm", "c_cell")
      .repartition(col("c_cell"))
      .write.mode("overwrite").partitionBy("c_cell")
      .parquet(cells)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("c_id").as[Long].collect().sorted.toSeq
    Similarity.ivfCompact(spark, cells, Seq(2L).toDF("t_id"), "t_id",
      tmp + "/s1")                                          // v1 + v2
    Similarity.ivfCompact(spark, cells, Seq(5L).toDF("t_id"), "t_id",
      tmp + "/s2")                                          // v3
    val pointer = Paths.get(cells, "_graft_manifest")
    Files.delete(pointer)
    // the highest history copy is what the lost flip would have published
    assert(ids(Similarity.ivfOpenIndex(spark, cells)) === Seq(1L, 3L, 4L))
    assert(ids(Similarity.ivfOpenIndexAt(spark, cells, 3L))
      === Seq(1L, 3L, 4L))
    // the next commit re-publishes the live pointer
    Similarity.withMaintenanceLock(spark, cells, "append") {
      Similarity.ivfAppendCells(spark, cells,
        Seq((9L, Array(0.8f, 0.2f), 1L, 1L))
          .toDF("c_id", "c_vec", "c_norm", "c_cell"))       // v4
    }
    assert(Files.exists(pointer))
    // a hand-written history copy above live: a commit that never flipped
    val live = scala.io.Source.fromFile(pointer.toFile).getLines().toList
    val phantom = Paths.get(cells, "_graft_manifest.v99")
    Files.write(phantom, ("99" +: live.drop(1).take(1)).mkString("\n")
      .getBytes("UTF-8"))
    assert(ids(Similarity.ivfOpenIndex(spark, cells))
      === Seq(1L, 3L, 4L, 9L))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfOpenIndexAt(spark, cells, 99L)
    }
    assert(e.getMessage.contains("not retained"))
    Similarity.ivfCompact(spark, cells, Seq(9L).toDF("t_id"), "t_id",
      tmp + "/s3")                                          // v5
    assert(!Files.exists(phantom))
    assert(ids(Similarity.ivfOpenIndex(spark, cells)) === Seq(1L, 3L, 4L))
  }
}

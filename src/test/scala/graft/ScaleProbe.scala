package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Targeted stress probe for SCALE.md: time named queries (plus
  * parameter-scaled variants that aren't gate entries) against an
  * arbitrary data directory — usually the 10× clone corpus at
  * /tmp/scale10. Same measurement discipline as [[Bench]]: warm-up pass,
  * then cleared caches + GC before the timed pass; row count printed so
  * output-size blowups (the clone corpus inflates dedup output ~1000×)
  * can be reported next to the time.
  *
  *   sbt "Test/runMain graft.ScaleProbe /tmp/scale10 d8_auto_hamming_join d7@8x2"
  */
object ScaleProbe {

  /** Parameter-scaled variants: at 10× the corpus, LSH bucket counts must
    * scale with N (SCALE.md's d5 lesson) — these probe the scaled settings
    * the gate queries would ship with at that volume.
    */
  val Extra: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ensemble with 2 × 8-plane tables (256 buckets each): the scaled form
    "d7@8x2" -> ((s, dir) =>
      graft.ops.Similarity.embeddingNearDuplicatesEnsemble(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.45, nPlanes = 8, nTables = 2)),
    // single table at the same 8-plane budget — the recall comparison
    "d5@8" -> ((s, dir) =>
      graft.ops.Similarity.embeddingNearDuplicates(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.45, nPlanes = 8)),
    // SemDeDup with the cell count grown to the corpus (the d5 nPlanes
    // lesson applied to IVF cells): |cell| ~ N/nCells, in-cell pair work
    // ~ N²/nCells — nCells must scale with N to hold per-cell cost flat
    "d13@64" -> ((s, dir) =>
      graft.ops.Similarity.semDedup(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.45, nCells = 64)),
    "d13@128" -> ((s, dir) =>
      graft.ops.Similarity.semDedup(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.45, nCells = 128)),
    // t36-watch attribution probes: the round-13 Unicode scrub swap is
    // the only code t36/t27 share that changed — time the SCRUB ALONE
    // under both character classes to tell regex cost from ambient load.
    "probe@scrub_ascii" -> ((s, dir) =>
      Tables.load(s, dir, "documents").filter(col("text").isNotNull)
        .select(posexplode(graft.ops.TextAnalysis.tokens(col("text"))))
        .select(regexp_replace(col("col"), "[^a-z0-9]", "").as("w"))
        .filter(col("w") =!= "").groupBy("w").count()),
    "probe@scrub_unicode" -> ((s, dir) =>
      Tables.load(s, dir, "documents").filter(col("text").isNotNull)
        .select(posexplode(graft.ops.TextAnalysis.tokens(col("text"))))
        .select(regexp_replace(col("col"), "[^\\p{L}\\p{N}]", "").as("w"))
        .filter(col("w") =!= "").groupBy("w").count()),
    // VersionedTable file-pruning differential: the same init (orders →
    // one versioned table, 32 data files), then either a BROAD merge
    // (every 7th key — touches essentially every file) or a TINY merge
    // (8 keys — touches ≤8 files). Identical table size, identical
    // commit overhead; the wall-clock gap is the bytes the pruned
    // rewrite did NOT rewrite — the Delta-MERGE scale story measured.
    "vt@bigmerge" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_vt_big").toString
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      graft.etl.VersionedTable.init(s, tmp, o)
      graft.etl.VersionedTable.merge(s, tmp,
        o.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"),
            (col("o_custkey") + 1L).as("o_custkey"),
            col("o_orderstatus")),
        Seq("o_orderkey"))
      graft.etl.VersionedTable.read(s, tmp)
    }),
    "vt@tinymerge" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_vt_tiny").toString
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      graft.etl.VersionedTable.init(s, tmp, o)
      graft.etl.VersionedTable.merge(s, tmp,
        o.filter(col("o_orderkey") % 200003 === 1)
          .select(col("o_orderkey"),
            (col("o_custkey") + 1L).as("o_custkey"),
            col("o_orderstatus")),
        Seq("o_orderkey"))
      graft.etl.VersionedTable.read(s, tmp)
    }),
    // BPE driver-trainer vocabulary ladder (r12-verdict item 4): the
    // testdata documents hold only 31 distinct tokens, so the ladder
    // synthesizes corpora whose VOCABULARY actually grows — 250k and 1M
    // word types (100 heavy types carrying the learnable pairs + a
    // unique-token tail, the Zipf head/tail split). What SCALE.md
    // tabulates: train-to-16-merges wall time and the driver table size
    // (types × ~50 B) staying linear in TYPES, not corpus rows — the
    // collect the guard bounds.
    "bpe@synthvocab250k" -> ((s, _) =>
      graft.ops.TextAnalysis.bpeTrain(
        s.range(250000L).select(concat_ws(" ",
          concat(lit("common"), col("id") % 100),
          concat(lit("tail"), col("id"))).as("text")),
        "text", nMerges = 16)),
    "bpe@synthvocab1m" -> ((s, _) =>
      graft.ops.TextAnalysis.bpeTrain(
        s.range(1000000L).select(concat_ws(" ",
          concat(lit("common"), col("id") % 100),
          concat(lit("tail"), col("id"))).as("text")),
        "text", nMerges = 16)),
    // beam search with the kNN-graph cell count grown to the corpus —
    // graph CONSTRUCTION carries the N²/nCells in-cell pair cost (the
    // d13 lesson verbatim); the search rounds are corpus-independent
    // the gate's own auto-cell path at the 10× corpus
    "n20@auto" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      graft.ops.Similarity.graphBeamSearchAuto(emb,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, graphK = 4, beam = 4, rounds = 2)
    }),
    "n20@128" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      graft.ops.Similarity.graphBeamSearch(emb,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, graphK = 4, nCells = 128, beam = 4, rounds = 2)
    }),
    // BPE batching economics at a REAL vocabulary scale (r8-verdict
    // item 6): train 512 merges on the corpus, batch ∈ {1, 16, 64};
    // the probe prints accepted-merges-per-round and jobs/merge (the
    // numbers SCALE.md tabulates) alongside the runner's wall time.
    // bpe@512x1 is the classic one-argmax-per-round loop baseline.
    // the GATE's own work shape (64 merges) at both batch settings —
    // the t20/t21 round-count observable
    "bpe@64x16" -> bpeProbe(64, 16),
    "bpe@64x64" -> bpeProbe(64, 64),
    "bpe@512x1" -> bpeProbe(512, 1),
    "bpe@512x16" -> bpeProbe(512, 16),
    "bpe@512x64" -> bpeProbe(512, 64),
    "bpe@1024x64" -> bpeProbe(1024, 64),
    // same economics on a REALISTIC vocabulary: the gate corpus holds
    // 31 distinct words and exhausts after 89 merges (measured), so it
    // cannot answer the conflict-density question; this probe builds a
    // deterministic Zipf-ish corpus (4096 distinct 12-hex-char words,
    // rank-r frequency ~20000/r — same synthetic-probe discipline as
    // hamming@codes) where 512-1024 merges are actually reachable;
    // the measured table lives in SCALE.md's "BPE batching economics"
    // section
    "bpe_zipf@256x1" -> bpeZipfProbe(256, 1),
    "bpe_zipf@512x16" -> bpeZipfProbe(512, 16),
    "bpe_zipf@512x64" -> bpeZipfProbe(512, 64),
    "bpe_zipf@1024x64" -> bpeZipfProbe(1024, 64),
    // k-truss ENGINE comparison (r12): the gate's incidence-maintenance
    // form vs the r11 recompute-per-round form (wedge join each round,
    // nothing materialized across rounds), at the gate's rounds=2 and
    // at rounds=4 where deletion-maintenance has rounds to amortize
    // over. Same support semantics, identical outputs.
    "ktruss@rec2" -> ktrussRecompute(6, 2),
    "ktruss@rec4" -> ktrussRecompute(6, 4),
    "ktruss@inc4" -> ((s, dir) => {
      val und = copurchase(s, dir)
      graft.ops.Graph.kTruss(und, "part_a", "part_b", k = 6, rounds = 4)
    }),
    // g17 WITHOUT the cut (r9-verdict item 4): the same bounded k-truss
    // but with a NAIVE bidirectional wedge enumeration in place of the
    // degree-ordered orientation — every common-neighbor apex u does
    // d(u)^2 wedge work, the quadratic blow-up the orientation's O(m^1.5)
    // bound removes. Run against the --densify corpus (same nodes,
    // degrees x K) next to plain g17 to show the cut bounding the
    // superlinear growth; support counts are identical (each triangle's
    // closing edge is counted once per common neighbor), so both paths
    // return the same edges.
    "ktruss@naive" -> ((s, dir) => {
      var und = copurchase(s, dir)
        .select(col("part_a").as("a"), col("part_b").as("b")).distinct()
      (1 to 2).foreach { _ =>
        val adj = und.select(col("a").as("u"), col("b").as("v"))
          .unionByName(und.select(col("b").as("u"), col("a").as("v")))
        val sup = adj.select(col("u"), col("v").as("a"))
          .join(adj.select(col("u"), col("v").as("b")), Seq("u"))
          .filter(col("a") < col("b"))
          .join(und, Seq("a", "b"), "left_semi")
          .groupBy("a", "b").agg(count(lit(1)).as("support"))
        und = graft.Checkpoints.sever(
          und.join(sup.filter(col("support") >= 4),
            Seq("a", "b"), "left_semi"))
      }
      und.orderBy("a", "b")
    }),
    // ANN-lifecycle gates with the IVF cell count scaled to the corpus
    // (the d13 √N-cells lesson applied to the maintenance legs): the
    // gate entries hardcode nCells=16 (right for sf0.1's 2k vectors);
    // at 10×/100× vectors the production setting grows cells ~√N so
    // per-cell row counts — which bound each compaction rewrite and
    // each serve-time cell read — stay ~flat. Run next to the plain
    // gates at the same corpus for the fixed-vs-scaled contrast.
    "st27@50" -> ((s, dir) =>
      graft.streaming.StreamOps.streamingIndexRefresh(s, dir, nCells = 50)),
    "st27@160" -> ((s, dir) =>
      graft.streaming.StreamOps.streamingIndexRefresh(s, dir, nCells = 160)),
    "n29@50" -> ((s, dir) =>
      graft.streaming.StreamOps.maintenanceInterleave(s, dir, nCells = 50)
        .orderBy("q_id", "rank")),
    "n29@160" -> ((s, dir) =>
      graft.streaming.StreamOps.maintenanceInterleave(s, dir, nCells = 160)
        .orderBy("q_id", "rank")),
    "n25@50" -> ivfCompactProbe(50),
    "n25@160" -> ivfCompactProbe(160),
    // pure-code hamming self-join (no sketch cost) — isolates what the
    // rewrite changes; SPARK_GRAFT_CODES_N sizes it, and the rule toggle
    // (SPARK_GRAFT_HAMMING_REWRITE=false) gives the nested-loop baseline
    "hamming@codes" -> ((s, _) => {
      val n = sys.env.getOrElse("SPARK_GRAFT_CODES_N", "200000").toLong
      val codes = s.range(n).select(col("id"), xxhash64(col("id")).as("code"))
      val a = codes.select(col("id").as("id_a"), col("code").as("code_a"))
      val b = codes.select(col("id").as("id_b"), col("code").as("code_b"))
      a.join(b,
        graft.ops.SimHash.hammingLE(col("code_a"), col("code_b"), 3) &&
          col("id_a") < col("id_b"))
    }),
    // pure-code band self-join — isolates BandJoinRewrite the same way;
    // values are pmod(xxhash64, 100·n) so expected matches per row stay
    // constant as n grows (selectivity ~2d/100n per pair). Toggle with
    // SPARK_GRAFT_BAND_REWRITE=false for the nested-loop baseline.
    "band@values" -> ((s, _) => {
      val n = sys.env.getOrElse("SPARK_GRAFT_CODES_N", "200000").toLong
      val vals = s.range(n).select(col("id"),
        pmod(xxhash64(col("id")), lit(100L * n)).as("v"))
      val a = vals.select(col("id").as("id_a"), col("v").as("v_a"))
      val b = vals.select(col("id").as("id_b"), col("v").as("v_b"))
      a.join(b, abs(col("v_a") - col("v_b")) <= 50 &&
        col("id_a") < col("id_b"))
    }))

  /** The g17 gate's co-purchase edge set (lineitem self-join). */
  private def copurchase(s: SparkSession, dir: String): DataFrame = {
    val op = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val a = op.select(col("ok"), col("pk").as("part_a"))
    val b = op.select(col("ok").as("ok_b"), col("pk").as("part_b"))
    a.join(b, col("ok") === col("ok_b") && col("part_a") < col("part_b"))
      .select("part_a", "part_b").distinct()
  }

  /** The r11 k-truss engine: support recomputed from the wedge join
    * every round, nothing materialized across rounds.
    */
  private def ktrussRecompute(k: Int,
                              rounds: Int): (SparkSession, String) => DataFrame =
    (s, dir) => {
      var und = graft.Checkpoints.sever(copurchase(s, dir)
        .select(least(col("part_a"), col("part_b")).as("a"),
          greatest(col("part_a"), col("part_b")).as("b"))
        .filter(col("a") =!= col("b")).distinct())
      (1 to rounds).foreach { _ =>
        val keep = graft.ops.Graph.triangleIncidence(und)
          .groupBy("a", "b").agg(count(lit(1)).as("support"))
          .filter(col("support") >= k - 2).select("a", "b")
        und = graft.Checkpoints.sever(keep)
      }
      und
    }

  /** n25's gate body with the cell count as the parameter — the
    * scaled-cells rung of the lifecycle ladder. Delegates to the gate's
    * own [[SparkEntry.ivfCompactLifecycle]] so both measure one code
    * path.
    */
  private def ivfCompactProbe(nCells: Int): (SparkSession, String) => DataFrame =
    (s, dir) => SparkEntry.ivfCompactLifecycle(s, dir, nCells)

  /** One training run per (nMerges, batch) — memoized because the
    * runner invokes each probe twice (warm-up + timed) and a BPE train
    * is driver-loop-bound, not cache-warmth-bound; the probe prints
    * its OWN wall time, which is the number SCALE.md quotes.
    */
  private val bpeZipfMemo =
    scala.collection.mutable.Map[(Int, Int), DataFrame]()

  /** The bpe@/bpe_zipf@ probes measure the DISTRIBUTED round loop's
    * batching economics, which since r12 is no longer the default
    * engine — force it for the probe's duration so the printed
    * rounds/merge numbers describe the engine the table is about
    * (the driver-side default always reports rounds = 1).
    */
  private def withDistributedBpe[A](s: SparkSession)(body: => A): A = {
    val key = graft.ops.TextAnalysis.BpeTrainPathConf
    val prev = s.conf.getOption(key)
    s.conf.set(key, "distributed")
    try body finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  private def bpeZipfProbe(nMerges: Int,
                           batch: Int): (SparkSession, String) => DataFrame =
    (s, _) => bpeZipfMemo.getOrElseUpdate((nMerges, batch), {
      val words = s.range(1, 4097)
        .select(substring(md5(col("id").cast("string")), 1, 12).as("text"),
          greatest(lit(1L), expr("20000L div id")).as("f"))
        .select(col("text"), explode(expr("sequence(1, f)")).as("j"))
        .select("text")
      val t0 = System.nanoTime()
      val (merges, rounds) = withDistributedBpe(s)(
        graft.ops.TextAnalysis.bpeTrainWithRounds(
          words, "text", nMerges, batch))
      val learned = merges.count()
      val sec = math.rint((System.nanoTime() - t0) / 1e6) / 1e3
      val perRound = math.rint(learned.toDouble / rounds * 100) / 100
      val jobsPerMerge = math.rint(rounds.toDouble / learned * 1000) / 1000
      println(s"[scale] bpe_zipf@${nMerges}x$batch: $learned merges in " +
        s"$rounds rounds, $sec s ($perRound accepted/round, " +
        s"$jobsPerMerge pair-count jobs/merge)")
      merges
    })

  private def bpeProbe(nMerges: Int,
                       batch: Int): (SparkSession, String) => DataFrame =
    (s, dir) => {
      val (merges, rounds) = withDistributedBpe(s)(
        graft.ops.TextAnalysis.bpeTrainWithRounds(
          Tables.load(s, dir, "documents"), "text", nMerges, batch))
      val learned = merges.count()
      val perRound = math.rint(learned.toDouble / rounds * 100) / 100
      val jobsPerMerge = math.rint(rounds.toDouble / learned * 1000) / 1000
      println(s"[scale] bpe@${nMerges}x$batch: $learned merges in " +
        s"$rounds rounds ($perRound accepted/round, " +
        s"$jobsPerMerge pair-count jobs/merge)")
      merges
    }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/scale10")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("t11_repetition", "t12_containment", "d6_dup_clusters",
        "c4_cluster_dedup", "d8_auto_hamming_join", "n7_ann_quantized",
        "n8_kmeans_converge", "n9_ann_pq", "n10_ann_ivfpq",
        "d9_incremental_dedup", "a11_grouping_sets",
        "c5_quality_pipeline", "e4_gapfill", "w4_window_suite",
        "d7@8x2", "d5@8")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    var builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    // SPARK_GRAFT_CONF: comma-separated k=v confs (Verify's convention),
    // applied at BUILD time so core (non-SQL) confs like
    // spark.io.compression.codec take effect — the 100x ladder's
    // spill-volume probe needs zstd shuffle/spill compression.
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",")
      .filter(_.trim.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => builder = builder.config(k.trim, v.trim)
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_CONF entry '$kv' is not key=value")
        }
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_HAMMING_REWRITE=false measures the naive nested-loop
    // plans the rewrite rule replaces (the before/after evidence).
    sys.env.get("SPARK_GRAFT_HAMMING_REWRITE").foreach(v =>
      spark.conf.set("spark.graft.hammingJoinRewrite", v))
    sys.env.get("SPARK_GRAFT_BAND_REWRITE").foreach(v =>
      spark.conf.set("spark.graft.bandJoinRewrite", v))
    names.foreach { name =>
      val fn = Extra.getOrElse(name, SparkEntry.queries(name))
      val rows = fn(spark, dir).count() // warm-up
      spark.catalog.clearCache()
      System.gc()
      graft.streaming.StreamOps.resetStateMetrics() // attribute to timed pass
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      val sec = math.rint((System.nanoTime() - t0) / 1e6) / 1e3
      println(s"[scale] $name: $sec s, $rows rows")
      // Streaming ops: per-stateful-operator end-of-run footprint from the
      // timed pass — the numbers the state-size ladder tabulates.
      graft.streaming.StreamOps.lastStateMetrics.foreach { m =>
        println(s"[scale]   state ${m.operator}: rows=${m.rowsTotal} " +
          s"updated=${m.rowsUpdated} removed=${m.rowsRemoved} " +
          s"mem=${m.memoryBytes}B")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}

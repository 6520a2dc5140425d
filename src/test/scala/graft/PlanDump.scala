package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Regenerates PLANS.md: `explain(formatted)` of the headline queries —
  * the plan-shape evidence (pushdown at every scan, broadcast only on
  * dimension sides, partial+final aggregate pairs, equality-shaped joins).
  * Run after operator changes so the artifact matches the code:
  *
  *   sbt "Test/runMain graft.PlanDump"       # sf0.001 → PLANS.md
  *   sbt "Test/runMain graft.PlanDump <dir> <out>"
  *
  * Not read-only: b1_bucketed_join materializes its two bucketed tables
  * into the session warehouse at plan-construction time — the one query
  * whose PLAN depends on on-disk layout, so dumping it requires the
  * layout to exist.
  */
object PlanDump {

  val Headline: Seq[String] = Seq(
    "q1_agg", "q5_region_revenue", "j4_anti_destination",
    "d2_minhash_lsh", "n2_ann_lsh", "n3_ann_ivf", "n4_ann_multiprobe",
    "n7_ann_quantized", "n9_ann_pq", "n10_ann_ivfpq", "d8_auto_hamming_join",
    "k1_skew_salted_join", "b1_bucketed_join",
    "x1_asof_join", "x2_range_join",
    "d11_decontaminate", "d12_paragraph_dedup", "d13_semdedup",
    "d14_bloom_prefilter", "a12_heavy_hitters", "t13_domain_cap",
    "c7_curation_pipeline", "q4_exists_late",
    "q8_market_share", "q13_cust_distribution", "q19_branch_revenue",
    "q21_waiting_supplier", "g1_pagerank", "scd1_history",
    "x4_auto_band_join", "d15_price_blocklist",
    "j9_dpp", "g4_sssp", "d16_lsh_recall", "c9_data_mixture",
    "x6_asof_forward",
    "scd3_incremental_merge", "j10_cdc_apply", "j11_snapshot_diff",
    "w7_session_features", "n12_knn_graph", "x7_interval_coalesce",
    "d18_substring_dup", "t17_unigram_surprisal", "n13_ann_filtered",
    "x8_asof_nearest", "m6_audio_meta",
    "t19_backoff_surprisal", "x9_asof_interpolate", "n14_range_search",
    "t22_gopher_rules", "t23_boolean_search", "s18_temperature_mix",
    "v1_k_anonymity", "g7_link_prediction", "n16_mips", "j12_delta_agg",
    "m7_phash", "c13_ccnet_buckets",
    "e16_twap", "v2_generalization", "t24_hashed_classifier",
    "d20_url_dedup", "t25_unicode_normalize",
    "g9_hits", "g10_modularity", "g11_assortativity", "v3_t_closeness",
    "t26_zipf_fit", "t27_rake_keywords", "e17_ewma",
    "e18_linear_attribution", "m8_media_neardup", "d21_cdc_chunks",
    "a20_gini", "a21_mad_outliers", "n17_cascade_rerank",
    "scd4_bitemporal", "sql3_sql_native_fns",
    "e19_dow_anomaly", "d22_prefix_filter_join", "e20_rolling_trend",
    "n18_recall_curve", "a22_benford", "a23_behavior_entropy",
    "g13_harmonic_centrality", "t29_pmi_collocations",
    "m9_media_dedup_clusters",
    "g14_clustering_coeff", "c14_dsir_resample", "v4_dp_release",
    "n19_ivf_occupancy", "e21_ab_readout", "n20_graph_beam_search",
    "a24_group_quantiles", "e22_cuped", "a25_ks_test",
    "x10_peak_concurrency", "e23_km_survival",
    "n21_incremental_index", "e24_position_attribution",
    "e26_two_step_transitions", "a26_daily_acf", "t30_vocab_drift",
    "g15_adamic_adar", "e27_time_to_convert", "j13_golden_record",
    "e28_power_analysis", "t31_heaps_law",
    // round-8 wave: the scale-safe production paths, the SQL-surface
    // Hamming rewrite, the real decoders, and the new analytics ops
    "e28b_power_analysis", "x10b_peak_concurrency", "t31b_heaps_law",
    "sql7_hamming_join", "m3_frames", "m10_png_thumbnail",
    "e29_cusum_drift", "a27_mann_whitney", "g16_label_propagation",
    "j14_fk_audit", "a29_spearman", "c15_quality_mixture",
    "g17_ktruss", "e30_seasonal_anomaly",
    "d23_winnowing", "e31b_uplift_deciles", "a31_welch_ttest",
    "x12_overlap_totals", "st25_stream_srm",
    "v5_recursive_ldiv", "a30_theil_sen", "e32_fdr_bh",
    "x13_allen_relations",
    // round-8 third wave
    "g18_stress_centrality", "t34_good_turing", "t35_kneser_ney",
    "t36_textrank", "a32_log_histogram", "sql13_log_histogram",
    "e33_sprt", "a33_kmv_distinct", "e34_poisson_bootstrap",
    "a34_mann_kendall", "v6_delta_presence", "m13_gps_scrub",
    "a35_group_log_histogram", "n22_persisted_index",
    "c16_canonical_selection",
    // round-9 wave: the e21 production twin, the ANN SQL front door,
    // the persisted-index refresh loop, and the real m2 kernel
    "e21b_ab_readout", "sql14_ann_ivf", "n23_index_refresh",
    "m2_media_features",
    // round-9 second wave + round-10: tombstone deletes, entropy
    // ℓ-diversity, JS drift, and the cell-partitioned compaction (its
    // rewrite side's partition-pruned scan is the thing to look for)
    "n24_index_delete", "v7_entropy_ldiv", "a36_js_drift",
    "n25_index_compact", "n26_compaction_audit",
    "n27_index_serve_pruned", "n28_persisted_ivfpq",
    // round-11 wave: the streaming refresh's serve plan (the stream
    // runs at dump time; the refresh-batch assignment side is dumped
    // separately below), the maintenance interleave, and the config-
    // surface operator-string probe (its coerced literals land in
    // PushedFilters)
    "st27_stream_index_refresh", "n29_maintenance_interleave",
    "p4b_exists_operators",
    // round-13 wave: the versioned ETL destination lifecycle — the
    // dumped plans are the post-merge/delete manifest snapshot read
    // (explicit committed file list, never a directory listing), the
    // three-snapshot time-travel union, and the partitioned table's
    // post-lifecycle aggregate (partition column recovered from the
    // Hive dirs of the committed file list)
    "etl2_versioned_merge", "etl4_table_time_travel",
    "etl5_versioned_partitioned", "st28_stream_versioned_sink",
    // the CDF plan: two manifest-diff file-list scans into one
    // full-outer SortMergeJoin on the key — churn-sized, no cartesian
    "etl6_versioned_changes",
    // r14 lifecycle gates: the group-commit pair served through the
    // root pins (two committed-file-list scans + union), the widened
    // post-evolution read (carried-over files fill the new column as
    // NULL from the committed #schema — no footer inference, no
    // rewrite), and the streaming CDF consumer's downstream change log
    "etl7_multi_table_txn", "etl8_schema_evolution", "st29_stream_cdf",
    // clustered-compaction + data-skipping merge: the served aggregate
    // reads the post-merge snapshot; the interesting part (probe reads
    // only stats-overlapping files) happens in the gate body and is
    // tripwire-proved in VersionedTableSpec
    "etl9_clustered_merge",
    // r14 optimization round: the ensemble LSH dedup (its bucket table
    // is now cached across the pair join's two sides)
    "d7_lsh_ensemble")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = SparkSession.builder()
      .master("local[8]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb ++= s"""# PLANS — physical plans of headline queries
              |
              |`explain(formatted)` output ($dir, AQE on), regenerated by
              |`graft.PlanDump`. What to look for: `PushedFilters`/`ReadSchema`
              |at every scan, broadcast exchanges only on dimension/key-set
              |sides, partial+final HashAggregate pairs, equality-shaped joins
              |everywhere (no CartesianProduct / BroadcastNestedLoopJoin), and
              |the engine's native expressions sitting inside plain projects:
              |row kernels as one static call each (`static_invoke(
              |graft.functions.WordShingles.compute(…))`, likewise MinHashSig)
              |and lsh_bucket and fp_dot with their own generated code.
              |Two sanctioned exceptions: n3_ann_ivf's centroid ASSIGNMENT is a
              |broadcast nested-loop join against the nCells(=16)-row centroid
              |set — K dots per vector is the inherent IVF assignment cost,
              |map-only by construction; its PROBE join is a hash join on the
              |cell id (asserted in PlanSpec). And the brute-force ANN scans
              |(n1, n7_ann_quantized) ARE nested loops by contract — every
              |candidate against the tiny broadcast query set, the map-only
              |rerank/baseline path, never the index.
              |d8_auto_hamming_join is the converse proof: the naive O(n²)
              |hamming join is REWRITTEN by the injected optimizer rule into
              |Generate(chunk posexplode) on both sides + a hash join on
              |(chunk_idx, chunk_val) — no nested loop survives.
              |""".stripMargin

    Headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      sb ++= s"\n## $name\n\n```\n"
      sb ++= df.queryExecution.explainString(FormattedMode).trim
      sb ++= "\n```\n"
    }

    // n25's REWRITE side, dumped separately: the headline n25 plan is
    // the serve query (compaction already folded in); the evidence that
    // compaction touches only tombstoned cells is THIS plan's
    // PartitionFilters on the cells scan.
    {
      import org.apache.spark.sql.functions._
      val emb = Tables.load(spark, dir, "embeddings")
      val tmp = Files.createTempDirectory("graft_plandump_ivf").toString
      val (cells, _) = graft.ops.Similarity.ivfBuildIndex(
        emb, "vec_id", "embedding", nCells = 16)
      cells.write.mode("overwrite").partitionBy("c_cell")
        .parquet(tmp + "/cells")
      val idx = spark.read.parquet(tmp + "/cells")
        .withColumn("c_cell", col("c_cell").cast("long"))
      val tombs = emb.filter(col("vec_id") % 7 === 3 && col("vec_id") >= 8)
        .select(col("vec_id").as("t_id"))
      val affected = idx
        .join(broadcast(tombs), col("c_id") === col("t_id"))
        .select("c_cell").distinct()
        .collect().map(_.getLong(0)).toSeq.sorted
      val rewrite = graft.ops.Similarity.ivfCompactionRewrite(
        idx, tombs, "t_id", affected)
      sb ++= s"\n## n25_index_compact (rewrite side)\n\n"
      sb ++= s"Affected cells: ${affected.mkString(", ")} — the scan " +
        "below partition-prunes to exactly these (PartitionFilters), " +
        "so untouched cells' files are never opened.\n\n```\n"
      sb ++= rewrite.queryExecution.explainString(FormattedMode).trim
      sb ++= "\n```\n"
    }
    // st27's REFRESH side (r10-verdict item 7): the headline st27 plan
    // is the serve query over the streamed index; the maintenance
    // leg's evidence is the per-micro-batch DELTA ASSIGNMENT — K
    // broadcast dots per delta vector against the frozen persisted
    // codebook, map-only (a BroadcastNestedLoopJoin against the
    // nCells-row centroid table, the sanctioned IVF assignment shape;
    // NO shuffle, NO base-index scan anywhere in the plan).
    {
      import org.apache.spark.sql.functions._
      val emb = Tables.load(spark, dir, "embeddings")
      val tmp = Files.createTempDirectory("graft_plandump_st27").toString
      val (_, cents0) = graft.ops.Similarity.ivfBuildIndex(
        emb.filter(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
        nCells = 16)
      cents0.write.mode("overwrite").parquet(tmp + "/cents")
      val cents = spark.read.parquet(tmp + "/cents")
      val batch = emb.filter(col("vec_id") % 10 === 0)
        .select("vec_id", "embedding")
      val assigned = graft.ops.Similarity.ivfAssignDelta(
        batch, cents, "vec_id", "embedding")
      sb ++= s"\n## st27_stream_index_refresh (refresh-batch assignment side)\n\n"
      sb ++= "The foreachBatch body per micro-batch: assignment " +
        "against the FROZEN persisted codebook — map-only over the " +
        "delta (broadcast of the 16-row centroid table; the base " +
        "index is never read), then a cell-clustered append.\n\n```\n"
      sb ++= assigned.queryExecution.explainString(FormattedMode).trim
      sb ++= "\n```\n"
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[graft] wrote ${Headline.length} plans to $out")
    spark.stop()
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a training-data pipeline runs BETWEEN dedup
  * and tokenization: segment-level dedup, benchmark decontamination,
  * per-domain quotas, and sequence packing. All four are single-shuffle
  * shapes (or map-only after one shuffle) and every output is exact
  * integer/string arithmetic, so the DuckDB gate hash-checks them.
  */
object Curation {

  /** Segment-level exact dedup with document reassembly — the
    * paragraph-dedup pass of production corpus pipelines (Dolma,
    * RefinedWeb): repeated boilerplate (headers, navigation, license
    * blocks) recurs VERBATIM across documents even when whole documents
    * don't, so dedup below document granularity removes it without
    * dropping the documents. The corpus here is single-line text, so the
    * "paragraph" unit is a fixed window of `segWords` consecutive tokens
    * ([[TextAnalysis.tokenChunks]] with zero overlap); on real data the
    * splitter would be `split(text, "\n\n")` and everything downstream is
    * unchanged.
    *
    * Policy: global first-wins — one occurrence per distinct segment text
    * survives, the one with the lowest (doc id, position); later
    * occurrences (including repeats INSIDE one document) are dropped.
    * Documents are reassembled from their surviving segments in original
    * order; a document whose every segment was claimed elsewhere vanishes
    * (fully-duplicate suppression, same outcome as d1 on whole docs).
    *
    * Scale: one shuffle partitioned by segment text for the first-wins
    * window (at 100 TB, key by a 128-bit hash of the segment rather than
    * the string itself — same dedup decisions, fixed-width shuffle keys),
    * then one shuffle back on doc id to reassemble. Both are
    * partial-aggregation-friendly and skew-safe: a segment repeated
    * millions of times (the boilerplate this op exists to kill) lands on
    * one reducer only to pick min((id,start)) — a partial-combinable min,
    * not a materialized group.
    *
    * Output: (doc_id, clean_text, n_seg, n_kept), docs with n_kept >= 1.
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     segWords: Int = 8): DataFrame = {
    // Segmentation is the fused codegen expression (one generated
    // tokenize+chunk pass per row — the WordShingles discipline);
    // `pos * segWords + 1` recovers the token start position the
    // first-wins ordering needs.
    val chunks = graft.GraftFunctions.wordChunks(col(textCol), segWords)
    val segs = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(chunks).as(Seq("pos", "chunk")))
      .withColumn("start", col("pos") * segWords + 1)
      .drop("pos")
    val perDoc = Window.partitionBy(col(idCol))
    val firstWins = Window.partitionBy(col("chunk"))
      .orderBy(col(idCol), col("start"))
    segs
      .withColumn("n_seg", count(lit(1)).over(perDoc))
      .withColumn("rn", row_number().over(firstWins))
      .filter(col("rn") === 1)
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("start"), col("chunk")))),
            e => e("chunk"))).as("clean_text"),
        max(col("n_seg")).as("n_seg"),
        count(lit(1)).as("n_kept"))
  }

  /** WITHIN-document repeated-span removal (the complement of
    * [[paragraphDedup]]'s cross-corpus first-wins): a segment repeated
    * inside the SAME document keeps its first occurrence only, and the
    * document is reassembled in order — the "drop duplicated spans"
    * cleaning step that runs before cross-doc dedup in production
    * pipelines. Every shuffle key contains the doc id (the dedup window
    * partitions by (doc, chunk), the count/reassembly by doc —
    * `hashpartitioning(doc)` satisfies both clusterings), so the
    * operator is embarrassingly parallel across documents and no
    * corpus-global state exists at all.
    */
  def dedupSegmentsInDoc(docs: DataFrame, idCol: String, textCol: String,
                         segWords: Int = 2): DataFrame = {
    val chunks = graft.GraftFunctions.wordChunks(col(textCol), segWords)
    val segs = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(chunks).as(Seq("pos", "chunk")))
      .withColumn("start", col("pos") * segWords + 1)
      .drop("pos")
    val perDoc = Window.partitionBy(col(idCol))
    val firstInDoc = Window.partitionBy(col(idCol), col("chunk"))
      .orderBy(col("start"))
    segs
      .withColumn("n_seg", count(lit(1)).over(perDoc))
      .withColumn("rn", row_number().over(firstInDoc))
      .filter(col("rn") === 1)
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("start"), col("chunk")))),
            e => e("chunk"))).as("clean_text"),
        max(col("n_seg")).as("n_seg"),
        count(lit(1)).as("n_kept"))
  }

  /** Cross-corpus duplicated-SPAN statistics per document — the
    * substring-level dedup signal (the "how much of this doc is copied
    * from elsewhere" measure behind exact-substring training-data dedup):
    * every sliding word `k`-gram window of a document is checked for
    * existence in any OTHER document, and the doc is scored by the
    * fraction of its windows that are so shared. Downstream policy then
    * drops/trims high-fraction docs — unlike MinHash (whole-doc
    * similarity), this catches a long verbatim quote inside an otherwise
    * novel document.
    *
    * Shape: the fused shingle expression emits each doc's DISTINCT
    * k-grams (one codegen pass per row), so per-gram row count IS the
    * gram's document frequency — a window count over the gram partition
    * replaces a groupBy+join-back, leaving exactly two exchanges: one on
    * the gram, one back on the doc id. No pair of documents is ever
    * materialized, so (unlike an all-pairs overlap join) cost is linear
    * in corpus gram mass even when one boilerplate span appears in
    * millions of docs.
    */
  def substringDupStats(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 8): DataFrame = {
    val grams = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol),
        explode(TextAnalysis.wordShingles(col(textCol), k)).as("gram"))
    val perGram = Window.partitionBy(col("gram"))
    grams
      .withColumn("ndocs", count(lit(1)).over(perGram))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac", col("n_dup").cast("double") / col("n_grams"))
  }

  /** Benchmark decontamination — flag training documents sharing any word
    * `k`-gram with an evaluation/benchmark document (the overlap check
    * every serious LM training run performs; 13-gram on real corpora,
    * scaled to the short synthetic texts here). Exact, not sketched:
    * contamination is adversarial enough that production pipelines use
    * exact n-gram joins for it.
    *
    * Shape: inverted-index equality join on the gram (the d4 discipline —
    * non-overlapping (train, bench) pairs never materialize), with the
    * bench side pre-aggregated to DISTINCT grams before the join, so the
    * join's build side is bounded by the benchmark's vocabulary — tiny
    * relative to a 100 TB train side, hence broadcastable — and the train
    * side is streamed map-side with zero shuffle of the corpus itself.
    * Gram sets per document come from the fused codegen shingle expression
    * ([[TextAnalysis.wordShingles]], distinct by construction).
    *
    * Output: one row per CONTAMINATED training doc — (doc_id,
    * n_shared_grams, first_bench_id = lowest benchmark doc id sharing a
    * gram). Clean docs are absent; the complement (an anti join on the
    * same build side) is the keep-list form.
    */
  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, k: Int = 5): DataFrame = {
    val benchGrams = bench
      .select(col(idCol).as("b_id"),
        explode(TextAnalysis.wordShingles(col(textCol), k)).as("g"))
      .groupBy(col("g"))
      .agg(min(col("b_id")).as("first_bench_id"))
    val trainGrams = train
      .select(col(idCol),
        explode(TextAnalysis.wordShingles(col(textCol), k)).as("g"))
    trainGrams.join(broadcast(benchGrams), "g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_grams"),
        min(col("first_bench_id")).as("first_bench_id"))
  }

  /** Per-domain quota — keep at most `cap` documents per source/domain,
    * preferring longer documents (ties by id): the domain-balancing pass
    * web-scale pipelines run so one mirror-heavy host can't dominate the
    * corpus. One rank-filter window; Spark plans a `WindowGroupLimit`
    * below the filter, so each map task pre-prunes to its local top-`cap`
    * per domain BEFORE the shuffle — the reducer for a 10M-page domain
    * receives cap × tasks rows, not 10M (the skew this op exists to
    * police never reaches the exchange). Output: (doc_id, source,
    * n_chars, rank).
    */
  def domainCap(docs: DataFrame, sourceCol: String, lenCol: String,
                idCol: String, cap: Int): DataFrame = {
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(col(lenCol).desc, col(idCol))
    docs.select(col(idCol), col(sourceCol), col(lenCol))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= cap)
  }

  /** Sequence packing — assign documents to fixed token-budget training
    * sequences by contiguous prefix-sum binning, sharded by `shardCol`:
    * within each shard, documents in id order accumulate token counts and
    * a document's sequence is `prefix_before div budget` (offset =
    * `prefix_before mod budget`).
    *
    * Deliberately NOT exact greedy first-fit: greedy packing is a
    * sequential fold over the whole corpus — the one thing a 1000-executor
    * job cannot do. Prefix-binning is embarrassingly parallel (one window
    * per shard), deterministic, and wastes at most one document's tokens
    * per bin boundary (documents straddling a boundary are split/truncated
    * by the downstream loader, the standard contract). Shards are the unit
    * of parallelism: the window never sees more than one shard, so no
    * global sort and no single-partition bottleneck; sequence identity is
    * the composite (shard, seq_no).
    *
    * Output: (shard, doc_id, n_tokens, seq_no, offset).
    */
  def packSequences(docs: DataFrame, shardCol: String, idCol: String,
                    textCol: String, budget: Int): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.filter(col(textCol).isNotNull)
      .select(col(shardCol).as("shard"), col(idCol),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("prefix_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("shard"), col(idCol), col("n_tokens"),
        expr(s"prefix_before div ${budget}L").as("seq_no"),
        pmod(col("prefix_before"), lit(budget.toLong)).as("seq_offset"))
  }

  /** Cross-shard duplicate matrix — the corpus-health dashboard behind a
    * dedup run: near-duplicate pair counts bucketed by the (unordered)
    * shard pair of their endpoints. Off-diagonal mass tells you WHERE the
    * duplication lives: a hot (crawlA, crawlB) cell means two ingests
    * overlap (dedup across them pays for itself), a hot diagonal cell
    * means a source self-duplicates (fix the extractor), and a clean
    * matrix means shard-local dedup would have been enough — exactly the
    * decision a 100 TB pipeline needs before committing to a global
    * (cross-shard shuffle) dedup versus a cheap per-shard one.
    *
    * Cost: the pair generation IS [[MinHashDedup.nearDuplicates]] (banded
    * equality joins, bucket caps — never all-pairs); attributing shards
    * adds two hash joins on the doc id against the (id, shard) projection,
    * and the matrix itself aggregates to at most |shards|² rows.
    */
  def crossShardDupMatrix(docs: DataFrame, idCol: String, textCol: String,
                          shardCol: String, k: Int, m: Int, nBands: Int,
                          threshold: Double): DataFrame = {
    val pairs = MinHashDedup.nearDuplicates(docs, idCol, textCol,
      k, m, nBands, threshold)
    val shards = docs.select(col(idCol), col(shardCol))
    pairs.select(col("id_a"), col("id_b"))
      .join(shards.select(col(idCol).as("id_a"),
        col(shardCol).as("shard_x")), "id_a")
      .join(shards.select(col(idCol).as("id_b"),
        col(shardCol).as("shard_y")), "id_b")
      .select(least(col("shard_x"), col("shard_y")).as("shard_a"),
        greatest(col("shard_x"), col("shard_y")).as("shard_b"))
      .groupBy("shard_a", "shard_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** CCNet's head/middle/tail split (Wenzek et al. 2020): per LANGUAGE,
    * rank documents by language-model surprisal and cut into three
    * equal-population buckets — head (most fluent) trains first-tier
    * models, tail gets dropped or demoted. The LM here is the engine's
    * [[TextAnalysis.unigramSurprisal]] (CCNet uses a 5-gram KenLM; the
    * bucketing machinery is identical, and t19's backoff bigram LM slots
    * in unchanged).
    *
    * Ordering is (avg_nll, doc id): the division is one deterministic
    * double op, and the id tie-break makes ntile assignment total — both
    * engines agree bucket-for-bucket, which is what lets a QUANTILE
    * operator sit under a hash gate.
    *
    * Scale shape: surprisal's own two exchanges, one lang-keyed window
    * for the ntile. A per-language window serializes each language on
    * one reducer — fine up to ~10⁸ docs/lang; past that, production
    * computes approximate surprisal quantiles per language
    * (percentile_approx, a8/a10 machinery), broadcasts the two
    * cutpoints, and assigns buckets map-side — same output contract,
    * no total order anywhere.
    */
  def ccnetBuckets(docs: DataFrame, idCol: String, textCol: String,
                   langCol: String): DataFrame = {
    val sur = TextAnalysis.unigramSurprisal(docs, idCol, textCol)
    val w = Window.partitionBy(col(langCol))
      .orderBy(col("avg_nll"), col(idCol))
    docs.select(col(idCol), col(langCol))
      .join(sur, idCol)
      .withColumn("bucket", ntile(3).over(w).cast("long"))
      .withColumn("bucket_name",
        when(col("bucket") === 1, "head")
          .when(col("bucket") === 2, "middle")
          .otherwise("tail"))
      .select(col(idCol), col(langCol), col("avg_nll"),
        col("bucket"), col("bucket_name"))
  }

  /** DSIR importance resampling (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): select raw-pool
    * documents whose hashed n-gram feature profile looks like a TARGET
    * domain. Per document, the log importance weight is
    * `Σ_f log(p̂_target(bucket(f)) / p̂_raw(bucket(f)))` over its
    * unigram+bigram features hashed into `dim` buckets (the paper's
    * bag-of-hashed-ngrams generative model), with add-one smoothing on
    * both bucket histograms. The paper then Gumbel-samples ∝ weight;
    * here selection is the deterministic top-`k` by (weight, id) — the
    * same primitive with the noise term zeroed, which is what lets an
    * importance sampler sit under the cross-engine hash gate (seeded
    * Gumbel keys are one added hash column away).
    *
    * Determinism discipline: bucket = md5-prefix mod dim (t24's hashing
    * trick), each bucket's log-ratio is ONE double expression rounded to
    * 1e-9 fixed point, and a document's weight is the INTEGER sum of its
    * features' fixed-point log-ratios — order-independent under any
    * partitioning.
    *
    * Scale shape: one explode + bucket-keyed aggregation builds both
    * histograms in a single pass (conditional sums — the target pass is
    * free); the `dim`-row log-ratio table BROADCASTS onto the feature
    * stream, the per-doc weight is one doc-keyed aggregation, and the
    * final top-k is TakeOrderedAndProject. No join ever shuffles the
    * corpus twice: memory is O(dim), the hashing trick's point.
    */
  def dsirResample(docs: DataFrame, idCol: String, textCol: String,
                   targetPred: Column, dim: Int = 1024,
                   k: Int = 100): DataFrame = {
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), targetPred.as("__is_tgt"),
        TextAnalysis.tokens(col(textCol)).as("tk"))
    // unigram + space-joined-bigram feature strings, hashed to buckets
    // cached: read by the per-bucket counts, the global totals AND the
    // final weight join — three DIFFERENT aggregations over a subtree
    // with no exchange below it, so exchange reuse cannot dedupe them
    // and each re-ran the tokenize + explode + md5-per-feature scan
    // (r14 A/B: 3.2 s → 2.0 s at sf0.1). At 100 TB persist the feature
    // table to storage instead (the prepareSignatures discipline).
    val feats = toks.select(col(idCol), col("__is_tgt"),
        explode(concat(col("tk"), expr(
          "CASE WHEN size(tk) >= 2 THEN transform(sequence(1, size(tk) - 1)," +
            " i -> concat(tk[i-1], ' ', tk[i])) ELSE array() END"))).as("f"))
      .select(col(idCol), col("__is_tgt"),
        pmod(conv(substring(md5(col("f")), 1, 8), 16, 10).cast("long"),
          lit(dim.toLong)).as("bucket"))
      .cache()
    val bc = feats.groupBy("bucket").agg(
      count(lit(1)).as("n_raw_b"),
      count(when(col("__is_tgt"), 1)).as("n_tgt_b"))
    val totals = feats.agg(count(lit(1)).as("n_raw"),
      count(when(col("__is_tgt"), 1)).as("n_tgt"))
    // smoothed log-ratio per bucket, fixed point at 1e-9 — one double
    // expression with pinned operation order, mirrored in the oracle
    val lr = bc.crossJoin(broadcast(totals)).select(col("bucket"),
      round(log(
        ((col("n_tgt_b") + 1).cast("double") *
          (col("n_raw") + dim).cast("double")) /
        ((col("n_raw_b") + 1).cast("double") *
          (col("n_tgt") + dim).cast("double"))) * lit(1e9))
        .cast("long").as("lr_fp"))
    feats.filter(!col("__is_tgt"))
      .join(broadcast(lr), "bucket")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feat"), sum("lr_fp").as("weight_fp"))
      .orderBy(col("weight_fp").desc, col(idCol)).limit(k)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shingle-set similarity joins: MinHash + LSH near-duplicates, blocked and
  * prefix-filtered exact n-gram joins, incremental admission, and exact
  * duplicates. Every operator is built from the same steps, each written
  * once below:
  *
  *  - [[shingled]]: spread a too-narrow input, take the word k-shingle set
  *    `sh`, drop shingle-less documents. The operator adds its own columns
  *    and caches the result once.
  *  - Signature and bands (the LSH operators): ONE md5 per shingle, reduced
  *    to a 60-bit integer mod 2^31-1 ([[baseHash]]); the m components derive
  *    arithmetically via the universal-hash family ((2j+1)·h + 7919j + 13)
  *    mod p ([[signatureOfHashes]], run natively by [[signatureFused]]) —
  *    engine-portable, so the DuckDB oracle reproduces identical signatures.
  *    (A seed-prefixed md5 per component was measured 16× more hashing and
  *    abandoned.) [[bandKeys]] hashes each band to a bucket key.
  *  - [[bandPairs]]: the band self-join to distinct (id_a, id_b) pairs.
  *  - Exact verification: [[jaccard]] over two shingle arrays, or
  *    [[countJaccard]] from an intersection count `c` and the set sizes,
  *    which [[overlapCounts]] produces from an inverted-index join of
  *    [[shingleRows]].
  *
  * Scale design: the cost that matters is the candidate join, which banding
  * reduces from O(n²) to same-bucket pairs, partitioned on the band key.
  * Skewed buckets (a band key shared by thousands of docs) are the classic
  * hazard; AQE skew-join handles moderate skew, and `maxBucket` drops
  * degenerate buckets outright (standard practice — a bucket with k docs
  * yields k²/2 candidate pairs and catches only boilerplate).
  */
object MinHashDedup {

  /** Word k-shingles of a token array (empty when fewer than k tokens).
    *
    * IMPORTANT: pass a materialized COLUMN, not an expression like
    * `TextAnalysis.tokens(...)` — the lambda body references `toks` per
    * element, so an inlined expression (e.g. the tokenizing regexp)
    * re-evaluates once per shingle position (measured: ~100× redundant
    * regexp work per document, dominating the whole dedup pipeline).
    */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) < k, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))

  /** Modulus for the universal-hash family (2^31 - 1, prime). */
  val HashMod: Long = graft.functions.MinHashSig.Mod

  /** 60-bit base hash of one shingle, reduced mod `HashMod`. */
  def baseHash(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long") % HashMod

  /** m-component minhash signature from pre-computed base hashes:
    * component j is min over shingles of ((2j+1)·h + 7919j + 13) mod p —
    * a universal-hash family in exact int64 arithmetic (max product
    * ≈ 31·2^31 << 2^63), reproducible in any engine with 64-bit ints.
    */
  def signatureOfHashes(hashes: Column, m: Int): Column =
    transform(sequence(lit(0), lit(m - 1)),
      j => array_min(transform(hashes,
        h => ((j * 2L + 1L) * h + j * 7919L + 13L) % HashMod)))

  /** Convenience: signature straight from the shingle array — composable
    * interpreted form; semantically identical to [[signatureFused]], which
    * the operators use.
    */
  def signature(sh: Column, m: Int): Column =
    signatureOfHashes(transform(sh, baseHash(_)), m)

  /** Signature as ONE native row-kernel call (`minhash_sig`,
    * [[graft.functions.MinHashSig]]):
    * same values as [[signature]]/the oracle SQL, but md5 + m mins run as a
    * tight Java loop instead of m×|shingles| interpreted lambda dispatches.
    */
  def signatureFused(sh: Column, m: Int): Column =
    graft.GraftFunctions.minhashSig(sh, m)

  /** LSH band keys: the signature is split into `nBands` runs of `rowsPerBand`
    * components; each band hashes to one bucket key.
    */
  def bandKeys(sig: Column, rowsPerBand: Int, nBands: Int): Column =
    transform(sequence(lit(0), lit(nBands - 1)),
      b => md5(concat(b.cast("string"), lit("#"),
        concat_ws(",", transform(
          slice(sig, b * lit(rowsPerBand) + 1, lit(rowsPerBand)),
          x => x.cast("string"))))))

  /** (idCol, keep…, sh) for every document with at least one shingle.
    *
    * Spread: a small parquet file arrives as ONE partition, serializing all
    * shingling onto one core; repartitioning by id costs one narrow-row
    * shuffle and buys full parallelism (at 100 TB the input already has
    * enough partitions and this coalesces nothing). Shingles come from the
    * fused codegen expression: profiling showed the interpreted
    * slice/concat form dominating the whole LSH pipeline.
    */
  private def shingled(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, keep: Column*): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (docs.rdd.getNumPartitions < par) docs.repartition(par, col(idCol))
      else docs
    spread
      .select((col(idCol) +: keep :+
        TextAnalysis.wordShingles(col(textCol), k).as("sh")): _*)
      .filter(size(col("sh")) > 0)
  }

  /** Shingles + signature + bands, cached: the frame is consumed by the
    * band explode and by both sides of the verify join (an explode + m
    * min-aggregates variant of the signature measured slower, adding a
    * groupBy shuffle plus a join back). At 100 TB persist to storage.
    */
  private def prepareSignatures(docs: DataFrame, idCol: String,
                                textCol: String, k: Int, m: Int,
                                nBands: Int): DataFrame =
    shingled(docs, idCol, textCol, k)
      .withColumn("sig", signatureFused(col("sh"), m))
      .withColumn("bands", bandKeys(col("sig"), m / nBands, nBands))
      .cache()

  /** Distinct (id_a, id_b) pairs, id_a < id_b, of the ids in an (id, band)
    * frame that share a band key.
    */
  private def bandPairs(bands: DataFrame, id: String,
                        band: String): DataFrame = {
    // Alias the join key on each side: both frames share lineage, and an
    // un-renamed col("band") === col("band") resolves to the same attribute
    // (trivially true) — silently degrading the bucket join to a cross join.
    val left = bands.select(col(id).as("id_a"), col(band).as("band_a"))
    val right = bands.select(col(id).as("id_b"), col(band).as("band_b"))
    left.join(right,
        col("band_a") === col("band_b") && col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Distinct band-collision candidate pairs from a prepared signature
    * frame — the UNVERIFIED output of the banding scheme — after the
    * degenerate-bucket guard.
    */
  private def candidatesFrom(prepared: DataFrame, idCol: String,
                             maxBucket: Int): DataFrame = {
    val bucketed = prepared
      .select(col(idCol), explode(col("bands")).as("band"))
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy("band")))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
    bandPairs(bucketed, idCol, "band")
  }

  /** An (id_a, id_b) pair frame with `cols` of each side attached as
    * `<col>_a` from `a` and `<col>_b` from `b`.
    */
  private def withSides(pairs: DataFrame, a: DataFrame, b: DataFrame,
                        idCol: String, cols: String*): DataFrame = {
    def side(df: DataFrame, s: String): DataFrame =
      df.select((col(idCol).as(s"id_$s") +:
        cols.map(c => col(c).as(s"${c}_$s"))): _*)
    pairs.join(side(a, "a"), "id_a").join(side(b, "b"), "id_b")
  }

  /** Exact Jaccard of two shingle arrays. */
  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Exact Jaccard from an intersection count `c` and set sizes `sz_a`,
    * `sz_b`: |A∪B| = |A| + |B| − |A∩B|.
    */
  private def countJaccard: Column = col("c").cast("double") /
    (col("sz_a") + col("sz_b") - col("c")).cast("double")

  /** One row per (document, shingle): (id_<s>, keep…, sz_<s>, s) — one side
    * of an inverted-index pair join.
    */
  private def shingleRows(prepared: DataFrame, idCol: String, s: String,
                          keep: String*): DataFrame =
    prepared.select((col(idCol).as(s"id_$s") +: keep.map(col) :+
      size(col("sh")).as(s"sz_$s") :+ explode(col("sh")).as("s")): _*)

  /** Shared-shingle count `c` per pair of a joined [[shingleRows]] frame:
    * (id_a, id_b, sz_a, sz_b, c). Only rows in an intersection reach the
    * count, so pairs sharing no shingle never materialize.
    */
  private def overlapCounts(joined: DataFrame): DataFrame =
    joined.groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("c"))

  /** (id_a, id_b, sz_a, sz_b, c) for document pairs of one block sharing a
    * shingle, from one equality join on (block, shingle) instead of a
    * per-pair array_intersect over the quadratic pair space. At 100 TB the
    * skew hazard is a shingle common to a whole block (stop-shingle) —
    * prune those upstream if blocks are huge.
    */
  private def blockedOverlaps(docs: DataFrame, idCol: String, textCol: String,
                              blockCol: String, k: Int): DataFrame = {
    val prepared = shingled(docs, idCol, textCol, k, col(blockCol)).cache()
    overlapCounts(shingleRows(prepared, idCol, "a", blockCol)
      .join(shingleRows(prepared, idCol, "b", blockCol), Seq(blockCol, "s"))
      .filter(col("id_a") < col("id_b")))
  }

  /** The banding scheme's raw candidate pairs (no exact verification) —
    * what you measure when TUNING an LSH deployment: joined against
    * exact-Jaccard truth pairs it yields the scheme's recall/precision
    * (see the `d16_lsh_recall` gate).
    */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, m: Int = 16, nBands: Int = 4,
                        maxBucket: Int = 1000): DataFrame =
    candidatesFrom(prepareSignatures(docs, idCol, textCol, k, m, nBands),
      idCol, maxBucket)

  /** Full near-dup pipeline over (idCol, textCol): band-collision candidate
    * pairs with estimated (signature-agreement) and exact (shingle-set)
    * Jaccard, filtered to exact jaccard >= threshold.
    */
  def nearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 3, m: Int = 16, nBands: Int = 4,
                     threshold: Double = 0.5,
                     maxBucket: Int = 1000): DataFrame = {
    val prepared = prepareSignatures(docs, idCol, textCol, k, m, nBands)
    withSides(candidatesFrom(prepared, idCol, maxBucket), prepared, prepared,
        idCol, "sh", "sig")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          b => b)).cast("double") / m)
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard", "jaccard")
  }

  /** Direct n-gram Jaccard similarity between document pairs sharing a
    * blocking key (e.g. source, language, length band). The blocking column
    * bounds the quadratic pair space. For unblocked discovery use
    * `nearDuplicates` (LSH) instead.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        blockCol: String, k: Int = 3,
                        threshold: Double = 0.3): DataFrame =
    blockedOverlaps(docs, idCol, textCol, blockCol, k)
      .withColumn("jaccard", countJaccard)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** PREFIX-FILTERED set-similarity join (the AllPairs/PPJoin candidate
    * rule, Bayardo 2007 / Xiao 2008) — the algorithmic upgrade over
    * [[ngramJaccardPairs]]'s full inverted index: under a global token
    * order, two sets with J ≥ t MUST share a token within each one's
    * first `|s| − ⌈t·|s|⌉ + 1` tokens, so only that PREFIX is indexed.
    * Ordering by ascending document frequency puts the RAREST tokens in
    * the prefix — the d4 stop-shingle hazard (one ubiquitous shingle
    * joining everything to everything) disappears by construction,
    * because ubiquitous tokens sort to the suffix and are never indexed.
    * Index volume drops from Σ|s| to Σ(1−t)|s| and, far more
    * importantly, candidate mass concentrates on rare-token buckets.
    *
    * Shape: one df aggregation (token-keyed), one per-doc rank window
    * (doc-keyed sort), the prefix-prefix equality join, then exact
    * verification of the candidates only (candidate count ≈ true-pair
    * count by design). The matched set is IDENTICAL to the naive all-pairs
    * join — the lemma moves cost, never answers — which is what the oracle
    * replays.
    */
  def prefixFilterJaccardPairs(docs: DataFrame, idCol: String,
                               textCol: String, k: Int = 3,
                               threshold: Double = 0.3): DataFrame = {
    val prepared = shingled(docs, idCol, textCol, k).cache()
    val dfreq = prepared.select(explode(col("sh")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(idCol).orderBy(col("df"), col("s"))
    // Cache: consumed by BOTH prefix-join sides; the cache guarantees one
    // compute of the rank-window + df-join subtree instead of relying on
    // runtime exchange reuse across differing projections (guide §2.4).
    // Prefix volume is Σ(1−t)|s|, the small end of the pipeline; at 100 TB
    // persist to storage. Only (id, s) is cached — the consumers never
    // read sz/df/rn, and a cache is a pruning barrier: InMemoryRelation
    // stores every column it was built with (guide §2.3).
    val prefixes = prepared
      .select(col(idCol), size(col("sh")).cast("long").as("sz"),
        explode(col("sh")).as("s"))
      .join(dfreq, "s")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <=
        col("sz") - ceil(col("sz") * threshold) + lit(1L))
      .select(col(idCol), col("s"))
      .cache()
    val pa = prefixes.select(col(idCol).as("id_a"), col("s"))
    val pb = prefixes.select(col(idCol).as("id_b"), col("s"))
    val cand = pa.join(pb, "s").filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // Verification counts, restricted to candidates: carrying full shingle
    // ARRAYS per pair (array_intersect) was measured 19× slower at 10× on
    // the clone corpus — 300-element arrays shuffled per pair plus
    // interpreted array ops.
    overlapCounts(shingleRows(prepared, idCol, "a").join(cand, "id_a")
        .join(shingleRows(prepared, idCol, "b"), Seq("id_b", "s")))
      .withColumn("jaccard", countJaccard)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** INCREMENTAL near-dup admission — the production shape of dedup at
    * 100 TB: a new batch (`increment`, e.g. today's crawl) is admitted
    * against an already-deduped `corpus` WITHOUT recomputing anything
    * corpus×corpus. An increment document is dropped when it is a
    * near-dup of any corpus document (the corpus always wins), or when it
    * is the higher id of a within-increment near-dup pair (the same
    * canonical-keeper policy as the c2 composite). Returns the surviving
    * increment rows in full.
    *
    * Scale contract: the corpus side contributes ONLY its band table —
    * in production that table is computed once at corpus build, stored
    * bucketed by band key (see `Sinks.bucketedTable`), and each day's
    * admission shuffles just the increment's bands against it; the
    * degenerate-bucket guard belongs to that corpus index build, which is
    * why this operator takes no maxBucket.
    */
  def incrementalNearDuplicates(increment: DataFrame, corpus: DataFrame,
                                idCol: String, textCol: String,
                                k: Int = 3, m: Int = 16, nBands: Int = 4,
                                threshold: Double = 0.5): DataFrame = {
    def prep(df: DataFrame): DataFrame = shingled(df, idCol, textCol, k)
      .withColumn("bands",
        bandKeys(signatureFused(col("sh"), m), m / nBands, nBands))
      .cache()
    val inc = prep(increment)
    val corp = prep(corpus)
    // pairs (id_a from the increment, id_b from `other`) at the threshold
    def verified(pairs: DataFrame, other: DataFrame): DataFrame =
      withSides(pairs, inc, other, idCol, "sh")
        .filter(jaccard(col("sh_a"), col("sh_b")) >= threshold)
    val incBands = inc.select(col(idCol).as("id_i"),
      explode(col("bands")).as("band_i"))
    val corpBands = corp.select(col(idCol).as("id_c"),
      explode(col("bands")).as("band_c"))
    val crossDrop = verified(incBands
        .join(corpBands, col("band_i") === col("band_c"))
        .select(col("id_i").as("id_a"), col("id_c").as("id_b")).distinct(),
      corp).select(col("id_a").as(idCol)).distinct()
    val incDrop = verified(bandPairs(incBands, "id_i", "band_i"), inc)
      .select(col("id_b").as(idCol)).distinct()
    increment
      .join(crossDrop, Seq(idCol), "left_anti")
      .join(incDrop, Seq(idCol), "left_anti")
  }

  /** N-gram CONTAINMENT between blocked document pairs — the asymmetric
    * companion to [[ngramJaccardPairs]]: `containment(A in B) =
    * |A∩B| / |A|`. Jaccard misses subset duplication (a paragraph pasted
    * into a much longer document scores a low union ratio); containment
    * flags it from either side. Same blocked intersection counts, with
    * both direction ratios computed from the one count. Pairs qualify when
    * EITHER direction clears the threshold.
    */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                            blockCol: String, k: Int = 3,
                            threshold: Double = 0.5): DataFrame =
    blockedOverlaps(docs, idCol, textCol, blockCol, k)
      .withColumn("cont_a_in_b",
        col("c").cast("double") / col("sz_a").cast("double"))
      .withColumn("cont_b_in_a",
        col("c").cast("double") / col("sz_b").cast("double"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
      .select("id_a", "id_b", "cont_a_in_b", "cont_b_in_a")

  /** Exact duplicate groups by full-content hash — the cheap first pass of
    * any dedup stack (hash-groupBy, one shuffle on the digest).
    */
  def exactDuplicates(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    docs.select(col(idCol), md5(col(textCol)).as("content_hash"))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper_id"))
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-prefiltered set operations — the membership pattern for data that
  * cannot be broadcast exactly.
  *
  * Reference point: `graft.etl.AntiDestination` (and the d9 incremental
  * admission) realize "not already in the destination/corpus" as an anti
  * join, which shuffles the INCREMENT against the full key set. Below
  * ~10 GB of keys that is the right call (one exchange, exact). At 100 TB
  * of corpus keys it is not: the corpus side of the anti join dominates
  * the stage even though almost every increment row misses. The bloom
  * shape fixes the asymmetry:
  *
  *  1. build an m-bit filter of the corpus digests (one
  *     [[graft.functions.BloomFilterAgg]] pass — word-wise OR partials,
  *     128 KiB result for m = 2^20, broadcast everywhere);
  *  2. probe it inside the increment's scan loop (codegen'd
  *     `bloom_might_contain` kernel): bloom-negative rows are
  *     DEFINITELY new — admitted with zero join work;
  *  3. only bloom-POSITIVE rows (true dups + the ~(1-e^(-kn/m))^k false
  *     positives) enter the exact anti join, so the expensive path
  *     processes a sliver of the increment.
  *
  * The result is EXACT — false positives are re-checked, false negatives
  * don't exist — so the d14 gate hash-checks it against a plain `NOT IN`.
  */
object Bloom {

  def bloomBuild(item: Column, numBits: Int, numHashes: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.BloomFilterAgg(
        org.apache.spark.sql.graft.ColumnBridge.expression(item),
        numBits, numHashes).toAggregateExpression())

  def mightContain(filter: Column, item: Column, numHashes: Int): Column =
    graft.GraftFunctions.bloomMightContain(filter, item, numHashes)

  /** BIGINT-keyed build/probe pair (SplitMix64 double hashing, no md5):
    * for join-key prefilters where the key is one long — the probe is a
    * few multiplies per row, cheap enough for a 40M-row scan.
    */
  def bloomBuildLong(item: Column, numBits: Int, numHashes: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.BloomFilterAggLong(
        org.apache.spark.sql.graft.ColumnBridge.expression(item),
        numBits, numHashes).toAggregateExpression())

  def mightContainLong(filter: Column, item: Column,
                       numHashes: Int): Column =
    graft.GraftFunctions.bloomMightContainLong(filter, item, numHashes)

  /** Admit the increment rows whose `textCol` content does not already
    * exist in `corpus` (by md5 digest) — bloom prefilter, exact verify.
    * Equals the plain anti join row-for-row.
    */
  def admitNew(increment: DataFrame, corpus: DataFrame, textCol: String,
               numBits: Int = 1 << 20, numHashes: Int = 5): DataFrame = {
    val corpusDigests = corpus
      .filter(col(textCol).isNotNull)
      .select(md5(col(textCol)).as("__h"))
    val filter = corpusDigests
      .agg(bloomBuild(col("__h"), numBits, numHashes).as("__bf"))
    val flagged = increment
      .filter(col(textCol).isNotNull)
      .withColumn("__h", md5(col(textCol)))
      .crossJoin(broadcast(filter)) // one row: the filter itself
      .withColumn("__maybe", mightContain(col("__bf"), col("__h"), numHashes))
      .drop("__bf")
    val definitelyNew = flagged.filter(!col("__maybe"))
    val verified = flagged.filter(col("__maybe"))
      .join(corpusDigests, Seq("__h"), "left_anti")
    definitelyNew.unionByName(verified).drop("__maybe", "__h")
  }
}

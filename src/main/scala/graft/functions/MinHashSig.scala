package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** m-component minhash signature of a shingle array as ONE static row
  * kernel (`minhash_sig`, catalog in `graft.GraftFunctions`).
  *
  * Semantics are IDENTICAL to the composed form (MinHashDedup.baseHash +
  * signatureOfHashes, which the DuckDB oracle mirrors in SQL): per shingle,
  * one md5, the first 15 hex digits as a 60-bit integer reduced mod
  * 2^31-1; component j is the min over shingles of
  * ((2j+1)·h + 7919j + 13) mod 2^31-1. An empty input yields m nulls,
  * exactly as `array_min` of an empty transform does.
  *
  * Why it exists: the composed form evaluates interpreted lambdas per
  * shingle per component (m×|shingles| virtual dispatches per row) plus an
  * expression-tree md5 per shingle; this is one generated call running the
  * whole signature as a tight Java loop — profiling showed it as the
  * second-largest cost of the LSH pipeline after shingling.
  */
object MinHashSig {
  final val Mod = 2147483647L // 2^31 - 1, prime

  def compute(arr: ArrayData, m: Int): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(m)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    var processed = 0
    var i = 0
    while (i < n) {
      // null shingles are skipped, exactly as the composed form does
      // (baseHash(null) → null; array_min ignores null entries)
      if (arr.isNullAt(i)) { i += 1 }
      else {
      processed += 1
      md.reset()
      val d = md.digest(arr.getUTF8String(i).getBytes)
      // first 15 hex digits == bytes 0-6 plus the high nibble of byte 7
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      v = (v << 4) | ((d(7) >> 4) & 0xfL)
      val h = v % Mod
      var j = 0
      while (j < m) {
        val c = ((2L * j + 1L) * h + 7919L * j + 13L) % Mod
        if (c < mins(j)) mins(j) = c
        j += 1
      }
      i += 1
      }
    }
    // no usable shingles → m nulls (array_min over an empty/all-null
    // transform is null per component)
    if (processed == 0) new GenericArrayData(new Array[Any](m))
    else new GenericArrayData(mins)
  }
}

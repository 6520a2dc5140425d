package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word k-shingles of a text column as ONE static row kernel
  * (`word_shingles`, catalog in `graft.GraftFunctions`) — the feature
  * extractor every dedup path starts from.
  *
  * Semantics are IDENTICAL to the composed form
  * `array_distinct(transform(sequence(1, n-k+1), i =>
  *   concat_ws(" ", slice(regexp_extract_all(lower(text), "\\S+", 0), i, k))))`
  * (lowercase via `UTF8String.toLowerCase` — the exact `lower()` path —
  * Java-regex `\S+` tokens, k consecutive tokens joined by one space,
  * first-occurrence-order distinct, empty array when fewer than k tokens),
  * so the DuckDB oracle's SQL derivation still matches string-for-string.
  *
  * Why it exists: the composed form runs the slice+concat lambda
  * INTERPRETED once per shingle position — ~200 allocations+virtual calls
  * per document — which profiling showed dominating the whole minhash/
  * simhash pipeline (the hashing it feeds was already cheap). One generated
  * call per row does the tokenize-shingle-dedup pass in plain Java.
  */
object WordShingles {
  private val Token = java.util.regex.Pattern.compile("\\S+")

  def compute(text: UTF8String, k: Int): ArrayData = {
    val s = text.toLowerCase.toString
    val m = Token.matcher(s)
    val toks = new scala.collection.mutable.ArrayBuffer[String]()
    while (m.find()) toks += m.group()
    val n = toks.length
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i + k <= n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val arr = new Array[Any](seen.size())
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) {
      arr(p) = UTF8String.fromString(it.next())
      p += 1
    }
    new GenericArrayData(arr)
  }
}

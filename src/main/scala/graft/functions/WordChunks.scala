package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** NON-OVERLAPPING fixed-size word chunks of a text column as one static
  * row kernel (`word_chunks`) — the segmenter the paragraph-dedup family
  * (d12/c7) explodes. Chunk i (0-based) is tokens [i*k, (i+1)*k) of the
  * lowercase `\S+` token stream joined by one space; the trailing partial
  * chunk is kept; fewer than one token → empty array. Token start
  * position is recoverable as `pos * k + 1` from `posexplode`.
  *
  * Semantically identical to the composed
  * `TextAnalysis.tokenChunks(TextAnalysis.tokens(text), k, 0)` chunk
  * strings — but that form runs its slice+concat lambda INTERPRETED per
  * chunk (the same cost profile WordShingles eliminated for shingles:
  * measured 7× there). One generated call tokenizes and chunks in plain
  * Java.
  */
object WordChunks {
  private val Token = java.util.regex.Pattern.compile("\\S+")

  def compute(text: UTF8String, k: Int): ArrayData = {
    val s = text.toLowerCase.toString
    val m = Token.matcher(s)
    val toks = new scala.collection.mutable.ArrayBuffer[String]()
    while (m.find()) toks += m.group()
    val n = toks.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any]((n + k - 1) / k)
    val sb = new java.lang.StringBuilder()
    var c = 0
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = i
      val end = math.min(i + k, n)
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      out(c) = UTF8String.fromString(sb.toString)
      c += 1
      i += k
    }
    new GenericArrayData(out)
  }
}

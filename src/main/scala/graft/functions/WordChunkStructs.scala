package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** OVERLAPPING word chunks with positions as one static row kernel
  * (`word_chunk_structs`) — the RAG/context chunker (`c3_token_chunks`)
  * fused the way [[WordChunks]] fuses the non-overlapping segmenter.
  *
  * Semantics are IDENTICAL to the composed
  * `TextAnalysis.tokenChunks(TextAnalysis.tokens(text), k, overlap)`:
  * starts 1, 1+step, … with step = k − overlap over the lowercase `\S+`
  * token stream; chunk = up to k tokens joined by one space; a chunk is
  * kept when it is the FIRST chunk or contributes more than `overlap` new
  * tokens (the composed form's tail-filter); an empty token stream yields
  * the single (start=1, n_tokens=0, chunk="") row the composed form
  * produces. Output element: struct<start, n_tokens, chunk>.
  */
object WordChunkStructs {
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("start", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("chunk", StringType, nullable = false))),
    containsNull = false)

  private val Token = java.util.regex.Pattern.compile("\\S+")

  def compute(text: UTF8String, k: Int, overlap: Int): ArrayData = {
    val s = text.toLowerCase.toString
    val m = Token.matcher(s)
    val toks = new scala.collection.mutable.ArrayBuffer[String]()
    while (m.find()) toks += m.group()
    val n = toks.length
    val step = k - overlap
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    val sb = new java.lang.StringBuilder()
    var start = 1
    // sequence(1, greatest(n, 1), step): at least one start even when n=0
    val lastStart = math.max(n, 1)
    while (start <= lastStart) {
      val from = start - 1
      val until = math.min(from + k, n)
      val nTok = math.max(until - from, 0)
      if (start == 1 || nTok > overlap) {
        sb.setLength(0)
        var j = from
        while (j < until) {
          if (j > from) sb.append(' ')
          sb.append(toks(j))
          j += 1
        }
        out += InternalRow(start.toLong, nTok.toLong,
          UTF8String.fromString(sb.toString))
      }
      start += step
    }
    new GenericArrayData(out.toArray)
  }
}

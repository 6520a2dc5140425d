package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking (the LBFS/Venti/FastCDC storage-dedup
  * primitive, Muthitacharoen et al. 2001): split a document at positions
  * where a rolling hash of the trailing 8 code points satisfies
  * `h % 64 == 0`, so chunk boundaries are a function of CONTENT, not
  * offset — insert one byte at the front of a file and fixed-size
  * blocking re-digests every block, while CDC boundaries re-synchronize
  * within one window and every downstream chunk digest is unchanged.
  * That self-synchronization is what makes chunk-level dedup across a
  * 100 TB mirror corpus work.
  *
  * Boundary rule (replayed verbatim by the DuckDB oracle's
  * `list_filter`/`list_reduce`): position i (1-based, code points) with
  * i >= 8 is a boundary iff
  * `fold(cp[i-7..i], acc -> (acc*31 + cp) % 1e9+7) % 64 == 0`
  * — [[RollingHash]]'s polynomial over an 8-point window. Expected chunk
  * length is the divisor (64 code points); no min/max clamp, so the rule
  * stays stateless per position and exactly SQL-replayable.
  *
  * Emits array<struct<start, len, digest>> (start 0-based in code
  * points; digest = lowercase-hex MD5 of the chunk's UTF-8 bytes,
  * matching both engines' md5()). One codegen'd pass per row — the
  * chunker adds zero shuffles; dedup downstream is one digest-keyed
  * aggregation.
  */
object CdcChunks {
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("start", LongType, nullable = false),
    StructField("len", LongType, nullable = false),
    StructField("digest", StringType, nullable = false))),
    containsNull = false)

  final val Window = 8
  final val Mod = 1000000007L
  final val Divisor = 64L

  def compute(text: UTF8String): ArrayData = {
    val s = text.toString
    // code points + the char offset of each code point (surrogate-safe)
    val nChars = s.length
    var cpCount = 0
    var ci = 0
    while (ci < nChars) { ci += Character.charCount(s.codePointAt(ci)); cpCount += 1 }
    val cps = new Array[Long](cpCount)
    val charOff = new Array[Int](cpCount + 1)
    ci = 0
    var i = 0
    while (ci < nChars) {
      val cp = s.codePointAt(ci)
      cps(i) = cp.toLong
      charOff(i) = ci
      ci += Character.charCount(cp)
      i += 1
    }
    charOff(cpCount) = nChars
    // boundaries: 0, every window-hash hit at i >= Window, then cpCount
    val bounds = new scala.collection.mutable.ArrayBuffer[Int]()
    bounds += 0
    i = Window
    while (i <= cpCount) {
      var h = 0L
      var j = i - Window
      while (j < i) { h = (h * 31 + cps(j)) % Mod; j += 1 }
      if (h % Divisor == 0L) bounds += i
      i += 1
    }
    if (bounds.last != cpCount) bounds += cpCount
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new scala.collection.mutable.ArrayBuffer[Any](bounds.length - 1)
    var k = 0
    while (k < bounds.length - 1) {
      val from = bounds(k)
      val until = bounds(k + 1)
      if (until > from) {
        val chunk = s.substring(charOff(from), charOff(until))
        md.reset()
        val dig = md.digest(chunk.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val hex = new java.lang.StringBuilder(32)
        var b = 0
        while (b < dig.length) {
          hex.append(Character.forDigit((dig(b) >> 4) & 0xF, 16))
          hex.append(Character.forDigit(dig(b) & 0xF, 16))
          b += 1
        }
        out += InternalRow(from.toLong, (until - from).toLong,
          UTF8String.fromString(hex.toString))
      }
      k += 1
    }
    new GenericArrayData(out.toArray)
  }
}

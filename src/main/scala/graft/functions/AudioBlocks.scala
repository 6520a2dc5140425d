package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** REAL audio SAMPLE decode for PCM WAV payloads, pure JVM — past the
  * header this time ([[AudioMeta]] stops at the fmt chunk): walk the
  * RIFF chunks to `data`, read the little-endian 16-bit PCM samples,
  * and reduce them into `nBlocks` equal time blocks of
  *
  *   `struct<block, n_samples, peak, sumsq>`
  *
  * — per-block absolute peak and EXACT integer sum of squares (the
  * loudness/clipping audit an audio ingest runs; RMS is one division
  * and sqrt downstream, kept out so the operator output stays pure
  * integer and hash-gateable). Channels are interleaved and reduced
  * together (a channel-split is one modulo filter upstream).
  *
  * NULL for anything that is not a PCM (format 1) 16-bit WAV with at
  * least `nBlocks` samples; a data chunk longer than the payload is
  * clipped to the bytes present (a truncated download still audits).
  * The `audio_blocks` row kernel (catalog in `graft.GraftFunctions`) —
  * one static call and one bounded pass per row inside whole-stage
  * codegen.
  */
object AudioBlocks {

  val BlockSchema: StructType = StructType(Seq(
    StructField("block", IntegerType),
    StructField("n_samples", LongType),
    StructField("peak", IntegerType),
    StructField("sumsq", LongType)))

  val Schema: DataType = ArrayType(BlockSchema)

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16s(b: Array[Byte], i: Int): Int =
    (u8(b, i) | (u8(b, i + 1) << 8)).toShort.toInt
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) |
      (u8(b, i + 3).toLong << 24)

  /** NULL-or-array decode; never throws on malformed bytes. */
  def decode(b: Array[Byte], nBlocks: Int): ArrayData = {
    if (b == null || b.length < 44) return null
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'))
      return null
    // chunk walk: need fmt (PCM, 16-bit) before data
    var i = 12
    var isPcm16 = false
    var dataOff = -1
    var dataLen = 0L
    while (dataOff < 0 && i + 8 <= b.length) {
      val id = new String(b, i, 4, "US-ASCII")
      // le32 is an UNSIGNED 32-bit read (Long in [0, 0xFFFFFFFF]); all
      // stepping stays in Long — a crafted length near 2^32 truncated to
      // Int goes negative and would stall or reverse the walk.
      val len = le32(b, i + 4)
      if (id == "fmt " && i + 8 + 16 <= b.length)
        isPcm16 = le16(b, i + 8) == 1 && le16(b, i + 8 + 14) == 16
      else if (id == "data") { dataOff = i + 8; dataLen = len }
      if (dataOff < 0) {
        val next = i.toLong + 8L + len + (len & 1L) // chunks are word-aligned
        // step is >= 8 so progress is strict; if the next chunk header
        // cannot fit in the payload there is no data chunk to find
        if (next + 8L > b.length) return null
        i = next.toInt
      }
    }
    if (!isPcm16 || dataOff < 0) return null
    val avail = math.min(dataLen, (b.length - dataOff).toLong)
    val nSamples = (avail / 2).toInt
    if (nSamples < nBlocks || nBlocks <= 0) return null
    val out = new Array[Any](nBlocks)
    var blk = 0
    while (blk < nBlocks) {
      val s0 = blk.toLong * nSamples / nBlocks
      val s1 = (blk + 1).toLong * nSamples / nBlocks
      var peak = 0
      var sumsq = 0L
      var s = s0
      while (s < s1) {
        val v = le16s(b, dataOff + 2 * s.toInt)
        val a = math.abs(v)
        if (a > peak) peak = a
        sumsq += v.toLong * v
        s += 1
      }
      out(blk) = new GenericInternalRow(Array[Any](
        blk, s1 - s0, peak, sumsq))
      blk += 1
    }
    new GenericArrayData(out)
  }
}

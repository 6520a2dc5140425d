package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Real (non-stub) audio header decode, pure JVM — the audio sibling of
  * [[MediaDims]]: container format plus stream parameters parsed straight
  * out of the payload's leading bytes as
  * `struct(format, channels, sample_rate, bits, duration_ms)`, NULL when
  * no known magic matches.
  *
  * Formats and where the parameters live (all public container specs):
  *   - WAV: "RIFF" + size + "WAVE", then a chunk walk (`id size data`).
  *     The "fmt " chunk holds channels (u16le at +2), sample rate
  *     (u32le at +4), byte rate (u32le at +8) and bits/sample (u16le at
  *     +14); the "data" chunk's size over the byte rate gives the
  *     duration.
  *   - FLAC: "fLaC", then the mandatory-first STREAMINFO block: sample
  *     rate is the 20 bits starting at byte 18, then 3 bits channels-1,
  *     5 bits bits-per-sample-1, 36 bits total samples — duration =
  *     samples / rate.
  *   - MP3: 11-bit frame sync; version and layer from the same 4-byte
  *     frame header, sample rate from the public index table (halved for
  *     MPEG2, quartered for MPEG2.5), channels from the mode field
  *     (mono vs the three 2-channel modes). Bits/sample and duration are
  *     NULL — honest: frame data is compressed and VBR duration needs a
  *     full frame walk, which a header sniff must not do.
  *
  * The `audio_meta` row kernel (catalog in `graft.GraftFunctions`), one
  * static call per row: bounded byte reads per row inside whole-stage
  * codegen (WAV: one bounded chunk walk), no UDF boxing, no library
  * dependency. Truncated-but-recognized headers yield the format with
  * NULL parameters — at crawl scale corrupt payloads are data, not
  * errors.
  */
object AudioMeta {

  val Schema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("bits", IntegerType),
    StructField("duration_ms", LongType)))

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    (u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16).toLong |
      (u8(b, i + 3).toLong << 24)) & 0xffffffffL

  private def row(fmt: String, ch: Int, sr: Int, bits: Int,
                  durMs: Long): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(fmt),
      if (ch > 0) Int.box(ch) else null,
      if (sr > 0) Int.box(sr) else null,
      if (bits > 0) Int.box(bits) else null,
      if (durMs >= 0) Long.box(durMs) else null))

  // MPEG1 sample-rate index table; MPEG2 halves it, MPEG2.5 quarters it.
  private val Mp3Rates = Array(44100, 48000, 32000)

  /** NULL-or-struct decode; called from both interpreted and generated
    * code paths. Never throws on malformed bytes.
    */
  def decode(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 4) return null
    // WAV -----------------------------------------------------------------
    if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' &&
        b(11) == 'E') {
      var ch = 0; var sr = 0; var bits = 0
      var byteRate = 0L; var dataLen = -1L
      var i = 12
      // bounded chunk walk: fmt and data are almost always the first two
      while (i + 8 <= b.length && (dataLen < 0 || ch == 0)) {
        val size = le32(b, i + 4)
        if (b(i) == 'f' && b(i + 1) == 'm' && b(i + 2) == 't' &&
            b(i + 3) == ' ' && size >= 16 && i + 8 + 16 <= b.length) {
          ch = le16(b, i + 10)
          sr = le32(b, i + 12).toInt
          byteRate = le32(b, i + 16)
          bits = le16(b, i + 22)
        } else if (b(i) == 'd' && b(i + 1) == 'a' && b(i + 2) == 't' &&
            b(i + 3) == 'a') {
          dataLen = size
        }
        // chunks are word-aligned (odd sizes carry a pad byte); step in
        // Long — size is an UNSIGNED 32-bit read, and Int truncation
        // near 2^31 either stalls the walk or drives i negative into an
        // out-of-bounds read (the AudioBlocks bug class, r8 ADVICE)
        val next = i.toLong + 8L + size + (size & 1L)
        if (next + 8L > b.length) {
          val dur0 = if (dataLen >= 0 && byteRate > 0)
            dataLen * 1000L / byteRate else -1L
          return row("wav", ch, sr, bits, dur0)
        }
        i = next.toInt
      }
      val dur = if (dataLen >= 0 && byteRate > 0) dataLen * 1000L / byteRate
                else -1L
      return row("wav", ch, sr, bits, dur)
    }
    // FLAC ----------------------------------------------------------------
    if (b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C') {
      // STREAMINFO is mandatory-first: 4-byte block header at 4, fields
      // from byte 8; the packed rate/channels/bits/samples live at 18..25.
      if (b.length >= 26 && (u8(b, 4) & 0x7f) == 0) {
        val sr = (u8(b, 18) << 12) | (u8(b, 19) << 4) | (u8(b, 20) >> 4)
        val ch = ((u8(b, 20) >> 1) & 0x7) + 1
        val bits = (((u8(b, 20) & 1) << 4) | (u8(b, 21) >> 4)) + 1
        val samples = ((u8(b, 21) & 0xfL) << 32) | (u8(b, 22).toLong << 24) |
          (u8(b, 23).toLong << 16) | (u8(b, 24).toLong << 8) | u8(b, 25).toLong
        val dur = if (sr > 0 && samples > 0) samples * 1000L / sr else -1L
        return row("flac", ch, sr, bits, dur)
      }
      return row("flac", 0, 0, 0, -1L)
    }
    // MP3 -----------------------------------------------------------------
    if (u8(b, 0) == 0xff && (u8(b, 1) & 0xe0) == 0xe0) {
      val version = (u8(b, 1) >> 3) & 0x3 // 3=MPEG1, 2=MPEG2, 0=MPEG2.5
      val layer = (u8(b, 1) >> 1) & 0x3   // 1=Layer III
      val srIdx = (u8(b, 2) >> 2) & 0x3
      if (version == 1 || layer == 0 || srIdx == 3)
        return null // reserved fields: sync was a false positive
      val base = Mp3Rates(srIdx)
      val sr = version match {
        case 3 => base
        case 2 => base / 2
        case _ => base / 4
      }
      val mode = (u8(b, 3) >> 6) & 0x3 // 3 = mono
      val ch = if (mode == 3) 1 else 2
      return row("mp3", ch, sr, 0, -1L)
    }
    null
  }
}

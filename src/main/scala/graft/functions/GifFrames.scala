package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, StructField, StructType}

/** REAL GIF frame extraction, pure JVM — the retirement of the m3 frame
  * stub (r7-verdict item 4): the full GIF87a/GIF89a block walk (public
  * container spec, GIF89a specification 1990), emitting one struct per
  * image frame:
  *
  *   `array<struct<frame_idx, left, top, width, height, delay_cs,
  *   local_palette>>`
  *
  * Walk: 6-byte signature; 7-byte logical screen descriptor; skip the
  * global color table if flagged (3·2^(n+1) bytes); then blocks until
  * the 0x3B trailer —
  *   - 0x21 `ext`: a Graphic Control Extension (label 0xF9) carries the
  *     NEXT frame's delay in centiseconds (little-endian uint16 at +2 of
  *     its 4-byte data block); every extension's sub-block chain is
  *     skipped by length, decode-free.
  *   - 0x2C image descriptor: left/top/width/height as little-endian
  *     uint16s, a local-color-table flag (table skipped by length), the
  *     LZW minimum-code byte, then the compressed sub-block chain —
  *     skipped by length: frame STRUCTURE needs no LZW decode, which is
  *     what keeps this a bounded header walk rather than a codec.
  *
  * Frames with no preceding GCE report a NULL delay (GIF87a has no GCE
  * at all). Truncated or non-GIF payloads yield NULL, never an error —
  * at crawl scale corrupt media is data (quarantine on NULL downstream).
  *
  * The `gif_frames` row kernel (catalog in `graft.GraftFunctions`): the
  * walk is a bounded byte scan per row inside whole-stage codegen — no
  * UDF boxing, no library. An animated-GIF audit over a 100 TB media
  * column is one map-only projection + explode.
  */
object GifFrames {

  val FrameSchema: StructType = StructType(Seq(
    StructField("frame_idx", IntegerType),
    StructField("left", IntegerType),
    StructField("top", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("delay_cs", IntegerType),
    StructField("local_palette", BooleanType)))

  val Schema: DataType = ArrayType(FrameSchema)

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)

  /** Skip a sub-block chain starting at `i`; returns the offset after the
    * 0x00 terminator, or -1 on truncation.
    */
  private def skipSubBlocks(b: Array[Byte], start: Int): Int = {
    var i = start
    while (i < b.length) {
      val n = u8(b, i)
      if (n == 0) return i + 1
      i += 1 + n
    }
    -1
  }

  /** NULL-or-array decode; shared by interpreted and generated code.
    * Never throws on malformed bytes — frames parsed before a truncation
    * point are still reported (a partially-downloaded animation is still
    * an animation).
    */
  def decode(b: Array[Byte]): ArrayData = {
    if (b == null || b.length < 13) return null
    if (!(b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
        (b(4) == '7' || b(4) == '9') && b(5) == 'a')) return null
    var i = 6
    val packed = u8(b, i + 4)
    i += 7 // logical screen descriptor
    if ((packed & 0x80) != 0) i += 3 * (1 << ((packed & 0x07) + 1))
    val frames = scala.collection.mutable.ArrayBuffer[InternalRow]()
    var delay: Any = null // most recent GCE delay, consumed by next image
    var idx = 0
    var done = false
    while (!done && i < b.length && frames.length < 65536) {
      u8(b, i) match {
        case 0x3B => done = true
        case 0x21 => // extension: label + sub-block chain
          if (i + 1 >= b.length) done = true
          else {
            val label = u8(b, i + 1)
            if (label == 0xF9 && i + 7 < b.length && u8(b, i + 2) == 4)
              delay = Int.box(le16(b, i + 4))
            val next = skipSubBlocks(b, i + 2)
            if (next < 0) done = true else i = next
          }
        case 0x2C => // image descriptor
          if (i + 10 > b.length) done = true
          else {
            val left = le16(b, i + 1)
            val top = le16(b, i + 3)
            val w = le16(b, i + 5)
            val h = le16(b, i + 7)
            val ip = u8(b, i + 9)
            val hasLct = (ip & 0x80) != 0
            frames += new GenericInternalRow(Array[Any](
              idx, left, top, w, h, delay, hasLct))
            idx += 1
            delay = null
            i += 10
            if (hasLct) i += 3 * (1 << ((ip & 0x07) + 1))
            i += 1 // LZW minimum code size
            val next = skipSubBlocks(b, i)
            if (next < 0) done = true else i = next
          }
        case _ => done = true // unknown block: stop, keep parsed frames
      }
    }
    new GenericArrayData(frames.toArray[Any])
  }
}

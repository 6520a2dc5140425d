package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Real (non-stub) media header decode, pure JVM: container format plus
  * pixel dimensions parsed straight out of the payload's leading bytes —
  * `struct(format, width, height)`, NULL when no known magic matches.
  *
  * Formats and where their dimensions live (all public container specs):
  *   - PNG: 8-byte signature, then the IHDR chunk is mandatory-first —
  *     width/height are the two big-endian int32s at offsets 16/20.
  *   - JPEG: SOI then a segment walk (`FF marker len …`) to the first
  *     start-of-frame marker (C0-CF minus C4/C8/CC); height/width are the
  *     big-endian uint16s at SOF+5/+7.
  *   - GIF: "GIF87a"/"GIF89a", then the logical-screen width/height as
  *     little-endian uint16s at offsets 6/8.
  *   - BMP: "BM", then a BITMAPINFOHEADER (DIB size >= 40) holds
  *     little-endian int32 width at 18 and height at 22 (negative height
  *     = top-down row order; the magnitude is reported). The ancient
  *     BITMAPCOREHEADER (size 12) uses uint16s at 18/20.
  *
  * The `media_dims` row kernel (catalog in `graft.GraftFunctions`), one
  * static call per row, so header sniffing over a 100 TB binary column
  * stays inside whole-stage codegen — a few bounded byte reads per row
  * (JPEG: one bounded segment walk), no UDF boxing, no library
  * dependency. Truncated-but-recognized headers yield the format with
  * NULL dimensions rather than failing the scan: at crawl scale,
  * corrupt payloads are data, not errors (quarantine downstream on
  * `width IS NULL`).
  */
object MediaDims {

  val Schema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType)))

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def be32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  private def row(fmt: String, w: Int, h: Int): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(fmt),
      if (w > 0) Int.box(w) else null, if (h > 0) Int.box(h) else null))

  /** NULL-or-struct decode; called from both interpreted and generated
    * code paths. Never throws on malformed bytes.
    */
  def decode(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 2) return null
    // PNG ----------------------------------------------------------------
    if (b.length >= 8 && u8(b, 0) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
        b(3) == 'G' && u8(b, 4) == 0x0d && u8(b, 5) == 0x0a &&
        u8(b, 6) == 0x1a && u8(b, 7) == 0x0a) {
      return if (b.length >= 24 && b(12) == 'I' && b(13) == 'H' &&
          b(14) == 'D' && b(15) == 'R')
        row("png", be32(b, 16), be32(b, 20))
      else row("png", 0, 0)
    }
    // JPEG ---------------------------------------------------------------
    if (u8(b, 0) == 0xff && u8(b, 1) == 0xd8) {
      var i = 2
      while (i + 1 < b.length) {
        if (u8(b, i) != 0xff) return row("jpeg", 0, 0) // desynced stream
        var marker = u8(b, i + 1)
        // fill bytes: any number of FFs precede a marker
        while (marker == 0xff && i + 2 < b.length) { i += 1; marker = u8(b, i + 1) }
        if (marker == 0xd9 || marker == 0xda) return row("jpeg", 0, 0)
        if ((marker >= 0xd0 && marker <= 0xd7) || marker == 0x01) {
          i += 2 // standalone marker, no length field
        } else {
          if (i + 3 >= b.length) return row("jpeg", 0, 0)
          val segLen = be16(b, i + 2)
          if (segLen < 2) return row("jpeg", 0, 0)
          val isSof = marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc
          if (isSof) {
            return if (i + 8 < b.length)
              row("jpeg", be16(b, i + 7), be16(b, i + 5))
            else row("jpeg", 0, 0)
          }
          i += 2 + segLen
        }
      }
      return row("jpeg", 0, 0)
    }
    // GIF ----------------------------------------------------------------
    if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a') {
      return if (b.length >= 10) row("gif", le16(b, 6), le16(b, 8))
      else row("gif", 0, 0)
    }
    // BMP ----------------------------------------------------------------
    if (b(0) == 'B' && b(1) == 'M' && b.length >= 18) {
      val dib = if (b.length >= 18) le32(b, 14) else 0
      if (dib >= 40 && b.length >= 26)
        return row("bmp", le32(b, 18), math.abs(le32(b, 22)))
      if (dib == 12 && b.length >= 22)
        return row("bmp", le16(b, 18), le16(b, 20))
      return row("bmp", 0, 0)
    }
    null
  }
}

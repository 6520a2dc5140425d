package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** REAL EXIF metadata from JPEG payloads, pure JVM — the camera-facing
  * sibling of [[MediaDims]]: walk the JPEG segment chain to APP1,
  * verify the `Exif\0\0` marker, then walk the embedded TIFF structure
  * (public specs: JEITA CP-3451 / TIFF 6.0) — byte order from `II`/`MM`,
  * IFD0 entries for:
  *
  *   - 0x0112 Orientation (SHORT 1-8, the auto-rotate flag every image
  *     pipeline must honor before any pixel work),
  *   - 0x010F Make and 0x0110 Model (ASCII, trailing NUL stripped),
  *   - 0x0132 DateTime ("YYYY:MM:DD HH:MM:SS" ASCII).
  *
  * Returns `struct<orientation, make, model, datetime>`; NULL for
  * payloads that are not JPEG or carry no EXIF APP1; individual fields
  * NULL when the tag is absent. Bounded: at most 256 IFD entries are
  * read, every offset is bounds-checked, malformed structures degrade
  * to partial/NULL rather than throwing (crawl-scale discipline).
  *
  * The `exif_meta` row kernel (catalog in `graft.GraftFunctions`) —
  * EXIF audit of a 100 TB image column is one map-only codegen
  * projection.
  */
object ExifMeta {

  val Schema: StructType = StructType(Seq(
    StructField("orientation", IntegerType),
    StructField("make", StringType),
    StructField("model", StringType),
    StructField("datetime", StringType)))

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff

  /** NULL-or-struct decode; never throws on malformed bytes. */
  def decode(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 4 || u8(b, 0) != 0xFF || u8(b, 1) != 0xD8)
      return null
    // JPEG segment walk to APP1 with the Exif marker
    var i = 2
    var tiff = -1 // offset of the TIFF header inside the payload
    while (tiff < 0 && i + 4 <= b.length && u8(b, i) == 0xFF) {
      val marker = u8(b, i + 1)
      if (marker == 0xD9 || marker == 0xDA) return null // EOI / scan data
      val len = (u8(b, i + 2) << 8) | u8(b, i + 3)
      if (len < 2 || i + 2 + len > b.length) return null
      if (marker == 0xE1 && len >= 8 &&
          b(i + 4) == 'E' && b(i + 5) == 'x' && b(i + 6) == 'i' &&
          b(i + 7) == 'f' && b(i + 8) == 0 && b(i + 9) == 0)
        tiff = i + 10
      i += 2 + len
    }
    if (tiff < 0 || tiff + 8 > b.length) return null
    // TIFF header: byte order, magic 42, IFD0 offset
    val le =
      if (b(tiff) == 'I' && b(tiff + 1) == 'I') true
      else if (b(tiff) == 'M' && b(tiff + 1) == 'M') false
      else return null
    def r16(o: Int): Int =
      if (o + 2 > b.length) -1
      else if (le) u8(b, o) | (u8(b, o + 1) << 8)
      else (u8(b, o) << 8) | u8(b, o + 1)
    def r32(o: Int): Long =
      if (o + 4 > b.length) -1L
      else if (le) (u8(b, o) | (u8(b, o + 1) << 8) | (u8(b, o + 2) << 16) |
        (u8(b, o + 3).toLong << 24))
      else ((u8(b, o).toLong << 24) | (u8(b, o + 1) << 16) |
        (u8(b, o + 2) << 8) | u8(b, o + 3))
    if (r16(tiff + 2) != 42) return null
    val ifd0 = r32(tiff + 4)
    if (ifd0 < 0 || tiff + ifd0 + 2 > b.length) return null
    val e0 = tiff + ifd0.toInt
    val nEntries = math.min(r16(e0), 256)
    if (nEntries < 0) return null

    var orientation: Any = null
    var make: Any = null
    var model: Any = null
    var datetime: Any = null

    def ascii(valOff: Int, count: Int): Any = {
      // values > 4 bytes live at a TIFF-relative offset
      val start =
        if (count <= 4) valOff
        else {
          val off = r32(valOff)
          if (off < 0) return null else tiff + off.toInt
        }
      // Long-domain bound: a huge positive count overflows start + count
      // to negative, slips past an Int check, and copyOfRange throws
      if (start < 0 || count <= 0 || start.toLong + count > b.length)
        return null
      var end = start + count
      while (end > start && (b(end - 1) == 0 || b(end - 1) == ' '))
        end -= 1
      UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, start, end))
    }

    var k = 0
    while (k < nEntries) {
      val e = e0 + 2 + k * 12
      if (e + 12 <= b.length) {
        val tag = r16(e)
        val typ = r16(e + 2)
        val count = r32(e + 4)
        val valOff = e + 8
        tag match {
          case 0x0112 if typ == 3 => // SHORT
            val v = r16(valOff)
            if (v >= 1 && v <= 8) orientation = Int.box(v)
          case 0x010F if typ == 2 => make = ascii(valOff, count.toInt)
          case 0x0110 if typ == 2 => model = ascii(valOff, count.toInt)
          case 0x0132 if typ == 2 => datetime = ascii(valOff, count.toInt)
          case _ =>
        }
      }
      k += 1
    }
    new GenericInternalRow(Array[Any](orientation, make, model, datetime))
  }
}

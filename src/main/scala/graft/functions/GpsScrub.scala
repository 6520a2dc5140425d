package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, StructField, StructType}

/** EXIF GPS scrub — the privacy transform a multimodal ingest runs
  * BEFORE any image leaves quarantine: JPEG location metadata (the
  * GPSInfo sub-IFD, JEITA CP-3451 tag 0x8825) identifies where a photo
  * was taken, which is PII in exactly the way k-anonymity/δ-presence
  * audit for tabular data. The scrub is LENGTH-PRESERVING byte surgery
  * (no re-encode, no offset rewrites, pixel data untouched):
  *
  *   1. zero the GPS sub-IFD block itself (entry count, all entries,
  *      next pointer) so the coordinates are gone from the bytes, and
  *   2. neuter IFD0's pointer entry — tag → 0xFFFF (unknown; every
  *      conformant reader skips it), value → 0 — so nothing dangles.
  *
  * Every other tag (orientation, make, model, datetime) survives
  * bit-identically, which the m13 gate pins by re-parsing the scrubbed
  * payload with [[ExifMeta]]. Non-JPEG / EXIF-less / GPS-less payloads
  * pass through UNCHANGED (had_gps = false) — the production semantic:
  * the scrubber is safe to run over a mixed 100 TB binary column as one
  * map-only codegen projection, no shuffle, no decode of pixel data.
  *
  * Returns `struct<payload binary, had_gps boolean>`; same bounds
  * discipline as [[ExifMeta]] (offsets checked, malformed structures
  * degrade to pass-through rather than throwing).
  */
object GpsScrub {

  val Schema: StructType = StructType(Seq(
    StructField("payload", BinaryType),
    StructField("had_gps", BooleanType)))

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff

  private def passThrough(b: Array[Byte]): InternalRow =
    new GenericInternalRow(Array[Any](b, false))

  /** Scrub or pass through; never throws on malformed bytes. The JPEG/
    * TIFF walk mirrors [[ExifMeta.decode]] (same public specs).
    */
  def scrub(b: Array[Byte]): InternalRow = {
    if (b == null) return null
    if (b.length < 4 || u8(b, 0) != 0xFF || u8(b, 1) != 0xD8)
      return passThrough(b)
    var i = 2
    var tiff = -1
    while (tiff < 0 && i + 4 <= b.length && u8(b, i) == 0xFF) {
      val marker = u8(b, i + 1)
      if (marker == 0xD9 || marker == 0xDA) return passThrough(b)
      val len = (u8(b, i + 2) << 8) | u8(b, i + 3)
      if (len < 2 || i + 2 + len > b.length) return passThrough(b)
      if (marker == 0xE1 && len >= 8 &&
          b(i + 4) == 'E' && b(i + 5) == 'x' && b(i + 6) == 'i' &&
          b(i + 7) == 'f' && b(i + 8) == 0 && b(i + 9) == 0)
        tiff = i + 10
      i += 2 + len
    }
    if (tiff < 0 || tiff + 8 > b.length) return passThrough(b)
    val le =
      if (b(tiff) == 'I' && b(tiff + 1) == 'I') true
      else if (b(tiff) == 'M' && b(tiff + 1) == 'M') false
      else return passThrough(b)
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
    if (r16(tiff + 2) != 42) return passThrough(b)
    val ifd0 = r32(tiff + 4)
    if (ifd0 < 0 || tiff + ifd0 + 2 > b.length) return passThrough(b)
    val e0 = tiff + ifd0.toInt
    val nEntries = math.min(r16(e0), 256)
    if (nEntries < 0) return passThrough(b)

    var gpsEntry = -1
    var gpsOff = -1L
    var k = 0
    while (gpsEntry < 0 && k < nEntries) {
      val e = e0 + 2 + k * 12
      if (e + 12 <= b.length && r16(e) == 0x8825) {
        gpsEntry = e
        gpsOff = r32(e + 8)
      }
      k += 1
    }
    if (gpsEntry < 0) return passThrough(b)

    val out = java.util.Arrays.copyOf(b, b.length)
    // 1. zero the GPS sub-IFD block (count + entries + next pointer),
    //    clamped to the payload
    if (gpsOff >= 0 && tiff + gpsOff + 2 <= b.length) {
      val g = tiff + gpsOff.toInt
      val n = math.max(0, math.min(r16(g), 256))
      val end = math.min(b.length, g + 2 + 12 * n + 4)
      java.util.Arrays.fill(out, g, end, 0.toByte)
    }
    // 2. neuter IFD0's pointer entry: unknown tag, zeroed value
    out(gpsEntry) = 0xFF.toByte
    out(gpsEntry + 1) = 0xFF.toByte
    java.util.Arrays.fill(out, gpsEntry + 8, gpsEntry + 12, 0.toByte)
    new GenericInternalRow(Array[Any](out, true))
  }
}

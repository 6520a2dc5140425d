package graft.functions

import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** REAL pixel thumbnail for PNG payloads, pure JVM — the full decode
  * path this time, not just the header: IHDR parse, IDAT chunk
  * concatenation, zlib inflate (`java.util.zip.Inflater` — JDK, no
  * media library), scanline UNFILTERING (all five PNG filter types:
  * None/Sub/Up/Average/Paeth, per the PNG specification §9), then the
  * same exact-integer box-average grid as [[BmpThumb]], emitted as
  * lowercase RGB hex (row-major, top-left first).
  *
  * Supported: 8-bit truecolor (color type 2) and truecolor+alpha
  * (type 6, alpha ignored for the mean — thumbnails composite
  * downstream), non-interlaced. Everything else — palette, grayscale,
  * 16-bit, Adam7 — returns NULL (quarantine, not error), as do
  * truncated streams and inflate failures. Bounded: images larger
  * than [[PngThumb.MaxPixels]] are refused before allocating.
  *
  * Kernel contract identical to [[BmpThumb]]: `png_thumb` is one static
  * decode call per row, so a PNG thumbnail column over 100 TB is one
  * codegen projection; per-row cost is the inflate itself.
  */
object PngThumb {

  /** Refuse to inflate anything claiming more pixels than this (16 MP) —
    * a decompression-bomb guard: the cap bounds per-row memory at
    * ~64 MB regardless of what the header claims.
    */
  val MaxPixels: Long = 16L * 1024 * 1024

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)

  private val HexDigits = "0123456789abcdef".toCharArray

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** NULL-or-hex decode; shared by interpreted and generated code. */
  def decode(b: Array[Byte], gw: Int, gh: Int): UTF8String = {
    if (b == null || b.length < 45) return null // sig+IHDR+IDAT+IEND floor
    if (!(u8(b, 0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        u8(b, 4) == 0x0D && u8(b, 5) == 0x0A && u8(b, 6) == 0x1A &&
        u8(b, 7) == 0x0A)) return null
    // IHDR is mandatory-first
    if (be32(b, 8) != 13 || b(12) != 'I' || b(13) != 'H' ||
        b(14) != 'D' || b(15) != 'R') return null
    val w = be32(b, 16)
    val h = be32(b, 20)
    val bitDepth = u8(b, 24)
    val colorType = u8(b, 25)
    val interlace = u8(b, 28)
    if (w <= 0 || h <= 0 || w < gw || h < gh) return null
    if (bitDepth != 8 || interlace != 0) return null
    val bpp = colorType match {
      case 2 => 3 // truecolor
      case 6 => 4 // truecolor + alpha
      case _ => return null
    }
    if (w.toLong * h > MaxPixels) return null
    // Concatenate IDAT payloads with one chunk walk.
    val idat = new java.io.ByteArrayOutputStream()
    var i = 33 // after IHDR chunk (len 4 + type 4 + data 13 + crc 4)
    var ok = true
    var done = false
    while (!done && ok) {
      if (i + 8 > b.length) ok = false
      else {
        val len = be32(b, i)
        val t = new String(b, i + 4, 4, "US-ASCII")
        // bounds math in Long: len near Int.MaxValue overflows the Int
        // sum, slips past the check, and idat.write throws — breaking
        // the never-throw NULL-quarantine contract
        if (len < 0 || i.toLong + 8L + len + 4L > b.length) ok = false
        else {
          if (t == "IDAT") idat.write(b, i + 8, len)
          if (t == "IEND") done = true
          i += 8 + len + 4
        }
      }
    }
    if (!ok || idat.size() == 0) return null
    // Inflate to the exact filtered-scanline size: h rows of
    // (1 filter byte + w*bpp samples).
    val rowBytes = 1 + w * bpp
    val raw = new Array[Byte](rowBytes * h)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        if (n == 0 && inf.needsInput()) return null // truncated stream
        off += n
      }
      if (off < raw.length) return null
    } catch {
      case _: java.util.zip.DataFormatException => return null
    } finally inf.end()
    // Unfilter in place (spec §9): each row's filter byte selects the
    // predictor; priors reference the UNFILTERED bytes.
    var y = 0
    while (y < h) {
      val rs = y * rowBytes
      val filter = u8(raw, rs)
      var x = 1
      while (x < rowBytes) {
        val cur = u8(raw, rs + x)
        val left = if (x > bpp) u8(raw, rs + x - bpp) else 0
        val up = if (y > 0) u8(raw, rs - rowBytes + x) else 0
        val ul = if (y > 0 && x > bpp) u8(raw, rs - rowBytes + x - bpp) else 0
        val v = filter match {
          case 0 => cur
          case 1 => cur + left
          case 2 => cur + up
          case 3 => cur + (left + up) / 2
          case 4 => cur + paeth(left, up, ul)
          case _ => return null
        }
        raw(rs + x) = (v & 0xff).toByte
        x += 1
      }
      y += 1
    }
    // Exact integer box-average per grid cell (the BmpThumb contract).
    val out = new Array[Char](gw * gh * 6)
    var gy = 0
    while (gy < gh) {
      val y0 = gy * h / gh
      val y1 = (gy + 1) * h / gh
      var gx = 0
      while (gx < gw) {
        val x0 = gx * w / gw
        val x1 = (gx + 1) * w / gw
        var r = 0L; var g = 0L; var bl = 0L
        var yy = y0
        while (yy < y1) {
          var base = yy * rowBytes + 1 + x0 * bpp
          var xx = x0
          while (xx < x1) {
            r += u8(raw, base); g += u8(raw, base + 1)
            bl += u8(raw, base + 2)
            base += bpp; xx += 1
          }
          yy += 1
        }
        val n = (y1 - y0).toLong * (x1 - x0)
        val o = (gy * gw + gx) * 6
        var v = (r / n).toInt
        out(o) = HexDigits(v >> 4); out(o + 1) = HexDigits(v & 0xf)
        v = (g / n).toInt
        out(o + 2) = HexDigits(v >> 4); out(o + 3) = HexDigits(v & 0xf)
        v = (bl / n).toInt
        out(o + 4) = HexDigits(v >> 4); out(o + 5) = HexDigits(v & 0xf)
        gx += 1
      }
      gy += 1
    }
    UTF8String.fromString(new String(out))
  }
}

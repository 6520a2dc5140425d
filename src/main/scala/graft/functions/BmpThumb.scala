package graft.functions

import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** REAL pixel thumbnail for uncompressed 24-bpp BMP payloads, pure JVM —
  * the retirement of the m5 tile-digest stub (r7-verdict item 4): decode
  * the DIB (BITMAPINFOHEADER, biCompression = BI_RGB, 24 bits/pixel,
  * bottom-up or top-down), average the true RGB pixels into a
  * `gridW × gridH` grid, and emit the thumbnail as a lowercase hex
  * string of gridW·gridH RGB byte triples (row-major, top-left first).
  *
  * The grid cell (gx, gy) covers pixel columns [gx·W/gw, (gx+1)·W/gw)
  * and rows [gy·H/gh, (gy+1)·H/gh) (integer bounds — the standard
  * box-average decimation); each channel is the exact integer mean
  * (floor) over the cell, so the output is deterministic and
  * hash-gateable, no floating point anywhere.
  *
  * NULL for anything that is not a decodable uncompressed 24-bpp BMP
  * (wrong magic, compressed, short pixel data, or fewer pixels than
  * grid cells) — corrupt media is data, not an error.
  *
  * The `bmp_thumb` row kernel (catalog in `graft.GraftFunctions`): the
  * decode is one bounded pass over the pixel array per row, inside
  * whole-stage codegen. This is the proof the m1 header parser
  * suggested: real pixel work fits the pure-JVM row-kernel contract —
  * swapping in a JNI codec for PNG/JPEG changes `decode`, not the plan.
  */
object BmpThumb {

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  private val HexDigits = "0123456789abcdef".toCharArray

  /** NULL-or-hex decode; shared by interpreted and generated code. */
  def decode(b: Array[Byte], gw: Int, gh: Int): UTF8String = {
    if (b == null || b.length < 54 || b(0) != 'B' || b(1) != 'M') return null
    val dataOff = le32(b, 10)
    if (le32(b, 14) < 40) return null // need BITMAPINFOHEADER
    val w = le32(b, 18)
    val hRaw = le32(b, 22)
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    if (w <= 0 || h == 0 || w < gw || h < gh) return null
    if (le16(b, 28) != 24 || le32(b, 30) != 0) return null // 24-bpp BI_RGB
    // row stride in Long: w near Int.MaxValue/3 overflows w*3 to a
    // negative stride that slips past the bounds check and reads out of
    // range — the Long-domain check bounds w by b.length/3, after which
    // the stride provably fits an Int
    val rowBytesL = ((w.toLong * 3 + 3) / 4) * 4
    if (dataOff < 0 || dataOff.toLong + rowBytesL * h > b.length)
      return null
    val rowBytes = rowBytesL.toInt
    // Exact integer box-average per grid cell, single pass per cell.
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
        var y = y0
        while (y < y1) {
          // stored rows run bottom-up unless the height was negative
          val srcRow = if (topDown) y else h - 1 - y
          var base = dataOff + srcRow * rowBytes + x0 * 3
          var x = x0
          while (x < x1) {
            bl += u8(b, base); g += u8(b, base + 1); r += u8(b, base + 2)
            base += 3; x += 1
          }
          y += 1
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

package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** 56-bit difference hash (dHash, Krawetz 2013) — the perceptual
  * near-duplicate fingerprint for media: downsample to a tiny grid, set a
  * bit where each cell is brighter than its right neighbor. Two payloads
  * that differ by re-encoding, mild crops, or noise land within a few
  * bits of Hamming distance, which is exactly the
  * [[graft.plans.HammingJoinRewrite]] join's input contract — the same
  * pigeonhole-bucketed similarity join that serves SimHash text dedup
  * serves dHash media dedup unchanged.
  *
  * Geometry: a 9-wide × 7-tall grid of cell averages → 7 rows × 8
  * horizontal comparisons = 56 bits. (The classic dHash is 8 rows / 64
  * bits; one row fewer keeps the value strictly positive in a signed
  * 64-bit engine — the same portability discipline as SimHash's 60
  * bits.) Cell value = integer mean of the code points in the cell's
  * slice; the tail remainder is dropped like any downsampler's edge
  * pixels. Payloads shorter than one code point per cell (63) are NULL —
  * "undecodable thumbnail", quarantined rather than faked.
  *
  * The "pixel" source is the STUB contract of [[graft.ops.Multimodal]]:
  * code points stand in for luminance samples (no media codecs exist in
  * this environment); a real decoder would feed actual pixels through
  * the identical grid/compare/pack math. Native codegen expression — the
  * whole hash stays inside whole-stage codegen, one pass per row.
  */
case class DHash56(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "dhash56"

  override def nullSafeEval(input: Any): Any =
    DHash56.hashOrNull(input.asInstanceOf[UTF8String].toString)

  override def nullable: Boolean = true

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val boxed = ctx.freshName("dh")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |java.lang.Long $boxed =
         |  graft.functions.DHash56.hashOrNull($c.toString());
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): DHash56 =
    copy(child = newChild)
}

object DHash56 {
  final val Cols = 9 // grid width (8 comparisons per row)
  final val Rows = 7 // grid height
  final val Cells = Cols * Rows // 63

  /** Boxed so codegen and eval share one entry point; null = payload too
    * short to fill the grid.
    */
  def hashOrNull(s: String): java.lang.Long = {
    // code points, one pass
    val n = s.codePointCount(0, s.length)
    val q = n / Cells
    if (q == 0) return null
    val v = new Array[Long](Cells)
    var cell = 0
    var inCell = 0
    var sum = 0L
    var i = 0
    while (i < s.length && cell < Cells) {
      val cp = s.codePointAt(i)
      sum += cp
      inCell += 1
      if (inCell == q) {
        v(cell) = sum / q
        cell += 1
        inCell = 0
        sum = 0L
      }
      i += Character.charCount(cp)
    }
    var h = 0L
    var r = 0
    while (r < Rows) {
      var c = 0
      while (c < Cols - 1) {
        if (v(r * Cols + c) > v(r * Cols + c + 1))
          h |= 1L << (r * (Cols - 1) + c)
        c += 1
      }
      r += 1
    }
    java.lang.Long.valueOf(h)
  }
}

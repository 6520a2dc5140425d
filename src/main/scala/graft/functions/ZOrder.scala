package graft.functions

/** Morton/Z-order interleave of two non-negative integer keys (low
  * [[ZOrder2.Bits]] bits each): bit i of `left` lands at bit 2i, bit i of
  * `right` at 2i+1 — `z_order(x, y)` as a codegen'd scalar.
  *
  * This is a DATA LAYOUT primitive, not a query operator: writing a table
  * `ORDER BY z_order(a, b)` clusters rows so every consecutive file/row
  * group covers a bounded range of BOTH keys (a row-major sort bounds only
  * the trailing key). Parquet min/max footer stats then prune scans
  * filtered on EITHER dimension — the multi-dimensional analogue of the
  * partition pruning PlanSpec pins, and at 100 TB the difference between
  * reading 1/√P of the files and all of them for a selective 2-D
  * predicate. `ZOrderSpec` pins the guarantee operationally: chunks of
  * the z-sorted order have worst-dimension span ~√(chunk area), while any
  * row-major sort leaves one dimension unbounded.
  *
  * Negative inputs are rejected at runtime (layout keys are surrogate ids
  * or bucketed/offset values; silently masking sign bits would interleave
  * garbage).
  */
object ZOrder2 {
  /** Bits taken from each key; 21+21 = 42-bit z-values stay well inside
    * a long and cover surrogate-id ranges to 2M.
    */
  val Bits = 21

  def interleave(x: Long, y: Long): Long = {
    require(x >= 0 && y >= 0, s"z_order needs non-negative keys, got ($x, $y)")
    var z = 0L
    var i = 0
    while (i < Bits) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }
}

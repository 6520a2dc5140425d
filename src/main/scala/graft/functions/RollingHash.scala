package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling hash over Unicode code points, mod 1e9+7 — the
  * document-fingerprinting primitive (cheap, order-sensitive, collision-weak
  * by design; pair with md5 fingerprints for set-identity).
  *
  * h_0 = 0;  h_i = (31 * h_{i-1} + codepoint_i) mod 1_000_000_007
  *
  * The `rolling_hash` row kernel (catalog in `graft.GraftFunctions`): one
  * static call inside whole-stage codegen (no UDF serialization/boxing in
  * the hot path).
  * The modulus keeps every intermediate < 2^35, so the same arithmetic is
  * reproducible in any engine with 64-bit integers (the DuckDB oracle mirrors
  * it with `list_reduce`).
  */
object RollingHash {
  final val Mod = 1000000007L

  def hash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }

  def hash(s: UTF8String): Long = hash(s.toString)
}

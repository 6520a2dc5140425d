package graft.functions

import java.text.Normalizer

import org.apache.spark.unsafe.types.UTF8String

/** Unicode canonicalization for multilingual corpora — the first
  * normalization pass of any cross-source text pipeline: the SAME word
  * arrives precomposed ("café", NFC) from one crawler and decomposed
  * ("cafe" + COMBINING ACUTE, NFD) from another; they are byte-different,
  * dedup-different, and tokenizer-different until normalized. NFC is the
  * W3C/WHATWG interchange form.
  *
  * Static row kernels `nfc_normalize` and `accent_strip` (catalog in
  * `graft.GraftFunctions`; `java.text.Normalizer` is JDK-builtin — no
  * library, no UDF): normalizing 100 TB of text is a map-only projection
  * inside whole-stage codegen. The DuckDB oracle mirrors with its
  * `nfc_normalize` / `strip_accents` builtins — parity pinned on accent
  * fixtures.
  */
object UnicodeNorm {
  def nfc(s: String): String =
    if (Normalizer.isNormalized(s, Normalizer.Form.NFC)) s
    else Normalizer.normalize(s, Normalizer.Form.NFC)

  def nfc(s: UTF8String): UTF8String =
    UTF8String.fromString(nfc(s.toString))

  private val CombiningMarks = "\\p{Mn}+".r

  /** Accent folding: NFD-decompose, drop combining marks (Mn), recompose.
    * "café" → "cafe", "ñ" → "n"; characters with no decomposition (ø, ß,
    * ł) pass through — the same contract as DuckDB's `strip_accents`.
    */
  def stripAccents(s: String): String = {
    val decomposed = Normalizer.normalize(s, Normalizer.Form.NFD)
    val stripped = CombiningMarks.replaceAllIn(decomposed, "")
    Normalizer.normalize(stripped, Normalizer.Form.NFC)
  }

  def stripAccents(s: UTF8String): UTF8String =
    UTF8String.fromString(stripAccents(s.toString))
}

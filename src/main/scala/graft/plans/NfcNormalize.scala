package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Native `nfc_normalize(text)` → the Unicode NFC (canonical composition)
  * form of the string. Spark has no builtin normalization function; this
  * kernel supplies it with the exact name and semantics of DuckDB's
  * `nfc_normalize`, so plans using it stay oracle-checkable — the dedup
  * building block for corpora that mix composed (U+00E9) and decomposed
  * (e + U+0301) producers, composable with `lower()`/`sha2()` for
  * canonical-equality exact dedup.
  *
  * Per-row compute inside whole-stage codegen, no shuffle;
  * `Normalizer.isNormalized` short-circuits already-NFC (e.g. all-ASCII)
  * rows to a scan — the overwhelmingly common case costs no allocation.
  */
object NfcNormalize {

  def compute(text: UTF8String): UTF8String = {
    val s = text.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) text
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  def apply(text: Column): Column = NativeFunctions("nfc_normalize")(text)
}

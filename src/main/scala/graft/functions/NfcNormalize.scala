package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd Unicode NFC normalization (SURVEY.md §2 H9 / E23): canonical
  * composition via the JDK's `java.text.Normalizer` (pure JDK, no ICU
  * dependency) — the first stage of text canonicalization a corpus
  * pipeline runs so that byte-level dedup/hashing sees "é" and
  * "e + COMBINING ACUTE" as the same document. NFC is stable across
  * Unicode versions for assigned code points (the W3C/Unicode stability
  * policy), which is what makes the cross-engine oracle possible:
  * DuckDB's utf8proc `nfc_normalize` produces byte-identical output on
  * the same input.
  *
  * Scale shape: a NARROW per-row projection inside whole-stage codegen
  * (one [[StaticCall]]) — no shuffle, no UDF serialization.
  */
object NfcNormalize {
  /** Column-level entry point: `NfcNormalize($"text")`. */
  def apply(t: Column): Column =
    StaticCall(this, "normalize", "nfc_normalize", StringType, t, StringType)

  /** The per-row call — static so generated code calls it directly.
    * Fast path: `Normalizer.isNormalized` is O(n) with no allocation for
    * the already-NFC common case, so clean ASCII corpora pay no copy.
    */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

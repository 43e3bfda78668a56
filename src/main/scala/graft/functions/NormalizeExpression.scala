package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Presto `normalize(string[, form])`, registered as `normalize_str`:
  * Unicode normalization (NFC/NFD/NFKC/NFKD) over `java.text.Normalizer`
  * (the semantics DuckDB's nfc_normalize uses); the form is a plan-time
  * literal. */
object NormalizeKernel {
  def normalize(s: UTF8String, form: String): UTF8String =
    UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.valueOf(form)))
}

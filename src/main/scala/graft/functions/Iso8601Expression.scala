package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Trino's `to_iso8601` with BOTH argument forms behind one name — the
  * DATE/TIMESTAMP overload a SQL temp function could not express (the
  * r15 cosine_similarity dual-dispatch pattern, found by probe sweep 5:
  * the old TIMESTAMP-typed temp fn coerced DATE arguments to midnight
  * and rendered a spurious `T00:00:00.000`):
  *
  *  - DATE → `yyyy-MM-dd` (Trino's date rendering, no time part);
  *  - TIMESTAMP → `yyyy-MM-dd'T'HH:mm:ss.SSS`, byte-identical to the
  *    retired temp fn's date_format under the engine's pinned-UTC
  *    session contract (timestamps are zoneless instants rendered at
  *    UTC — the same contract note as from_unixtime / at_timezone).
  */
object Iso8601Core {
  private val tsFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS")

  def fmtDate(days: Int): UTF8String =
    UTF8String.fromString(java.time.LocalDate.ofEpochDay(days.toLong).toString)

  def fmtTs(micros: Long): UTF8String = {
    val ldt = java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)
    UTF8String.fromString(tsFmt.format(ldt))
  }
}

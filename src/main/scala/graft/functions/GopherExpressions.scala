package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused kernel for the Gopher repetition table (Rae et al. 2022, table
  * A1) — the l57 hot path. One compiled pass over the token array
  * replaces four interpreted HOF pipelines (wordGrams → array_sort →
  * aggregate run-length for n ∈ {2,3,5,10}) plus the line transform and
  * two array_distinct/aggregate chains: the noop-write bench measured
  * the HOF form at 4.7 s (the #1 query); the fused kernel is one
  * hash-count pass per gram size.
  *
  * Semantics are element-for-element the TextFunctions reference forms
  * (parity-tested in TextFunctionsSpec):
  * - lines: 6-word chunks `array_join(slice(w, i*6+1, 6), ' ')`,
  *   ⌈total/6⌉ clamped to ≥ 1 (empty input yields the single line "");
  * - grams: `concat_ws(' ', try_element_at(...))` — count clamped to
  *   ≥ 1, trailing out-of-range elements skipped like concat_ws skips
  *   the NULLs try_element_at yields;
  * - top  = max over distinct grams of count·numChars (topGramCharCount);
  * - dup  = Σ count·numChars over grams with count ≥ 2 (dupGramCharCount);
  * - line char sums count every line / every FIRST occurrence
  *   (array_distinct keeps firsts; sums are order-independent).
  */
object GopherKernels {
  /** `gopher_repetition_stats`' result: a struct of 8 longs. */
  val resultType: StructType = StructType(
    Seq("n_lines", "n_dlines", "len_all", "len_dist", "top2", "top3", "dup5",
      "dup10").map(StructField(_, LongType, nullable = false)))


  private val Space = UTF8String.fromString(" ")

  /** Join tokens[i .. i+n-1] (0-based, trailing overflow skipped). */
  private def gram(tokens: ArrayData, total: Int, i: Int, n: Int): UTF8String = {
    val parts = new Array[UTF8String](n)
    var j = 0
    var m = 0
    while (j < n) {
      if (i + j < total) { parts(m) = tokens.getUTF8String(i + j); m += 1 }
      j += 1
    }
    UTF8String.concatWs(Space, java.util.Arrays.copyOf(parts, m): _*)
  }

  /** (top, dup) char counts for n-grams of `tokens` in one hash pass. */
  private def gramCounts(tokens: ArrayData, total: Int, n: Int): (Long, Long) = {
    val count = math.max(total - (n - 1), 1)
    val counts = new java.util.HashMap[UTF8String, Int](count * 2)
    var i = 0
    while (i < count) {
      counts.merge(gram(tokens, total, i, n), 1, Integer.sum _)
      i += 1
    }
    var top = 0L
    var dup = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val chars = e.getKey.numChars().toLong * e.getValue
      if (chars > top) top = chars
      if (e.getValue >= 2) dup += chars
    }
    (top, dup)
  }

  /** struct(n_lines, n_dlines, len_all, len_dist, top2, top3, dup5,
    * dup10) — the raw integer numerators/denominators of the l57
    * signals; the float divisions stay in the query so quantization is
    * bit-identical to the HOF form.
    */
  def repetitionStats(tokens: ArrayData): InternalRow = {
    val total = tokens.numElements()
    // 6-word lines, first-occurrence distinct
    val nLines = math.max((total + 5) / 6, 1)
    val seen = new java.util.HashSet[UTF8String](nLines * 2)
    var lenAll = 0L
    var lenDist = 0L
    var i = 0
    while (i < nLines) {
      val line = gram(tokens, total, i * 6, 6)
      val len = line.numChars().toLong
      lenAll += len
      if (seen.add(line)) lenDist += len
      i += 1
    }
    val (top2, _) = gramCounts(tokens, total, 2)
    val (top3, _) = gramCounts(tokens, total, 3)
    val (_, dup5) = gramCounts(tokens, total, 5)
    val (_, dup10) = gramCounts(tokens, total, 10)
    new GenericInternalRow(Array[Any](
      nLines.toLong, seen.size().toLong, lenAll, lenDist,
      top2, top3, dup5, dup10))
  }
}

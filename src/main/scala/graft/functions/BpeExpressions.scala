package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** True byte-pair-encoding token counting (r3 verdict missing #6 — l4b's
  * regex pre-tokenizer is only a budget estimator). The algorithm is the
  * standard rank-ordered merge loop of public BPE encoders (Sennrich et
  * al. 2016, "Neural Machine Translation of Rare Words with Subword
  * Units"): per whitespace word, start from single characters and
  * repeatedly (a) find the LOWEST-RANK adjacent symbol pair present in
  * the merges table, (b) merge every left-to-right non-overlapping
  * occurrence of that pair, until no adjacent pair is in the table. The
  * token count is the surviving symbol count summed over words.
  *
  * The merges table is a rank-ordered pair list bound at PLAN time (a
  * foldable literal / constructor argument), carried into generated code
  * as a codegen reference object — per-row work is one static call inside
  * whole-stage codegen, no UDF, no per-row table parse.
  */
object BpeCore {
  // a space never occurs inside a symbol (words are whitespace-split
  // before the merge loop), so it is a safe pair-key separator
  def pairKey(left: String, right: String): String = left + " " + right

  def buildRanks(merges: Seq[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      // first (lowest) rank wins on duplicates, like real merges files
      m.putIfAbsent(pairKey(l, r), Integer.valueOf(i))
    }
    m
  }

  /** Token count over all whitespace-separated words of `text`. Called
    * from generated code (static forwarder) and from nullSafeEval. */
  def countTokens(text: UTF8String,
      ranks: java.util.HashMap[String, Integer]): Long = {
    val s = text.toString
    val n = s.length
    var total = 0L
    var i = 0
    while (i < n) {
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
      var j = i
      while (j < n && !Character.isWhitespace(s.charAt(j))) j += 1
      if (j > i) total += wordTokenCount(s, i, j, ranks)
      i = j
    }
    total
  }

  /** The whitespace-split words themselves (the same
    * `Character.isWhitespace` walk as [[segmentWords]], so the word SET
    * is identical), each word a substring of the original text — unlike
    * rejoining segment symbols, this keeps supplementary-plane
    * characters intact (single-char symbols are lone UTF-16 surrogates,
    * which UTF8String encodes as '?'). Feeds BPE training's word
    * histogram. */
  def wsWords(text: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = text.toString
    val n = s.length
    val words = new java.util.ArrayList[AnyRef]()
    var i = 0
    while (i < n) {
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
      var j = i
      while (j < n && !Character.isWhitespace(s.charAt(j))) j += 1
      if (j > i) words.add(UTF8String.fromString(s.substring(i, j)))
      i = j
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      words.toArray(new Array[AnyRef](words.size)))
  }

  /** Per-word symbol sequences after the merge loop, as the nested
    * `array<array<string>>` Catalyst value (word boundaries preserved —
    * BPE training must never count a pair spanning two words). */
  def segmentWords(text: UTF8String,
      ranks: java.util.HashMap[String, Integer]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = text.toString
    val n = s.length
    val words = new java.util.ArrayList[AnyRef]()
    var i = 0
    while (i < n) {
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
      var j = i
      while (j < n && !Character.isWhitespace(s.charAt(j))) j += 1
      if (j > i) {
        val syms = mergeWord(s, i, j, ranks)
        val arr = new Array[AnyRef](syms.size)
        var k = 0
        while (k < syms.size) {
          arr(k) = UTF8String.fromString(syms.get(k)); k += 1
        }
        words.add(new org.apache.spark.sql.catalyst.util.GenericArrayData(arr))
      }
      i = j
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      words.toArray(new Array[AnyRef](words.size)))
  }

  // ---- byte-level variants (GPT-2 style; Radford et al. 2019's BPE
  // operates on UTF-8 BYTES with byte fallback) -------------------------
  // The initial alphabet is the word's raw UTF-8 bytes — every byte is
  // in the 256-symbol base vocabulary by construction, so there is NO
  // out-of-vocabulary path (the char-level form's alphabet is unbounded).
  // Symbols are Latin-1 strings (char U+00i ⇔ byte i, values 0–255) —
  // the same idea as GPT-2's printable byte-encoder, chosen because
  // every byte value maps to a BMP code point that round-trips through
  // UTF8String safely, and the pairKey separator 0x20 cannot occur
  // inside a symbol (words are split on it). Word split is the ASCII \s
  // class applied to raw bytes — exact, because every byte of a
  // multi-byte UTF-8 sequence has the high bit set and cannot collide
  // with an ASCII whitespace byte.

  private def isWsByte(b: Byte): Boolean =
    b == 0x20 || b == 0x09 || b == 0x0A || b == 0x0B || b == 0x0C || b == 0x0D

  /** Byte-level token count over all ASCII-whitespace-separated words. */
  def countTokensBytes(text: UTF8String,
      ranks: java.util.HashMap[String, Integer]): Long = {
    val bytes = text.getBytes
    val n = bytes.length
    var total = 0L
    var i = 0
    while (i < n) {
      while (i < n && isWsByte(bytes(i))) i += 1
      var j = i
      while (j < n && !isWsByte(bytes(j))) j += 1
      if (j > i) total += mergeWordBytes(bytes, i, j, ranks).size
      i = j
    }
    total
  }

  /** Byte-level per-word symbol sequences (nested array, word
    * boundaries preserved — same contract as [[segmentWords]]). */
  def segmentWordsBytes(text: UTF8String,
      ranks: java.util.HashMap[String, Integer]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    val words = new java.util.ArrayList[AnyRef]()
    var i = 0
    while (i < n) {
      while (i < n && isWsByte(bytes(i))) i += 1
      var j = i
      while (j < n && !isWsByte(bytes(j))) j += 1
      if (j > i) {
        val syms = mergeWordBytes(bytes, i, j, ranks)
        val arr = new Array[AnyRef](syms.size)
        var k = 0
        while (k < syms.size) {
          arr(k) = UTF8String.fromString(syms.get(k)); k += 1
        }
        words.add(new org.apache.spark.sql.catalyst.util.GenericArrayData(arr))
      }
      i = j
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      words.toArray(new Array[AnyRef](words.size)))
  }

  private def mergeWordBytes(bytes: Array[Byte], from: Int, until: Int,
      ranks: java.util.HashMap[String, Integer]): java.util.ArrayList[String] = {
    val syms = new java.util.ArrayList[String](until - from)
    var k = from
    while (k < until) {
      syms.add(String.valueOf((bytes(k) & 0xFF).toChar))
      k += 1
    }
    mergeSyms(syms, ranks)
  }

  /** BPE merge loop over one word (s[from, until)). */
  private def wordTokenCount(s: String, from: Int, until: Int,
      ranks: java.util.HashMap[String, Integer]): Int =
    mergeWord(s, from, until, ranks).size

  private def mergeWord(s: String, from: Int, until: Int,
      ranks: java.util.HashMap[String, Integer]): java.util.ArrayList[String] = {
    val len = until - from
    val syms = new java.util.ArrayList[String](len)
    // initial alphabet = CODE POINTS, not UTF-16 units: a supplementary
    // char must be one symbol, or the symbol strings are lone surrogates
    // that cannot round-trip through UTF-8 (UTF8String encodes them as
    // '?', which would corrupt learned merges tables and any engine
    // boundary). Matches Spark's length()/numChars character notion.
    var k = from
    while (k < until) {
      val cc = Character.charCount(s.codePointAt(k))
      syms.add(s.substring(k, k + cc))
      k += cc
    }
    mergeSyms(syms, ranks)
  }

  /** The rank-ordered merge loop itself, over an initial symbol list —
    * shared by the char-level and byte-level forms (the ALGORITHM is
    * identical; only the initial alphabet differs). */
  private def mergeSyms(syms0: java.util.ArrayList[String],
      ranks: java.util.HashMap[String, Integer]): java.util.ArrayList[String] = {
    var syms = syms0
    var done = false
    while (!done && syms.size > 1) {
      // (a) lowest-rank adjacent pair present in the table
      var bestIdx = -1
      var bestRank = Integer.MAX_VALUE
      var idx = 0
      while (idx < syms.size - 1) {
        val r = ranks.get(pairKey(syms.get(idx), syms.get(idx + 1)))
        if (r != null && r.intValue() < bestRank) {
          bestRank = r.intValue(); bestIdx = idx
        }
        idx += 1
      }
      if (bestIdx < 0) done = true
      else {
        // (b) merge every left-to-right non-overlapping occurrence
        val l = syms.get(bestIdx)
        val r = syms.get(bestIdx + 1)
        val merged = l + r
        val out = new java.util.ArrayList[String](syms.size)
        var p = 0
        while (p < syms.size) {
          if (p < syms.size - 1 && syms.get(p) == l && syms.get(p + 1) == r) {
            out.add(merged); p += 2
          } else {
            out.add(syms.get(p)); p += 1
          }
        }
        syms = out
      }
    }
    syms
  }
}

/** `bpe_segment(text, 'l r,l r,…')` — per-word symbol sequences after
  * applying the merges table: `array<array<string>>`, one inner array
  * per whitespace word. The nested shape keeps WORD BOUNDARIES visible
  * to consumers (BPE training must never count a pair spanning two
  * words). Same merge loop as bpe_count, same plan-time binding. */
case class BpeSegmentExpression(child: Expression, merges: Seq[(String, String)])
  extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = false),
      containsNull = false)
  override def prettyName: String = "bpe_segment"

  @transient private lazy val ranks = BpeCore.buildRanks(merges)

  override def nullSafeEval(input: Any): Any =
    BpeCore.segmentWords(input.asInstanceOf[UTF8String], ranks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ranksRef = ctx.addReferenceObj("bpeRanks", ranks, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeCore.segmentWords($c, $ranksRef);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeSegmentExpression = copy(child = newChild)
}

/** `bpe_count(text, 'l r,l r,…')` — token count under the given
  * rank-ordered merges table (pairs comma-separated, symbols space-
  * separated, rank = list position). */
case class BpeCountExpression(child: Expression, merges: Seq[(String, String)])
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "bpe_count"

  @transient private lazy val ranks = BpeCore.buildRanks(merges)

  override def nullSafeEval(input: Any): Any =
    BpeCore.countTokens(input.asInstanceOf[UTF8String], ranks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ranksRef = ctx.addReferenceObj("bpeRanks", ranks, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeCore.countTokens($c, $ranksRef);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeCountExpression = copy(child = newChild)
}

object BpeCountExpression {
  /** Parse the merges-literal form: pairs comma-separated, the two
    * symbols of a pair space-separated (the layout of public merges.txt
    * files, flattened to one line). */
  def parseMerges(spec: String): Seq[(String, String)] =
    spec.split(',').toSeq.filter(_.nonEmpty).map { p =>
      val parts = p.trim.split(' ')
      require(parts.length == 2, s"bad merge pair '$p' (want 'left right')")
      (parts(0), parts(1))
    }
}

/** `bpe_count_bytes(text, 'l r,…')` — BYTE-LEVEL BPE token count
  * (GPT-2 style): the initial alphabet is the word's UTF-8 bytes, so
  * every input tokenizes with no OOV path; merges-table symbols are
  * Latin-1 byte strings (see BpeCore's byte-level notes). Same
  * rank-ordered merge loop, same plan-time binding as bpe_count. */
case class ByteBpeCountExpression(child: Expression, merges: Seq[(String, String)])
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "bpe_count_bytes"

  @transient private lazy val ranks = BpeCore.buildRanks(merges)

  override def nullSafeEval(input: Any): Any =
    BpeCore.countTokensBytes(input.asInstanceOf[UTF8String], ranks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ranksRef = ctx.addReferenceObj("bpeRanks", ranks, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeCore.countTokensBytes($c, $ranksRef);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): ByteBpeCountExpression = copy(child = newChild)
}

/** `bpe_segment_bytes(text, 'l r,…')` — byte-level per-word symbol
  * sequences (`array<array<string>>`, symbols are Latin-1 byte
  * strings). Feeds byte-level BPE training exactly as bpe_segment
  * feeds char-level training. */
case class ByteBpeSegmentExpression(child: Expression, merges: Seq[(String, String)])
  extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = false),
      containsNull = false)
  override def prettyName: String = "bpe_segment_bytes"

  @transient private lazy val ranks = BpeCore.buildRanks(merges)

  override def nullSafeEval(input: Any): Any =
    BpeCore.segmentWordsBytes(input.asInstanceOf[UTF8String], ranks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ranksRef = ctx.addReferenceObj("bpeRanks", ranks, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeCore.segmentWordsBytes($c, $ranksRef);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): ByteBpeSegmentExpression = copy(child = newChild)
}

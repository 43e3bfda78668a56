package graft.presto

/** Presto's lexical rules, and the only code in `graft.presto` that knows
  * them:
  *  - `'…'` string literals, `''` escaping a quote (a backslash is an
  *    ordinary character);
  *  - `"…"` quoted identifiers, `""` escaping a quote;
  *  - `--` line comments (up to, not including, the newline) and
  *    `/* … */` block comments; a block comment whose first character
  *    is `+` (`/*+ … */`) is an optimizer hint, which
  *    [[withoutComments]] keeps;
  *  - `(` and `[` nest, `)` and `]` close.
  * An unterminated literal, identifier or comment runs to the end of the
  * text. One pass at construction classifies every character, so the
  * rewrite passes in [[PrestoSql]] ask `isCode(i)` instead of tracking
  * quotes themselves.
  */
private[presto] final class Lexer(s: String) {
  import Lexer._

  // what each character belongs to: Code or the kind of its token
  private val kind = new Array[Byte](s.length)
  // open brackets before each code character (may go negative on
  // unbalanced text)
  private val depth = new Array[Int](s.length)
  private var hasComments = false

  locally {
    var i = 0
    var d = 0
    while (i < s.length) {
      val c = s.charAt(i)
      var k = Code
      var end = i + 1
      if (c == '\'' || c == '"') {
        k = if (c == '\'') Literal else Ident
        end = quotedEnd(i)
      } else if (c == '-' && s.startsWith("--", i)) {
        k = Comment
        end = s.indexOf('\n', i)
        if (end < 0) end = s.length
      } else if (c == '/' && s.startsWith("/*", i)) {
        k = if (s.startsWith("/*+", i)) Hint else Comment
        end = s.indexOf("*/", i + 2)
        end = if (end < 0) s.length else end + 2
      }
      if (k == Code) {
        depth(i) = d
        if (c == '(' || c == '[') d += 1
        else if (c == ')' || c == ']') d -= 1
      } else {
        java.util.Arrays.fill(kind, i, end, k)
        if (k == Comment) hasComments = true
      }
      i = end
    }
  }

  // end (exclusive) of the literal or identifier whose quote is at `open`
  private def quotedEnd(open: Int): Int = {
    val q = s.charAt(open)
    var i = open + 1
    while (i < s.length) {
      if (s.charAt(i) == q) {
        if (i + 1 < s.length && s.charAt(i + 1) == q) i += 2
        else return i + 1
      } else i += 1
    }
    s.length
  }

  /** True when the character at `i` is SQL text: not inside a string
    * literal, a quoted identifier, a comment or a hint. */
  def isCode(i: Int): Boolean = kind(i) == Code

  /** True when `i` is code outside every bracket. */
  def isTopLevel(i: Int): Boolean = kind(i) == Code && depth(i) == 0

  /** End (exclusive) of the literal, identifier, comment or hint that
    * starts at `i`. */
  def tokenEnd(i: Int): Int = {
    var j = i + 1
    while (j < s.length && kind(j) == kind(i)) j += 1
    j
  }

  /** Start of the literal, identifier, comment or hint that ends at `i`. */
  def tokenStart(i: Int): Int = {
    var j = i
    while (j > 0 && kind(j - 1) == kind(i)) j -= 1
    j
  }

  /** Index of the `)` or `]` closing the bracket at `open`; -1 when the
    * text ends first. */
  def matchingClose(open: Int): Int = {
    var i = open + 1
    while (i < s.length) {
      if (kind(i) == Code && depth(i) == depth(open) + 1 &&
          (s.charAt(i) == ')' || s.charAt(i) == ']')) return i
      i += 1
    }
    -1
  }

  /** Index of the `(` or `[` that the bracket at `close` closes; -1 when
    * there is none. */
  def matchingOpen(close: Int): Int = {
    var i = close - 1
    while (i >= 0) {
      if (kind(i) == Code && depth(i) == depth(close) - 1 &&
          (s.charAt(i) == '(' || s.charAt(i) == '[')) return i
      i -= 1
    }
    -1
  }

  /** The text cut at every top-level `sep`. */
  def splitTopLevel(sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    var from = 0
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == sep && isTopLevel(i)) {
        out += s.substring(from, i)
        from = i + 1
      }
      i += 1
    }
    out += s.substring(from)
    out.result()
  }

  /** The text with its comments dropped and its hints kept. A block
    * comment leaves a space, so the tokens either side stay apart. */
  def withoutComments: String =
    if (!hasComments) s
    else {
      val out = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (kind(i) == Comment) {
          if (s.charAt(i) == '/') out.append(' ')
          i = tokenEnd(i)
        } else {
          out.append(s.charAt(i))
          i += 1
        }
      }
      out.toString
    }
}

private object Lexer {
  private final val Code: Byte = 0
  private final val Literal: Byte = 1
  private final val Ident: Byte = 2
  private final val Comment: Byte = 3
  private final val Hint: Byte = 4
}

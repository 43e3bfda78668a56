package graft.presto

import scala.util.matching.Regex

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
  * text. One pass at construction classifies every character. On top of
  * it the lexer answers the two questions every rewrite pass in
  * [[PrestoSql]] asks, so no pass tracks quotes itself:
  *  - where a keyword is: [[findAll]], [[find]] and [[replace]] run a
  *    regex on [[code]], a view of the text in which nothing inside a
  *    literal, quoted identifier, comment or hint can match, and cut
  *    groups from (or splice replacements into) the text by offset;
  *  - where a call is: [[replaceCalls]] finds `name(` in code and hands
  *    over the call's matching close, raw arguments and end.
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

  /** The text with every character inside a literal, quoted identifier,
    * comment or hint replaced by [[Lexer.Filler]], which no word, space,
    * bracket or quote pattern matches; the quotes around a literal or an
    * identifier stay. It has the text's length, so an offset in it is an
    * offset in the text. */
  lazy val code: String = {
    val c = s.toCharArray
    var i = 0
    while (i < c.length) {
      if (kind(i) == Code) i += 1
      else {
        val end = tokenEnd(i)
        val quoted = kind(i) == Literal || kind(i) == Ident
        val closed = quoted && end - 1 > i && c(end - 1) == c(i)
        java.util.Arrays.fill(c, if (quoted) i + 1 else i,
          if (closed) end - 1 else end, Filler)
        i = end
      }
    }
    new String(c)
  }

  /** The matches of `re` in code, left to right. The search runs on
    * [[code]]; every match reads the text, so its groups are what the
    * user wrote. */
  def findAll(re: Regex): Iterator[Regex.Match] = {
    val m = re.pattern.matcher(code)
    Iterator.continually(m.find()).takeWhile(identity)
      .map(_ => new Regex.Match(s, m, Nil).force)
  }

  /** The first match of `re` in code. */
  def find(re: Regex): Option[Regex.Match] = findAll(re).nextOption()

  /** The text with each match of `re` in code replaced by `f(match)`,
    * taken verbatim (no `$` group references); `None` keeps the match. */
  def replace(re: Regex)(f: Regex.Match => Option[String]): String =
    splice(findAll(re).flatMap(m => f(m).map((m.start, m.end, _))))

  /** The text with each call of `name` in code replaced. The name matches
    * case-insensitively as a whole word, with optional whitespace before
    * its `(`. `f` returns the new text and the offset it replaces up to:
    * [[Lexer.Call.end]], or further to take in a suffix clause such as
    * `FILTER (…)`. Calls inside the arguments or the suffix are left to
    * `f`. Throws on a call whose `(` is never closed. */
  def replaceCalls(name: String)(f: Call => (String, Int)): String = {
    val m = ("(?i)\\b" + java.util.regex.Pattern.quote(name) + "\\s*\\(")
      .r.pattern.matcher(code)
    val edits = Iterator.unfold(0) { from =>
      Option.when(m.find(from)) {
        val (start, open) = (m.start, m.end - 1)
        val close = matchingClose(open)
        require(close > open, s"unbalanced $name(")
        val (text, end) =
          f(Call(start, open, close, s.substring(open + 1, close)))
        ((start, end, text), end)
      }
    }
    splice(edits)
  }

  // the text with each (start, end, replacement) applied, in order
  private def splice(edits: Iterator[(Int, Int, String)]): String =
    if (!edits.hasNext) s
    else {
      val out = new java.lang.StringBuilder
      var from = 0
      edits.foreach { case (start, end, text) =>
        out.append(s, from, start).append(text)
        from = end
      }
      out.append(s, from, s.length).toString
    }
}

private object Lexer {
  private final val Code: Byte = 0
  private final val Literal: Byte = 1
  private final val Ident: Byte = 2
  private final val Comment: Byte = 3
  private final val Hint: Byte = 4

  /** What [[Lexer.code]] shows in place of a character that is not
    * code: a private-use character, so not a letter, digit, space,
    * bracket or quote. */
  final val Filler = '\uE000'

  /** `re` as a whole-text extractor that reads code only: like
    * `case re(a, b)`, it matches against [[Lexer.code]], so a keyword
    * inside a literal, identifier or comment never counts, and it binds
    * the groups as written. */
  final class CodeRegex(re: Regex) {
    def unapplySeq(text: String): Option[List[String]] = {
      val m = re.pattern.matcher(new Lexer(text).code)
      Option.when(m.matches())(new Regex.Match(text, m, Nil).force.subgroups)
    }
  }

  /** A call `name(…)`: the name starts at `start`, `open` and `close` are
    * its parentheses and `args` the raw text between them. */
  final case class Call(start: Int, open: Int, close: Int, args: String) {
    def end: Int = close + 1
  }
}

package graft.presto

import org.scalatest.funsuite.AnyFunSuite

/** The lexer's code-only search and call finder, without a session. */
class LexerSpec extends AnyFunSuite {

  test("the code view blanks literal, identifier and comment bodies, keeping offsets") {
    val s = """SELECT 'a where b' AS "x y" -- where"""
    val code = new Lexer(s).code
    assert(code.length == s.length)
    assert(code.startsWith("SELECT '") && code.contains("' AS \""))
    assert(!code.toLowerCase.contains("where") && !code.contains("x y"))
  }

  test("find and replace match code only and read groups from the text") {
    val lx = new Lexer("""UPDATE t SET tag = 'a where b' WHERE k = 1""")
    val m = lx.find("""(?i)SET\s+(.+?)\s+WHERE\s+(.+)$""".r).get
    assert(m.group(1) == "tag = 'a where b'" && m.group(2) == "k = 1")
    val r = new Lexer("""x, 'x', "x", x_1""").replace("""\bx\b""".r)(_ => Some("$y"))
    assert(r == """$y, 'x', "x", x_1""")
    val UpdateRe = new Lexer.CodeRegex("""(?is)^UPDATE\s+(\w+)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+))?$""".r)
    "UPDATE t SET tag = 'a where b'" match {
      case UpdateRe(t, set, where) =>
        assert(t == "t" && set == "tag = 'a where b'" && where == null)
    }
  }

  test("replaceCalls finds whole-word calls in code and may consume a suffix") {
    val s = """f(1), F (g(2)), xf(3), 'f(4)', f(5) FILTER (WHERE y)"""
    val out = new Lexer(s).replaceCalls("f") { c =>
      val filter = """^\s*FILTER\s*\([^)]*\)""".r.findPrefixOf(s.substring(c.end))
      (s"<${c.args}>", c.end + filter.fold(0)(_.length))
    }
    assert(out == """<1>, <g(2)>, xf(3), 'f(4)', <5>""")
    val e = intercept[IllegalArgumentException](
      new Lexer("f(1").replaceCalls("f")(c => ("", c.end)))
    assert(e.getMessage.contains("unbalanced f("))
  }
}

package graft

import scala.util.matching.Regex

/** One pass over a SQL text that answers, for every position, whether it
  * is code — the question every dialect rewrite and [[Engine]]'s name
  * flattening ask before they touch text.
  *
  * Each position is classified as code, string literal, quoted
  * identifier, comment or optimizer hint, and the paren depth before it is
  * recorded (only code parens count). The rules:
  *   - `'…'` is a string literal. `''` is an escaped quote; a backslash
  *     escapes the next character only when `backslashEscapes`
  *     ([[Dialect.literalBackslashEscapes]]) — an ANSI literal like `'C:\'`
  *     must close at its quote, or every position after it is misread.
  *   - `"…"` is a quoted identifier, or a string literal when
  *     `doubleQuotedIsString` ([[Dialect.doubleQuotedIsString]]). A
  *     backtick always quotes an identifier. Identifiers escape only by
  *     doubling their quote.
  *   - `-- …` runs through the end of its line. `/* … */` NESTS, as in
  *     Spark (SPARK-28880), Postgres and DuckDB: ending at the first
  *     closer would leave the outer comment's tail as live text. MySQL
  *     does not nest, so a MySQL comment holding a second opener reads as
  *     unclosed here and swallows the rest; rewrites never splice into
  *     opaque text and Spark's parser applies the same nesting rule, so
  *     such input fails loudly there.
  *   - `/*+ … */` is a hint: a comment to the lexer but a plan directive
  *     to Spark, which honors it only directly after SELECT (see
  *     [[Dialect.blankComments]]).
  * An unclosed literal, identifier or comment runs to the end of the text.
  */
private[graft] final class SqlLexer(val sql: String, backslashEscapes: Boolean = false,
    doubleQuotedIsString: Boolean = false) {
  import SqlLexer._

  private val n = sql.length
  // the pass runs on first use: most rewrites first look for a regex
  // match, and a text without one is never lexed
  private[this] var kinds: Array[Byte] = _
  private[this] var depths: Array[Int] = _
  private[this] var spanList: IndexedSeq[Span] = _

  /** The kind of each position: [[SqlLexer.Code]], `Str`, `Ident`,
    * `Comment` or `Hint`. */
  def kind: Array[Byte] = { if (kinds == null) lex(); kinds }
  /** Code-paren depth before each position; `depth(n)` is the final depth. */
  def depth: Array[Int] = { if (kinds == null) lex(); depths }
  /** The non-code spans, in text order. */
  def spans: IndexedSeq[Span] = { if (kinds == null) lex(); spanList }

  private def lex(): Unit = {
    val kind = new Array[Byte](n)
    val depth = new Array[Int](n + 1)
    val b = Vector.newBuilder[Span]
    def at(j: Int): Char = if (j < n) sql.charAt(j) else 0
    var d = 0
    var i = 0
    while (i < n) {
      val c = sql.charAt(i)
      val k =
        if (c == '\'') Str
        else if (c == '"') { if (doubleQuotedIsString) Str else Ident }
        else if (c == '`') Ident
        else if (c == '-' && at(i + 1) == '-') Comment
        else if (c == '/' && at(i + 1) == '*') { if (at(i + 2) == '+') Hint else Comment }
        else Code
      val end =
        if (k == Code) i + 1
        else if (k == Str || k == Ident) {
          val esc = k == Str && backslashEscapes
          var j = i + 1
          var done = false
          while (j < n && !done) {
            val ch = sql.charAt(j)
            if (esc && ch == '\\' && j + 1 < n) j += 2
            else if (ch == c && at(j + 1) == c) j += 2
            else { done = ch == c; j += 1 }
          }
          j
        } else if (c == '-') {
          val e = sql.indexOf('\n', i)
          if (e < 0) n else e + 1
        } else {
          var nest = 1
          var j = i + 2
          while (j < n && nest > 0) {
            if (sql.charAt(j) == '/' && at(j + 1) == '*') { nest += 1; j += 2 }
            else if (sql.charAt(j) == '*' && at(j + 1) == '/') { nest -= 1; j += 2 }
            else j += 1
          }
          j
        }
      if (k != Code) b += Span(i, end, k)
      while (i < end) { kind(i) = k; depth(i) = d; i += 1 }
      if (k == Code) { if (c == '(') d += 1 else if (c == ')') d -= 1 }
    }
    depth(n) = d
    kinds = kind
    depths = depth
    spanList = b.result()
  }

  /** Is `i` code? Positions outside the text count as code. */
  def isCode(i: Int): Boolean = i < 0 || i >= n || kind(i) == Code

  /** The non-code span covering `i`, if any. */
  def spanAt(i: Int): Option[Span] =
    if (isCode(i)) None
    else {
      var lo = 0
      var hi = spans.length - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (spans(mid).start <= i) lo = mid else hi = mid - 1
      }
      Some(spans(lo))
    }

  /** Matches of `re` that start in code at or after `from`. */
  def codeMatches(re: Regex, from: Int = 0): Iterator[Regex.Match] =
    re.findAllMatchIn(sql).filter(m => m.start >= from && isCode(m.start))

  /** The first match of `re` that starts in code at paren depth 0, at or
    * after `from`. */
  def topLevelMatch(re: Regex, from: Int = 0): Option[Regex.Match] =
    codeMatches(re, from).find(m => depth(m.start) == 0)

  /** The start of the first word-boundary, case-insensitive match of `kw`
    * (a regex) at paren depth 0 in code, at or after `from`; -1 if none. */
  def topLevelKeyword(kw: String, from: Int = 0): Int =
    topLevelMatch(("(?i)\\b" + kw + "\\b").r, from).map(_.start).getOrElse(-1)

  /** The `)` matching the code `(` at `open`; -1 if unbalanced. */
  def matchParen(open: Int): Int = {
    var i = open + 1
    while (i < n && !(sql.charAt(i) == ')' && kind(i) == Code && depth(i + 1) == depth(open))) i += 1
    if (i < n) i else -1
  }

  /** The innermost paren pair enclosing `at`, as (open, close); None at
    * depth 0 or on unbalanced text. */
  def enclosingParen(at: Int): Option[(Int, Int)] = {
    var i = at - 1
    while (i >= 0 && !(sql.charAt(i) == '(' && kind(i) == Code && depth(i) == depth(at) - 1)) i -= 1
    if (i < 0) None
    else Some(matchParen(i)).filter(_ >= 0).map((i, _))
  }

  /** `sql[from, to)` split on commas outside parens and brackets. */
  def splitArgs(from: Int, to: Int): Seq[String] = {
    val args = Seq.newBuilder[String]
    var nest = 0
    var last = from
    var i = from
    while (i < to) {
      if (kind(i) == Code) sql.charAt(i) match {
        case '(' | '[' => nest += 1
        case ')' | ']' => nest -= 1
        case ',' if nest == 0 => args += sql.substring(last, i); last = i + 1
        case _ =>
      }
      i += 1
    }
    args += sql.substring(last, to)
    args.result()
  }
}

private[graft] object SqlLexer {
  final val Code: Byte = 0
  final val Str: Byte = 1
  final val Ident: Byte = 2
  final val Comment: Byte = 3
  final val Hint: Byte = 4

  /** A non-code span `[start, end)`; an identifier's quote is `sql(start)`. */
  final case class Span(start: Int, end: Int, kind: Byte)

  def apply(sql: String, backslashEscapes: Boolean = false): SqlLexer =
    new SqlLexer(sql, backslashEscapes)
}

package graft

/** The one HiveQL lexer: every front-door rewrite and every qtest
  * harness scanner asks it what is code, in the way Hive's own
  * `HiveLexer.g` decides it once for `HiveParser.g`.
  *
  * One pass over `text` records, for each character, whether it is code
  * and its paren/bracket depth. Not code: a `'…'` or `"…"` literal (with
  * backslash and doubled-quote escapes), a backticked identifier, a `--`
  * line comment, and a `/* … */` comment (nested, as Spark's lexer reads
  * it). A `/*+ … */` hint is code. Without `blockComments` (Hive 1.2's
  * CLI and lexer, which qtest scripts are written for) slash-star is code
  * too, as in a `dfs -ls` glob. Quote and comment delimiters are not
  * code; the newline that ends a `--` comment is. So a keyword, paren,
  * comma or semicolon inside a literal, an identifier or a comment never
  * steers a rewrite (statements from qtest scripts keep their comments).
  *
  * Depth: an opening `(`/`[` sits at the depth it opens, its closer at the
  * same depth; every other character at the depth around it. A character
  * is top level when it is code at depth 0.
  */
final class HiveQlText(val text: String, blockComments: Boolean = true) {
  import HiveQlText._

  private val n = text.length
  private val kinds = new Array[Byte](n)
  private val depths = new Array[Int](n)

  locally {
    var i = 0
    var d = 0
    while (i < n) {
      val c = text.charAt(i)
      val next = if (i + 1 < n) text.charAt(i + 1) else 0.toChar
      val (end, kind) =
        if (c == '\'' || c == '"') (quoteEnd(i) + 1, Literal)
        else if (c == '`') (quoteEnd(i) + 1, Ident)
        else if (c == '-' && next == '-') {
          val nl = text.indexOf('\n', i)
          (if (nl < 0) n else nl, Comment)
        } else if (blockComments && c == '/' && next == '*' &&
            !(i + 2 < n && text.charAt(i + 2) == '+')) (blockEnd(i), Comment)
        else (-1, Code)
      if (end >= 0) {
        val e = end min n
        java.util.Arrays.fill(kinds, i, e, kind)
        java.util.Arrays.fill(depths, i, e, d)
        i = e
      } else {
        if (c == '(' || c == '[') { d += 1; depths(i) = d }
        else if (c == ')' || c == ']') { depths(i) = d; d -= 1 }
        else depths(i) = d
        i += 1
      }
    }
  }

  /** Index of the quote closing the literal or identifier opened at
    * `open`, or the text length when it never closes. */
  private def quoteEnd(open: Int): Int = {
    val q = text.charAt(open)
    var i = open + 1
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\\' && q != '`' && i + 1 < n) i += 2
      else if (c == q) {
        if (q != '`' && i + 1 < n && text.charAt(i + 1) == q) i += 2
        else return i
      } else i += 1
    }
    n
  }

  /** Index just past the star-slash closing the comment opened at `open`. */
  private def blockEnd(open: Int): Int = {
    var d = 0
    var i = open
    while (i < n) {
      if (text.startsWith("/*", i)) { d += 1; i += 2 }
      else if (text.startsWith("*/", i)) {
        d -= 1; i += 2
        if (d == 0) return i
      } else i += 1
    }
    n
  }

  def code(i: Int): Boolean = kinds(i) == Code

  /** `w` (case-insensitive; may hold single spaces, as in "GROUP BY")
    * starts in code at `i` and is not part of a longer identifier. */
  def isWord(i: Int, w: String): Boolean =
    i >= 0 && i + w.length <= n && kinds(i) == Code &&
      text.regionMatches(true, i, w, 0, w.length) &&
      (i == 0 || !identChar(text.charAt(i - 1))) &&
      (i + w.length == n || !identChar(text.charAt(i + w.length)))

  /** Top-level positions of the word `w`, in order. */
  def keywords(w: String): Seq[Int] =
    (0 until n).filter(i => depths(i) == 0 && isWord(i, w))

  /** First top-level position of any of `ws`. */
  def firstKeyword(ws: String*): Option[Int] =
    (0 until n).find(i => depths(i) == 0 && ws.exists(isWord(i, _)))

  /** Index of the `)` closing the `(` at `open`, or the last index when it
    * never closes, so a malformed statement flows on to Spark's parser,
    * which reports it. */
  def matchParen(open: Int): Int = {
    val d = depths(open)
    var i = open + 1
    while (i < n) {
      if (kinds(i) == Code && text.charAt(i) == ')' && depths(i) == d)
        return i
      i += 1
    }
    n - 1
  }

  /** Index of the first character at or after `j` that is neither
    * whitespace nor comment (the text length if none). */
  def skipSpace(j: Int): Int = {
    var k = j
    while (k < n && (text.charAt(k).isWhitespace || kinds(k) == Comment))
      k += 1
    k
  }

  /** Index just past the identifier characters starting at `j`. */
  def identEnd(j: Int): Int = {
    var k = j
    while (k < n && identChar(text.charAt(k))) k += 1
    k
  }

  /** The trimmed, non-empty pieces between top-level `delim`s. With
    * `types`, `<…>` nests too: in a column or parameter list
    * (`m MAP<STRING,INT>`); never in an expression, where `<` compares. */
  def split(delim: Char, types: Boolean = false): Seq[String] = {
    val cuts = scala.collection.mutable.ArrayBuffer[Int](-1)
    var angle = 0
    var i = 0
    while (i < n) {
      if (kinds(i) == Code && depths(i) == 0) {
        val c = text.charAt(i)
        if (types && c == '<') angle += 1
        else if (types && c == '>') angle -= 1
        else if (c == delim && angle == 0) cuts += i
      }
      i += 1
    }
    (cuts :+ n).sliding(2).map(w => text.substring(w(0) + 1, w(1)).trim)
      .filter(_.nonEmpty).toSeq
  }

  /** The script's statements: the raw text between `;`s in code, parens
    * regardless (Hive's CLI cuts a script before parsing it). Re-joined
    * with `;` they give back the text. */
  def statements: Seq[String] = {
    val cuts = (0 until n).filter(i => kinds(i) == Code && text.charAt(i) == ';')
    ((-1 +: cuts) :+ n).sliding(2).map(w => text.substring(w(0) + 1, w(1)))
      .toSeq
  }

  /** The text with literal and comment characters blanked to spaces:
    * positions are unchanged, code and backticked names are kept. */
  def blanked: String = {
    val sb = new StringBuilder(text)
    for (i <- 0 until n if kinds(i) == Literal || kinds(i) == Comment)
      sb.setCharAt(i, ' ')
    sb.toString
  }

  /** The text without its comments. */
  def stripComments: String = {
    val sb = new StringBuilder
    for (i <- 0 until n if kinds(i) != Comment) sb += text.charAt(i)
    sb.toString
  }

  /** The raw content (escapes kept) of the quoted literal that starts at
    * the first non-space character at or after `from`, if one does. */
  def literalAt(from: Int): Option[String] = {
    val i = skipSpace(from)
    if (i < n && kinds(i) == Literal)
      Some(text.substring(i + 1, quoteEnd(i) min n))
    else None
  }

  /** Every window specification: (window name, open, close) of the parens
    * after the word OVER (no name), or after `WINDOW w AS` and each
    * further comma-chained `w2 AS` definition. */
  def windowSpans: Seq[(Option[String], Int, Int)] = {
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Option[String], Int, Int)]
    def parenAfter(j: Int): Int = {
      val k = skipSpace(j); if (k < n && text.charAt(k) == '(') k else -1
    }
    var i = 0
    while (i < n) {
      if (isWord(i, "over")) {
        val open = parenAfter(i + 4)
        if (open >= 0) {
          val close = matchParen(open)
          spans += ((None, open, close)); i = close + 1
        } else i += 4
      } else if (isWord(i, "window")) {
        var j = i + 6
        var more = true
        while (more) {
          more = false
          val nameStart = skipSpace(j)
          j = identEnd(nameStart)
          val name = text.substring(nameStart, j)
          j = skipSpace(j)
          if (j + 2 <= n && text.regionMatches(true, j, "as", 0, 2)) {
            val open = parenAfter(j + 2)
            if (open >= 0) {
              val close = matchParen(open)
              spans += ((Some(name).filter(_.nonEmpty), open, close))
              val k = skipSpace(close + 1)
              if (k < n && text.charAt(k) == ',') { j = k + 1; more = true }
              else j = k
            }
          }
        }
        i = j max (i + 6)
      } else i += 1
    }
    spans.toSeq
  }
}

object HiveQlText {
  private final val Code: Byte = 0
  private final val Literal: Byte = 1
  private final val Ident: Byte = 2
  private final val Comment: Byte = 3

  def apply(text: String, blockComments: Boolean = true): HiveQlText =
    new HiveQlText(text, blockComments)

  private def identChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** `k1='v1', k2="v2", k3=3` → (k, v) pairs, split on top-level commas
    * and each pair's first `=` in code; one pair of quotes around a value
    * is removed. */
  def parsePartitionSpec(spec: String): Seq[(String, String)] =
    HiveQlText(spec).split(',').map { kv =>
      val t = HiveQlText(kv)
      val eq = (0 until kv.length).find(i => t.code(i) && kv.charAt(i) == '=')
        .getOrElse(throw new IllegalArgumentException(
          s"partition spec entry needs key=value: $kv"))
      val v = kv.substring(eq + 1).trim
      val unquoted =
        if (v.length >= 2 && (v.head == '\'' || v.head == '"') &&
            v.last == v.head) v.substring(1, v.length - 1)
        else v
      kv.substring(0, eq).trim -> unquoted
    }
}

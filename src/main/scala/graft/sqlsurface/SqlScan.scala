package graft.sqlsurface

/** The one structural scanner for SQL text. [[SqlCanonicalizer]], [[PipeSql]]
  * and the sqllogictest harness ask it where a paren closes, where a keyword
  * sits at paren depth 0 and how a list splits. Every helper answers on the
  * literal-masked copy ([[mask]]), so string literals, quoted identifiers
  * and comments are never structure, and returns offsets into (or slices
  * of) the ORIGINAL text: masking is length-preserving, and masking a slice
  * that starts outside a literal gives the same characters as slicing the
  * mask, so helpers can be handed slices and masked text alike.
  */
object SqlScan {

  /** Copy of `sql` with the contents of '…' literals, "…" and `…` quoted
    * identifiers (a doubled quote escapes itself), `--` line comments and
    * block comments blanked to spaces. The quote characters themselves stay. */
  def mask(sql: String): String = {
    val a = sql.toCharArray
    def blank(from: Int, until: Int): Int = {
      java.util.Arrays.fill(a, from, until, ' '); until
    }
    var i = 0
    while (i < a.length) {
      val c = a(i)
      i =
        if (c == '\'' || c == '"' || c == '`') {
          var j = i + 1
          while (j < a.length && !(a(j) == c && (j + 1 == a.length || a(j + 1) != c)))
            j += (if (a(j) == c) 2 else 1)
          blank(i + 1, j min a.length) + 1
        } else if (sql.startsWith("--", i)) {
          val nl = sql.indexOf('\n', i)
          blank(i, if (nl < 0) a.length else nl)
        } else if (sql.startsWith("/*", i)) {
          val end = sql.indexOf("*/", i + 2)
          blank(i, if (end < 0) a.length else end + 2)
        } else i + 1
    }
    new String(a)
  }

  /** Replace (start, end, replacement) spans of `sql`, right to left. */
  def splice(sql: String, spans: Seq[(Int, Int, String)]): String =
    spans.sortBy(-_._1).foldLeft(sql) { case (s, (from, until, rep)) =>
      s.substring(0, from) + rep + s.substring(until)
    }

  private def isIdent(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** Does keyword `word` (case-insensitive, may contain a space) start at
    * offset `i` of masked text `m` as a whole word (not a qualified name)? */
  def wordAt(m: String, i: Int, word: String): Boolean =
    m.regionMatches(true, i, word, 0, word.length) &&
      (i == 0 || !isIdent(m.charAt(i - 1)) && m.charAt(i - 1) != '.') &&
      (i + word.length >= m.length || !isIdent(m.charAt(i + word.length)))

  /** Offset of the `)` matching the `(` at `open`, or -1. */
  def closeParen(sql: String, open: Int): Int = closeIn(mask(sql), open)

  private def closeIn(m: String, open: Int): Int = {
    var d = 0
    var j = open
    while (j < m.length) {
      m.charAt(j) match {
        case '(' => d += 1
        case ')' => d -= 1; if (d == 0) return j
        case _ =>
      }
      j += 1
    }
    -1
  }

  /** Scan masked text `m` from `from` at paren depth 0 relative to `from`:
    * the first offset where `hit` holds, else the offset of a `)` closing a
    * paren opened before `from`, else `m.length`. */
  private def scanIn(m: String, from: Int)(hit: Int => Boolean): Int = {
    var d = 0
    var i = from
    while (i < m.length) {
      m.charAt(i) match {
        case '(' => d += 1
        case ')' => if (d == 0) return i else d -= 1
        case _ => if (d == 0 && hit(i)) return i
      }
      i += 1
    }
    m.length
  }

  /** [[scanIn]] over `sql`'s mask; `hit` reads the caller's own mask. */
  def scanTop(sql: String, from: Int)(hit: Int => Boolean): Int =
    scanIn(mask(sql), from)(hit)

  /** Every depth-0 offset of `sql` where `hit` holds, up to the end or a
    * `)` that closes nothing in `sql`. */
  def topLevelHits(sql: String)(hit: Int => Boolean): Seq[Int] = {
    val m = mask(sql)
    Iterator.iterate(scanIn(m, 0)(hit))(at => scanIn(m, at + 1)(hit))
      .takeWhile(at => at < m.length && m.charAt(at) != ')').toSeq
  }

  /** First depth-0 whole-word occurrence of `word` at/after `from`, or -1. */
  def topLevelIndexOf(sql: String, word: String, from: Int = 0): Int = {
    val m = mask(sql)
    val at = scanIn(m, from)(wordAt(m, _, word))
    if (at < m.length && m.charAt(at) != ')') at else -1
  }

  private val clauseEnders =
    Seq("GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT")

  /** Where the clause starting at `from` ends: the next depth-0 clause
    * keyword (or one of `extra`), a `)` closing an enclosing paren, or the
    * end of the text. */
  def clauseEnd(sql: String, from: Int, extra: Seq[String] = Nil): Int = {
    val m = mask(sql)
    scanIn(m, from)(i => (clauseEnders ++ extra).exists(wordAt(m, i, _)))
  }

  /** `sql` split at depth-0 occurrences of `delim` (case-insensitive). */
  def splitTop(sql: String, delim: String): Seq[String] = {
    val m = mask(sql)
    val cuts = topLevelHits(sql)(m.regionMatches(true, _, delim, 0, delim.length))
    ((-delim.length +: cuts) zip (cuts :+ sql.length)).map { case (from, until) =>
      sql.substring(from + delim.length, until)
    }
  }

  /** Every `(SELECT …)` block of `sql` as (open, close) offsets, in order. */
  def selectBlocks(sql: String): Seq[(Int, Int)] = {
    val m = mask(sql)
    "(?i)\\(\\s*SELECT\\b".r.findAllMatchIn(m).map(b => (b.start, closeIn(m, b.start)))
      .filter(_._2 > 0).toSeq
  }

  /** Clause keywords that can follow a FROM item; never a table alias. */
  val fromKeywords: Set[String] = Set("WHERE", "GROUP", "ORDER", "LIMIT", "HAVING",
    "UNION", "INTERSECT", "EXCEPT", "INNER", "LEFT", "RIGHT", "FULL", "CROSS",
    "JOIN", "ON")

  private val declRe = "(?i)(?:FROM|JOIN|,)\\s+(\\w+)(?:\\s+(\\w+))?".r

  /** The names a block declares in its own scope: each word (table, then
    * alias) after FROM, JOIN or a comma, minus clause keywords. */
  def declaredNames(sql: String): Set[String] =
    declRe.findAllMatchIn(mask(sql))
      .flatMap(m => Option(m.group(1)) ++ Option(m.group(2)))
      .filterNot(w => fromKeywords(w.toUpperCase)).toSet

  /** The identifier ending just before `pos` (whitespace skipped),
    * upper-cased; "" when the preceding token is not an identifier. */
  def wordBefore(sql: String, pos: Int): String = {
    val m = mask(sql)
    val end = m.lastIndexWhere(!_.isWhitespace, pos - 1) + 1
    m.substring(m.lastIndexWhere(!isIdent(_), end - 1) + 1, end).toUpperCase
  }

  /** The identifier starting at the first non-space at/after `pos`,
    * upper-cased; "" when that token is not an identifier. */
  def wordAfter(sql: String, pos: Int): String =
    mask(sql).substring(pos).dropWhile(_.isWhitespace).takeWhile(isIdent).toUpperCase
}

package graft.query

/** Classic Lucene query-string syntax → clause list (the QueryParser
  * analog). The reference's serving API takes pre-built `Query` trees
  * (`src/Searcher.java:730-760` — callers hand it BooleanQuery /
  * PhraseQuery / prefix-family instances); this parser is the standard
  * front door a Lucene user writes those trees with, compiled onto the
  * same clause set [[Searcher.scoreParsed]] executes.
  *
  * Supported syntax (one flat boolean level, like the classic parser's
  * overwhelmingly common use):
  *
  *   - `term` — SHOULD term clause; `+term` MUST; `-term` MUST_NOT
  *   - `"a phrase"` / `"a phrase"~2` — phrase clause with slop
  *   - `pre*` — prefix; `wi*d` / `w?rd` — wildcard (`*` any run, `?`
  *     one char)
  *   - `term~` / `term~1` — fuzzy (Levenshtein; bare `~` = 2 edits,
  *     Lucene's default)
  *   - `/regex/` — regexp over whole terms (pattern passed through
  *     verbatim, never case-folded)
  *   - `[a TO b]` / `{a TO b}` — term range, `[`/`]` inclusive,
  *     `{`/`}` exclusive, `*` = open bound (mixed brackets fine)
  *   - `clause^2.5` — per-clause boost (any clause form)
  *   - `+(a b*)` / `(a "b c")^2` / `-(x y)` — ONE parenthesized group
  *     level (the common nested shape): the group's occur applies to
  *     the whole any-of disjunction, its boost multiplies each child's
  *   - `\x` escapes a special character into the term text
  *
  * `field:clause` prefixes parse through [[parseFielded]] only (fielded
  * deployments — [[graft.index.FieldedIndex.FieldedSearcher
  * .searchQuery]] executes them); the single-index [[parse]] rejects
  * them loudly (no field dimension to resolve against).
  *
  * Deliberately NOT supported, failing LOUDLY instead of silently
  * parsing wrong: `+`/`-` and `field:` INSIDE a group and nested groups
  * (the executor scores group-of-disjunctions, not arbitrary boolean
  * trees; issue two queries for deeper nesting), and infix
  * `AND`/`OR`/`NOT` keywords (the `+`/`-` unary operators are the
  * non-ambiguous core; Lucene's own docs warn off the infix forms). */
object QueryParser {

  sealed trait Occur
  case object Must extends Occur
  case object Should extends Occur
  case object MustNot extends Occur

  sealed trait Clause {
    def occur: Occur
    def boost: Double
  }
  final case class TermQ(text: String, occur: Occur,
                         boost: Double) extends Clause
  final case class PhraseQ(text: String, slop: Int, occur: Occur,
                           boost: Double) extends Clause
  final case class PrefixQ(prefix: String, occur: Occur,
                           boost: Double) extends Clause
  /** Lucene-style pattern (`*` any run, `?` one char, everything else
    * literal), matched by the executor as an anchored `rlike` with
    * quoted literals — NOT SQL LIKE, so `%`/`_` stay literal. Only
    * [[Searcher.searchWildcard]] takes SQL LIKE syntax. */
  final case class WildcardQ(pattern: String, occur: Occur,
                             boost: Double) extends Clause
  final case class FuzzyQ(term: String, maxEdits: Int, occur: Occur,
                          boost: Double) extends Clause
  final case class RegexpQ(pattern: String, occur: Occur,
                           boost: Double) extends Clause
  final case class RangeQ(lower: Option[String], upper: Option[String],
                          includeLower: Boolean, includeUpper: Boolean,
                          occur: Occur, boost: Double) extends Clause
  /** One parenthesized sub-boolean level (`+(a b)` — the overwhelmingly
    * common nested shape: a MUST/MUST_NOT/boosted group satisfied by ANY
    * member): children are SHOULD-only (no `+`/`-` inside, no nesting —
    * both fail loudly), the group's own occur applies to the whole
    * disjunction and its boost multiplies each child's. */
  final case class GroupQ(children: Seq[Clause], occur: Occur,
                          boost: Double) extends Clause
  /** A clause scoped to a named field of a FIELDED deployment
    * (`body:spark`, `+title:"a b"`, `path:(pre* x)^2` — the classic
    * parser's field syntax). Produced only by [[parseFielded]]; the
    * single-index [[parse]] keeps failing loudly on `field:`. Executed
    * by [[graft.index.FieldedIndex.FieldedSearcher.searchQuery]]. */
  final case class FieldQ(field: String, clause: Clause) extends Clause {
    def occur: Occur = clause.occur
    def boost: Double = clause.boost
  }

  def parse(q: String): Seq[Clause] = new P(q, allowFields = false).all()

  /** [[parse]] with `field:clause` prefixes enabled (fielded
    * deployments): an un-prefixed clause belongs to the caller's default
    * field. `field:` distributes over a whole group (`f:(a b)`); a field
    * prefix INSIDE a group fails loudly. */
  def parseFielded(q: String): Seq[Clause] = new P(q, allowFields = true).all()

  private final class P(s: String, allowFields: Boolean) {
    private var i = 0
    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(
        s"query parse error at offset $i in <$s>: $msg")
    private def ws(): Unit =
      while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def eof: Boolean = i >= s.length
    private def peek: Char = s.charAt(i)

    def all(): Seq[Clause] = {
      val out = Vector.newBuilder[Clause]
      ws()
      while (!eof) { out += clause(); ws() }
      val cs = out.result()
      if (cs.isEmpty) fail("empty query")
      cs
    }

    private def clause(): Clause = {
      val occur = peek match {
        case '+' => i += 1; Must
        case '-' => i += 1; MustNot
        case _ => Should
      }
      if (eof || peek.isWhitespace) fail("dangling +/- operator")
      val fld = if (allowFields) fieldPrefix() else None
      if (fld.isDefined && (eof || peek.isWhitespace))
        fail("dangling field: prefix")
      val inner = peek match {
        case '(' => group(occur)
        case ')' => fail("unbalanced )")
        case '"' => phrase(occur)
        case '/' => regex(occur)
        case '[' | '{' => range(occur)
        case _ => word(occur)
      }
      fld.fold(inner)(FieldQ(_, inner))
    }

    /** Consumes a leading `ident:` field prefix when one is present (an
      * identifier run directly followed by `:` and a non-blank clause
      * body); an escaped `\:` never matches (the backslash breaks the
      * identifier run). */
    private def fieldPrefix(): Option[String] = {
      var j = i
      while (j < s.length &&
             (s.charAt(j).isLetterOrDigit || s.charAt(j) == '_')) j += 1
      if (j > i && j < s.length && s.charAt(j) == ':' &&
          j + 1 < s.length && !s.charAt(j + 1).isWhitespace) {
        val f = s.substring(i, j)
        i = j + 1
        Some(f)
      } else None
    }

    /** One parenthesized group: `(a b*)` / `+(a "b c")^2`. Children are
      * SHOULD-only and non-nested — deeper boolean trees keep failing
      * LOUDLY (the executor scores group-of-disjunctions, not arbitrary
      * nesting; issue two queries instead). */
    private def group(occur: Occur): Clause = {
      i += 1 // '('
      val kids = Vector.newBuilder[Clause]
      ws()
      while (!eof && peek != ')') {
        val c = clause()
        if (c.occur != Should)
          fail("+/- inside a group is not supported — the group's own " +
            "+/- applies to every member (one boolean level of occurs)")
        if (c.isInstanceOf[GroupQ]) fail("nested groups are not supported")
        if (c.isInstanceOf[FieldQ])
          fail("field: inside a group is not supported — scope the whole " +
            "group instead: field:(...)")
        kids += c
        ws()
      }
      if (eof) fail("unterminated group (")
      i += 1 // ')'
      val cs = kids.result()
      if (cs.isEmpty) fail("empty group ()")
      GroupQ(cs, occur, boost())
    }

    /** Optional trailing `^boost`; must consume to a clause boundary
      * (whitespace or a group-closing `)`). */
    private def boost(): Double =
      if (eof || peek != '^') 1.0
      else {
        i += 1
        val st = i
        while (!eof && !peek.isWhitespace && peek != ')') i += 1
        val raw = s.substring(st, i)
        val b = try raw.toDouble
        catch { case _: NumberFormatException => fail(s"bad boost <$raw>") }
        if (!(b > 0.0) || b.isInfinite) fail(s"boost must be finite > 0, got $raw")
        b
      }

    private def phrase(occur: Occur): Clause = {
      i += 1 // opening quote
      val sb = new StringBuilder
      while (!eof && peek != '"') {
        if (peek == '\\' && i + 1 < s.length) { sb += s.charAt(i + 1); i += 2 }
        else { sb += peek; i += 1 }
      }
      if (eof) fail("unterminated phrase quote")
      i += 1 // closing quote
      var slop = 0
      if (!eof && peek == '~') {
        i += 1
        val st = i
        while (!eof && peek.isDigit) i += 1
        if (i == st) fail("phrase slop ~ needs digits")
        slop = s.substring(st, i).toInt
      }
      PhraseQ(sb.toString, slop, occur, boost())
    }

    private def regex(occur: Occur): Clause = {
      i += 1 // opening slash
      val sb = new StringBuilder
      while (!eof && peek != '/') {
        // only \/ unescapes; every other backslash stays in the pattern
        // (it is regex syntax: \d, \w, ...)
        if (peek == '\\' && i + 1 < s.length && s.charAt(i + 1) == '/') {
          sb += '/'; i += 2
        } else { sb += peek; i += 1 }
      }
      if (eof) fail("unterminated /regex/")
      i += 1
      if (sb.isEmpty) fail("empty /regex/")
      RegexpQ(sb.toString, occur, boost())
    }

    private def range(occur: Occur): Clause = {
      val incLo = peek == '['
      i += 1
      def tok(): String = {
        val st = i
        while (!eof && !peek.isWhitespace && peek != ']' && peek != '}')
          i += 1
        if (i == st) fail("empty range bound")
        s.substring(st, i)
      }
      val lo = tok()
      ws()
      if (eof || tok() != "TO") fail("range needs the form [a TO b]")
      ws()
      val hi = tok()
      if (eof || (peek != ']' && peek != '}')) fail("unterminated range")
      val incHi = peek == ']'
      i += 1
      RangeQ(Option(lo).filter(_ != "*"), Option(hi).filter(_ != "*"),
        incLo, incHi, occur, boost())
    }

    private def word(occur: Occur): Clause = {
      val text = new StringBuilder
      var wild = false           // any unescaped * or ?
      var starsOnlyTrailing = true // every unescaped * is one trailing *
      var stars = 0
      while (!eof && !peek.isWhitespace && peek != '^' && peek != '~' &&
             peek != ')') {
        peek match {
          case '\\' if i + 1 < s.length =>
            text += s.charAt(i + 1); i += 2; starsOnlyTrailing = false
          case '(' =>
            fail("a group ( must start a clause — escape a literal ( as \\(")
          case '"' => fail("quote inside a term — escape it as \\\"")
          case ':' =>
            fail(s"unescaped ':' after <${text.toString}> — a field " +
              "prefix must be one leading ident: (fielded queries only " +
              "through FieldedSearcher.searchQuery / parseFielded; " +
              "escape a literal colon as \\:)")
          case '*' =>
            wild = true; stars += 1
            text += '*'; i += 1
            if (!eof && !peek.isWhitespace && peek != '^' && peek != ')')
              starsOnlyTrailing = false
          case '?' => wild = true; starsOnlyTrailing = false
            text += '?'; i += 1
          case c => text += c; i += 1
        }
      }
      if (text.isEmpty) fail("empty term")
      if (!eof && peek == '~') {
        i += 1
        if (wild) fail("cannot combine wildcards with fuzzy ~")
        val st = i
        while (!eof && peek.isDigit) i += 1
        // bare ~ is Lucene's 2-edit default
        val edits = if (i == st) 2 else s.substring(st, i).toInt
        FuzzyQ(text.toString, edits, occur, boost())
      } else if (wild) {
        val t = text.toString
        if (stars == 1 && starsOnlyTrailing && t.endsWith("*") && t.length > 1)
          PrefixQ(t.dropRight(1), occur, boost())
        else WildcardQ(t, occur, boost())
      } else TermQ(text.toString, occur, boost())
    }
  }
}

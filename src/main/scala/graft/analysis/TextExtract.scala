package graft.analysis

import java.nio.charset.StandardCharsets

/** Deterministic HTML → text extraction (SURVEY.md §2.2 A11).
  *
  * The reference engine ingests pre-extracted DB fields (it never parses
  * HTML — `/root/reference/LuceneSearchEngine/src/Indexer.java:70` reads
  * source rows in batches); the north rule requires byte-identical
  * extracted text per url, so THIS SPEC IS THE CONTRACT:
  *
  *  1. decode UTF-8 (malformed input → U+FFFD, java default REPLACE)
  *  2. drop `<script …>…</script>` and `<style …>…</style>` blocks
  *     (ASCII-case-insensitive tag names; an unterminated block runs to
  *     EOF; a SELF-CLOSING `<script/>`/`<style/>` opens no block)
  *  3. replace every remaining `<…>` tag (incl. comments `<!-- -->`) with a
  *     single space
  *  4. decode HTML entities: the named core set (amp, lt, gt, quot, apos,
  *     nbsp → U+0020) and numeric `&#NNN;` / `&#xHH;`; unknown entities are
  *     left verbatim
  *  5. collapse runs of `[ \t\r\n ]` and any Unicode whitespace to one
  *     U+0020; trim
  *
  * Pure, total, no regex backtracking (single forward scan) — safe to run
  * inside whole-stage codegen at 10^12-row scale.
  */
object TextExtract {

  private val named = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> " ")

  def extractText(html: Array[Byte]): String = {
    if (html == null) return null
    val s = new String(html, StandardCharsets.UTF_8)
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var lastWasSpace = true // leading-trim: swallow initial whitespace
    def emit(ch: Char): Unit = {
      if (Character.isWhitespace(ch) || ch == ' ') {
        if (!lastWasSpace) { sb.append(' '); lastWasSpace = true }
      } else { sb.append(ch); lastWasSpace = false }
    }
    def tagNameAt(pos: Int, name: String): Boolean = {
      // matches `<name` followed by a delimiter (>, space, /) — ASCII fold
      if (pos + 1 + name.length > n) return false
      var k = 0
      while (k < name.length) {
        val c = Character.toLowerCase(s.charAt(pos + 1 + k))
        if (c != name.charAt(k)) return false
        k += 1
      }
      val after = pos + 1 + name.length
      after >= n || s.charAt(after) == '>' || s.charAt(after) == ' ' ||
        s.charAt(after) == '\t' || s.charAt(after) == '/' ||
        s.charAt(after) == '\n' || s.charAt(after) == '\r'
    }
    def skipBlock(pos: Int, close: String): Int = {
      // scan for `</close` (case-insensitive), then to its '>'
      var j = pos
      while (j < n) {
        if (s.charAt(j) == '<' && j + 1 < n && s.charAt(j + 1) == '/' &&
            j + 2 + close.length <= n) {
          var k = 0
          var ok = true
          while (ok && k < close.length) {
            if (Character.toLowerCase(s.charAt(j + 2 + k)) != close.charAt(k)) ok = false
            k += 1
          }
          if (ok) {
            var e = j + 2 + close.length
            while (e < n && s.charAt(e) != '>') e += 1
            return if (e < n) e + 1 else n
          }
        }
        j += 1
      }
      n
    }
    // a self-closing <script .../> or <style .../> opens NO block: treat
    // it as a plain tag, else the block skipper would swallow the rest of
    // the document looking for a closing tag that never comes (common in
    // XHTML crawl data)
    def blockOrTag(pos: Int, close: String): Int = {
      var j = pos + 1
      while (j < n && s.charAt(j) != '>') j += 1
      if (j >= n) n
      else if (s.charAt(j - 1) == '/') j + 1 // self-closing
      else skipBlock(j + 1, close)
    }
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        if (tagNameAt(i, "script")) { emit(' '); i = blockOrTag(i, "script") }
        else if (tagNameAt(i, "style")) { emit(' '); i = blockOrTag(i, "style") }
        else {
          var j = i + 1
          while (j < n && s.charAt(j) != '>') j += 1
          emit(' ')
          i = if (j < n) j + 1 else n
        }
      } else if (c == '&') {
        // entity scan: up to 10 chars to ';'
        var j = i + 1
        val lim = math.min(n, i + 11)
        while (j < lim && s.charAt(j) != ';') j += 1
        if (j < lim && j < n && s.charAt(j) == ';') {
          val body = s.substring(i + 1, j)
          if (body.startsWith("#")) {
            val cp =
              try {
                if (body.length > 1 && (body.charAt(1) == 'x' || body.charAt(1) == 'X'))
                  Integer.parseInt(body.substring(2), 16)
                else Integer.parseInt(body.substring(1))
              } catch { case _: NumberFormatException => -1 }
            if (cp >= 0 && Character.isValidCodePoint(cp)) {
              Character.toChars(cp).foreach(emit)
              i = j + 1
            } else { emit(c); i += 1 }
          } else named.get(body) match {
            case Some(rep) => rep.foreach(emit); i = j + 1
            case None => emit(c); i += 1
          }
        } else { emit(c); i += 1 }
      } else { emit(c); i += 1 }
    }
    // trailing trim
    var len = sb.length
    while (len > 0 && sb.charAt(len - 1) == ' ') len -= 1
    sb.setLength(len)
    sb.toString
  }
}

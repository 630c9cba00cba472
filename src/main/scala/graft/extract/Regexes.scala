package graft.extract

import java.util.regex.Pattern

/** The per-document string passes. A few precompiled patterns remain
  * (String.replaceAll / String.split / `".r"` recompile their regex on
  * EVERY call); every pass that runs per text node or over a whole
  * serialization is a single-pass scanner instead. Each scanner gives
  * output byte-equal to the pattern named in its doc, which the tests
  * keep as its specification, and returns its input unchanged when
  * nothing matches.
  */
private[extract] object Regexes {
  // (?U) ≈ JS \s (includes U+00A0)
  val UWs: Pattern = Pattern.compile("(?U)\\s+")
  val Language: Pattern = Pattern.compile("language-(\\w+)")

  // title cleanup chain
  val TitleSep: Pattern = Pattern.compile("\\s*[|\\-–_]\\s*.+$")
  val TitleTag: Pattern = Pattern.compile("<[^>]+>")
  val TitleSpecial: Pattern = Pattern.compile("[^\\p{L}\\p{N}\\p{P}\\p{Z}]")

  /** Exactly \\p{IsWhite_Space} -- the (?U)\\s character set. */
  @inline def isUnicodeWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000b' || c == '\f' ||
    c == '\r' || c == '\u0085' || c == '\u00a0' || c == '\u1680' ||
    (c >= '\u2000' && c <= '\u200a') || c == '\u2028' || c == '\u2029' ||
    c == '\u202f' || c == '\u205f' || c == '\u3000'

  /** The `\s` character set without (?U). */
  @inline private def isAsciiWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000b' || c == '\f' || c == '\r'

  /** `(?U)\s+` → " ". */
  def collapseWs(s: String): String = collapse(s, nbsp = false)

  /** `(?U)\s+` → " " after `&nbsp;` → " " and `&#160;` → " ", in one
    * pass that reads both entities as whitespace. Neither replacement
    * can create the other entity, so their order does not matter. */
  def collapseWsAndNbsp(s: String): String = collapse(s, nbsp = true)

  private def collapse(s: String, nbsp: Boolean): String = {
    val n = s.length
    val out = new Edits(s)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      // U+0021..U+0084 hold no whitespace
      if (c > ' ' && c < '\u0085' && (c != '&' || !nbsp)) i += 1
      else {
        var j = i
        var more = true
        while (more && j < n) {
          if (isUnicodeWs(s.charAt(j))) j += 1
          else if (nbsp && (s.startsWith("&nbsp;", j) || s.startsWith("&#160;", j))) j += 6
          else more = false
        }
        if (j == i) i += 1
        else {
          if (j > i + 1 || c != ' ') out.replace(i, j, " ") // a lone ' ' stays
          i = j
        }
      }
    }
    out.result
  }

  /** `(\s*<br\s*\/?>\s*){3,}` → `<br><br>`. A run starts with the
    * whitespace before its first `<br` and takes every tag that
    * follows with only whitespace between. */
  def collapseBrRuns(html: String): String = {
    var seen = 0
    var at = html.indexOf("<br")
    while (at >= 0 && seen < 3) { seen += 1; at = html.indexOf("<br", at + 3) }
    if (seen < 3) return html
    val out = new Edits(html)
    var q = html.indexOf("<br")
    while (q >= 0) {
      var tags = 0
      var end = q
      var next = brTagEnd(html, q)
      while (next >= 0) {
        tags += 1
        end = next
        next = if (html.startsWith("<br", end)) brTagEnd(html, end) else -1
      }
      if (tags >= 3) {
        var start = q
        while (start > out.lastEnd && isAsciiWs(html.charAt(start - 1))) start -= 1
        out.replace(start, end, "<br><br>")
        q = html.indexOf("<br", end)
      } else q = html.indexOf("<br", q + 1)
    }
    out.result
  }

  /** The end of `<br\s*\/?>\s*` at `p`, where `html` holds `<br`, or -1. */
  private def brTagEnd(html: String, p: Int): Int = {
    val n = html.length
    var j = p + 3
    while (j < n && isAsciiWs(html.charAt(j))) j += 1
    if (j < n && html.charAt(j) == '/') j += 1
    if (j < n && html.charAt(j) == '>') {
      j += 1
      while (j < n && isAsciiWs(html.charAt(j))) j += 1
      j
    } else -1
  }

  /** The four math passes of the reference, in its order (`$…$` before
    * `$$…$$`, so display math is consumed as inline first):
    * `\$([^\$]+)\$`, `\$\$([^\$]+)\$\$`,
    * `\\begin\{equation\}([\s\S]*?)\\end\{equation\}` and the same for
    * `align`, each replaced by its markup with the formula inserted
    * as is. */
  def markupMath(text: String): String =
    if (text.indexOf('$') < 0 && text.indexOf("\\begin{") < 0) text
    else {
      var t = replaceDelimited(text, "$", "$", dollarFree = true,
        f => s"""<span class="math-inline" data-tex="$f">$$$f$$</span>""")
      t = replaceDelimited(t, "$$", "$$", dollarFree = true,
        f => s"""<div class="math-display" data-tex="$f">$$$$$f$$$$</div>""")
      t = replaceDelimited(t, "\\begin{equation}", "\\end{equation}", dollarFree = false,
        f => s"""<div class="math-display" data-tex="$f">\\begin{equation}$f\\end{equation}</div>""")
      replaceDelimited(t, "\\begin{align}", "\\end{align}", dollarFree = false,
        f => s"""<div class="math-display" data-tex="$f">\\begin{align}$f\\end{align}</div>""")
    }

  /** Replaces each leftmost `open` body `close` by `mk(body)`. With
    * `dollarFree` the body is one or more chars other than `$`,
    * otherwise the shortest run of any chars. Once an `open` has no
    * `close` after it, no later one has either, so the scan stops. */
  private def replaceDelimited(s: String, open: String, close: String, dollarFree: Boolean,
                               mk: String => String): String = {
    val out = new Edits(s)
    var i = s.indexOf(open)
    while (i >= 0) {
      val b = i + open.length
      val j = if (dollarFree) s.indexOf('$', b) else s.indexOf(close, b)
      if (j < 0) i = -1
      else if (dollarFree && (j == b || !s.startsWith(close, j))) i = s.indexOf(open, i + 1)
      else {
        out.replace(i, j + close.length, mk(s.substring(b, j)))
        i = s.indexOf(open, j + close.length)
      }
    }
    out.result
  }

  @inline private def isMarkdownSpecial(c: Char): Boolean =
    c == '\\' || c == '*' || c == '_' || c == '`' || c == '[' || c == ']'

  /** `\` → `\\`, then `([*_`\[\]])` → `\$1`: a backslash before each of
    * the six chars. */
  def escapeMarkdown(s: String): String = {
    val out = new Edits(s)
    var i = 0
    while (i < s.length) {
      if (isMarkdownSpecial(s.charAt(i))) out.replace(i, i, "\\")
      i += 1
    }
    out.result
  }

  /** `\n{3,}` → `\n\n`. */
  def collapseNewlineRuns(s: String): String = {
    val out = new Edits(s)
    var i = s.indexOf('\n')
    while (i >= 0) {
      var j = i + 1
      while (j < s.length && s.charAt(j) == '\n') j += 1
      if (j - i >= 3) out.replace(i, j, "\n\n")
      i = s.indexOf('\n', j)
    }
    out.result
  }

  /** `[.。!！?？]` occurs in `s`. */
  def hasSentenceMark(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '.' || c == '!' || c == '?' || c == '\u3002' || c == '\uff01' || c == '\uff1f')
        return true
      i += 1
    }
    false
  }

  /** `\s+` split of `s.trim`, empty tokens dropped. */
  def classTokens(s: String): List[String] = {
    val t = s.trim
    val b = List.newBuilder[String]
    var i = 0
    while (i < t.length) {
      while (i < t.length && isAsciiWs(t.charAt(i))) i += 1
      val start = i
      while (i < t.length && !isAsciiWs(t.charAt(i))) i += 1
      if (i > start) b += t.substring(start, i)
    }
    b.result()
  }

  @inline private def isOpener(c: Char): Boolean = c == '(' || c == '[' || c == '{'
  @inline private def isCloser(c: Char): Boolean = c == ')' || c == ']' || c == '}'
  /** What `.` does not match. */
  @inline private def isLineEnd(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  /** `\s*[(\[{].*?[)\]}]\s*` → " ": an opener up to the first closer
    * on its line, with the whitespace around both. An opener with no
    * closer before its line ends fails, and so does every later opener
    * on that line, so the scan resumes at the line end. */
  def blankBrackets(s: String): String = {
    val n = s.length
    val out = new Edits(s)
    var q = 0
    while (q < n && !isOpener(s.charAt(q))) q += 1
    while (q < n) {
      var c = q + 1
      while (c < n && !isCloser(s.charAt(c)) && !isLineEnd(s.charAt(c))) c += 1
      if (c < n && isCloser(s.charAt(c))) {
        var start = q
        while (start > out.lastEnd && isAsciiWs(s.charAt(start - 1))) start -= 1
        var end = c + 1
        while (end < n && isAsciiWs(s.charAt(end))) end += 1
        out.replace(start, end, " ")
        q = end
      } else q = c
      while (q < n && !isOpener(s.charAt(q))) q += 1
    }
    out.result
  }

  /** `s` with disjoint ranges replaced, in left-to-right order: each
    * scanner's output. It is `s` itself when nothing was replaced. */
  private final class Edits(s: String) {
    private var sb: java.lang.StringBuilder = null
    private var last = 0

    /** The end of the last replaced range, 0 before the first. */
    def lastEnd: Int = last

    def replace(start: Int, end: Int, by: String): Unit = {
      if (sb == null) sb = new java.lang.StringBuilder(s.length + 16)
      sb.append(s, last, start).append(by)
      last = end
    }

    def result: String = if (sb == null) s else sb.append(s, last, s.length).toString
  }
}

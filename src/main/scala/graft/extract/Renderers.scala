package graft.extract

import scala.collection.mutable.ArrayBuffer

/** Plain-text rendering of extracted content HTML — reference
  * `extractText` (/root/reference/app/api/extract/route.ts:12-72).
  *
  * The reference inserts structural separators into the DOM (blank
  * lines around headings/paragraphs, `• ` bullets, tab-separated
  * cells, `<br>`→`\n`), takes the body text and THEN collapses ALL
  * whitespace to single spaces (route.ts:63) — so the effective output
  * is one space-collapsed line with bullets/space separators
  * (SURVEY.md §0 "text-format-single-line"). Its later newline steps
  * (route.ts:64-69) are no-ops once no `\n` survives, which leaves a
  * trim. Here one read-only walk emits the text and the separators in
  * document order, then collapses and trims.
  */
object TextRenderer {

  def render(contentHtml: String): String =
    renderFrom(HtmlParser.parse(contentHtml))

  private val Skipped = Set("script", "style", "link", "meta")
  private val Headings = Set("h1", "h2", "h3", "h4", "h5", "h6")

  /** Render directly from a DOM container (the extraction job's hot
    * path — avoids re-parsing the serialized content). The separators
    * are the reference's, below the container:
    *  - `script`/`style`/`link`/`meta` subtrees are dropped;
    *  - `\n\n` around a heading or table and before a list;
    *  - `\n` after a list, a `tr` under a `table`, and an `li` under a
    *    list;
    *  - `\n\n` after a `p`/`div` whose text holds a char above U+0020;
    *  - one `• ` before an `li` per `ul`/`ol` it is under;
    *  - `\t` after a `td`/`th` under a `tr` under a `table`;
    *  - `\n` for a `<br>`.
    * Only the first descendant `body`, if there is one, is rendered;
    * the counts above still include its ancestors. Separators are
    * whitespace apart from the bullets, so each element's separators
    * only need to be on the right side of its text. */
  def renderFrom(doc: Element): String = {
    val sb = new java.lang.StringBuilder
    var bodyFound = false
    var lists, tables, rows = 0 // ul/ol, table, and tr-under-table ancestors
    var visible = 0 // text nodes so far that hold a char above U+0020
    // open elements below doc, with `visible` at their start
    var open = new Array[Element](16)
    var seen = new Array[Int](16)
    var next = new Array[Int](16)
    var top = 0
    open(0) = doc
    while (top >= 0) {
      val p = open(top)
      val i = next(top)
      if (i == p.children.length) {
        top -= 1
        if (top >= 0) p.tag match { // close p
          case "ul" | "ol" => lists -= 1; sb.append('\n')
          case "table"     => tables -= 1; sb.append("\n\n")
          case "tr" if tables > 0 => rows -= 1; sb.append('\n')
          case "li" if lists > 0 => sb.append('\n')
          case "td" | "th" if rows > 0 => sb.append('\t')
          case "p" | "div" if visible > seen(top + 1) => sb.append("\n\n")
          case t if Headings.contains(t) => sb.append("\n\n")
          case _ => ()
        }
      } else {
        next(top) = i + 1
        p.children(i) match {
          case t: TextNode =>
            val d = t.data
            var k = 0
            while (k < d.length && d.charAt(k) <= ' ') k += 1
            if (k < d.length) visible += 1
            sb.append(d)
          case e: Element if Skipped.contains(e.tag) => ()
          case e: Element if e.tag == "br" => sb.append('\n')
          case e: Element =>
            e.tag match { // open e
              case "ul" | "ol" => sb.append("\n\n"); lists += 1
              case "table"     => sb.append("\n\n"); tables += 1
              case "tr" if tables > 0 => rows += 1
              case "li" => (0 until lists).foreach(_ => sb.append("\u2022 "))
              case "body" if !bodyFound =>
                bodyFound = true
                sb.setLength(0)
                // the body's text is all that is rendered: walk it as
                // the only open element, with the counts of its
                // ancestors
                top = -1
              case t if Headings.contains(t) => sb.append("\n\n")
              case _ => ()
            }
            top += 1
            if (top == open.length) {
              open = java.util.Arrays.copyOf(open, 2 * top)
              seen = java.util.Arrays.copyOf(seen, 2 * top)
              next = java.util.Arrays.copyOf(next, 2 * top)
            }
            open(top) = e
            seen(top) = visible
            next(top) = 0
          case _ => ()
        }
      }
    }
    Regexes.collapseWs(sb.toString).trim
  }
}

/** HTML → Markdown — reference `convertToMarkdown`
  * (/root/reference/app/api/extract/route.ts:77-125): Turndown with
  * atx headings, `---` hr, `-` bullets, fenced code, `*` em, plus
  * custom rules: del/s/strike → `~~…~~`, tables kept as raw HTML,
  * math/semantics/annotation passthrough, `![alt](src "title")`
  * images. Hand-written walker (no markdown lib offline —
  * SURVEY.md §7.5); replicates the configured Turndown rule subset.
  */
object MarkdownRenderer {

  private val KeepRaw = Set("table", "thead", "tbody", "tr", "th", "td",
    "math", "semantics", "annotation")

  def render(contentHtml: String): String =
    renderFrom(HtmlParser.parse(contentHtml))

  /** Render directly from a DOM container (read-only walk). */
  def renderFrom(doc: Element): String = {
    val body = doc.select("body").headOption.getOrElse(doc)
    val out = renderChildren(body)
    // turndown trims and collapses 3+ newlines
    Regexes.collapseNewlineRuns(out).trim
  }

  private def renderChildren(e: Element): String = {
    val sb = new StringBuilder
    appendChildren(e, sb)
    sb.toString
  }

  /** Containers render as their children, so they are walked with an
    * explicit stack and append in place: a string returned per level
    * would copy nested content once per level, and a call per level
    * would bound the nesting by the thread stack. */
  private def appendChildren(e: Element, sb: StringBuilder): Unit = {
    val open = ArrayBuffer(e.children.iterator)
    while (open.nonEmpty) {
      val it = open.last
      if (!it.hasNext) open.remove(open.length - 1)
      else it.next() match {
        case t: TextNode    => sb.append(Regexes.escapeMarkdown(t.data))
        case _: CommentNode => ()
        case c: Element =>
          val out = renderElement(c)
          if (out == null) open += c.children.iterator else sb.append(out)
      }
    }
  }

  private def block(s: String): String = "\n\n" + s + "\n\n"

  /** `e`'s rendering, or null for a container, which renders as its
    * children. */
  private def renderElement(e: Element): String = e.tag match {
    case t if KeepRaw.contains(t) => e.outerHtml
    case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" =>
      val level = e.tag.charAt(1) - '0'
      block("#" * level + " " + inline(e))
    case "p" => block(inline(e))
    case "div" | "section" | "article" | "main" | "figure" | "header" |
         "footer" | "aside" | "nav" | "body" =>
      null
    case "br" => "  \n"
    case "hr" => block("---")
    case "em" | "i" => wrapNonEmpty(inline(e), "*")
    case "strong" | "b" => wrapNonEmpty(inline(e), "**")
    case "del" | "s" | "strike" => wrapNonEmpty(inline(e), "~~")
    case "code" if e.parent != null && e.parent.tag == "pre" => inline(e) // handled by pre
    case "code" =>
      val t = e.text
      if (t.isEmpty) "" else "`" + t + "`"
    case "pre" =>
      val lang = e.selectFirst("code").flatMap(_.attr("data-language"))
        .orElse(e.attr("data-language")).getOrElse("")
      block("```" + lang + "\n" + e.text + "\n```")
    case "blockquote" =>
      val inner = renderChildren(e).trim
      block(inner.split("\n", -1).map(l => ("> " + l).stripTrailing).mkString("\n"))
    case "ul" => block(renderList(e, ordered = false))
    case "ol" => block(renderList(e, ordered = true))
    case "li" => // li outside list context: render as bullet
      "- " + renderChildren(e).trim + "\n"
    case "img" =>
      val alt = e.attr("alt").getOrElse("")
      val src = e.attr("src").getOrElse("")
      e.attr("title") match {
        case Some(t) => s"""![$alt]($src "$t")"""
        case None    => s"![$alt]($src)"
      }
    case "a" =>
      val text = inline(e)
      e.attr("href") match {
        case Some(h) if text.nonEmpty => s"[$text]($h)"
        case _                        => text
      }
    case "figcaption" | "span" | "u" | "small" | "sub" | "sup" | "mark" |
         "abbr" | "cite" | "time" | "label" =>
      inline(e)
    case "script" | "style" | "head" | "meta" | "link" | "iframe" |
         "form" | "input" | "button" | "select" | "option" => ""
    case _ => null
  }

  private def renderList(list: Element, ordered: Boolean): String = {
    val items = list.childElements.filter(_.tag == "li")
    items.zipWithIndex.map { case (li, i) =>
      val marker = if (ordered) s"${i + 1}. " else "- "
      val inner = renderChildren(li).trim
      val indented = inner.split("\n", -1).zipWithIndex.map {
        case (l, 0) => marker + l
        case (l, _) => "   " + l
      }.mkString("\n")
      indented
    }.mkString("\n")
  }

  private def inline(e: Element): String = renderChildren(e).trim

  private def wrapNonEmpty(s: String, mark: String): String =
    if (s.isEmpty) "" else mark + s + mark
}

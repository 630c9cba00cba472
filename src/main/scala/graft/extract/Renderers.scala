package graft.extract

import scala.collection.mutable.ArrayBuffer

/** Plain-text rendering of extracted content HTML — reference
  * `extractText` (/root/reference/app/api/extract/route.ts:12-72).
  *
  * The reference inserts structural separators (blank lines around
  * headings/paragraphs, `• ` bullets, tab-separated cells,
  * `<br>`→`\n`) and THEN collapses ALL whitespace to single spaces
  * (route.ts:63) — so the effective output is one space-collapsed
  * line with bullets/space separators (SURVEY.md §0
  * "text-format-single-line"). Implemented by replicating the DOM
  * mutations, taking body text, then applying the same final chain.
  */
object TextRenderer {

  def render(contentHtml: String): String =
    renderFrom(HtmlParser.parse(contentHtml))

  /** Render directly from a DOM container (the extraction job's hot
    * path — avoids re-parsing the serialized content). MUTATES the
    * container; pass a clone if it is still needed. */
  def renderFrom(doc: Element): String = {
    doc.select("script, style, link, meta").foreach(_.remove())

    def insertAround(e: Element, before: Option[String], after: Option[String]): Unit = {
      val p = e.parent
      if (p != null) {
        val i = p.childIndex(e)
        after.foreach(a => p.insertChild(i + 1, new TextNode(a)))
        before.foreach(b => p.insertChild(i, new TextNode(b)))
      }
    }

    // p/div blankness, taken once: every node inserted before or
    // during the p/div step is whitespace, so no verdict changes
    val stats = new SubtreeStats(doc, Nil)
    doc.select("h1, h2, h3, h4, h5, h6").foreach(h =>
      insertAround(h, Some("\n\n"), Some("\n\n")))
    (1 until stats.size).foreach { i =>
      val e = stats.element(i)
      if ((e.tag == "p" || e.tag == "div") && !stats.isBlank(i))
        insertAround(e, None, Some("\n\n"))
    }
    doc.select("br").foreach { br =>
      val p = br.parent
      if (p != null) p.replaceChild(br, new TextNode("\n"))
    }
    doc.select("ul, ol").foreach { list =>
      insertAround(list, Some("\n\n"), Some("\n"))
      list.select("li").foreach(li => insertAround(li, Some("• "), Some("\n")))
    }
    doc.select("table").foreach { table =>
      table.select("tr").foreach { tr =>
        tr.select("td, th").foreach(cell => insertAround(cell, None, Some("\t")))
        insertAround(tr, None, Some("\n"))
      }
      insertAround(table, Some("\n\n"), Some("\n\n"))
    }

    val body = doc.select("body").headOption.getOrElse(doc)
    val collapsed = Regexes.collapseWs(body.text)
    // route.ts:64-69 — no-ops after the full collapse, kept for parity
    DblNl.matcher(collapsed).replaceAll("\n\n")
      .split("\n", -1).map(_.trim).mkString("\n")
      .trim
  }

  private val DblNl = java.util.regex.Pattern.compile("\\n\\s*\\n")
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
    NlRuns.matcher(out).replaceAll("\n\n").trim
  }

  private val NlRuns = java.util.regex.Pattern.compile("\\n{3,}")

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
        case t: TextNode    => sb.append(escapeText(t.data))
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

  private val EscPattern = java.util.regex.Pattern.compile("([*_`\\[\\]])")

  /** Turndown-style escaping of markdown-significant leading chars. */
  private def escapeText(s: String): String =
    EscPattern.matcher(s.replace("\\", "\\\\")).replaceAll("\\\\$1")
}

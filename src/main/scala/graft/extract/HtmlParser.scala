package graft.extract

import java.util.Locale
import scala.collection.mutable.{ArrayBuffer, HashMap}

/** Lenient HTML5-ish parser: never throws, handles unclosed /
  * mismatched tags, raw-text elements, comments, entities, and
  * synthesizes the html/head/body structure like parse5 does for
  * cheerio (the reference's parse step,
  * /root/reference/app/lib/BaseExtractor.ts:85-88).
  *
  * Hand-written because the sandbox Spark classpath ships no HTML
  * parser; covers the subset of HTML the extraction semantics rely
  * on (SURVEY.md §7.5 hard-part 1). Totality (never throwing on
  * arbitrary input) is property-tested with ScalaCheck.
  */
object HtmlParser {

  private val BlockTags = Set("address", "article", "aside", "blockquote",
    "details", "div", "dl", "fieldset", "figcaption", "figure", "footer",
    "form", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "main",
    "nav", "ol", "p", "pre", "section", "table", "ul")
  private val HeadTags = Set("title", "meta", "link", "style", "base")

  def parse(html: String): Element = {
    val root = parseNodes(html)
    normalizeStructure(root)
    root
  }

  /** Parse without html/head/body synthesis (cheerio fragment parse,
    * used by the `$(htmlString)` re-parse sites in postProcess). The
    * returned nodes are detached (parent = null). */
  def parseFragment(html: String): List[DomNode] = {
    val root = parseNodes(html)
    val kids = root.children.toList
    kids.foreach(_.parent = null)
    root.children.clear()
    kids
  }

  private def parseNodes(html: String): Element = {
    val root = new Element("#root")
    val stack = ArrayBuffer[Element](root)
    // how many elements of each name are open (root excluded), so that
    // a close tag with no open match costs O(1)
    val open = HashMap.empty[String, Int].withDefaultValue(0)
    val n = html.length
    var i = 0
    // java StringBuilder: has append(CharSequence, start, end) — the
    // Scala one would auto-tuple a 3-arg append into append(Any)
    val text = new java.lang.StringBuilder

    def cur: Element = stack.last

    def push(e: Element): Unit = { stack += e; open(e.tag) += 1 }
    def pop(): Unit = open(stack.remove(stack.length - 1).tag) -= 1

    def flushText(): Unit = {
      if (text.length > 0) {
        cur.appendChild(new TextNode(Entities.decode(text.toString)))
        text.setLength(0)
      }
    }

    def autoClose(tag: String): Unit = {
      val top = cur.tag
      val close = tag match {
        case t if BlockTags.contains(t) => top == "p"
        case "li"                       => top == "li"
        case "dt" | "dd"                => top == "dt" || top == "dd"
        case "tr"                       => top == "tr" || top == "td" || top == "th"
        case "td" | "th"                => top == "td" || top == "th"
        case "option"                   => top == "option"
        case "thead" | "tbody" | "tfoot" => top == "thead" || top == "tbody" || top == "tfoot" || top == "tr" || top == "td" || top == "th"
        case _                          => false
      }
      if (close && stack.length > 1) {
        pop()
        autoClose(tag)
      }
    }

    def readRawText(tag: String): Unit = {
      val close = "</" + tag
      val idx = indexOfIgnoreCase(html, close, i)
      val end = if (idx < 0) n else idx
      if (end > i) {
        val raw = html.substring(i, end)
        // title/textarea are RCDATA (entities decoded); script/style raw
        val data = if (tag == "title" || tag == "textarea") Entities.decode(raw) else raw
        cur.appendChild(new TextNode(data))
      }
      i = end
      if (idx >= 0) {
        // skip "</tag" then to '>'
        i += close.length
        while (i < n && html.charAt(i) != '>') i += 1
        if (i < n) i += 1
      }
      if (stack.length > 1) pop()
    }

    while (i < n) {
      val c = html.charAt(i)
      if (c != '<') {
        // bulk-copy the whole text run (per-char append dominated
        // the parse profile)
        val nxt = html.indexOf('<', i)
        val end = if (nxt < 0) n else nxt
        text.append(html, i, end)
        i = end
      } else if (i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (c1 == '!') {
          flushText()
          if (html.startsWith("<!--", i)) {
            val end = html.indexOf("-->", i + 4)
            val stop = if (end < 0) n else end
            cur.appendChild(new CommentNode(html.substring(i + 4, stop)))
            i = if (end < 0) n else end + 3
          } else { // doctype / CDATA: skip to '>'
            val end = html.indexOf('>', i)
            i = if (end < 0) n else end + 1
          }
        } else if (c1 == '?') { // processing instruction
          flushText()
          val end = html.indexOf('>', i)
          i = if (end < 0) n else end + 1
        } else if (c1 == '/') {
          flushText()
          var j = i + 2
          while (j < n && html.charAt(j) != '>') j += 1
          val name = html.substring(i + 2, j).trim.toLowerCase(Locale.ROOT)
            .takeWhile(ch => ch.isLetterOrDigit || ch == '-' || ch == ':')
          if (name.nonEmpty && open(name) > 0) {
            while (cur.tag != name) pop()
            pop()
          } // else: stray close tag, ignored
          i = if (j < n) j + 1 else n
        } else if (c1.isLetter) {
          flushText()
          val (elem, selfClosed, next) = parseTag(html, i)
          i = next
          autoClose(elem.tag)
          cur.appendChild(elem)
          if (!selfClosed && !Dom.VoidTags.contains(elem.tag)) {
            push(elem)
            if (Dom.RawTextTags.contains(elem.tag)) readRawText(elem.tag)
          }
        } else { text.append(c); i += 1 }
      } else { text.append(c); i += 1 }
    }
    flushText()
    root
  }

  /** Region search without lowercasing the whole document (raw-text
    * close tags are ASCII). */
  private def indexOfIgnoreCase(hay: String, needle: String, from: Int): Int = {
    val n = hay.length
    val m = needle.length
    var i = math.max(0, from)
    while (i + m <= n) {
      var j = 0
      while (j < m && Character.toLowerCase(hay.charAt(i + j)) == needle.charAt(j)) j += 1
      if (j == m) return i
      i += 1
    }
    -1
  }

  /** Parse one start tag beginning at `html(start) == '<'`.
    * Returns (element, selfClosed, indexAfterTag). */
  private def parseTag(html: String, start: Int): (Element, Boolean, Int) = {
    val n = html.length
    var i = start + 1
    val name = new StringBuilder
    while (i < n && (html.charAt(i).isLetterOrDigit || html.charAt(i) == '-' || html.charAt(i) == ':')) {
      name.append(Character.toLowerCase(html.charAt(i))); i += 1
    }
    val e = new Element(name.toString)
    var selfClosed = false
    var done = false
    while (!done && i < n) {
      while (i < n && html.charAt(i).isWhitespace) i += 1
      if (i >= n) done = true
      else html.charAt(i) match {
        case '>' => i += 1; done = true
        case '/' =>
          if (i + 1 < n && html.charAt(i + 1) == '>') { selfClosed = true; i += 2; done = true }
          else i += 1
        case _ =>
          val an = new StringBuilder
          while (i < n && !html.charAt(i).isWhitespace &&
            html.charAt(i) != '=' && html.charAt(i) != '>' && html.charAt(i) != '/') {
            an.append(Character.toLowerCase(html.charAt(i))); i += 1
          }
          var av = ""
          var hasVal = false
          while (i < n && html.charAt(i).isWhitespace) i += 1
          if (i < n && html.charAt(i) == '=') {
            i += 1; hasVal = true
            while (i < n && html.charAt(i).isWhitespace) i += 1
            if (i < n && (html.charAt(i) == '"' || html.charAt(i) == '\'')) {
              val q = html.charAt(i); i += 1
              val j = html.indexOf(q, i)
              val stop = if (j < 0) n else j
              av = html.substring(i, stop)
              i = if (j < 0) n else j + 1
            } else {
              val sb = new StringBuilder
              while (i < n && !html.charAt(i).isWhitespace && html.charAt(i) != '>') {
                sb.append(html.charAt(i)); i += 1
              }
              av = sb.toString
            }
          }
          if (an.nonEmpty && !e.attrs.contains(an.toString))
            e.attrs(an.toString) = Entities.decode(if (hasVal) av else "")
      }
    }
    (e, selfClosed, i)
  }

  /** Ensure root → html → (head, body) like parse5's tree builder. */
  private def normalizeStructure(root: Element): Unit = {
    val htmlEl = root.childElements.find(_.tag == "html").getOrElse {
      val h = new Element("html")
      val kids = root.children.toList
      kids.foreach(h.appendChild)
      root.children.clear()
      root.appendChild(h)
      h
    }
    // pull any stray root-level siblings of <html> inside it
    root.children.toList.foreach {
      case e: Element if e eq htmlEl => ()
      case other                     => htmlEl.appendChild(other)
    }
    val head = htmlEl.childElements.find(_.tag == "head").getOrElse {
      val h = new Element("head"); htmlEl.insertChild(0, h); h
    }
    val body = htmlEl.childElements.find(_.tag == "body").getOrElse {
      val b = new Element("body"); htmlEl.appendChild(b); b
    }
    htmlEl.children.toList.foreach {
      case e: Element if (e eq head) || (e eq body) => ()
      case e: Element if HeadTags.contains(e.tag) && body.children.isEmpty =>
        head.appendChild(e)
      case t: TextNode if t.data.trim.isEmpty => t.remove()
      case other => body.appendChild(other)
    }
  }
}

private[extract] object Entities {
  private val Named: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "copy" -> "©", "reg" -> "®",
    "mdash" -> "—", "ndash" -> "–", "hellip" -> "…",
    "lsquo" -> "‘", "rsquo" -> "’", "ldquo" -> "“",
    "rdquo" -> "”", "times" -> "×", "middot" -> "·")

  def decode(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val body = s.substring(i + 1, semi)
          val repl: Option[String] =
            if (body.startsWith("#x") || body.startsWith("#X"))
              try Some(new String(Character.toChars(Integer.parseInt(body.drop(2), 16))))
              catch { case _: Exception => None }
            else if (body.startsWith("#"))
              try Some(new String(Character.toChars(Integer.parseInt(body.drop(1)))))
              catch { case _: Exception => None }
            else Named.get(body)
          repl match {
            case Some(r) => sb.append(r); i = semi + 1
            case None    => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}

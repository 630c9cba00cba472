package graft.extract

import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Differential checks of the one-pass subtree stats against the
  * per-element subtree walks they replaced. The walks live only here,
  * as the reference: every element's node score, content score
  * (bit-equal) and validity for all three extractors, the
  * empty-node removal, and the plain-text renderer.
  */
class SubtreeStatsSpec extends AnyFunSuite {

  import BaseExtractor._

  // ---- the walks the stats replaced ----

  private def textLen(e: Element): Int = e.text.trim.length
  private def firstLinkLen(e: Element): Int = e.select("a").headOption.map(textLen).getOrElse(0)
  private def has(e: Element, sel: String): Boolean = e.select(sel).nonEmpty

  private def walkNodeScore(platform: String, e: Element): Int = {
    var score = TagWeights.getOrElse(e.tag, 0)
    e.classNames.foreach { cn =>
      val lc = cn.toLowerCase(Locale.ROOT)
      score += PositiveClassWeights.getOrElse(lc, 0) + NegativeClassWeights.getOrElse(lc, 0)
    }
    val textLength = textLen(e)
    val linkDensity = firstLinkLen(e).toDouble / (if (textLength == 0) 1 else textLength)
    score += math.min(textLength / 100, 10)
    if (linkDensity > 0.5) score -= math.floor(linkDensity * 10).toInt
    score += math.min(e.select("img").length * 2, 8)
    score += math.min(e.select("p").length, 5)
    score += math.min(e.select("h1, h2, h3, h4, h5, h6").length * 2, 6)
    platform match {
      case "article" =>
        if (e.tag == "article" || e.hasClass("article")) score += 15
        if (textLength > 100) score += math.min(textLength / 100, 10)
        val images = e.select("img").length
        if (images > 0) score += math.min(images * 2, 10)
        score += e.select("h1, h2, h3, h4, h5, h6").length * 4
        score += math.min(e.select("p").length, 5)
        if (has(e, ".ad, .advertisement, .banner")) score -= 10
        if (has(e, ".comment, .comments, #comments")) score -= 8
      case "forum" =>
        if (e.hasClass("first-post") || e.hasClass("main-post")) score += 15
        if (e.hasClass("reply-content") || e.hasClass("comment-content")) score += 8
        if (has(e, ".quote, blockquote, .cited")) score -= 5
        if (has(e, ".user-info, .author-info")) score -= 3
        if (textLength > 100) score += math.min(textLength / 200, 8)
      case "weixin" =>
        if (e.id.contains("js_content") || e.hasClass("rich_media_content")) score += 20
        if (textLength > 100) score += math.min(textLength / 100, 10)
        val images = e.select("img").length
        if (images > 0) score += math.min(images * 2, 10)
        score += e.select("iframe, .video_iframe").length * 5
        if (has(e, ".advertisement_area, .reward_area")) score -= 15
    }
    score
  }

  private def walkContentScore(platform: String, e: Element): Double = {
    var score: Double = walkNodeScore(platform, e).toDouble
    val textLength = textLen(e)
    val nodeHtml = e.innerHtml
    val nodeLength = nodeHtml.length
    score += textLength.toDouble / (if (nodeLength == 0) 1 else nodeLength) * 10
    var pScore = 0
    e.select("p").foreach { p =>
      val t = p.text.trim
      if (t.length > 50) pScore += 2
      if (Regexes.Punct.matcher(t).find()) pScore += 1
    }
    score += math.min(pScore, 30)
    score += (if (has(e, "img")) 5 else 0)
    score += (if (has(e, "table")) 5 else 0)
    score += (if (has(e, "ul, ol")) 3 else 0)
    score += (if (has(e, "pre, code")) 3 else 0)
    score -= e.depth
    val linkText = e.select("a").map(_.text).mkString.trim
    score -= linkText.length.toDouble / (if (textLength == 0) 1 else textLength) * 20
    val htmlLower = nodeHtml.toLowerCase(Locale.ROOT)
    Seq("article", "content", "post", "entry", "main", "text").foreach { kw =>
      if (htmlLower.contains(kw)) score += 2
    }
    math.max(0, score)
  }

  private def walkValid(ex: BaseExtractor, e: Element): Boolean =
    !ExcludeTags.contains(e.tag) &&
      walkNodeScore(ex.platform, e) >= ex.options.minScore &&
      textLen(e) >= ex.options.minTextLength &&
      firstLinkLen(e).toDouble / textLen(e) <= 0.5

  private def walkCleanEmpty(doc: Element): Unit =
    doc.descendants.toList.foreach { e =>
      if (e.text.trim.isEmpty && e.select("img, video, iframe").isEmpty) e.remove()
    }

  private def walkRenderText(doc: Element): String = {
    doc.select("script, style, link, meta").foreach(_.remove())
    def insertAround(e: Element, before: Option[String], after: Option[String]): Unit = {
      val p = e.parent
      if (p != null) {
        val i = p.childIndex(e)
        after.foreach(a => p.insertChild(i + 1, new TextNode(a)))
        before.foreach(b => p.insertChild(i, new TextNode(b)))
      }
    }
    doc.select("h1, h2, h3, h4, h5, h6").foreach(h => insertAround(h, Some("\n\n"), Some("\n\n")))
    doc.select("p, div").foreach(e => if (e.text.trim.nonEmpty) insertAround(e, None, Some("\n\n")))
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
    java.util.regex.Pattern.compile("\\n\\s*\\n").matcher(Regexes.collapseWs(body.text))
      .replaceAll("\n\n").split("\n", -1).map(_.trim).mkString("\n").trim
  }

  // ---- random pages ----

  private val tagPool = Vector("div", "div", "article", "section", "main", "p", "p", "a", "a",
    "span", "b", "img", "br", "iframe", "video", "script", "style", "textarea", "title",
    "ul", "ol", "li", "table", "tr", "td", "pre", "code", "h1", "h3", "blockquote")
  private val classes = Vector("ad", "advertisement", "banner", "comment", "comments",
    "quote", "cited", "user-info", "author-info", "video_iframe", "advertisement_area",
    "reward_area", "article", "first-post", "main-post", "reply-content", "content",
    "SIDEBAR", "rich_media_content", "Post entry")
  private val ids = Vector("comments", "js_content", "main-content")
  // whitespace-only runs (incl. U+0001, and U+00A0/U+2003, which trim
  // keeps), sentence marks, keywords in any case, split across tags
  // or comments, overlapping ("textext"), and the two chars that
  // lowercase to ASCII letters outside A-Z (U+0130, U+212A)
  private val texts = Vector("", " ", "\n\t ", "\u0001 ", "\u00a0", " \u2003 ", "word",
    "Sentence.", "why? ", "wow！", "。", "con", "tent", "ARTICLE", "art\u0130cle",
    "\u212Aelvin post", "\u0130", "textext", "MaIn", "a & b < c > d \"q\"",
    "&amp; &lt;x&gt; &quot;", "<!-- main entry -->", "con<b>tent</b>", "po<!---->st",
    "x" * 60, "long words without any mark at all in them " * 2, " padded text. ")
  private val wrappers = Vector("div", "a", "p", "section", "span", "main", "article")

  private def node(r: Random, depth: Int, sb: StringBuilder): Unit =
    if (depth == 0 || r.nextInt(4) == 0) sb.append(texts(r.nextInt(texts.length)))
    else {
      val t = tagPool(r.nextInt(tagPool.length))
      sb.append('<').append(t)
      if (r.nextInt(3) == 0) sb.append(" class=\"").append(classes(r.nextInt(classes.length))).append('"')
      if (r.nextInt(8) == 0) sb.append(" id=\"").append(ids(r.nextInt(ids.length))).append('"')
      if (r.nextInt(6) == 0) sb.append(" data-x='a & b < c > \"MAIN\"'")
      sb.append('>')
      (0 until r.nextInt(4)).foreach(_ => node(r, depth - 1, sb))
      if (r.nextInt(5) != 0) sb.append("</").append(t).append('>')
    }

  /** Three blocks, each under a random chain of up to 60 wrappers. */
  private def page(r: Random): String = {
    val sb = new StringBuilder("<html><body>")
    (0 until 3).foreach { _ =>
      val chain = Vector.fill(r.nextInt(61))(wrappers(r.nextInt(wrappers.length)))
      chain.foreach(t => sb.append('<').append(t).append('>'))
      (0 until 1 + r.nextInt(3)).foreach(_ => node(r, 6, sb))
      chain.reverse.foreach(t => if (r.nextBoolean()) sb.append("</").append(t).append('>'))
    }
    sb.append("</body></html>").toString
  }

  private val N = 200
  private val extractors = Seq(new ArticleExtractor, new ForumExtractor, new WeixinExtractor)

  test("every element scores as the subtree walks score it, for all three extractors") {
    val r = new Random(2024)
    var maxDepth = 0
    (1 to N).foreach { c =>
      val doc = HtmlParser.parse(page(r))
      extractors.foreach { ex =>
        val s = ex.statsOf(doc)
        (0 until s.size).foreach { i =>
          val e = s.element(i)
          maxDepth = math.max(maxDepth, e.depth)
          val at = s"page $c, ${ex.platform}, element $i <${e.tag}>"
          assert(ex.nodeScore(s, i) == walkNodeScore(ex.platform, e), at)
          val expected = walkContentScore(ex.platform, e)
          assert(java.lang.Double.doubleToRawLongBits(ex.contentScore(s, i)) ==
            java.lang.Double.doubleToRawLongBits(expected), s"$at: ${ex.contentScore(s, i)} vs $expected")
          assert(ex.validContent(s, i) == walkValid(ex, e), at)
          if (CandidateTags.contains(e.tag))
            assert(ex.calculateContentScore(e) == expected, s"$at (own subtree)")
        }
      }
    }
    assert(maxDepth >= 50)
  }

  private class CleanProbe extends BaseExtractor() {
    def clean(d: Element): Unit = { doc = d; cleanEmptyNodes() }
  }

  test("empty-node removal and the text renderer match their subtree walks") {
    val r = new Random(99)
    val probe = new CleanProbe
    (1 to N).foreach { c =>
      val html = page(r)
      val (a, b) = (HtmlParser.parse(html), HtmlParser.parse(html))
      walkCleanEmpty(a)
      probe.clean(b)
      assert(b.outerHtml == a.outerHtml, s"page $c: cleanEmptyNodes")
      assert(TextRenderer.renderFrom(HtmlParser.parse(html)) ==
        walkRenderText(HtmlParser.parse(html)), s"page $c: text")
      // a div as the root: the root itself is not one of the p/div
      val (d1, d2) = (HtmlParser.parse(html).select("div").headOption,
        HtmlParser.parse(html).select("div").headOption)
      for (x <- d1; y <- d2)
        assert(TextRenderer.renderFrom(x) == walkRenderText(y), s"page $c: text from a div")
    }
  }
}

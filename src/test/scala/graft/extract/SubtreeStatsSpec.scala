package graft.extract

import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Differential checks of the one-pass subtree stats against the
  * per-element subtree walks they replaced. The walks live only here,
  * as the reference: every element's node score, content score
  * (bit-equal) and validity for all three extractors, the
  * empty-node removal, and the plain-text renderer. The pages come
  * from [[RandomPages]].
  */
class SubtreeStatsSpec extends AnyFunSuite {

  import BaseExtractor._

  // ---- the walks the stats replaced ----

  private val Punct = java.util.regex.Pattern.compile("[.\u3002!\uff01?\uff1f]")

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
      if (Punct.matcher(t).find()) pScore += 1
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

  private val N = 200
  private val extractors = Seq(new ArticleExtractor, new ForumExtractor, new WeixinExtractor)

  test("every element scores as the subtree walks score it, for all three extractors") {
    val r = new Random(2024)
    var maxDepth = 0
    (1 to N).foreach { c =>
      val doc = HtmlParser.parse(RandomPages.page(r))
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
    var containers = 0
    (1 to N).foreach { c =>
      val html = RandomPages.page(r)
      val (a, b) = (HtmlParser.parse(html), HtmlParser.parse(html))
      walkCleanEmpty(a)
      probe.clean(b)
      assert(b.outerHtml == a.outerHtml, s"page $c: cleanEmptyNodes")
      assert(TextRenderer.renderFrom(HtmlParser.parse(html)) ==
        walkRenderText(HtmlParser.parse(html)), s"page $c: text")
      // a div, ul or td as the container: the container itself gets no
      // separators, and only lists and tables inside it count
      Seq("div", "ul", "td").foreach { tag =>
        val (d1, d2) = (HtmlParser.parse(html).select(tag).headOption,
          HtmlParser.parse(html).select(tag).headOption)
        for (x <- d1; y <- d2) {
          containers += 1
          assert(TextRenderer.renderFrom(x) == walkRenderText(y), s"page $c: text from a $tag")
        }
      }
    }
    assert(containers >= 3 * N / 2, containers)
  }
}

package graft.extract

import BaseExtractor.{BaseCounted, Headings, Img, P}

/** Article extractor — /root/reference/app/lib/extractors/
  * ArticleExtractor.ts (live path only; preProcess is dead code).
  */
class ArticleExtractor extends BaseExtractor(
    ExtractOptions(minTextLength = 150, minScore = 25), "article") {

  override protected def getCustomSelectors: Seq[String] = Selectors.ArticleCustom

  /** handleSpecialSites (ArticleExtractor.ts:191-217), run on the
    * current parsed document (the reference reads a stale `this.$` —
    * SURVEY.md §0 rebuild decision). */
  override protected def preExtract(url: String): Unit = {
    if (url.contains("blog.csdn.net")) {
      doc.select("#content_views .pre-numbering").foreach(_.remove())
      doc.select(".article-copyright").foreach(_.remove())
    }
    if (url.contains("jianshu.com")) {
      doc.select(".collapse-tips").foreach(_.remove())
      doc.select(".support-author").foreach(_.remove())
    }
    if (url.contains("zhihu.com")) {
      doc.select(".ContentItem-actions").foreach(_.remove())
      doc.select(".Reward").foreach(_.remove())
    }
    if (url.contains("mp.weixin.qq.com")) {
      doc.select("#js_pc_qr_code").foreach(_.remove())
      doc.select(".qr_code_pc_outer").foreach(_.remove())
    }
  }

  private val Ads = ".ad, .advertisement, .banner"
  private val Comments = ".comment, .comments, #comments"
  override protected val countedSelectors: Seq[String] = BaseCounted ++ Seq(Ads, Comments)

  /** ArticleExtractor.ts:222-267 */
  override protected[extract] def nodeScore(s: SubtreeStats, i: Int): Int = {
    var score = super.nodeScore(s, i)
    val e = s.element(i)
    if (e.tag == "article" || e.hasClass("article")) score += 15
    val textLength = s.trimmedLength(i)
    if (textLength > 100) score += math.min(textLength / 100, 10)
    val imageCount = s.count(i, Img)
    if (imageCount > 0) score += math.min(imageCount * 2, 10)
    val headingCount = s.count(i, Headings)
    if (headingCount > 0) score += headingCount * 4
    val paragraphCount = s.count(i, P)
    if (paragraphCount > 0) score += math.min(paragraphCount, 5)
    if (s.count(i, Ads) > 0) score -= 10
    if (s.count(i, Comments) > 0) score -= 8
    score
  }

  /** ArticleExtractor.ts:272-333 */
  override protected def postProcess(element: Element): Unit = {
    super.postProcess(element)
    recodeCodeBlocks(element, "article-code")
    element.select("blockquote").foreach(_.addClass("article-quote"))
    wrapImages(element, "article-image-container", Some("article-image-caption"))
    // heading-level continuity repair (jumps clamped to +1)
    var lastLevel = 1
    element.select("h1, h2, h3, h4, h5, h6").foreach { h =>
      val level = h.tag.charAt(1) - '0'
      if (level - lastLevel > 1) {
        val newLevel = math.min(lastLevel + 1, 6)
        val nh = new Element(s"h$newLevel")
        h.children.toList.foreach(nh.appendChild)
        if (h.parent != null) h.parent.replaceChild(h, nh)
        lastLevel = newLevel
      } else lastLevel = level
    }
    // drop empty paragraphs without media
    element.select("p").foreach { p =>
      if (p.text.trim.isEmpty && p.select("img, video, iframe").isEmpty)
        p.remove()
    }
  }

  private val AuthorSelectors = Seq(
    "meta[name=\"author\"]", "meta[property=\"article:author\"]",
    ".author-name", ".author", ".byline", ".writer", "[rel=\"author\"]")
  private val TimeSelectors = Seq(
    "meta[property=\"article:published_time\"]", "meta[name=\"publishdate\"]",
    "time[pubdate]", ".publish-time", ".post-time", ".entry-date",
    ".post-date", "[datetime]")

  override protected def metadataOf(): Map[String, String] = Map(
    "author" -> firstText(AuthorSelectors),
    "publishTime" -> firstTime(TimeSelectors),
    "platform" -> "article")
}

/** Forum extractor — /root/reference/app/lib/extractors/
  * ForumExtractor.ts. Live-path note: reorganizeContent never fires
  * (no data-unique-id attrs exist without the dead preProcess), so
  * content passes through unchanged; the conversation-level analogue
  * is graft.pipeline.Reassembly.
  */
class ForumExtractor extends BaseExtractor(
    ExtractOptions(minTextLength = 50, minScore = 15), "forum") {

  override protected def getCustomSelectors: Seq[String] = Selectors.ForumCustom

  private val Quotes = ".quote, blockquote, .cited"
  private val UserInfo = ".user-info, .author-info"
  override protected val countedSelectors: Seq[String] = BaseCounted ++ Seq(Quotes, UserInfo)

  /** ForumExtractor.ts:278-310 */
  override protected[extract] def nodeScore(s: SubtreeStats, i: Int): Int = {
    var score = super.nodeScore(s, i)
    val e = s.element(i)
    if (e.hasClass("first-post") || e.hasClass("main-post")) score += 15
    if (e.hasClass("reply-content") || e.hasClass("comment-content")) score += 8
    if (s.count(i, Quotes) > 0) score -= 5
    if (s.count(i, UserInfo) > 0) score -= 3
    val textLength = s.trimmedLength(i)
    if (textLength > 100) score += math.min(textLength / 200, 8)
    score
  }

  /** ForumExtractor.ts:315-350 */
  override protected def postProcess(element: Element): Unit = {
    super.postProcess(element)
    element.select(Quotes).foreach(_.addClass("forum-quote"))
    recodeCodeBlocks(element, "forum-code")
    wrapImages(element, "forum-image-container", Some("forum-image-caption"))
  }

  private val TimeSelectors = Seq(
    "meta[property=\"article:published_time\"]", ".post-time", ".thread-time",
    ".publish-time", ".create-time", "time[pubdate]", "[datetime]")
  private val ReplySelectors = Seq(
    ".reply-count", ".comment-count", ".response-count", ".post-replies")
  private val ViewSelectors = Seq(".view-count", ".views", ".hits", ".read-count")

  override protected def metadataOf(): Map[String, String] = {
    val replyCount = parseCount(ReplySelectors).getOrElse(
      doc.select(".reply-content, .comment-content, .response-content").length.toLong)
    val viewCount = parseCount(ViewSelectors).getOrElse(0L)
    Map(
      "publishTime" -> firstTime(TimeSelectors),
      "replyCount" -> replyCount.toString,
      "viewCount" -> viewCount.toString,
      "platform" -> "forum")
  }
}

/** Weixin extractor — /root/reference/app/lib/extractors/
  * WeixinExtractor.ts (live path; the weixin-specific preProcess
  * noise removal is dead code).
  */
class WeixinExtractor extends BaseExtractor(
    ExtractOptions(minTextLength = 100, minScore = 20), "weixin") {

  override protected def getCustomSelectors: Seq[String] = Selectors.WeixinCustom

  private val Videos = "iframe, .video_iframe"
  private val AdAreas = ".advertisement_area, .reward_area"
  override protected val countedSelectors: Seq[String] = BaseCounted ++ Seq(Videos, AdAreas)

  /** WeixinExtractor.ts:281-315 */
  override protected[extract] def nodeScore(s: SubtreeStats, i: Int): Int = {
    var score = super.nodeScore(s, i)
    val e = s.element(i)
    if (e.id.contains("js_content") || e.hasClass("rich_media_content")) score += 20
    val textLength = s.trimmedLength(i)
    if (textLength > 100) score += math.min(textLength / 100, 10)
    val imageCount = s.count(i, Img)
    if (imageCount > 0) score += math.min(imageCount * 2, 10)
    val videoCount = s.count(i, Videos)
    if (videoCount > 0) score += videoCount * 5
    if (s.count(i, AdAreas) > 0) score -= 15
    score
  }

  /** WeixinExtractor.ts:320-356 */
  override protected def postProcess(element: Element): Unit = {
    super.postProcess(element)
    recodeCodeBlocks(element, "weixin-code")
    element.select("blockquote").foreach(_.addClass("weixin-quote"))
    wrapImages(element, "weixin-img-container", None)
    element.select("iframe").foreach(
      _.wrap(Dom.element("div", "class" -> "weixin-video-container")))
  }

  private val AuthorSelectors = Seq(
    "#js_name", ".rich_media_meta_nickname", ".profile_nickname",
    "meta[property=\"og:article:author\"]")
  private val TimeSelectors = Seq(
    "#publish_time", "#post-date", ".rich_media_meta_date", ".publish_time",
    "meta[property=\"og:article:published_time\"]")
  private val ReadSelectors = Seq(
    "#js_read_count", ".read_count", ".weui-page__read-count")

  override protected def metadataOf(): Map[String, String] = Map(
    "author" -> firstText(AuthorSelectors),
    "publishTime" -> firstTime(TimeSelectors),
    "readCount" -> parseCount(ReadSelectors).getOrElse(0L).toString,
    "platform" -> "weixin")
}

/** Dispatch + facade (route.ts:130-166 detectPageType +
  * ExtractorFactory). One instance per partition/thread.
  *
  * Single-parse optimization vs the reference (which parses once for
  * detection and again inside the extractor): the whitespace
  * pre-collapse is identical across extractors and never changes
  * element structure or class tokenization, so detection on the
  * collapsed parse is semantically equivalent — and halves parse
  * cost, the dominant per-turn expense.
  */
final class ExtractorSet {
  val article = new ArticleExtractor
  val forum = new ForumExtractor
  val weixin = new WeixinExtractor

  def forType(t: String): BaseExtractor = t match {
    case "weixin" => weixin
    case "forum"  => forum
    case _        => article
  }

  /** route.ts:130-166 */
  def detectPageType(url: String, doc: Element): String = {
    if (url.contains("mp.weixin.qq.com")) return "weixin"
    if (Selectors.ForumFeatures.exists(sel => doc.select(sel).nonEmpty)) return "forum"
    if (url.contains("forum") || url.contains("bbs") ||
        url.contains("thread") || url.contains("topic")) return "forum"
    "article"
  }

  /** Total per-turn extraction: guards become Left (quarantine row),
    * never a thrown task failure (route.ts error semantics mapped to
    * row-level errors, SURVEY.md §2.1). Scoring, empty-node removal,
    * the math pass and the text renderer are iterative and linear in
    * the page; the remaining recursive DOM walks (text, select,
    * serializer, normalization, attribute cleanup, markdown's inline
    * elements) overflow the stack on
    * pathologically deep nesting (thousands of unclosed `<div>`s);
    * that is quarantined too, with a fixed message because
    * StackOverflowError carries none.
    */
  def extract(html: String, url: String,
              renderFormats: Boolean = false): Either[String, ExtractResult] =
    try {
      if (html == null || html.length < 100)
        Left("Retrieved HTML content is too short or empty")
      else {
        val collapsed = article.preCollapse(html)
        val doc = HtmlParser.parse(collapsed)
        val pageType = detectPageType(url, doc)
        val extractor = forType(pageType)
        val result = extractor.extractDoc(doc, url)
        if (result.content.isEmpty)
          Left("No content could be extracted from the page")
        else if (!renderFormats) Right(result)
        else {
          // render straight off the DOM (no content re-parse); both
          // renderers only read it
          val main = extractor.lastMainContent
          Right(result.copy(markdown = MarkdownRenderer.renderFrom(main),
            textFormat = TextRenderer.renderFrom(main)))
        }
      }
    } catch {
      case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      case _: StackOverflowError =>
        Left("StackOverflowError: document nesting too deep to extract")
    }
}

package graft.extract

/** Selector constants, verbatim from the reference
  * (/root/reference/app/types/extractor.ts:44-145 and the
  * per-extractor custom lists).
  */
object Selectors {

  /** /root/reference/app/types/extractor.ts:44-78 */
  val ContentSelectors: Seq[String] = Seq(
    "article", ".post", ".entry", ".post-text", ".post-body",
    ".post-content", ".article-text", ".article-body", ".article-content",
    "[itemprop=\"articleBody\"]", ".entry-content", ".page-content",
    ".text-content",
    ".blog-post", ".blog-entry", ".blog-content",
    ".news-content", ".news-text", ".news-article",
    "main", "#main-content", ".main-content", ".content-body",
    ".content-text", "[role=\"main\"]",
    "[itemprop=\"text\"]", "[itemprop=\"description\"]",
    "[property=\"og:description\"]")

  /** /root/reference/app/types/extractor.ts:81-145 */
  val NoiseSelectors: Seq[String] = Seq(
    ".comment", ".comments", "#comments", ".comment-list", ".comment-content",
    ".header", ".footer", ".sidebar", ".widget",
    ".navigation", ".nav", ".navbar", ".menu", ".breadcrumb",
    ".advertisement", ".ad", ".ads", ".adsense", "[id*=\"ad-\"]", "[class*=\"ad-\"]",
    ".social", ".share", ".sharing", ".social-share",
    ".related", ".recommended", ".popular", ".trending",
    ".author-info", ".author-bio", ".author-meta",
    ".meta", ".metadata", ".post-meta", ".article-meta",
    ".tags", ".categories", ".taxonomy",
    ".subscribe", ".newsletter", ".notification",
    ".copyright", ".license",
    ".modal", ".overlay", ".popup",
    "[style*=\"display: none\"]", "[style*=\"visibility: hidden\"]",
    "[hidden]", ".hidden")

  /** /root/reference/app/lib/extractors/ArticleExtractor.ts:16-42 */
  val ArticleCustom: Seq[String] = Seq(
    "article", ".article", ".post-content", ".entry-content",
    ".article-content", ".article-body", ".post-body", ".content-main",
    ".blog-post", ".blog-entry", ".blog-content",
    "#article-content", "#post-content", "#content-main",
    "[itemprop=\"articleBody\"]", "[property=\"og:description\"]",
    ".rich_media_content", ".rich-content")

  /** /root/reference/app/lib/extractors/ForumExtractor.ts:20-44 */
  val ForumCustom: Seq[String] = Seq(
    ".thread-content", ".post-content", ".topic-content", ".forum-post",
    ".forum-content", ".message-content", ".bbcode-content",
    ".first-post", ".main-post", ".original-post", ".thread-first",
    ".reply-content", ".comment-content", ".response-content",
    "#thread-content", "#post-content", "[itemprop=\"articleBody\"]")

  /** /root/reference/app/lib/extractors/WeixinExtractor.ts:24-33 */
  val WeixinCustom: Seq[String] = Seq(
    "#js_content", ".rich_media_content", ".rich_media_area_primary",
    ".rich_media_area_primary_inner", "#content_html", ".article-content")

  /** /root/reference/app/api/extract/route.ts:139-154 */
  val ForumFeatures: Seq[String] = Seq(
    ".post", ".thread", ".topic", ".forum", ".reply", ".comment-list",
    "#thread", "#forum")

  /** /root/reference/app/lib/BaseExtractor.ts:43-54 */
  val KeepAttributes: Set[String] = Set(
    "src", "href", "title", "alt", "class", "id", "name", "content",
    "data-src", "data-original")
}

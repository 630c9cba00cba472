package graft.extract

import java.util.Locale

/** Extraction options — the two thresholds the reference's live path
  * reads from ExtractorOptions
  * (/root/reference/app/types/extractor.ts:19-24; defaults
  * BaseExtractor.ts:62-72; per-extractor overrides in each
  * subclass constructor).
  */
final case class ExtractOptions(
    minTextLength: Int = 25,
    minScore: Int = 20)

final case class ExtractMetricsData(
    nodesScored: Int,
    boilerplateRatio: Double,
    fallbackStage: Int)

final case class ExtractResult(
    title: String,
    content: String,
    textContent: String,
    platform: String,
    metadata: Map[String, String],
    metrics: ExtractMetricsData,
    markdown: String = "",
    textFormat: String = "")

/** The single-document extraction engine: a faithful Scala rebuild of
  * the reference's LIVE dataflow (/root/reference/app/lib/
  * BaseExtractor.ts:84-114 — parse → cleanDocument → title → main
  * content cascade → postProcess), with the SURVEY.md §0 effective-
  * semantics decisions baked in:
  *  - the "XPath" stage is a no-op (broken selector rewrite,
  *    BaseExtractor.ts:605-634) → the cascade starts at stage 2;
  *  - preProcess/cleanHtml never run (dead code);
  *  - cleanEmptyNodes removes EVERY childless+textless element —
  *    including <meta>/<img>/<br>/<iframe> — so meta-based title/
  *    metadata and image bonuses never fire on the live path
  *    (`find()` is descendants-only: a bare <img> has no descendant
  *    img; verified against BaseExtractor.ts:166-177);
  *  - base-URL is resolved from the CURRENT document after parse
  *    (the reference reads `this.$` before initializing it —
  *    ArticleExtractor.ts:167-169 — the evident intent is current-doc);
  *  - normalizeContent merges adjacent text nodes with a proper
  *    sibling merge (the reference's `:contains` removal can delete
  *    arbitrary elements, BaseExtractor.ts:191-203);
  *  - forum reorganizeContent is a live no-op (generateUniqueIds only
  *    ran in dead preProcess, so findMainPostId always returns "") —
  *    conversation-level reassembly is a Spark op instead
  *    (graft.pipeline.Reassembly).
  *
  * Scoring reads one [[SubtreeStats]] pass instead of walking each
  * scored element's subtree (the reference's calculateNodeScore and
  * calculateContentScore do, per candidate), so the heuristic stage
  * costs O(page) however deep the candidates nest; the scores are
  * bit-equal to the per-element formulas.
  *
  * Instances are stateful per call (document, counters) — use one
  * instance per thread/partition, like the reference's cached
  * singletons but partition-scoped (SURVEY.md §7.1).
  */
class BaseExtractor(val options: ExtractOptions = ExtractOptions(),
                    val platform: String = "article") {

  import BaseExtractor._

  protected var doc: Element = _
  /** Main-content element of the LAST extractDoc call — lets the
    * facade render output formats without re-parsing `content`. */
  private[extract] var lastMainContent: Element = _
  protected var nodesScored: Int = 0
  protected var fallbackStage: Int = 0

  private def textLengthOf(e: Element): Int = e.text.trim.length

  // ---- whitespace pre-collapse (every subclass extract,
  //      e.g. ArticleExtractor.ts:161-164) ----
  def preCollapse(html: String): String = Regexes.collapseWsAndNbsp(html) // JS \s incl. U+00A0

  def extract(html: String, url: String): ExtractResult =
    extractDoc(HtmlParser.parse(preCollapse(html)), url)

  /** Run the pipeline on an already-parsed (pre-collapsed) document. */
  def extractDoc(d: Element, url: String): ExtractResult = {
    doc = d
    nodesScored = 0
    fallbackStage = 0
    val origTextLen = doc.text.trim.length

    preExtract(url) // article: base-href + special-site cleanup

    cleanDocument()
    val title = TitleExtract.extract(doc)
    val mainContent = extractMainContent()
    postProcess(mainContent)
    val content = collapseBrRuns(mainContent)
    lastMainContent = mainContent

    val textContent = mainContent.text.trim
    val boilerplate =
      if (origTextLen <= 0) 0.0
      else math.max(0.0, math.min(1.0,
        1.0 - textContent.length.toDouble / origTextLen))

    ExtractResult(title, content, textContent, platform,
      metadataOf(),
      ExtractMetricsData(nodesScored, boilerplate, fallbackStage))
  }

  protected def preExtract(url: String): Unit = ()
  protected def metadataOf(): Map[String, String] = Map("platform" -> platform)
  protected def getCustomSelectors: Seq[String] = Nil

  // ---- document cleaning (BaseExtractor.ts:119-204) ----

  protected def cleanDocument(): Unit = {
    removeNoiseNodes()
    cleanEmptyNodes()
    normalizeContent()
  }

  protected def removeNoiseNodes(): Unit = {
    Selectors.NoiseSelectors.foreach { sel =>
      doc.select(sel).foreach { e => if (!shouldKeepNode(e)) removeNode(e) }
    }
    doc.select("[style*=\"display: none\"], [style*=\"visibility: hidden\"]")
      .foreach(_.remove())
    doc.select("div:empty, p:empty, span:empty").foreach(_.remove())
  }

  /** BaseExtractor.ts:146-164 */
  protected def shouldKeepNode(e: Element): Boolean = {
    if (e.select("img, video, iframe").nonEmpty) return true
    val text = e.text.trim
    if (text.length > options.minTextLength) {
      val linkText = e.select("a").map(_.text).mkString.trim
      val linkDensity = linkText.length.toDouble / text.length
      linkDensity < 0.5
    } else false
  }

  /** BaseExtractor.ts:166-177 — removes every element with no
    * trimmed text and no descendant img/video/iframe (kills
    * meta/img/br/hr/iframe leaves; see class doc). The verdicts are
    * taken before the first removal: the reference's pre-order walk
    * tests ancestors first, removing a blank, media-free element
    * changes no verdict still to come, and removals inside a detached
    * subtree cannot be seen. */
  protected def cleanEmptyNodes(): Unit = {
    val s = new SubtreeStats(doc, Seq(Media))
    (1 until s.size).foreach { i =>
      if (s.isBlank(i) && s.count(i, Media) == 0) s.element(i).remove()
    }
  }

  /** BaseExtractor.ts:179-204 (merge rebuilt as proper sibling
    * merge, SURVEY.md §0). */
  protected def normalizeContent(): Unit = {
    def walkTexts(e: Element): Unit = {
      e.children.foreach {
        case t: TextNode => t.data = Regexes.collapseWs(t.data).trim
        case c: Element  => walkTexts(c)
        case _           => ()
      }
    }
    walkTexts(doc)
    def mergeAdjacent(e: Element): Unit = {
      var i = 0
      while (i < e.children.length - 1) {
        (e.children(i), e.children(i + 1)) match {
          case (a: TextNode, b: TextNode) =>
            a.data = (a.data + " " + b.data).trim
            e.children.remove(i + 1)
          case _ => i += 1
        }
      }
      e.childElements.foreach(mergeAdjacent)
    }
    mergeAdjacent(doc)
  }

  /** BaseExtractor.ts:362-386 — guarded delete. */
  protected def removeNode(e: Element): Unit = {
    val textLength = textLengthOf(e)
    val linkLength = e.select("a").headOption.map(textLengthOf).getOrElse(0)
    val linkDensity = linkLength.toDouble / textLength // NaN when 0/0, like JS
    if (linkDensity > 0.5 || textLength < options.minTextLength) {
      e.remove()
    }
  }

  // ---- main-content cascade (BaseExtractor.ts:210-242) ----

  protected def extractMainContent(): Element = {
    // stage 1 (XPath) is a live no-op — see class doc.
    for (sel <- getCustomSelectors) {
      doc.select(sel).headOption match {
        case Some(e) if isValidContent(e) => fallbackStage = 2; return e
        case _                            => ()
      }
    }
    for (sel <- Selectors.ContentSelectors) {
      doc.select(sel).headOption match {
        case Some(e) if isValidContent(e) => fallbackStage = 3; return e
        case _                            => ()
      }
    }
    findBestNode() match {
      case Some(e) => fallbackStage = 4; e
      case None =>
        fallbackStage = 5
        doc.select("body").headOption.getOrElse(doc)
    }
  }

  /** BaseExtractor.ts:326-360 */
  protected def isValidContent(e: Element): Boolean = validContent(statsOf(e), 0)

  protected[extract] def validContent(s: SubtreeStats, i: Int): Boolean = {
    if (ExcludeTags.contains(s.element(i).tag)) return false
    if (nodeScore(s, i) < options.minScore) return false
    val textLength = s.trimmedLength(i)
    if (textLength < options.minTextLength) return false
    val linkDensity = s.firstLinkLength(i).toDouble / textLength
    linkDensity <= 0.5
  }

  /** BaseExtractor.ts:639-664 — scores every div/article/section/main
    * from one [[SubtreeStats]] pass over the document. */
  protected def findBestNode(): Option[Element] = {
    val s = statsOf(doc)
    var best = -1
    var maxScore = -1.0
    (1 until s.size).foreach { i =>
      if (CandidateTags.contains(s.element(i).tag)) {
        val score = contentScore(s, i)
        if (score > maxScore) { maxScore = score; best = i }
      }
    }
    if (best >= 0 && validContent(s, best)) Some(s.element(best)) else None
  }

  // ---- scoring (BaseExtractor.ts:251-297, 669-726) ----

  /** The selectors whose descendant counts the node score reads. */
  protected def countedSelectors: Seq[String] = BaseCounted

  private[extract] def statsOf(e: Element): SubtreeStats = new SubtreeStats(e, countedSelectors)

  /** Node score of `e`, from a stats pass over `e`'s subtree. */
  final def calculateNodeScore(e: Element): Int = nodeScore(statsOf(e), 0)

  /** Content score of `e`, from a stats pass over `e`'s subtree. */
  final def calculateContentScore(e: Element): Double = contentScore(statsOf(e), 0)

  /** Base node score of element i — overridden per platform with
    * additive deltas. */
  protected[extract] def nodeScore(s: SubtreeStats, i: Int): Int = {
    nodesScored += 1
    val e = s.element(i)
    var score = 0
    score += TagWeights.getOrElse(e.tag, 0)
    e.classNames.foreach { cn =>
      val lc = cn.toLowerCase(Locale.ROOT)
      score += PositiveClassWeights.getOrElse(lc, 0)
      score += NegativeClassWeights.getOrElse(lc, 0)
    }
    val textLength = s.trimmedLength(i)
    val linkLength = s.firstLinkLength(i)
    val linkDensity = linkLength.toDouble / (if (textLength == 0) 1 else textLength)
    score += math.min(textLength / 100, 10)
    if (linkDensity > 0.5) score -= math.floor(linkDensity * 10).toInt
    score += math.min(s.count(i, Img) * 2, 8)
    score += math.min(s.count(i, P), 5)
    score += math.min(s.count(i, Headings) * 2, 6)
    score
  }

  protected[extract] def contentScore(s: SubtreeStats, i: Int): Double = {
    var score: Double = nodeScore(s, i).toDouble
    val textLength = s.trimmedLength(i)
    val nodeLength = s.innerHtmlLength(i)
    score += textLength.toDouble / (if (nodeLength == 0) 1 else nodeLength) * 10
    score += math.min(s.pScore(i), 30)
    score += (if (s.count(i, Img) > 0) 5 else 0)
    score += (if (s.count(i, Table) > 0) 5 else 0)
    score += (if (s.count(i, Lists) > 0) 3 else 0)
    score += (if (s.count(i, Code) > 0) 3 else 0)
    score -= s.depth(i)
    score -= s.linkTextLength(i).toDouble / (if (textLength == 0) 1 else textLength) * 20
    ContentKeywords.foreach { kw =>
      if (s.holds(i, kw)) score += 2
    }
    math.max(0, score)
  }

  // ---- post-processing (BaseExtractor.ts:388-599) ----

  protected def postProcess(element: Element): Unit = {
    cleanAttributes(element)
    element.select("*:empty").foreach(_.remove())
    normalizeContent() // whole-document, like the reference
    processSpecialTags(element)
    processMathFormulas(element)
    processQuotesAndNotes(element)
  }

  /** BaseExtractor.ts:302-321 */
  protected def cleanAttributes(e: Element): Unit = {
    e.attrs.keys.toList.foreach { a =>
      if (!Selectors.KeepAttributes.contains(a.toLowerCase(Locale.ROOT))) e.removeAttr(a)
    }
    e.childElements.foreach(cleanAttributes)
  }

  /** Replace an element's children with a re-parsed HTML string
    * (cheerio `$el.html(str)`). */
  protected def setInnerHtml(e: Element, html: String): Unit = {
    e.children.toList.foreach(_.remove())
    HtmlParser.parseFragment(html).foreach(e.appendChild)
  }

  /** BaseExtractor.ts:547-600 */
  protected def processSpecialTags(elem: Element): Unit = {
    // tables
    elem.select("table").foreach { table =>
      table.select("tr").headOption.foreach { firstRow =>
        firstRow.select("td").foreach { cell =>
          val th = new Element("th")
          cell.children.toList.foreach(th.appendChild)
          if (cell.parent != null) cell.parent.replaceChild(cell, th)
        }
      }
      val wrapper = Dom.element("div", "class" -> "table-responsive")
      table.wrap(wrapper)
      table.addClass("content-table")
    }
    // code blocks
    elem.select("pre, code").foreach { code =>
      val html = code.innerHtml
      if (html.nonEmpty) {
        for (cls <- code.attr("class")) {
          val m = Regexes.Language.matcher(cls)
          if (m.find()) code.setAttr("data-language", m.group(1))
        }
        setInnerHtml(code, html.replace("\n", "<br>").replace(" ", "&nbsp;"))
      }
      code.addClass("content-code")
    }
    // images (dead on the live path — imgs die in cleanEmptyNodes —
    // but exercised by unit tests)
    elem.select("img").foreach { img =>
      img.attr("data-src").orElse(img.attr("data-original"))
        .foreach(ds => img.setAttr("src", ds))
      img.attr("alt").filter(_.nonEmpty).foreach { alt =>
        img.wrap(Dom.element("figure", "class" -> "content-figure"))
        val cap = Dom.element("figcaption", "class" -> "figure-caption")
        HtmlParser.parseFragment(alt).foreach(cap.appendChild)
        val fig = img.parent
        if (fig != null) fig.appendChild(cap)
      }
      img.addClass("img-fluid content-image")
    }
  }

  /** BaseExtractor.ts:414-501 — note the reference applies the
    * `$…$` regex BEFORE `$$…$$`, so display math is consumed as two
    * inline matches first (order-sensitive, bug-compatible). */
  protected def processMathFormulas(elem: Element): Unit = {
    def tagTex(m: Element, cls: String): Unit = {
      val tex = m.text.trim
      if (tex.nonEmpty) { m.setAttr("data-tex", tex); m.addClass(cls) }
    }
    // The reference tags the rendered-math elements in two selects and
    // then marks up the text nodes. This is one pre-order walk with an
    // explicit stack over the nodes present on arrival, with the same
    // result: tagging changes no element's text and no other element's
    // match, and an element's text is taken before its descendants'
    // text nodes are marked up. A marked-up text node is replaced in
    // its parent by the parsed markup, which is not visited.
    var parents = new Array[Element](16)
    var next = new Array[Int](16) // each parent's next child index
    var top = 0
    parents(0) = elem
    while (top >= 0) {
      val p = parents(top)
      val i = next(top)
      if (i == p.children.length) top -= 1
      else p.children(i) match {
        case t: TextNode =>
          val text = Regexes.markupMath(t.data)
          if (text eq t.data) next(top) = i + 1
          else {
            val nodes = HtmlParser.parseFragment(text)
            t.remove()
            nodes.zipWithIndex.foreach { case (n, k) => p.insertChild(i + k, n) }
            next(top) = i + nodes.length
          }
        case c: Element =>
          if (MathInlineTags(c)) tagTex(c, "math-inline")
          if (MathDisplayTags(c)) tagTex(c, "math-display")
          next(top) = i + 1
          top += 1
          if (top == parents.length) {
            parents = java.util.Arrays.copyOf(parents, 2 * top)
            next = java.util.Arrays.copyOf(next, 2 * top)
          }
          parents(top) = c
          next(top) = 0
        case _ => next(top) = i + 1
      }
    }
  }

  /** BaseExtractor.ts:506-542 */
  protected def processQuotesAndNotes(elem: Element): Unit = {
    elem.select("blockquote").foreach { q =>
      q.addClass("content-quote")
      q.select("cite").foreach(_.addClass("quote-source"))
    }
    elem.select(".footnote, .reference").foreach { n =>
      n.addClass("content-footnote")
      n.select("a").foreach { link =>
        if (link.attr("href").exists(_.startsWith("#")))
          link.addClass("footnote-link")
      }
    }
    elem.select(".sidenote, .marginnote").foreach(_.addClass("content-sidenote"))
  }

  /** `(\s*<br\s*\/?>\s*){3,}` → `<br><br>` on serialized inner HTML,
    * the tail of every reference extractor's postProcess, run by
    * [[extractDoc]] after [[postProcess]]. Returns the final inner
    * HTML: the serialization it scanned when nothing collapsed, which
    * is the common case. */
  private def collapseBrRuns(elem: Element): String = {
    val html = elem.innerHtml
    val replaced = Regexes.collapseBrRuns(html)
    if (replaced eq html) html
    else {
      setInnerHtml(elem, replaced)
      elem.innerHtml
    }
  }

  /** Shared subclass helper: `\n`→`<br>` in pre/code + a class. */
  protected def recodeCodeBlocks(elem: Element, cls: String): Unit = {
    elem.select("pre, code").foreach { b =>
      val html = b.innerHtml
      if (html.nonEmpty) setInnerHtml(b, html.replace("\n", "<br>"))
      b.addClass(cls)
    }
  }

  /** Shared subclass helper: image container + optional caption div. */
  protected def wrapImages(elem: Element, containerCls: String,
                           captionCls: Option[String]): Unit = {
    elem.select("img").foreach { img =>
      img.wrap(Dom.element("div", "class" -> containerCls))
      captionCls.foreach { cc =>
        img.attr("alt").filter(_.nonEmpty).foreach { alt =>
          val cap = Dom.element("div", "class" -> cc)
          HtmlParser.parseFragment(alt).foreach(cap.appendChild)
          val container = img.parent
          if (container != null) container.appendChild(cap)
        }
      }
    }
  }

  // ---- shared metadata helpers (selector → first text/content) ----

  protected def firstText(selectors: Seq[String]): String = {
    for (sel <- selectors) {
      val matches = doc.select(sel)
      if (matches.nonEmpty) {
        return if (sel.startsWith("meta"))
          matches.head.attr("content").getOrElse("")
        else matches.head.text.trim
      }
    }
    ""
  }

  /** Selector loop with `datetime` attribute preference
    * (ArticleExtractor.ts:128-154 pattern). */
  protected def firstTime(selectors: Seq[String]): String = {
    for (sel <- selectors) {
      val matches = doc.select(sel)
      if (matches.nonEmpty) {
        if (sel.startsWith("meta")) return matches.head.attr("content").getOrElse("")
        if (matches.head.attr("datetime").isDefined)
          return matches.head.attr("datetime").getOrElse("")
        return matches.head.text.trim
      }
    }
    ""
  }

  /** `parseInt(text.replace(/[^0-9]/g, ''))` — None when no digits. */
  protected def parseCount(selectors: Seq[String]): Option[Long] = {
    for (sel <- selectors) {
      val matches = doc.select(sel)
      if (matches.nonEmpty) {
        val digits = matches.head.text.trim.filter(_.isDigit)
        if (digits.nonEmpty) return digits.take(18).toLongOption
      }
    }
    None
  }
}

private object BaseExtractor {
  // selectors whose descendant counts the base scores read
  val Img = "img"
  val P = "p"
  val Headings = "h1, h2, h3, h4, h5, h6"
  val Table = "table"
  val Lists = "ul, ol"
  val Code = "pre, code"
  val Media = "img, video, iframe"
  val BaseCounted: Seq[String] = Seq(Img, P, Headings, Table, Lists, Code)
  val CandidateTags: Set[String] = Set("div", "article", "section", "main")
  val MathInlineTags: Element => Boolean = Selector.compoundList("span.math-inline, .MathJax_Preview")
  val MathDisplayTags: Element => Boolean = Selector.compoundList("div.math-display, .MathJax_Display")
  val ContentKeywords: Seq[String] = Seq("article", "content", "post", "entry", "main", "text")

  /** BaseExtractor.ts:326-360 */
  val ExcludeTags: Set[String] = Set("nav", "header", "footer", "aside", "style",
    "script", "meta", "link")
  /** BaseExtractor.ts:8-19 */
  val TagWeights: Map[String, Int] = Map(
    "article" -> 10, "main" -> 8, "section" -> 6, "div" -> 4,
    "p" -> 3, "pre" -> 3, "code" -> 3, "blockquote" -> 2,
    "figure" -> 2, "table" -> 2)
  /** BaseExtractor.ts:22-29 */
  val PositiveClassWeights: Map[String, Int] = Map(
    "article" -> 8, "content" -> 8, "post" -> 6, "entry" -> 6,
    "text" -> 4, "body" -> 4)
  /** BaseExtractor.ts:32-40 */
  val NegativeClassWeights: Map[String, Int] = Map(
    "sidebar" -> -8, "comment" -> -6, "advertisement" -> -8, "ad" -> -8,
    "nav" -> -6, "footer" -> -6, "header" -> -4)
}

package graft.extract

import org.scalatest.funsuite.AnyFunSuite

/** Exact-integer checks of the scoring formulas (SURVEY.md §2.6) on
  * constructed nodes — the numeric heart of content selection.
  */
class ScoringSpec extends AnyFunSuite {

  private def base = new BaseExtractor()

  private def elem(html: String, sel: String): Element =
    HtmlParser.parse(html).select(sel).head

  test("tag + class weights") {
    // article tag (10) + class 'content' (+8), no text
    val e = elem("<body><article class=\"content\"></article></body>", "article")
    assert(base.calculateNodeScore(e) == 18)
    // div (4) + sidebar (-8) + ad (-8)
    val e2 = elem("<body><div class=\"sidebar ad\"></div></body>", "div")
    assert(base.calculateNodeScore(e2) == -12)
  }

  test("text length bonus caps at 10") {
    val text = "x" * 2500
    val e = elem(s"<body><div>$text</div></body>", "div")
    // div 4 + min(2500/100, 10) = 14
    assert(base.calculateNodeScore(e) == 14)
  }

  test("link density penalty uses FIRST link only") {
    val linkText = "l" * 80
    val rest = "r" * 20
    val e = elem(s"<body><div><a href=\"/x\">$linkText</a>$rest</div></body>", "div")
    // textLength=100, linkDensity=0.8 -> -floor(8)= -8; +1 text bonus; div 4
    assert(base.calculateNodeScore(e) == 4 + 1 - 8)
  }

  test("media / paragraph / heading bonuses cap") {
    val imgs = "<img src=\"a\">" * 10
    val ps = "<p>t</p>" * 10
    val hs = "<h2>h</h2>" * 10
    val e = elem(s"<body><div>$imgs$ps$hs</div></body>", "div")
    // div 4 + img min(20,8)=8 + p min(10,5)=5 + heading min(20,6)=6 ; text "thththt..." len 20 -> +0
    assert(base.calculateNodeScore(e) == 4 + 8 + 5 + 6)
  }

  test("article delta: +15 for article tag, heading x4 uncapped") {
    val a = new ArticleExtractor
    val e = elem("<body><article><h2>h</h2><h3>g</h3></article></body>", "article")
    // base: article 10 + heading min(4,6)=4 ; delta: +15 + 4*2=8
    assert(a.calculateNodeScore(e) == 10 + 4 + 15 + 8)
  }

  test("forum delta: main-post +15, quote -5") {
    val f = new ForumExtractor
    val e = elem("<body><div class=\"main-post\"><blockquote>q</blockquote></div></body>", "div")
    // base: div 4 + pre/code0; blockquote descendant: no base effect
    // delta: +15 (main-post) -5 (quote present)
    assert(f.calculateNodeScore(e) == 4 + 15 - 5)
  }

  test("weixin delta: js_content +20, iframe x5") {
    val w = new WeixinExtractor
    val e = elem("<body><div id=\"js_content\"><iframe src=\"v\"></iframe></div></body>", "div")
    assert(w.calculateNodeScore(e) == 4 + 20 + 5)
  }

  test("live weight tables: article.content scores 10 + 8 + text + paragraph") {
    val e = Dom.element("article", "class" -> "content")
    val p = new Element("p")
    p.appendChild(new TextNode("x" * 250))
    e.appendChild(p)
    // tag article 10, class content +8, text 250 → +2, 1 <p> → +1
    assert(base.calculateNodeScore(e) == 10 + 8 + 2 + 1)
  }

  test("heuristic argmax: div.content beats section.text at stage 4") {
    // two candidates with byte-identical inner content, so only the
    // tag/class weights differ: div.content 4+8=12, section.text
    // 6+4=10; neither matches a stage-2/3 selector
    def para(w: String) = s"<p>${(w + " ") * 12}end.</p>"
    def body(w: String) = para(w) * 6
    val html =
      s"""<html><body>
         |<div class="content">${body("alpha")}</div>
         |<section class="text">${body("bravo")}</section>
         |</body></html>""".stripMargin
    val r = base.extract(html, "https://example.com/w")
    assert(r.metrics.fallbackStage == 4)
    assert(r.textContent.startsWith("alpha"))
  }

  test("content score subtracts depth and clamps at 0") {
    val e = elem("<body><div><div><div class=\"sidebar ad\" id=\"deep\"></div></div></div></body>", "#deep")
    assert(base.calculateContentScore(e) == 0.0) // negative clamped
  }
}

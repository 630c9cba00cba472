package graft.extract

import org.scalatest.funsuite.AnyFunSuite

class HtmlEngineSpec extends AnyFunSuite {

  test("parse basic structure + synthesize head/body") {
    val doc = HtmlParser.parse("<p>hello</p>")
    assert(doc.select("body").nonEmpty)
    assert(doc.select("body p").head.text == "hello")
  }

  test("explicit html/head/body respected") {
    val doc = HtmlParser.parse(
      "<html><head><title>T</title></head><body><div id=\"a\">x</div></body></html>")
    assert(doc.select("title").head.text == "T")
    assert(doc.select("body #a").head.text == "x")
    assert(doc.select("head").size == 1 && doc.select("body").size == 1)
  }

  test("head-eligible tags go to head") {
    val doc = HtmlParser.parse("<title>T</title><meta name=\"a\" content=\"b\"><p>x</p>")
    assert(doc.select("head title").nonEmpty)
    assert(doc.select("head meta").nonEmpty)
    assert(doc.select("body p").nonEmpty)
  }

  test("void and self-closing tags") {
    val doc = HtmlParser.parse("<body><p>a<br>b<img src=\"x.png\"/>c</p></body>")
    val p = doc.select("p").head
    assert(p.select("br").size == 1)
    assert(p.select("img").head.attr("src").contains("x.png"))
    assert(p.text == "abc")
  }

  test("raw text script/style not parsed as tags") {
    val doc = HtmlParser.parse("<body><script>if (a < b) { x('<div>') }</script><p>y</p></body>")
    assert(doc.select("div").isEmpty)
    assert(doc.select("p").head.text == "y")
    assert(doc.select("script").head.text.contains("a < b"))
  }

  test("entities decoded in text and attrs") {
    val doc = HtmlParser.parse("<body><p title=\"a&amp;b\">x &lt;tag&gt; &#65; &#x42;</p></body>")
    val p = doc.select("p").head
    assert(p.attr("title").contains("a&b"))
    assert(p.text == "x <tag> A B")
  }

  test("unclosed and mismatched tags never throw") {
    val inputs = Seq("<div><p>a", "<b><i>x</b></i>", "</p>text",
      "<div class=>x</div>", "<", "<!", "<p", "a<b>c<")
    inputs.foreach { h => HtmlParser.parse(h) } // must not throw
  }

  test("p auto-closed by block element") {
    val doc = HtmlParser.parse("<body><p>one<div>two</div></body>")
    val p = doc.select("p").head
    assert(p.text == "one")
    assert(doc.select("div").head.parent.tag == "body")
  }

  test("comments preserved but textless") {
    val doc = HtmlParser.parse("<body><div><!-- note -->x</div></body>")
    assert(doc.select("div").head.text == "x")
    assert(doc.select("div").head.outerHtml.contains("<!-- note -->"))
  }

  test("selector: class / id / attr / compound / descendant / child / comma") {
    val doc = HtmlParser.parse(
      """<body><div class="a b" id="top"><span class="a">1</span>
        |<p data-x="hello world">2</p></div><article role="main">3</article></body>""".stripMargin)
    assert(doc.select(".a").size == 2)
    assert(doc.select("div.a").size == 1)
    assert(doc.select("#top").size == 1)
    assert(doc.select("[data-x]").size == 1)
    assert(doc.select("[data-x*=\"lo wo\"]").size == 1)
    assert(doc.select("[data-x^=hello]").size == 1)
    assert(doc.select("[role=\"main\"]").head.text == "3")
    assert(doc.select("div span").size == 1)
    assert(doc.select("div > p").size == 1)
    assert(doc.select("body > span").isEmpty)
    assert(doc.select("span, p, article").size == 3)
  }

  test("selector: :empty and :contains") {
    val doc = HtmlParser.parse("<body><div></div><div> </div><p>needle here</p></body>")
    assert(doc.select("div:empty").size == 1)
    assert(doc.select("p:contains(needle)").size == 1)
    assert(doc.select("p:contains(missing)").isEmpty)
  }

  test("unknown pseudo matches nothing (css-select throw → swallowed)") {
    val doc = HtmlParser.parse("<body><div>x</div></body>")
    assert(doc.select("div:nth-child(2)").isEmpty)
    assert(doc.select("article[contains(@class, 'content')]").isEmpty)
  }

  test("serialization round trip, attribute order preserved") {
    val doc = HtmlParser.parse("<body><div b=\"2\" a=\"1\">x &amp; y</div></body>")
    val div = doc.select("div").head
    assert(div.outerHtml == "<div b=\"2\" a=\"1\">x &amp; y</div>")
  }

  test("wrap") {
    val doc = HtmlParser.parse("<body><img src=\"a\"></body>")
    val img = doc.select("img").head
    img.wrap(Dom.element("figure"))
    assert(doc.select("figure img").size == 1)
  }

  test("dice similarity") {
    assert(TitleExtract.dice("a b c", "a b c") == 1.0)
    assert(TitleExtract.dice("", "x") == 0.0)
    assert(TitleExtract.dice("hello world", "hello there") == 0.5)
  }

  test("cleanTitle stages") {
    assert(TitleExtract.cleanTitle("My  Title | SiteName") == "My Title")
    assert(TitleExtract.cleanTitle("Title [draft] end") == "Title end")
    assert(TitleExtract.cleanTitle("A <b>bold</b> title") == "A bold title")
  }
}

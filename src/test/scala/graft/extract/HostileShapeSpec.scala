package graft.extract

import org.scalatest.funsuite.AnyFunSuite

/** Shapes whose cost used to grow with the square of their size, each
  * timed on its own and pinned to its exact outcome. A quadratic path
  * misses these bounds by far more than host drift can explain; the
  * measurements in the comments were taken on a 4-core VM.
  */
class HostileShapeSpec extends AnyFunSuite {

  /** Best wall time of `reps` runs after `warm` warm-up runs, in ms. */
  private def bestMs[T](warm: Int, reps: Int)(f: => T): (Double, T) = {
    (1 to warm).foreach(_ => f)
    var best = Double.MaxValue
    var out: T = null.asInstanceOf[T]
    (1 to reps).foreach { _ =>
      val t0 = System.nanoTime()
      out = f
      best = math.min(best, (System.nanoTime() - t0) / 1e6)
    }
    (best, out)
  }

  private class MathProbe extends BaseExtractor() {
    def math(e: Element): Unit = processMathFormulas(e)
  }

  test("20,000 unclosed <div> then 20,000 stray </span> parse in linear time") {
    val n = 20000
    val html = "<div>" * n + "</span>" * n
    assert(html.length == 240000)
    bestMs(5, 0)(HtmlParser.parse("<div>" * 2000 + "</span>" * 2000))
    val (ms, root) = bestMs(0, 3)(HtmlParser.parse(html))
    // the shape: #root > html > (head, body), body > a chain of n divs
    val htmlEl = root.children.toList match {
      case List(h: Element) if h.tag == "html" => h
      case other => fail(s"root children: $other")
    }
    val body = htmlEl.children.toList match {
      case List(h: Element, b: Element) if h.tag == "head" && h.children.isEmpty && b.tag == "body" => b
      case other => fail(s"html children: $other")
    }
    var cur: Element = body
    var depth = 0
    while (cur.children.nonEmpty) {
      cur = cur.children.toList match {
        case List(d: Element) if d.tag == "div" && d.attrs.isEmpty => d
        case other => fail(s"at depth $depth: $other")
      }
      depth += 1
    }
    assert(depth == n)
    // a close tag used to search the open stack: 3,291 ms; 10 ms with
    // per-name open counts
    assert(ms < 300, f"$ms%.0f ms")
  }

  test("a title of 8,000 unclosed brackets cleans in linear time") {
    val title = " (a" * 8000
    val (ms, cleaned) = bestMs(3, 3)(TitleExtract.cleanTitle(title))
    assert(cleaned == title.trim)
    // each unclosed opener used to scan to the end of the line:
    // 1,794 ms; 4.5 ms with a scan that stops at the first opener
    // without a closer
    assert(ms < 150, f"$ms%.0f ms")
  }

  test("a <p> of 4,000 unterminated \\begin{equation} extracts in linear time") {
    val text = "\\begin{equation} x " * 4000
    val html = "<html><body><p>" + text + "</p></body></html>"
    assert(html.length > 74000 && html.length < 78000)
    val set = new ExtractorSet
    val (ms, res) = bestMs(2, 3)(set.extract(html, "https://example.com/math", renderFormats = true))
    val r = res.fold(err => fail(err), identity)
    assert(r.metrics.fallbackStage == 5)
    assert(r.textContent == text.trim)
    assert(r.content == "<p>" + text.trim + "</p>")
    assert(r.textFormat == text.trim)
    assert(r.markdown == text.trim.replace("\\", "\\\\"))
    // each \begin used to scan to the end of the text: 9,961 ms; 3.1 ms
    // with a scan that stops at the first \begin without an \end
    assert(ms < 300, f"$ms%.0f ms")
  }

  test("math markup on a 100,000-deep chain runs on a 256 KB thread stack") {
    val root = new Element("div")
    var cur = root
    (1 to 100000).foreach { _ =>
      val d = new Element("div")
      cur.appendChild(d)
      cur = d
    }
    cur.appendChild(new TextNode("energy $E=mc^2$ here"))
    var thrown: Throwable = null
    val t = new Thread(null, () => try new MathProbe().math(root) catch {
      case e: Throwable => thrown = e
    }, "deep-math", 256 * 1024)
    t.start()
    t.join()
    // the recursive walks (this pass's and the selector's) overflowed
    assert(thrown == null, String.valueOf(thrown))
    assert(cur.children.map {
      case t: TextNode => t.data
      case e: Element  => e.outerHtml
      case c           => c.toString
    }.toList == List("energy ",
      """<span class="math-inline" data-tex="E=mc^2">$E=mc^2$</span>""", " here"))
  }
}

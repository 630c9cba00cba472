package graft.extract

import java.util.regex.Pattern
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Each single-pass scanner in [[Regexes]] against the `Pattern` it
  * replaced, which lives on only here as its specification: on 12,000
  * seeded strings over a small alphabet the outputs must be equal, and
  * where the pattern finds nothing the scanner must hand back its
  * input.
  */
class ScannerSpec extends AnyFunSuite {

  private val BrRuns = Pattern.compile("(\\s*<br\\s*/?>\\s*){3,}")
  private val MathInline = Pattern.compile("\\$([^\\$]+)\\$")
  private val MathDisplay = Pattern.compile("\\$\\$([^\\$]+)\\$\\$")
  private val MathEquation = Pattern.compile("\\\\begin\\{equation\\}([\\s\\S]*?)\\\\end\\{equation\\}")
  private val MathAlign = Pattern.compile("\\\\begin\\{align\\}([\\s\\S]*?)\\\\end\\{align\\}")
  private val EscPattern = Pattern.compile("([*_`\\[\\]])")
  private val NlRuns = Pattern.compile("\\n{3,}")
  private val Punct = Pattern.compile("[.\u3002!\uff01?\uff1f]")
  private val Ws = Pattern.compile("\\s+")
  private val TitleBracket = Pattern.compile("\\s*[(\\[{].*?[)\\]}]\\s*")
  private val UWs = Pattern.compile("(?U)\\s+")

  private val alphabet = Vector("<br>", "<br/>", "<BR >", "<br \n/>", "<br", "<b", "/>", ">",
    "\\begin{equation}", "\\end{equation}", "\\begin{align}", "\\end{align}", "\\begin{",
    "\\end{", "$", "$$", "(", ")", "[", "]", "{", "}", "\\", "*", "_", "`", " ", " ", "  ",
    "\t", "\n", "\n\n\n", "\r", "\r\n", "\u000b", "\f", "\u0001", "\u0085", "\u00a0",
    "\u2003", "\u2028", "\u2029", "\u3000", "&nbsp;", "&#160;", "&nbsp", "&", "#160;",
    "a", "b", "x", "E=mc^2", ".", "\u3002", "!", "?", "\uff01", "\uff1f", "\u2022")

  private val N = 12000

  /** The seeded strings, some of them drawn from a few tokens only so
    * that long runs of one kind occur; `common` tokens are drawn eight
    * times as often as the rest. */
  private def strings(seed: Int, common: String*): Iterator[String] = {
    val r = new Random(seed)
    val weighted = alphabet ++ Vector.fill(8)(common).flatten
    Iterator.fill(N) {
      val pool = if (r.nextInt(3) == 0) Vector.fill(3)(weighted(r.nextInt(weighted.length)))
                 else weighted
      val sb = new StringBuilder
      (0 until r.nextInt(40)).foreach(_ => sb.append(pool(r.nextInt(pool.length))))
      sb.toString
    }
  }

  /** `scanner` equals `spec` on every string, and returns its input
    * when `matches` says the pattern finds nothing. */
  private def differential(seed: Int, matches: String => Boolean, common: String*)
                          (scanner: String => String, spec: String => String): Unit = {
    var hits = 0
    strings(seed, common: _*).foreach { s =>
      val out = scanner(s)
      assert(out == spec(s), s"input: ${escape(s)}")
      if (matches(s)) hits += 1 else assert(out eq s, s"input: ${escape(s)}")
    }
    assert(hits >= N / 20, s"only $hits inputs matched")
  }

  private def escape(s: String): String =
    s.flatMap(c => if (c < ' ' || c > '~') f"\\u${c.toInt}%04x" else c.toString)

  private def found(p: Pattern)(s: String): Boolean = p.matcher(s).find()

  test("<br> runs") {
    differential(1, found(BrRuns), "<br>", "<br/>", "<br >", " ", "\n")(Regexes.collapseBrRuns,
      BrRuns.matcher(_).replaceAll("<br><br>"))
  }

  /** The old per-text-node math pass: four patterns in the reference's
    * order, each on the previous one's output. */
  private def mathSpec(text0: String): String = {
    var text = text0
    def repl(p: Pattern, mk: String => String): Unit = {
      val m = p.matcher(text)
      if (m.find()) {
        val sb = new StringBuilder
        var last = 0
        do {
          sb.append(text.substring(last, m.start())).append(mk(m.group(1)))
          last = m.end()
        } while (m.find())
        sb.append(text.substring(last))
        text = sb.toString
      }
    }
    repl(MathInline, f => s"""<span class="math-inline" data-tex="$f">$$$f$$</span>""")
    repl(MathDisplay, f => s"""<div class="math-display" data-tex="$f">$$$$$f$$$$</div>""")
    repl(MathEquation,
      f => s"""<div class="math-display" data-tex="$f">\\begin{equation}$f\\end{equation}</div>""")
    repl(MathAlign,
      f => s"""<div class="math-display" data-tex="$f">\\begin{align}$f\\end{align}</div>""")
    text
  }

  test("math markup") {
    differential(2, s => Seq(MathInline, MathDisplay, MathEquation, MathAlign).exists(found(_)(s)))(
      Regexes.markupMath, mathSpec)
  }

  /** The old math pass over a DOM: two selects tag the rendered-math
    * elements, then a recursive walk over snapshots of each element's
    * children marks up the text nodes. */
  private def mathPassSpec(elem: Element): Unit = {
    def tagTex(sel: String, cls: String): Unit = elem.select(sel).foreach { m =>
      val tex = m.text.trim
      if (tex.nonEmpty) { m.setAttr("data-tex", tex); m.addClass(cls) }
    }
    tagTex("span.math-inline, .MathJax_Preview", "math-inline")
    tagTex("div.math-display, .MathJax_Display", "math-display")
    def traverse(e: Element): Unit = e.children.toList.foreach {
      case t: TextNode =>
        val text = mathSpec(t.data)
        if (text != t.data) {
          val idx = e.childIndex(t)
          t.remove()
          HtmlParser.parseFragment(text).zipWithIndex.foreach { case (n, k) => e.insertChild(idx + k, n) }
        }
      case c: Element => traverse(c)
      case _          => ()
    }
    traverse(elem)
  }

  private class MathProbe extends BaseExtractor() {
    def math(e: Element): Unit = processMathFormulas(e)
  }

  test("the math pass over a DOM") {
    val r = new Random(9)
    val classes = Vector("math-inline", "MathJax_Preview", "math-display", "MathJax_Display")
    val probe = new MathProbe
    var tagged, marked = 0
    (1 to 300).foreach { c =>
      val html = RandomPages.page(r)
      val seed = r.nextLong()
      // the same rendered-math classes on both copies
      def parse(): Element = {
        val doc = HtmlParser.parse(html)
        val cr = new Random(seed)
        doc.descendants.foreach(e => if (cr.nextInt(4) == 0) e.addClass(classes(cr.nextInt(4))))
        doc
      }
      val (a, b) = (parse(), parse())
      mathPassSpec(a)
      probe.math(b)
      val out = b.outerHtml
      assert(out == a.outerHtml, s"page $c")
      if (out.contains("data-tex")) tagged += 1
      if (out.contains("\\end{equation}</div>")) marked += 1
    }
    assert(tagged >= 100 && marked >= 10, s"tagged $tagged, marked $marked")
  }

  test("markdown escapes and newline runs") {
    differential(3, found(Pattern.compile("[\\\\*_`\\[\\]]")))(Regexes.escapeMarkdown,
      s => EscPattern.matcher(s.replace("\\", "\\\\")).replaceAll("\\\\$1"))
    differential(4, found(NlRuns))(Regexes.collapseNewlineRuns,
      NlRuns.matcher(_).replaceAll("\n\n"))
  }

  test("sentence marks and class tokens") {
    var marks = 0
    strings(5).foreach { s =>
      val expected = Punct.matcher(s).find()
      if (expected) marks += 1
      assert(Regexes.hasSentenceMark(s) == expected, escape(s))
      assert(Regexes.classTokens(s) == Ws.split(s.trim).toList.filter(_.nonEmpty), escape(s))
    }
    assert(marks >= N / 20)
  }

  test("title brackets") {
    differential(6, found(TitleBracket))(Regexes.blankBrackets,
      TitleBracket.matcher(_).replaceAll(" "))
  }

  test("whitespace collapse, with and without the nbsp entities") {
    differential(7, found(UWs))(Regexes.collapseWs, UWs.matcher(_).replaceAll(" "))
    var entities = 0
    strings(8).foreach { s =>
      val replaced = s.replace("&nbsp;", " ").replace("&#160;", " ")
      if (replaced != s) entities += 1
      assert(Regexes.collapseWsAndNbsp(s) == UWs.matcher(replaced).replaceAll(" "), escape(s))
    }
    assert(entities >= N / 20)
  }
}

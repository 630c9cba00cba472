package graft.extract

import scala.util.Random

/** Seeded random HTML pages for the differential and fingerprint
  * specs. A page is up to three blocks, each under a random chain of
  * up to 60 wrappers, holding random trees of the tags below. The text
  * pool covers what the engine's string passes look at:
  *  - whitespace-only runs (incl. U+0001, and U+00A0/U+2003, which
  *    `trim` keeps), `&nbsp;`/`&#160;`, sentence marks;
  *  - keywords in any case, split across tags or comments, overlapping
  *    ("textext"), and the two chars that lowercase to ASCII letters
  *    outside A-Z (U+0130, U+212A);
  *  - `<br>` runs, `$…$`, `$$…$$`, `\begin{equation}`/`\begin{align}`
  *    with and without their `\end`, brackets, and the markdown escape
  *    chars.
  */
object RandomPages {

  val tagPool: Vector[String] = Vector("div", "div", "article", "section", "main", "p", "p",
    "a", "a", "span", "b", "img", "br", "br", "iframe", "video", "script", "style", "textarea",
    "title", "ul", "ol", "li", "li", "table", "tr", "td", "th", "pre", "code", "h1", "h2",
    "h3", "h4", "h5", "h6", "blockquote", "link", "meta", "body", "em", "del")
  private val classes = Vector("ad", "advertisement", "banner", "comment", "comments",
    "quote", "cited", "user-info", "author-info", "video_iframe", "advertisement_area",
    "reward_area", "article", "first-post", "main-post", "reply-content", "content",
    "SIDEBAR", "rich_media_content", "Post entry", " math-inline\tx ", "MathJax_Preview")
  private val ids = Vector("comments", "js_content", "main-content")
  val texts: Vector[String] = Vector("", " ", "\n\t ", "\u0001 ", "\u00a0", " \u2003 ", "word",
    "Sentence.", "why? ", "wow\uff01", "\u3002", "con", "tent", "ARTICLE", "art\u0130cle",
    "\u212Aelvin post", "\u0130", "textext", "MaIn", "a & b < c > d \"q\"",
    "&amp; &lt;x&gt; &quot;", "<!-- main entry -->", "con<b>tent</b>", "po<!---->st",
    "x" * 60, "long words without any mark at all in them " * 2, " padded text. ",
    "a&nbsp;&nbsp;b&#160; c", "<br><br> <br/>\n<br>", "<BR ><br >", " <br> x <br> ",
    "cost $x+y$ and $$E=mc^2$$ or $5", "\\begin{equation} a=b \\end{equation}",
    "\\begin{align} x &= y", "\\end{align} ", "\\begin{equation}", "$$", "$",
    "*bold* _it_ `tick` [link] back\\slash", "(note) [1] {x", " (a", "a) ] }",
    " line\u0085next\r\n")
  private val wrappers = Vector("div", "a", "p", "section", "span", "main", "article",
    "ul", "li", "table", "tr", "td")

  private def node(r: Random, depth: Int, sb: StringBuilder): Unit =
    if (depth == 0 || r.nextInt(4) == 0) sb.append(texts(r.nextInt(texts.length)))
    else {
      val t = tagPool(r.nextInt(tagPool.length))
      sb.append('<').append(t)
      if (r.nextInt(3) == 0) sb.append(" class=\"").append(classes(r.nextInt(classes.length))).append('"')
      if (r.nextInt(8) == 0) sb.append(" id=\"").append(ids(r.nextInt(ids.length))).append('"')
      if (r.nextInt(6) == 0) sb.append(" data-x='a & b < c > \"MAIN\"'")
      if (r.nextInt(20) == 0) sb.append(" title='<br><br> <br>'")
      sb.append('>')
      (0 until r.nextInt(4)).foreach(_ => node(r, depth - 1, sb))
      if (r.nextInt(5) != 0) sb.append("</").append(t).append('>')
    }

  /** Three blocks, each under a random chain of up to `maxChain`
    * wrappers. */
  def page(r: Random, maxChain: Int = 60): String = {
    val sb = new StringBuilder("<html><body>")
    (0 until 3).foreach { _ =>
      val chain = Vector.fill(r.nextInt(maxChain + 1))(wrappers(r.nextInt(wrappers.length)))
      chain.foreach(t => sb.append('<').append(t).append('>'))
      (0 until 1 + r.nextInt(3)).foreach(_ => node(r, 6, sb))
      chain.reverse.foreach(t => if (r.nextBoolean()) sb.append("</").append(t).append('>'))
    }
    sb.append("</body></html>").toString
  }
}

package graft.extract

import java.util.Locale

/** Title extraction cascade — reference
  * /root/reference/app/lib/extractors/TitleExtractor.ts:10-136 —
  * meta → headings-by-Dice-similarity → <title> → fallback selectors,
  * each result cleaned by the 5-stage regex chain.
  *
  * Live-path note: the reference's cleanEmptyNodes removes every
  * childless/textless element (including all <meta>) BEFORE title
  * extraction runs, so the meta stage never fires on the live path;
  * it is still implemented for standalone use + unit tests.
  */
object TitleExtract {

  private val MetaSelectors = Seq(
    "meta[property=\"og:title\"]", "meta[name=\"twitter:title\"]",
    "meta[name=\"title\"]", "meta[property=\"article:title\"]",
    "meta[name=\"application-name\"]", "meta[property=\"og:site_name\"]")

  private val OtherSelectors = Seq(
    ".article-title", ".post-title", ".entry-title", ".title", "#title",
    ".article-header h1", ".post-header h1", ".entry-header h1",
    "[itemprop=\"headline\"]", "[itemprop=\"name\"]")

  def extract(doc: Element): String = {
    val meta = fromMeta(doc)
    if (meta.nonEmpty) return cleanTitle(meta)
    val h = fromHeadings(doc)
    if (h.nonEmpty) return cleanTitle(h)
    val t = fromTitleTag(doc)
    if (t.nonEmpty) return cleanTitle(t)
    val o = fromOtherTags(doc)
    if (o.nonEmpty) return cleanTitle(o)
    ""
  }

  def fromMeta(doc: Element): String = {
    for (sel <- MetaSelectors) {
      val c = doc.select(sel).headOption.flatMap(_.attr("content")).map(_.trim)
      c match {
        case Some(v) if v.nonEmpty => return v
        case _                     => ()
      }
    }
    ""
  }

  def fromTitleTag(doc: Element): String =
    doc.select("title").headOption.map(_.text.trim).getOrElse("")

  def fromHeadings(doc: Element): String = {
    val pageTitle = fromTitleTag(doc)
    val headings = doc.select("h1, h2, h3").map(_.text.trim).filter(_.nonEmpty)
    if (headings.isEmpty) return ""
    if (pageTitle.nonEmpty) {
      // stable sort by similarity desc (JS Array.sort is stable in V8)
      headings.sortBy(h => -dice(h, pageTitle)).head
    } else {
      val h1 = doc.select("h1").headOption.map(_.text.trim).getOrElse("")
      if (h1.nonEmpty) h1 else headings.head
    }
  }

  def fromOtherTags(doc: Element): String = {
    for (sel <- OtherSelectors) {
      val t = doc.select(sel).headOption.map(_.text.trim).getOrElse("")
      if (t.nonEmpty) return t
    }
    ""
  }

  /** Dice coefficient on lowercase whitespace tokens
    * (/root/reference/app/utils/similarity.ts:4-20): multiset-ish —
    * counts words of w1 that appear anywhere in w2, so a hash set of
    * w2's words is all the count needs. */
  def dice(s1: String, s2: String): Double = {
    if (s1 == s2) return 1.0
    if (s1.isEmpty || s2.isEmpty) return 0.0
    val w1 = Regexes.UWs.split(s1.toLowerCase(Locale.ROOT))
    val w2 = Regexes.UWs.split(s2.toLowerCase(Locale.ROOT))
    val inW2 = w2.toSet
    val common = w1.count(inW2.contains)
    2.0 * common / (w1.length + w2.length)
  }

  /** 5-stage cleanup, /root/reference/app/lib/extractors/
    * TitleExtractor.ts:122-136 (separator-suffix strip is
    * replaceFirst — JS non-global replace). */
  def cleanTitle(title: String): String = {
    var t = Regexes.collapseWs(title)
    t = Regexes.TitleSep.matcher(t).replaceFirst("")
    t = Regexes.blankBrackets(t)
    t = Regexes.TitleTag.matcher(t).replaceAll("")
    t = Regexes.TitleSpecial.matcher(t).replaceAll("")
    t.trim
  }
}

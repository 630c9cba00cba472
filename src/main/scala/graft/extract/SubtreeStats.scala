package graft.extract

import scala.collection.mutable.{ArrayBuffer, HashMap}

/** Facts about every element's subtree, gathered in one pass over the
  * tree (explicit stacks, no recursion), so that the heuristic scorers
  * and the emptiness tests read them per element instead of walking
  * each element's subtree again. Elements are numbered in pre-order
  * from `root` (0), the order of `root.select(...)`; the descendants
  * of element i are the elements i+1 until `end(i)`.
  *
  * For each element the pass keeps:
  *  - the length of its text and its leading and trailing runs of
  *    chars <= U+0020 (what `String.trim` strips), which compose from
  *    the children's;
  *  - the same three over the pre-order concatenation of its
  *    descendant `<a>` texts (a nested anchor's text counts again, as
  *    in `select("a").map(_.text).mkString`), in Long: nested anchors
  *    multiply it;
  *  - the trimmed text length of its first descendant `<a>`;
  *  - how many descendants match each of `selectors` (comma lists of
  *    compound selectors);
  *  - the `<p>` score summed over its descendant `<p>`s: +2 when the
  *    trimmed text is longer than 50 chars, +1 when it holds a
  *    sentence mark;
  *  - its depth (ancestors below the synthetic `#root`).
  * On first use it also serializes `root`'s inner HTML once, as
  * [[Serializer]] does, and records each element's inner-HTML span in
  * it. Serializer skips a void element's children, so for a void
  * element below `root` that has children (the parser never builds
  * one) the span is empty.
  *
  * The facts describe the tree as it was at construction.
  */
final class SubtreeStats(root: Element, selectors: Seq[String]) {

  private val elems: Array[Element] = {
    val out = ArrayBuffer.empty[Element]
    val stack = ArrayBuffer(root)
    while (stack.nonEmpty) {
      val e = stack.remove(stack.length - 1)
      out += e
      var k = e.children.length - 1
      while (k >= 0) {
        e.children(k) match {
          case c: Element => stack += c
          case _          => ()
        }
        k -= 1
      }
    }
    out.toArray
  }
  private val n = elems.length
  private val sels = selectors.toArray
  private val k = sels.length
  private val matchers = sels.map(Selector.compoundList)

  private val end = new Array[Int](n)
  private val textLen, textLead, textTrail = new Array[Long](n)
  private val linkLen, linkLead, linkTrail = new Array[Long](n)
  private val firstLink = Array.fill(n)(-1)
  private val pSum = new Array[Int](n)
  private val mark = new Array[Boolean](n)
  private val counts = new Array[Int](n * k)

  // children before parents: reverse pre-order
  {
    var i = n - 1
    while (i >= 0) {
      val e = elems(i)
      var next = i + 1 // pre-order number of e's next child element
      var j = 0
      while (j < e.children.length) {
        e.children(j) match {
          case t: TextNode => appendText(i, t.data)
          case c: Element =>
            val ci = next
            append(textLen, textLead, textTrail, i, textLen(ci), textLead(ci), textTrail(ci))
            if (c.tag == "a") {
              append(linkLen, linkLead, linkTrail, i, textLen(ci), textLead(ci), textTrail(ci))
              if (firstLink(i) < 0) firstLink(i) = trimmedLength(ci)
            } else if (firstLink(i) < 0) firstLink(i) = firstLink(ci)
            append(linkLen, linkLead, linkTrail, i, linkLen(ci), linkLead(ci), linkTrail(ci))
            if (c.tag == "p")
              pSum(i) += (if (trimmedLength(ci) > 50) 2 else 0) + (if (mark(ci)) 1 else 0)
            pSum(i) += pSum(ci)
            mark(i) ||= mark(ci)
            var s = 0
            while (s < k) {
              counts(i * k + s) += counts(ci * k + s) + (if (matchers(s)(c)) 1 else 0)
              s += 1
            }
            next = end(ci)
          case _ => ()
        }
        j += 1
      }
      end(i) = next
      i -= 1
    }
  }

  private val depths: Array[Int] = {
    val depth = new Array[Int](n)
    depth(0) = root.depth
    var i = 0
    while (i < n) {
      val d = if (elems(i).tag == "#root") 0 else depth(i) + 1
      var c = i + 1
      while (c < end(i)) { depth(c) = d; c = end(c) }
      i += 1
    }
    depth
  }

  /** Appends a run of length `l` with `a` leading and `b` trailing
    * whitespace chars to element i's run in (len, lead, trail). */
  private def append(len: Array[Long], lead: Array[Long], trail: Array[Long],
                     i: Int, l: Long, a: Long, b: Long): Unit = {
    if (lead(i) == len(i)) lead(i) += a
    trail(i) = if (a == l) trail(i) + l else b
    len(i) += l
  }

  private def appendText(i: Int, s: String): Unit = {
    val l = s.length
    var a = 0
    while (a < l && s.charAt(a) <= ' ') a += 1
    var b = 0
    if (a == l) b = l
    else while (s.charAt(l - 1 - b) <= ' ') b += 1
    append(textLen, textLead, textTrail, i, l, a, b)
    if (!mark(i)) mark(i) = Regexes.hasSentenceMark(s)
  }

  def size: Int = n
  def element(i: Int): Element = elems(i)

  /** `element(i).depth` */
  def depth(i: Int): Int = depths(i)

  /** `element(i).text.trim.isEmpty` */
  def isBlank(i: Int): Boolean = textLead(i) == textLen(i)

  /** `element(i).text.trim.length` */
  def trimmedLength(i: Int): Int =
    if (isBlank(i)) 0 else (textLen(i) - textLead(i) - textTrail(i)).toInt

  /** `select("a").map(_.text).mkString.trim.length` */
  def linkTextLength(i: Int): Long =
    if (linkLead(i) == linkLen(i)) 0L else linkLen(i) - linkLead(i) - linkTrail(i)

  /** `select("a").headOption.map(_.text.trim.length).getOrElse(0)` */
  def firstLinkLength(i: Int): Int = math.max(firstLink(i), 0)

  /** `select(selector).length`, for one of the `selectors`. */
  def count(i: Int, selector: String): Int = {
    val s = sels.indexOf(selector)
    require(s >= 0, s"not counted: $selector")
    counts(i * k + s)
  }

  /** The `<p>` score summed over element i's descendant `<p>`s. */
  def pScore(i: Int): Int = pSum(i)

  // One serialization of root's inner HTML. ASCII-only case folding
  // keeps offsets aligned, and for lowercase ASCII keywords it finds
  // what `toLowerCase(Locale.ROOT)` would: the only other chars that
  // lower to ASCII letters are U+0130 ("i" + U+0307, which no keyword
  // can continue) and U+212A ("k", in no keyword).
  private lazy val (folded, innerStart, innerEnd) = {
    val sb = new StringBuilder
    val start, stop = new Array[Int](n)
    val frameElem, frameChild = new Array[Int](n)
    var top = 0 // frame 0 is root, whose own tags are not part of its inner HTML
    var next = 1
    while (top >= 0) {
      val i = frameElem(top)
      val e = elems(i)
      val pos = frameChild(top)
      if (pos == e.children.length) {
        stop(i) = sb.length
        if (top > 0) Serializer.writeClose(e, sb)
        top -= 1
      } else {
        frameChild(top) = pos + 1
        e.children(pos) match {
          case c: Element =>
            val ci = next
            Serializer.writeOpen(c, sb)
            start(ci) = sb.length
            if (Dom.VoidTags.contains(c.tag)) { stop(ci) = sb.length; next = end(ci) }
            else { next = ci + 1; top += 1; frameElem(top) = ci; frameChild(top) = 0 }
          case leaf => Serializer.write(leaf, sb)
        }
      }
    }
    val chars = sb.toString.toCharArray
    var c = 0
    while (c < chars.length) {
      if (chars(c) >= 'A' && chars(c) <= 'Z') chars(c) = (chars(c) + 32).toChar
      c += 1
    }
    (new String(chars), start, stop)
  }

  /** `element(i).innerHtml.length` */
  def innerHtmlLength(i: Int): Int = innerEnd(i) - innerStart(i)

  private val occurrences = HashMap.empty[String, Array[Int]]

  /** Does `element(i).innerHtml.toLowerCase(Locale.ROOT)` contain
    * `keyword` (lowercase ASCII)? */
  def holds(i: Int, keyword: String): Boolean = {
    val at = occurrences.getOrElseUpdate(keyword, {
      val b = Array.newBuilder[Int]
      var p = folded.indexOf(keyword)
      while (p >= 0) { b += p; p = folded.indexOf(keyword, p + 1) }
      b.result()
    })
    val found = java.util.Arrays.binarySearch(at, innerStart(i))
    val first = if (found >= 0) found else -found - 1
    first < at.length && at(first) + keyword.length <= innerEnd(i)
  }
}

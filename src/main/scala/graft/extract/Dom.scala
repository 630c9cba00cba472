package graft.extract

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** Minimal mutable DOM for the extraction engine.
  *
  * Mirrors the cheerio node model the reference relies on
  * (/root/reference/app/types/cheerio.ts:24-48): tag / text / comment
  * nodes, string attribute maps, parent/child links. Built from
  * scratch — no HTML parser library ships with the sandbox Spark
  * distribution, and the engine only needs the operations in
  * SURVEY.md §2 (select, remove, wrap, text, serialize).
  */
sealed trait DomNode {
  var parent: Element = _

  /** Concatenated descendant text (cheerio `.text()` semantics:
    * script/style text INCLUDED — the live reference path never
    * strips scripts, SURVEY.md §0). */
  def text: String = {
    val sb = new StringBuilder
    appendText(sb)
    sb.toString
  }
  private[extract] def appendText(sb: StringBuilder): Unit

  def remove(): Unit = if (parent != null) {
    parent.children -= this
    parent = null
  }
}

final class TextNode(var data: String) extends DomNode {
  private[extract] def appendText(sb: StringBuilder): Unit = sb.append(data)
}

final class CommentNode(var data: String) extends DomNode {
  private[extract] def appendText(sb: StringBuilder): Unit = ()
}

final class Element(val tag: String) extends DomNode {
  val attrs: LinkedHashMap[String, String] = LinkedHashMap.empty
  val children: ArrayBuffer[DomNode] = ArrayBuffer.empty

  private[extract] def appendText(sb: StringBuilder): Unit =
    children.foreach(_.appendText(sb))

  def attr(name: String): Option[String] = attrs.get(name)
  def setAttr(name: String, value: String): Unit = attrs(name) = value
  def removeAttr(name: String): Unit = attrs.remove(name)

  // class-token parse is THE extraction hot spot (selector matching +
  // class-weight scoring hit it constantly) — cache per attr value,
  // invalidated by reference change of the class attr string
  private var classCacheSrc: String = _
  private var classCache: List[String] = Nil
  def classNames: Seq[String] = {
    val cur = attrs.getOrElse("class", null)
    if (cur eq classCacheSrc) classCache
    else {
      classCacheSrc = cur
      classCache =
        if (cur == null) Nil
        else Regexes.classTokens(cur)
      classCache
    }
  }
  def hasClass(c: String): Boolean = classNames.contains(c)
  /** cheerio addClass semantics: space-separated tokens, each added
    * once. */
  def addClass(c: String): Unit = {
    val toAdd = Regexes.classTokens(c)
    val cur = classNames
    val merged = cur ++ toAdd.filterNot(cur.contains)
    if (merged.nonEmpty) setAttr("class", merged.mkString(" "))
  }
  def id: Option[String] = attrs.get("id")

  def appendChild(n: DomNode): Unit = { n.remove(); n.parent = this; children += n }
  def insertChild(i: Int, n: DomNode): Unit = { n.remove(); n.parent = this; children.insert(i, n) }

  def childIndex(n: DomNode): Int = children.indexWhere(_ eq n)

  /** Replace `old` (a direct child) with `nw` in place. */
  def replaceChild(old: DomNode, nw: DomNode): Unit = {
    val i = childIndex(old)
    if (i >= 0) { nw.remove(); nw.parent = this; children(i) = nw; old.parent = null }
  }

  /** Wrap this element in `wrapper` (wrapper takes its tree slot). */
  def wrap(wrapper: Element): Unit = {
    val p = parent
    if (p != null) {
      val i = p.childIndex(this)
      parent = null
      p.children(i) = wrapper
      wrapper.parent = p
      wrapper.appendChild(this)
    }
  }

  def childElements: Seq[Element] = children.collect { case e: Element => e }.toSeq

  /** Visit descendants pre-order (this element excluded) without
    * iterator/Seq allocation per node — the selector-engine hot path. */
  def walkElements(f: Element => Unit): Unit = {
    var i = 0
    while (i < children.length) {
      children(i) match {
        case e: Element => f(e); e.walkElements(f)
        case _          => ()
      }
      i += 1
    }
  }

  /** Pre-order descendants, this element excluded. */
  def descendants: Iterator[Element] = {
    val b = List.newBuilder[Element]
    walkElements(b += _)
    b.result().iterator
  }

  /** Ancestor chain, nearest first, excluding the synthetic root. */
  def ancestors: List[Element] = {
    var cur = parent
    val b = List.newBuilder[Element]
    while (cur != null && cur.tag != "#root") { b += cur; cur = cur.parent }
    b.result()
  }

  def depth: Int = ancestors.length

  def select(selector: String): Seq[Element] = Selector.select(this, selector)
  def selectFirst(selector: String): Option[Element] = select(selector).headOption

  /** True when the element has no children at all (CSS `:empty`:
    * any text node, even whitespace, makes it non-empty). */
  def isCssEmpty: Boolean = children.isEmpty

  /** Serialized inner HTML. */
  def innerHtml: String = {
    val sb = new StringBuilder
    children.foreach(Serializer.write(_, sb))
    sb.toString
  }
  /** Serialized element incl. its own tag. */
  def outerHtml: String = {
    val sb = new StringBuilder
    Serializer.write(this, sb)
    sb.toString
  }
}

object Dom {
  val VoidTags: Set[String] = Set("area", "base", "br", "col", "embed", "hr",
    "img", "input", "link", "meta", "param", "source", "track", "wbr")
  val RawTextTags: Set[String] = Set("script", "style", "textarea", "title")

  def element(tag: String, attrs: (String, String)*): Element = {
    val e = new Element(tag)
    attrs.foreach { case (k, v) => e.attrs(k) = v }
    e
  }
}

private[extract] object Serializer {
  /** Appends `s` with `&` and, in text, `<` and `>` or, in an
    * attribute value, `"` escaped: the runs between those chars are
    * appended whole. */
  private def escape(s: String, sb: StringBuilder, attr: Boolean): Unit = {
    val out = sb.underlying
    var from = 0
    var i = 0
    while (i < s.length) {
      val entity = s.charAt(i) match {
        case '&'          => "&amp;"
        case '<' if !attr => "&lt;"
        case '>' if !attr => "&gt;"
        case '"' if attr  => "&quot;"
        case _            => null
      }
      if (entity != null) {
        out.append(s, from, i).append(entity)
        from = i + 1
      }
      i += 1
    }
    out.append(s, from, s.length)
  }

  def write(n: DomNode, sb: StringBuilder): Unit = n match {
    case t: TextNode => t.parent match {
      case p: Element if p != null && Dom.RawTextTags.contains(p.tag) => sb.append(t.data)
      case _ => escape(t.data, sb, attr = false)
    }
    case c: CommentNode => sb.append("<!--").append(c.data).append("-->")
    case e: Element =>
      writeOpen(e, sb)
      if (!Dom.VoidTags.contains(e.tag)) {
        e.children.foreach(write(_, sb))
        writeClose(e, sb)
      }
  }

  /** An element's start tag; the synthetic `#root` has none. */
  def writeOpen(e: Element, sb: StringBuilder): Unit =
    if (e.tag != "#root") {
      sb.append('<').append(e.tag)
      e.attrs.foreach { case (k, v) =>
        sb.append(' ').append(k).append("=\"")
        escape(v, sb, attr = true)
        sb.append('"')
      }
      sb.append('>')
    }

  /** An element's end tag (never written for a void element). */
  def writeClose(e: Element, sb: StringBuilder): Unit =
    if (e.tag != "#root") sb.append("</").append(e.tag).append('>')
}

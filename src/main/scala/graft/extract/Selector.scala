package graft.extract

import java.util.Locale

/** CSS selector subset engine — exactly the grammar the reference's
  * selector constants use (/root/reference/app/types/extractor.ts:
  * 44-145, extractor custom lists, ForumExtractor `[id*=post-1]`):
  * tag, `.class`, `#id`, compound, `[attr]` with `= *= ^= $=` ops,
  * `:empty`, `:contains(str)`, descendant (space) and child (`>`)
  * combinators, comma groups. Unknown syntax matches nothing
  * (cheerio/css-select throws are swallowed by the reference —
  * SURVEY.md §0 "XPath stage"; matching-nothing reproduces that).
  */
object Selector {

  sealed private trait SimpleSel
  private case class TagSel(t: String) extends SimpleSel
  private case class ClassSel(c: String) extends SimpleSel
  private case class IdSel(i: String) extends SimpleSel
  private case class AttrSel(name: String, op: String, value: String) extends SimpleSel
  private case object EmptySel extends SimpleSel
  private case class ContainsSel(s: String) extends SimpleSel
  private case object InvalidSel extends SimpleSel

  /** One compound (e.g. `div.post[id*=x]`) + the combinator linking
    * it to the compound on its LEFT (" " descendant, ">" child). */
  private case class Compound(sels: List[SimpleSel], combinator: Char)

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, List[List[Compound]]]()

  /** Parsed, pre-REVERSED complex selectors (rightmost compound
    * first — the match order), cached per selector string.
    * Lock-free get() fast path: computeIfAbsent can take a bin lock
    * even for PRESENT keys (when the hit isn't the bin's first
    * node), which serializes 32 extraction threads on the ~60 hot
    * selector strings. */
  private def parseList(selector: String): List[List[Compound]] = {
    val hit = cache.get(selector)
    if (hit != null) hit
    else cache.computeIfAbsent(selector,
      s => s.split(",").toList.map(_.trim).filter(_.nonEmpty)
        .map(c => parseComplex(c).reverse))
  }

  private def parseComplex(s: String): List[Compound] = {
    // tokenize into compounds separated by whitespace or '>'
    val out = List.newBuilder[Compound]
    var i = 0
    val n = s.length
    var combinator = ' '
    while (i < n) {
      while (i < n && s.charAt(i).isWhitespace) i += 1
      if (i < n && s.charAt(i) == '>') { combinator = '>'; i += 1 }
      else if (i < n) {
        val start = i
        var depth = 0
        while (i < n && (depth > 0 || (!s.charAt(i).isWhitespace && s.charAt(i) != '>'))) {
          val c = s.charAt(i)
          if (c == '[' || c == '(') depth += 1
          if (c == ']' || c == ')') depth -= 1
          i += 1
        }
        out += Compound(parseCompound(s.substring(start, i)), combinator)
        combinator = ' '
      }
    }
    out.result()
  }

  private def parseCompound(s: String): List[SimpleSel] = {
    val sels = List.newBuilder[SimpleSel]
    var i = 0
    val n = s.length
    def ident(from: Int): (String, Int) = {
      var j = from
      while (j < n && (s.charAt(j).isLetterOrDigit || "-_".contains(s.charAt(j)))) j += 1
      (s.substring(from, j), j)
    }
    if (i < n && s.charAt(i) == '*') { i += 1 } // universal: no constraint
    else if (i < n && s.charAt(i).isLetter) {
      val (t, j) = ident(i); sels += TagSel(t.toLowerCase(Locale.ROOT)); i = j
    }
    while (i < n) {
      s.charAt(i) match {
        case '.' => val (c, j) = ident(i + 1); i = j
          if (c.nonEmpty) sels += ClassSel(c) else { sels += InvalidSel; i = n }
        case '#' => val (c, j) = ident(i + 1); i = j
          if (c.nonEmpty) sels += IdSel(c) else { sels += InvalidSel; i = n }
        case '[' =>
          val close = s.indexOf(']', i)
          if (close < 0) { sels += InvalidSel; i = n }
          else {
            val body = s.substring(i + 1, close)
            val opIdx = body.indexWhere(c => c == '*' || c == '^' || c == '$' || c == '=')
            if (opIdx < 0) sels += AttrSel(body.trim.toLowerCase(Locale.ROOT), "", "")
            else {
              val (name, op, rest) =
                if (body.charAt(opIdx) == '=') (body.substring(0, opIdx), "=", body.substring(opIdx + 1))
                else (body.substring(0, opIdx), body.charAt(opIdx).toString + "=", body.substring(opIdx + 2))
              val v0 = rest.trim
              val v = if (v0.length >= 2 && (v0.head == '"' || v0.head == '\'') && v0.last == v0.head)
                v0.substring(1, v0.length - 1) else v0
              sels += AttrSel(name.trim.toLowerCase(Locale.ROOT), op, v)
            }
            i = close + 1
          }
        case ':' =>
          val (p, j) = ident(i + 1)
          p match {
            case "empty" => sels += EmptySel; i = j
            case "contains" if j < n && s.charAt(j) == '(' =>
              val close = s.indexOf(')', j)
              if (close < 0) { sels += InvalidSel; i = n }
              else {
                val v0 = s.substring(j + 1, close).trim
                val v = if (v0.length >= 2 && (v0.head == '"' || v0.head == '\'') && v0.last == v0.head)
                  v0.substring(1, v0.length - 1) else v0
                sels += ContainsSel(v)
                i = close + 1
              }
            case _ => sels += InvalidSel; i = n // unsupported pseudo: match nothing
          }
        case _ => sels += InvalidSel; i = n
      }
    }
    sels.result()
  }

  private def matchesCompound(e: Element, comp: List[SimpleSel]): Boolean =
    comp.forall {
      case TagSel(t)   => e.tag == t
      case ClassSel(c) => e.hasClass(c)
      case IdSel(id)   => e.id.contains(id)
      case AttrSel(name, op, v) =>
        e.attr(name) match {
          case None => false
          case Some(av) => op match {
            case ""   => true
            case "="  => av == v
            case "*=" => av.contains(v)
            case "^=" => av.startsWith(v)
            case "$=" => av.endsWith(v)
            case _    => false
          }
        }
      case EmptySel       => e.isCssEmpty
      case ContainsSel(s) => e.text.contains(s)
      case InvalidSel     => false
    }

  /** Does the complex selector match `e` as its rightmost subject,
    * scoping ancestors within (not including) `scope`? */
  private def matchesComplex(e: Element, rev: List[Compound], scope: Element): Boolean =
    rev match {
      case Nil => true
      case last :: restUp =>
        if (!matchesCompound(e, last.sels)) false
        else matchesUp(e, last.combinator, restUp, scope)
    }

  private def matchesUp(e: Element, comb: Char, rev: List[Compound], scope: Element): Boolean =
    rev match {
      case Nil => true
      case next :: restUp =>
        comb match {
          case '>' =>
            val p = e.parent
            p != null && (p ne scope) && p.tag != "#root" &&
              matchesCompound(p, next.sels) && matchesUp(p, next.combinator, restUp, scope)
          case _ =>
            var p = e.parent
            while (p != null && (p ne scope) && p.tag != "#root") {
              if (matchesCompound(p, next.sels) && matchesUp(p, next.combinator, restUp, scope))
                return true
              p = p.parent
            }
            false
        }
    }

  /** A matcher for a comma list of compound selectors (no
    * combinators, so a match does not depend on a scope). */
  def compoundList(selector: String): Element => Boolean = {
    val complexes = parseList(selector)
    require(complexes.forall(_.length == 1), s"not a list of compound selectors: $selector")
    val alternatives = complexes.map(_.head.sels)
    e => alternatives.exists(matchesCompound(e, _))
  }

  def select(scope: Element, selector: String): Seq[Element] = {
    val complexes = parseList(selector)
    if (complexes.isEmpty) return Nil
    val out = Seq.newBuilder[Element]
    scope.walkElements { e =>
      if (complexes.exists(matchesComplex(e, _, scope))) out += e
    }
    out.result()
  }
}

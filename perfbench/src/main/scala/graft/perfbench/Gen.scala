package graft.perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import graft.pipeline.{TranscriptGen, Turn}

/** One generated HTML page. `kind` is the template it came from. */
final case class Page(html: String, url: String, kind: String, depth: Int)

/** Turn-shaped table for `batch_extract` and `commit_resume`; `kinds(i)`
  * is the template of `turns(i)` ("plain" for a short plain-text turn). */
final case class BatchInput(turns: Array[Turn], kinds: Array[String])

/** Closed-loop request stream for `doc_api`: request `i` asks for
  * `pages(requests(i))`. `warmup` pages are never requested. */
final case class DocInput(pages: Array[Page], requests: Array[Int], warmup: Array[Page]) {
  /** Request counts at which a round of the design ends. */
  lazy val roundEnds: Set[Int] = {
    val first = Gen.Design.length
    val later = first + Gen.RoundRepeats
    (first to requests.length by later).toSet
  }
}

/** Seeded workload generator. Every input is a pure function of the
  * seed, so the same seed gives byte-identical inputs.
  *
  * Text comes from a fixed synthetic vocabulary. Template shares, sizes
  * and depths are stratified (exact shares; for the turn table one
  * draw per stratum, for `doc_api` a fixed round design) so that
  * different seeds give different pages with the same distribution,
  * which keeps run-to-run spread low.
  */
object Gen {
  val Plain = "plain"
  /** Template with no content class, so the heuristic scorer runs; the
    * hinted templates (article, forum, weixin) reach the selector cascade. */
  val Unhinted = "unhinted"

  private val Syllables = Array("ka", "lo", "mi", "ren", "sto", "vel", "dra",
    "pen", "qui", "tor", "sal", "ben", "fi", "gra", "mon", "zu", "ter", "lin",
    "par", "cho", "nex", "bri", "dol", "sem", "ul", "og", "ra", "vi")

  /** A fixed 4,096-word vocabulary (independent of the seed). */
  private val Vocab: Array[String] = {
    val r = new SplittableRandom(7L)
    Array.fill(4096) {
      val n = 1 + r.nextInt(4)
      (0 until n).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
    }
  }

  /** Independent stream `stream` of workload seed `seed`: the seed is
    * mixed first, so nearby seeds give unrelated streams. */
  private def rng(seed: Long, stream: Long): SplittableRandom = {
    def mix(x: Long): Long = {
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    new SplittableRandom(mix(mix(seed) + stream)).split()
  }

  private val Ends = Array(". ", ". ", ". ", "! ", "? ")

  private def words(r: SplittableRandom, sb: java.lang.StringBuilder, n: Int): Unit = {
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(if (r.nextInt(9) == 0) ", " else " ")
      sb.append(Vocab(r.nextInt(Vocab.length)))
      i += 1
    }
  }

  private def sentence(r: SplittableRandom, sb: java.lang.StringBuilder): Unit = {
    val w = Vocab(r.nextInt(Vocab.length))
    sb.append(Character.toUpperCase(w.charAt(0))).append(w, 1, w.length).append(' ')
    words(r, sb, 5 + r.nextInt(14))
    sb.append(Ends(r.nextInt(Ends.length)))
  }

  private def title(r: SplittableRandom): String = {
    val sb = new java.lang.StringBuilder
    sentence(r, sb)
    sb.toString.trim
  }

  /** One content block: mostly paragraphs, sometimes a list, code,
    * quote, table or image, so the renderers see every tag family. */
  private def block(r: SplittableRandom, sb: java.lang.StringBuilder): Unit =
    r.nextInt(20) match {
      case 0 =>
        sb.append("<ul>")
        for (_ <- 0 until 2 + r.nextInt(4)) { sb.append("<li>"); words(r, sb, 3 + r.nextInt(8)); sb.append("</li>") }
        sb.append("</ul>\n")
      case 1 =>
        sb.append("<pre><code>"); words(r, sb, 6 + r.nextInt(10)); sb.append("</code></pre>\n")
      case 2 =>
        sb.append("<blockquote><p>"); sentence(r, sb); sb.append("</p></blockquote>\n")
      case 3 =>
        sb.append("<table><tr><th>"); words(r, sb, 2); sb.append("</th><th>"); words(r, sb, 2)
        sb.append("</th></tr><tr><td>"); words(r, sb, 3); sb.append("</td><td>"); words(r, sb, 3)
        sb.append("</td></tr></table>\n")
      case 4 =>
        sb.append("<p><img src=\"/img/").append(r.nextInt(1 << 20)).append(".png\" alt=\"")
        words(r, sb, 2); sb.append("\"/>"); sentence(r, sb); sb.append("</p>\n")
      case _ =>
        sb.append("<p>")
        for (_ <- 0 until 1 + r.nextInt(5)) {
          sentence(r, sb)
          if (r.nextInt(8) == 0) {
            sb.append("<a href=\"/r/").append(r.nextInt(1 << 20)).append("\">")
            words(r, sb, 2); sb.append("</a> ")
          }
        }
        sb.append("</p>\n")
    }

  private def links(r: SplittableRandom, sb: java.lang.StringBuilder, cls: String, n: Int): Unit = {
    sb.append("<div class=\"").append(cls).append("\">")
    for (_ <- 0 until n) {
      sb.append("<a href=\"/l/").append(r.nextInt(1 << 16)).append("\">")
      words(r, sb, 1 + r.nextInt(2)); sb.append("</a> ")
    }
    sb.append("</div>\n")
  }

  /** Generate one page of about `target` bytes with `depth` wrapper
    * divs around the content block. */
  def page(r: SplittableRandom, kind: String, target: Int, depth: Int, id: String): Page = {
    val sb = new java.lang.StringBuilder(target + 512)
    val t = title(r)
    sb.append("<html><head><title>").append(t).append(" | Example</title></head>\n<body>")
    if (kind == Unhinted) links(r, sb, "top", 4 + r.nextInt(6))
    else links(r, sb, "navbar", 4 + r.nextInt(6))
    for (i <- 0 until depth) sb.append("<div class=\"w").append(i % 7).append("\">")
    val (open, close) = kind match {
      case "article" =>
        r.nextInt(4) match {
          case 0 => ("<article class=\"article-content\">", "</article>")
          case 1 => ("<div class=\"entry-content\">", "</div>")
          case 2 => ("<main>", "</main>")
          case _ => ("<div itemprop=\"articleBody\">", "</div>")
        }
      case "forum" =>
        ("<div class=\"thread\"><div class=\"post first-post\"><div class=\"post-content\">",
          "</div></div>")
      case "weixin" =>
        ("<div class=\"rich_media\"><div id=\"js_content\" class=\"rich_media_content\">",
          "</div></div>")
      case _ => ("<div class=\"box\">", "</div>")
    }
    sb.append(open).append("<h1>").append(t).append("</h1>\n")
    val tail = 400
    val bodyEnd = if (kind == "forum") target * 3 / 4 else target
    do block(r, sb) while (sb.length + tail < bodyEnd)
    if (kind == "forum") {
      sb.append("</div></div>")
      while (sb.length + tail < target) {
        sb.append("<div class=\"post reply\"><div class=\"reply-content\">")
        block(r, sb)
        sb.append("</div></div>\n")
      }
      sb.append("</div>")
    } else sb.append(close)
    for (_ <- 0 until depth) sb.append("</div>")
    if (kind == Unhinted) links(r, sb, "bottom", 3 + r.nextInt(4))
    else {
      links(r, sb, "sidebar", 3 + r.nextInt(4))
      sb.append("<footer class=\"footer\">copyright example</footer>")
    }
    sb.append("</body></html>")
    val url = kind match {
      case "weixin" => s"https://mp.weixin.qq.com/s/$id"
      case "forum"  => s"https://forum.example.org/t/$id"
      case _        => s"https://news.example.org/p/$id"
    }
    Page(sb.toString, url, kind, depth)
  }

  /** A short plain-text turn (under 100 chars): the engine quarantines
    * it by design ("too short"). */
  private def plainTurn(r: SplittableRandom): String = {
    val sb = new java.lang.StringBuilder
    words(r, sb, 3 + r.nextInt(8))
    if (sb.length > 95) sb.setLength(95)
    sb.toString
  }

  private def shuffle[A](r: SplittableRandom, a: Array[A]): Array[A] = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** `n` kinds with exact shares, shuffled. */
  private def kindMix(r: SplittableRandom, n: Int, shares: Seq[(String, Double)]): Array[String] = {
    val counts = shares.map { case (k, s) => k -> math.round(s * n).toInt }
    val fixed = counts.init.flatMap { case (k, c) => Seq.fill(c)(k) }
    shuffle(r, (fixed ++ Seq.fill(n - fixed.length)(counts.last._1)).toArray)
  }

  /** `n` stratified draws from a log-uniform distribution on [lo, hi],
    * in random order. */
  private def logUniform(r: SplittableRandom, n: Int, lo: Double, hi: Double): Array[Int] = {
    val (a, b) = (math.log(lo), math.log(hi))
    shuffle(r, Array.tabulate(n)(i => math.exp(a + (i + r.nextDouble()) / n * (b - a)).toInt))
  }

  /** `n` stratified integer draws from [lo, hi], in random order. */
  private def uniformInts(r: SplittableRandom, n: Int, lo: Int, hi: Int): Array[Int] =
    shuffle(r, Array.tabulate(n)(i => lo + ((i + r.nextDouble()) / n * (hi - lo + 1)).toInt))

  val SkewConv = "conv-skew"
  private val Roles = Array("user", "assistant", "tool")
  private val Tools = Array("", "browser", "search")

  /** Turn table of `n` rows: 10% plain-text turns, the rest pages of
    * 1-8 KB (article 40%, forum 20%, weixin 10%, unhinted 30%), every
    * page distinct. Conversation lengths are Pareto-tailed and one
    * conversation, `conv-skew`, holds 6% of the turns. */
  def batch(seed: Long, n: Int): BatchInput = {
    val r = rng(seed, 1)
    val skewLen = math.ceil(0.06 * n).toInt
    val cap = math.max(2, n / 50)
    val keys = Array.newBuilder[(String, Int)]
    for (i <- 0 until skewLen) keys += ((SkewConv, i))
    var left = n - skewLen
    var conv = 0
    while (left > 0) {
      val len = math.min(left, math.min(cap, math.pow(r.nextDouble(), -1 / 1.3).toInt))
      for (i <- 0 until len) keys += ((f"conv-$conv%06d", i))
      left -= len
      conv += 1
    }
    val order = shuffle(r, keys.result())
    val kinds = kindMix(r, n, Seq(Plain -> 0.10, "article" -> 0.36, "forum" -> 0.18,
      "weixin" -> 0.09, Unhinted -> 0.27))
    val (sizes, depths) = stratifiedPerKind(r, kinds, 1024, 8192, 16)
    val turns = Array.tabulate(n) { i =>
      val (c, t) = order(i)
      val tool = if (kinds(i) == "weixin") "weixin" else Tools(r.nextInt(Tools.length))
      val text =
        if (kinds(i) == Plain) plainTurn(r)
        else page(r, kinds(i), sizes(i), depths(i), s"$c-$t").html
      Turn(c, t, Roles(t % 3), text, tool,
        new Timestamp(1700000000000L + (c.hashCode & 0xffff) * 1000L + t * 60000L))
    }
    BatchInput(turns, kinds)
  }

  /** The URL the pipeline derives for a turn (weixin tool rows get a
    * weixin URL), so the engine oracle sees the same inputs as
    * [[graft.pipeline.ExtractJob]]. */
  def urlOf(t: Turn): String = TranscriptGen.urlOf(t.conv_id, t.turn_idx, t.tool)

  /** One slot of the `doc_api` round design: a page kind, the size and
    * depth strata (of `strata` equal strata) its page is drawn from, and
    * the slot's phase in the within-stratum sequence. */
  final case class Slot(kind: String, sizeStratum: Int, depthStratum: Int, strata: Int,
                        phase: Double)

  /** Every round of new `doc_api` pages holds each kind at its share
    * (article 7, forum 4, weixin 3, unhinted 6 of 20). Within a kind, each
    * page covers one stratum of the log-uniform size range and one
    * stratum of the depth range, paired by a fixed permutation. Phases
    * are spread over the slots (by stratum within a kind, by a quarter
    * between kinds), so the four largest pages of a round never all sit
    * at the top of their strata at once and every round costs about the
    * same. The design is the same under every seed, so any prefix of the
    * request stream has nearly the same cost profile. */
  val Design: Array[Slot] = {
    val r = new SplittableRandom(20L)
    Seq("article" -> 7, "forum" -> 4, "weixin" -> 3, Unhinted -> 6).zipWithIndex.flatMap {
      case ((k, c), ki) =>
        val depth = shuffle(r, (0 until c).toArray)
        (0 until c).map(i => Slot(k, i, depth(i), c, i.toDouble / c + ki / 4.0))
    }.toArray
  }
  val RoundRepeats = 5
  private val ZipfS = 1.1

  /** Design slots by size-stratum midpoint, in `RoundRepeats` groups of
    * equal size: repeat j of a round repeats a page of group j. */
  val RepeatGroups: Array[Array[Int]] =
    Design.indices.sortBy(c => (Design(c).sizeStratum + 0.5) / Design(c).strata).toArray
      .grouped(Design.length / RoundRepeats).toArray

  /** The page of slot `s` in round `round`. Its place within its size
    * and depth strata follows a fixed low-discrepancy sequence over
    * rounds, shifted by the slot's phase, rather than the seed, so every
    * run of k rounds covers the strata the same way and the latency
    * distribution, median included, does not move with the seed; the
    * seed picks the page's content. */
  private def designPage(r: SplittableRandom, s: Slot, round: Int, maxBytes: Int,
                         maxDepth: Int, id: String): Page = {
    def frac(x: Double) = x - math.floor(x)
    val (a, b) = (math.log(1024), math.log(maxBytes))
    val size = math.exp(a + (s.sizeStratum + frac((round + 1) * 0.6180339887 + s.phase)) / s.strata * (b - a))
    val depth = 1 + ((s.depthStratum + frac((round + 1) * 0.4142135624 + s.phase)) / s.strata * maxDepth).toInt
    page(r, s.kind, size.toInt, depth, id)
  }

  /** `rounds` rounds of requests. Each round asks for one new page per
    * design slot (1-256 KB, nested 1-48 deep, 30% unhinted) and, after
    * the first round, repeats 5 pages of earlier rounds (20% of
    * requests). Repeat j takes a slot of size group j, rotating with the
    * round (upwards for even j, downwards for odd j, so a round's
    * repeats cost about the same as the next round's), and picks among
    * that slot's earlier pages by Zipf rank, so the oldest are the
    * popular ones. Requests are shuffled within a round. Warm-up pages
    * are three more rounds of the design. */
  def docApi(seed: Long, rounds: Int): DocInput = {
    val r = rng(seed, 2)
    val cdf = Array.tabulate(rounds)(k => 1.0 / math.pow(k + 1, ZipfS)).scanLeft(0.0)(_ + _).tail
    val pages = Array.newBuilder[Page]
    val requests = Array.newBuilder[Int]
    var n = 0
    for (round <- 0 until rounds) {
      val fresh = Design.indices.map { c =>
        pages += designPage(r, Design(c), round, 262144, 48, s"d$n")
        n += 1
        n - 1
      }
      val repeats = if (round == 0) Nil else (0 until RoundRepeats).map { j =>
        val group = RepeatGroups(j)
        val turn = round % group.length
        val slot = group(if (j % 2 == 0) turn else group.length - 1 - turn)
        val rank = java.util.Arrays.binarySearch(cdf, 0, round, r.nextDouble() * cdf(round - 1))
        val earlier = math.min(round - 1, if (rank >= 0) rank else -rank - 1)
        earlier * Design.length + slot
      }
      requests ++= shuffle(r, (fresh ++ repeats).toArray)
    }
    val warmup = (0 until 3 * Design.length).map(i =>
      designPage(r, Design(i % Design.length), i / Design.length, 262144, 48, s"w$i")).toArray
    DocInput(pages.result(), requests.result(), warmup)
  }

  /** Page sizes (log-uniform on [lo, hi]) and depths (uniform on
    * [1, maxDepth]), stratified within each kind, so the costly
    * combinations (large, deep, unhinted) keep their share under every
    * seed. */
  private def stratifiedPerKind(r: SplittableRandom, kinds: Array[String], lo: Int, hi: Int,
                                maxDepth: Int): (Array[Int], Array[Int]) = {
    val sizes = new Array[Int](kinds.length)
    val depths = new Array[Int](kinds.length)
    kinds.indices.groupBy(kinds(_)).toSeq.sortBy(_._1).foreach { case (_, idx) =>
      val s = logUniform(r, idx.length, lo, hi)
      val d = uniformInts(r, idx.length, 1, maxDepth)
      idx.zipWithIndex.foreach { case (i, j) => sizes(i) = s(j); depths(i) = d(j) }
    }
    (sizes, depths)
  }
}

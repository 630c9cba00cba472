package graft.extract

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Pins every field of `ExtractorSet.extract(..., renderFormats = true)`
  * on generated pages: the fixtures are few and small, and perfbench's
  * oracle hashes only `text_content`, so a change to `content`,
  * `markdown` or `text_format` could otherwise pass every gate.
  *
  * Each page is extracted under three URLs, one per platform the URL
  * dispatches to, and each URL kind folds all 8 result fields (or the
  * quarantine message) of every page, in order, into one SHA-256. The
  * rows are checked against
  * `src/test/resources/extract_fingerprints.tsv`. Freezing: on a
  * mismatch the observed file is written to
  * `target/extract_fingerprints.tsv`; review the change and copy it
  * over the committed one.
  */
class ResultFingerprintSpec extends AnyFunSuite {

  private val fingerprintFile = "extract_fingerprints.tsv"
  private val Pages = 600
  private val urls = Seq(
    "article" -> "https://example.com/post/",
    "forum" -> "https://bbs.example.com/thread/",
    "weixin" -> "https://mp.weixin.qq.com/s/")

  // what the pages must reach for the fingerprint to cover the
  // engine's string passes
  private val Features: Seq[(String, ExtractResult => Boolean)] = Seq(
    "inline math" -> (_.content.contains("class=\"math-inline\" data-tex")),
    "equation" -> (_.content.contains("\\end{equation}</div>")),
    "collapsed <br> run" -> (_.content.contains("<br><br>")),
    "escaped markdown" -> (_.markdown.contains("\\*")),
    "bullet" -> (_.textFormat.contains("\u2022")),
    "heuristic stage" -> (_.metrics.fallbackStage == 4))
  private val seen = scala.collection.mutable.Map(Features.map(_._1 -> 0): _*)

  private final class Fold {
    private val md = MessageDigest.getInstance("SHA-256")
    var pages, quarantined = 0
    def add(s: String): Unit = {
      val b = s.getBytes(UTF_8)
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    def add(r: Either[String, ExtractResult]): Unit = {
      pages += 1
      r match {
        case Left(err) => quarantined += 1; add("quarantine"); add(err)
        case Right(x) =>
          Features.foreach { case (name, has) => if (has(x)) seen(name) += 1 }
          Seq(x.title, x.content, x.textContent, x.platform, x.markdown, x.textFormat)
            .foreach(add)
          x.metadata.toSeq.sorted.foreach { case (k, v) => add(k); add(v) }
          add(s"${x.metrics.nodesScored} ${x.metrics.fallbackStage} " +
            java.lang.Double.doubleToRawLongBits(x.metrics.boilerplateRatio))
      }
    }
    def hex: String = md.digest().take(16).map(b => f"$b%02x").mkString
  }

  test("every field of every generated page matches its committed fingerprint") {
    val r = new Random(1212)
    val folds = urls.map(_ => new Fold)
    val set = new ExtractorSet
    (1 to Pages).foreach { c =>
      val html = RandomPages.page(r)
      urls.zip(folds).foreach { case ((_, url), f) =>
        f.add(set.extract(html, url + c, renderFormats = true))
      }
    }
    val observed = urls.zip(folds).map { case ((kind, _), f) =>
      s"$kind\t${f.pages}\t${f.quarantined}\t${f.hex}"
    }.toList
    // the pages must reach the renderers, not stop at a quarantine
    folds.foreach(f => assert(f.quarantined < f.pages / 2, observed))
    assert(seen.values.forall(_ >= 10), seen)
    val in = getClass.getResourceAsStream(s"/$fingerprintFile")
    val committed =
      if (in == null) Nil
      else {
        val src = scala.io.Source.fromInputStream(in, "UTF-8")
        try src.getLines().filter(_.nonEmpty).toList finally src.close()
      }
    if (observed != committed) {
      val dump = Paths.get("target", fingerprintFile)
      Files.createDirectories(dump.getParent)
      Files.writeString(dump, observed.mkString("", "\n", "\n"))
      fail(s"extraction fingerprints differ; observed file: ${dump.toAbsolutePath}\n" +
        s"observed:\n${observed.diff(committed).mkString("\n")}\n" +
        s"committed:\n${committed.diff(observed).mkString("\n")}")
    }
  }
}

package graft.extract

import com.fasterxml.jackson.databind.ObjectMapper
import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the engine to the frozen fixture corpus
  * (src/test/resources/fixtures/<name>.json — FIXTURES.md §A). Every
  * field of every fixture must match EXACTLY; re-freeze via
  * `runMain graft.tools.FreezeFixtures` only on deliberate semantic
  * change, and review that diff like reference behavior.
  */
class GoldenFixtureSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private def load(name: String): Map[String, Any] = {
    val in = getClass.getResourceAsStream(s"/fixtures/$name.json")
    assert(in != null, s"missing frozen fixture $name.json — run FreezeFixtures")
    mapper.readValue(in, classOf[java.util.Map[String, Any]]).asScala.toMap
  }

  private def replay(name: String, url: String, html: String): Unit = {
    val set = new ExtractorSet
    val r = set.extract(html, url, renderFormats = true)
      .fold(err => fail(s"$name: unexpected error: $err"), identity)
    val exp = load(name)
    assert(r.title == exp("title"), s"$name: title")
    assert(r.platform == exp("platform"), s"$name: platform")
    assert(r.metrics.fallbackStage == exp("fallback_stage"), s"$name: fallback_stage")
    assert(r.content == exp("content"), s"$name: content")
    assert(r.textContent == exp("text_content"), s"$name: text_content")
    assert(r.markdown == exp("markdown"), s"$name: markdown")
    assert(r.textFormat == exp("text_format"), s"$name: text_format")
    // the string-based renderer entry points must agree with the
    // DOM-based hot path (same fixture, re-parsed content)
    assert(MarkdownRenderer.render(r.content) == exp("markdown"), s"$name: markdown(string path)")
    val expMeta = exp("metadata").asInstanceOf[java.util.Map[String, Any]]
      .asScala.map { case (k, v) => k -> v.toString }.toMap
    assert(r.metadata == expMeta, s"$name: metadata")
  }

  private def replayError(name: String, url: String, html: String): Unit = {
    val err = new ExtractorSet().extract(html, url).left.getOrElse(fail(s"$name: expected error"))
    assert(err == load(name)("error"), name)
  }

  FixtureCorpus.fixtures.foreach { case (name, url, html) =>
    test(s"fixture: $name")(replay(name, url, html))
  }

  FixtureCorpus.errorFixtures.foreach { case (name, url, html) =>
    test(s"fixture (error): $name")(replayError(name, url, html))
  }

  test("class weights and fixtures do not depend on the default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr-TR"))
    try {
      // Turkish lowercases "SIDEBAR" to "sıdebar" (dotless ı)
      val e = HtmlParser.parse("<body><div class=\"SIDEBAR\"></div></body>").select("div").head
      assert(new BaseExtractor().calculateNodeScore(e) == 4 - 8)
      FixtureCorpus.fixtures.foreach { case (name, url, html) => replay(name, url, html) }
      FixtureCorpus.errorFixtures.foreach { case (name, url, html) => replayError(name, url, html) }
    } finally Locale.setDefault(saved)
  }

  test("fixtures are deterministic across extractor instances and repeated calls") {
    val set1 = new ExtractorSet
    val set2 = new ExtractorSet
    FixtureCorpus.fixtures.foreach { case (_, url, html) =>
      val a = set1.extract(html, url)
      val b = set1.extract(html, url) // same instance, repeated (state reset)
      val c = set2.extract(html, url)
      assert(a == b && a == c)
    }
  }
}

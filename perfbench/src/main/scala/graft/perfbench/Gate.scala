package graft.perfbench

import java.nio.file.{Path, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.extract.{ExtractResult, ExtractorSet, FixtureCorpus, HtmlParser,
  MarkdownRenderer, TextRenderer}

/** Attempted checks and the number that failed. */
final case class Tally(attempted: Long, failed: Long) {
  def +(o: Tally): Tally = Tally(attempted + o.attempted, failed + o.failed)
}

/** One engine call, as `ExtractorSet.extract(html, url, renderFormats =
  * true)` makes it. Traced, it makes the same public calls in the same
  * order with a span around each (render goes through the string entry
  * points on `result.content`), and records per-document counts on the
  * request span. */
object Engine {
  val TooShort = "Retrieved HTML content is too short or empty"
  val NoContent = "No content could be extracted from the page"

  def call(ex: ExtractorSet, html: String, url: String, tracer: Tracer): Either[String, ExtractResult] =
    tracer match {
      case rec: SpanRecorder => traced(ex, html, url, rec)
      case _                 => ex.extract(html, url, renderFormats = true)
    }

  private def traced(ex: ExtractorSet, html: String, url: String,
                     tr: SpanRecorder): Either[String, ExtractResult] = {
    var attrs = Map("html_chars" -> Option(html).fold(0.0)(_.length.toDouble))
    tr.span("extract.request", attrs) {
      val out =
        if (html == null || html.length < 100) Left(TooShort)
        else try {
          val doc = tr.span("extract.parse")(HtmlParser.parse(ex.article.preCollapse(html)))
          attrs += "elements" -> doc.descendants.size.toDouble
          val pageType = tr.span("extract.detect")(ex.detectPageType(url, doc))
          val result = tr.span("extract.extract_doc")(ex.forType(pageType).extractDoc(doc, url))
          attrs ++= Map("nodes_scored" -> result.metrics.nodesScored.toDouble,
            "stage" -> result.metrics.fallbackStage.toDouble,
            "text_chars" -> result.textContent.length.toDouble)
          if (result.content.isEmpty) Left(NoContent)
          else tr.span("extract.render") {
            Right(result.copy(markdown = MarkdownRenderer.render(result.content),
              textFormat = TextRenderer.render(result.content)))
          }
        } catch {
          case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      attrs += "quarantined" -> (if (out.isLeft) 1.0 else 0.0)
      out
    }
  }

  /** Per-layer numbers of the engine from a traced pass. */
  def layerMetrics(tr: SpanRecorder): Map[String, Double] = {
    val requests = tr.named("extract.request")
    val docs = requests.map(_.attrs)
    if (docs.isEmpty) return Map.empty
    def meanMs(name: String) = {
      val s = tr.named(name)
      if (s.isEmpty) 0.0 else s.map(_.durUs).sum / 1e3 / s.length
    }
    val largeCut = Stats.quantile(requests.map(_.attrs("html_chars")).sorted, 0.9)
    val largeIds = requests.filter(_.attrs("html_chars") >= largeCut).map(_.id).toSet
    val large = tr.named("extract.extract_doc").filter(s => largeIds.contains(s.parent))
    val ok = docs.filter(_("quarantined") == 0.0)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    Map(
      "extract.parse_ms" -> meanMs("extract.parse"),
      "extract.detect_ms" -> meanMs("extract.detect"),
      "extract.extract_doc_ms" -> meanMs("extract.extract_doc"),
      "extract.extract_doc_ms_large" -> mean(large.map(_.durUs / 1e3)),
      "extract.render_ms" -> meanMs("extract.render"),
      "extract.elements_per_doc" -> mean(docs.flatMap(_.get("elements"))),
      "extract.nodes_scored_per_doc" -> mean(ok.map(_("nodes_scored"))),
      "extract.heuristic_share" -> mean(ok.map(d => if (d("stage") >= 4) 1.0 else 0.0)),
      "extract.quarantine_share" -> mean(docs.map(_("quarantined"))),
      "extract.text_yield" -> docs.flatMap(_.get("text_chars")).sum / docs.map(_("html_chars")).sum)
  }
}

/** Correctness checks made before anything is timed. */
object Gate {
  private val mapper = new ObjectMapper()

  /** Where the program's frozen fixture outputs live, from the checkout root. */
  val FixtureDir: Path = Paths.get("src", "test", "resources", "fixtures")

  private def expected(name: String): Map[String, Any] =
    mapper.readValue(FixtureDir.resolve(s"$name.json").toFile,
      classOf[java.util.Map[String, Any]]).asScala.toMap

  /** Replays the frozen fixtures through `ExtractorSet.extract` and
    * requires every field to match; returns the failures by name. */
  def fixtures(): (Tally, Seq[String]) = {
    val bad = Seq.newBuilder[String]
    FixtureCorpus.fixtures.foreach { case (name, url, html) =>
      val exp = expected(name)
      val ok = new ExtractorSet().extract(html, url, renderFormats = true) match {
        case Left(_) => false
        case Right(r) =>
          val meta = exp("metadata").asInstanceOf[java.util.Map[String, Any]].asScala
            .map { case (k, v) => k -> v.toString }.toMap
          r.title == exp("title") && r.platform == exp("platform") &&
            r.metrics.fallbackStage == exp("fallback_stage") && r.content == exp("content") &&
            r.textContent == exp("text_content") && r.markdown == exp("markdown") &&
            r.textFormat == exp("text_format") &&
            MarkdownRenderer.render(r.content) == exp("markdown") && r.metadata == meta
      }
      if (!ok) bad += name
    }
    FixtureCorpus.errorFixtures.foreach { case (name, url, html) =>
      if (new ExtractorSet().extract(html, url) != Left(expected(name)("error"))) bad += name
    }
    val b = bad.result()
    (Tally(FixtureCorpus.fixtures.length + FixtureCorpus.errorFixtures.length, b.length), b)
  }

  /** A turn's expected output columns from a single-threaded engine pass. */
  final case class RefRow(conv_id: String, turn_idx: Int, text_content: String, error: Option[String])

  /** Pure-engine pass over the turns (no Spark), the oracle for the Spark
    * outputs: `threads` plain threads, each with its own extractor set, or
    * one thread when traced. Counts unexpected quarantines: an HTML page
    * that fails, or a plain-text turn that does not. */
  def reference(in: BatchInput, tracer: Tracer, threads: Int): (Seq[RefRow], Tally) = {
    def slice(from: Int, until: Int, tr: Tracer): Seq[RefRow] = {
      val ex = new ExtractorSet
      (from until until).map { i =>
        val t = in.turns(i)
        Engine.call(ex, t.text, Gen.urlOf(t), tr) match {
          case Right(x) => RefRow(t.conv_id, t.turn_idx, x.textContent, None)
          case Left(e)  => RefRow(t.conv_id, t.turn_idx, "", Some(e))
        }
      }
    }
    val n = in.turns.length
    val rows = tracer match {
      case rec: SpanRecorder => slice(0, n, rec)
      case _ =>
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try {
          val step = (n + threads - 1) / threads
          Await.result(Future.sequence((0 until n by step).map(a =>
            Future(slice(a, math.min(n, a + step), NoTrace)))), Duration.Inf).flatten
        } finally pool.shutdown()
    }
    val unexpected = rows.indices.count(i => rows(i).error.isDefined != (in.kinds(i) == Gen.Plain))
    (rows, Tally(n, unexpected))
  }

  private val HashExpr = "xxhash64(conv_id, turn_idx, text_content, error)"

  /** Per-turn hash of the expected rows, computed by Spark with the same
    * expression as [[compare]]. */
  def referenceHashes(spark: SparkSession, rows: Seq[RefRow]): Map[(String, Int), Long] =
    spark.createDataFrame(rows).selectExpr("conv_id", "turn_idx", s"$HashExpr AS h")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap

  /** Outcome of checking one output table against the oracle. `parseMs`
    * is each turn's engine time from the job's own `metrics.parse_ns`. */
  final case class Check(tally: Tally, lost: Int, duplicated: Int, mismatched: Int,
                         fingerprint: Long, parseMs: Seq[Double])

  /** Row count, key uniqueness and `bit_xor(xxhash64(conv_id, turn_idx,
    * text_content, error))` of an ExtractedTurn-shaped table against the
    * oracle's per-turn hashes. */
  def compare(out: DataFrame, ref: Map[(String, Int), Long]): Check = {
    val rows = out.selectExpr("conv_id", "turn_idx", s"$HashExpr AS h", "metrics.parse_ns")
      .collect()
    val seen = scala.collection.mutable.Map.empty[(String, Int), Long]
    var dup = 0
    var mismatch = 0
    rows.foreach { r =>
      val k = (r.getString(0), r.getInt(1))
      if (seen.contains(k)) dup += 1
      else {
        seen(k) = r.getLong(2)
        if (!ref.get(k).contains(r.getLong(2))) mismatch += 1
      }
    }
    val lost = ref.keysIterator.count(k => !seen.contains(k))
    val fp = rows.foldLeft(0L)(_ ^ _.getLong(2))
    Check(Tally(ref.size, lost + dup + mismatch), lost, dup, mismatch, fp,
      rows.map(_.getLong(3) / 1e6).toSeq)
  }
}

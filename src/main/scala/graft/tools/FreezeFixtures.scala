package graft.tools

import java.nio.file.{Files, Paths}
import graft.extract._

/** Writes the current engine output for every FixtureCorpus input to
  * src/test/resources/fixtures/<name>.json. Run ONCE per deliberate
  * semantic change, review the diff, commit — GoldenFixtureSpec pins
  * the engine to these files thereafter.
  */
object FreezeFixtures {

  /** JSON string literal: escapes backslash, quote and ALL control
    * chars (< 0x20) — also `graft.Verify`'s oracle_sql.json, where a
    * tab or CR in the SQL would otherwise make the driver's json.load
    * fail. */
  def esc(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def resultJson(r: ExtractResult): String = {
    val md = r.metadata.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${esc(k)}: ${esc(v)}" }.mkString("{", ", ", "}")
    s"""{
       |  "title": ${esc(r.title)},
       |  "platform": ${esc(r.platform)},
       |  "fallback_stage": ${r.metrics.fallbackStage},
       |  "content": ${esc(r.content)},
       |  "text_content": ${esc(r.textContent)},
       |  "markdown": ${esc(r.markdown)},
       |  "text_format": ${esc(r.textFormat)},
       |  "metadata": $md
       |}""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val outDir = Paths.get("src/test/resources/fixtures")
    Files.createDirectories(outDir)
    val set = new ExtractorSet
    FixtureCorpus.fixtures.foreach { case (name, url, html) =>
      set.extract(html, url, renderFormats = true) match {
        case Right(r) =>
          Files.writeString(outDir.resolve(s"$name.json"), resultJson(r))
          println(s"froze $name (stage ${r.metrics.fallbackStage}, title='${r.title}')")
        case Left(err) =>
          println(s"ERROR fixture $name unexpectedly failed: $err")
          sys.exit(1)
      }
    }
    FixtureCorpus.errorFixtures.foreach { case (name, url, html) =>
      set.extract(html, url, renderFormats = true) match {
        case Left(err) =>
          Files.writeString(outDir.resolve(s"$name.json"), s"""{ "error": ${esc(err)} }""")
          println(s"froze $name (error='$err')")
        case Right(_) =>
          println(s"ERROR fixture $name unexpectedly succeeded"); sys.exit(1)
      }
    }
  }
}

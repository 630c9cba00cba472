package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic transcript table (FIXTURES.md §B).
  *
  * Derives a `Turn`-shaped table (conv_id, turn_idx, role, text,
  * tool, ts) from the driver's `documents.parquet`, purely with
  * column arithmetic on `doc_id` — every row is a pure function of
  * (doc_id, doc text), so the table is identical at any parallelism
  * and any partitioning (the order-invariance property the north
  * rule requires).
  *
  * Layout:
  *  - every 20th doc (doc_id%20==19) lands in ONE skewed
  *    conversation `conv-skew` (~5% of all rows) to exercise salting
  *    + AQE skew handling;
  *  - remaining docs form dense 4-turn conversations in doc_id order;
  *  - `text` wraps the document body in an article / forum / weixin
  *    HTML page template (all extractor branches appear at scale);
  *  - roles cycle user/assistant/tool; `tool` mixes
  *    ""/browser/search/weixin (the weixin rows get a
  *    mp.weixin.qq.com synthetic URL in ExtractJob).
  */
object TranscriptGen {

  private def escapeHtml(c: Column): Column = {
    // only & and < matter for our ASCII corpus; keep cheap + codegen'd
    regexp_replace(regexp_replace(c, "&", "&amp;"), "<", "&lt;")
  }

  /** Deterministically replicate the corpus K× (each replica is a
    * distinct set of conversations) — used to build a large-enough
    * input for scaling measurements from the fixed-size documents
    * table. Pure column ops; still a pure function of (doc_id,
    * replica, text). */
  def fromDocumentsReplicated(docs: DataFrame, replicate: Int): DataFrame = {
    if (replicate <= 1) return fromDocuments(docs)
    val reps = docs.sparkSession.range(replicate).toDF("replica")
    val turns = fromDocuments(docs)
    turns.crossJoin(reps)
      .withColumn("conv_id", concat(col("conv_id"), lit("-r"), col("replica")))
      .drop("replica")
  }

  def fromDocuments(docs: DataFrame): DataFrame = {
    val isSkew = col("doc_id") % 20 === 19
    // dense index among non-skew docs: doc_id minus #skew docs before
    // it (integer division — Spark's `/` on longs yields DOUBLE, so
    // `DIV` is load-bearing here)
    val k = expr("doc_id - ((doc_id + 1) DIV 20)")
    val convId = when(isSkew, lit("conv-skew"))
      .otherwise(format_string("conv-%06d",
        expr("(doc_id - ((doc_id + 1) DIV 20)) DIV 4").cast("int")))
    val turnIdx = when(isSkew, expr("(doc_id - 19) DIV 20").cast("int"))
      .otherwise((k % 4).cast("int"))
    val role = element_at(array(lit("user"), lit("assistant"), lit("tool")),
      (turnIdx % 3) + 1)
    val tool = element_at(
      array(lit(""), lit(""), lit(""), lit("browser"), lit("browser"),
        lit("search"), lit("weixin")),
      (col("doc_id") % 7).cast("int") + 1)
    val kind = when(col("doc_id") % 7 === 6, "weixin")
      .when(col("doc_id") % 3 === 1, "forum")
      .otherwise("article")
    val body = escapeHtml(col("text"))
    val title = format_string("Doc %d transcript turn", col("doc_id"))

    val articleHtml = format_string(
      """<html><head><title>%s | ExampleSite</title>
        |<meta property="og:title" content="%s"/>
        |<meta name="author" content="gen-author-%d"/></head>
        |<body><nav class="navbar"><a href="/">home</a><a href="/about">about</a><a href="/contact">contact</a></nav>
        |<div class="sidebar">related links and more links <a href="#">one</a> <a href="#">two</a> <a href="#">three</a></div>
        |<article class="article-content"><h1>%s</h1>
        |<p>%s</p>
        |<p>Second paragraph with punctuation. It has sentences! Does it help scoring? Yes.</p>
        |</article>
        |<footer class="footer">copyright example</footer></body></html>""".stripMargin,
      title, title, col("doc_id"), title, body)

    val forumHtml = format_string(
      """<html><head><title>%s - Forum</title></head>
        |<body><nav class="nav">forum nav <a href="/">index</a></nav>
        |<div class="thread"><div class="post first-post"><div class="post-content"><h2>%s</h2><p>%s</p></div></div>
        |<div class="post reply"><div class="post-content"><p>Reply one agrees with the analysis. Quite convincing overall!</p></div></div>
        |<div class="post reply"><div class="post-content"><p>Reply two adds details. More context follows here.</p></div></div></div>
        |<footer>forum footer</footer></body></html>""".stripMargin,
      title, title, body)

    val weixinHtml = format_string(
      """<html><head><title>%s</title></head>
        |<body><div class="rich_media"><h1 class="rich_media_title">%s</h1>
        |<div class="rich_media_meta_list"><span class="rich_media_meta rich_media_meta_text">gen-author-%d</span></div>
        |<div id="js_content" class="rich_media_content"><p>%s</p>
        |<p>Closing remarks with punctuation. Short and sweet!</p></div></div>
        |<div class="rich_media_tool">toolbar noise</div></body></html>""".stripMargin,
      title, title, col("doc_id"), body)

    val html = when(kind === "weixin", weixinHtml)
      .when(kind === "forum", forumHtml)
      .otherwise(articleHtml)

    val ts = timestamp_seconds(
      lit(1700000000L) + abs(hash(convId)) % 1000000L + turnIdx * 60L)

    docs.select(
      convId.as("conv_id"),
      turnIdx.as("turn_idx"),
      role.as("role"),
      html.as("text"),
      tool.as("tool"),
      ts.as("ts"))
  }

  /** Synthetic URL per turn (SURVEY.md §1.2): weixin-tool rows get a
    * weixin URL so the reference's url-based dispatch fires; others a
    * conv:// URL (classifies by HTML features, as the reference does).
    */
  def urlOf(convId: String, turnIdx: Int, tool: String): String =
    if (tool == "weixin") s"https://mp.weixin.qq.com/s/$convId-$turnIdx"
    else s"conv://$convId/$turnIdx"
}

package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  test("transcript generator: dense turn_idx per conversation, deterministic") {
    val t = TranscriptGen.fromDocuments(docs).cache()
    // no duplicate (conv_id, turn_idx)
    val dups = t.groupBy("conv_id", "turn_idx").count().filter(col("count") > 1).count()
    assert(dups == 0)
    // turn_idx dense 0..n-1 per conversation
    val bad = t.groupBy("conv_id")
      .agg(count(lit(1)).as("n"), max("turn_idx").as("mx"), min("turn_idx").as("mn"))
      .filter(col("mx") =!= col("n") - 1 || col("mn") =!= 0).count()
    assert(bad == 0)
    // skewed conversation carries ~5% of rows
    val skewRows = t.filter(col("conv_id") === "conv-skew").count()
    assert(skewRows == docs.count() / 20)
    // deterministic across evaluations
    val h1 = t.agg(expr("bit_xor(xxhash64(conv_id, turn_idx, text))")).head.getLong(0)
    val h2 = TranscriptGen.fromDocuments(docs)
      .agg(expr("bit_xor(xxhash64(conv_id, turn_idx, text))")).head.getLong(0)
    assert(h1 == h2)
  }

  test("extraction output is invariant under partitioning") {
    val turns = TranscriptGen.fromDocuments(docs)
    // ExtractJob.run keeps the input's partitioning
    def fingerprint(numParts: Int): Long = {
      val out = ExtractJob.run(spark, turns.repartition(numParts))
      assert(out.rdd.getNumPartitions == numParts)
      out.agg(expr("bit_xor(xxhash64(conv_id, turn_idx, title, text_content, platform))"))
        .head.getLong(0)
    }
    assert(fingerprint(2) == fingerprint(13))
  }

  test("q21 metrics rollup is invariant under partitioning") {
    val turns = TranscriptGen.fromDocuments(docs)
    def rollup(numParts: Int): Seq[org.apache.spark.sql.Row] =
      ExtractQueries.platformMetrics(ExtractJob.run(spark, turns.repartition(numParts)))
        .collect().toSeq
    assert(rollup(2) == rollup(7))
  }

  test("extraction: no error rows on generated corpus; platforms mixed") {
    val out = ExtractJob.run(spark, TranscriptGen.fromDocuments(docs)).cache()
    assert(out.filter(col("error").isNotNull).count() == 0)
    val platforms = out.select("platform").distinct().collect().map(_.getString(0)).toSet
    assert(platforms == Set("article", "forum", "weixin"))
    assert(out.filter(length(col("text_content")) > 0).count() == out.count())
  }

  test("short/invalid payloads land in quarantine rows, not task failures") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    val turns = Seq(
      Turn("c1", 0, "user", "<p>tiny</p>", "", ts),
      Turn("c1", 1, "user", "<html><body><article class=\"article-content\"><p>" +
        ("Perfectly good content sentence for extraction purposes here. " * 4) +
        "</p></article></body></html>", "", ts),
      // nesting that overflows the engine's stack: a quarantine row,
      // not a failed task (and so a failed job)
      Turn("c1", 2, "user", "<html><body>" + "<div>" * 100000 +
        ("Deeply nested text that is long enough to pass the input length guard. " * 2),
        "", ts)).toDF()
    val out = ExtractJob.run(spark, turns)
    assert(out.filter(col("error").isNotNull).count() == 2)
    assert(out.filter(col("error").isNull).count() == 1)
  }

  test("reassembly: chunked two-level aggregation equals flat for any chunk size") {
    val extracted = ExtractJob.run(spark,
      TranscriptGen.fromDocuments(docs)).cache()
    // chunkSize larger than any conversation ⇒ degenerate single-chunk
    // (= flat) path through the same code; tiny chunkSize forces real
    // multi-chunk merges (incl. on the skewed conversation)
    val flat = Reassembly.conversations(extracted, chunkSize = 1 << 30)
    val chunked = Reassembly.conversations(extracted, chunkSize = 3)
    assert(flat.exceptAll(chunked).count() == 0)
    assert(chunked.exceptAll(flat).count() == 0)
    extracted.unpersist()
  }

  test("reassembly: a 1M-turn conversation reassembles with bounded buffers") {
    // 1M turns in ONE conversation: the flat collect_list would buffer
    // 1M structs on a single reducer; the chunked path caps each
    // level-1 buffer at chunkSize and fans the chunks across reducers.
    val big = spark.range(1000000).selectExpr(
      "'conv-big' AS conv_id", "CAST(id AS INT) AS turn_idx",
      "'t' AS text_content", "CAST(NULL AS STRING) AS error")
    val out = Reassembly.conversations(big, chunkSize = 8192).head
    assert(out.getAs[Long]("n_turns") == 1000000L)
    // 1M single-char texts joined by "\n\n"
    assert(out.getAs[String]("conversation_text").length == 3 * 1000000 - 2)
    assert(out.getAs[Long]("n_errors") == 0L)
  }

  test("reassembly: stable order, counts match generator") {
    val turns = TranscriptGen.fromDocuments(docs)
    val conv = Reassembly.conversations(
      ExtractJob.run(spark, turns)).cache()
    val genCounts = turns.groupBy("conv_id").count()
    val joined = conv.join(genCounts, "conv_id")
      .filter(col("n_turns") =!= col("count")).count()
    assert(joined == 0)
    // conversation text begins with turn 0's content
    val row = conv.filter(col("conv_id") === "conv-000000").head
    assert(row.getAs[String]("conversation_text").startsWith("Doc 0 transcript turn"))
  }
}

package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalStreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  test("synthetic assets: binary payload + typed metadata schema") {
    val a = Multimodal.syntheticAssets(docs).cache()
    assert(a.count() == docs.count())
    val schema = a.schema
    assert(schema("payload").dataType.typeName == "binary")
    assert(schema("meta").dataType.typeName == "struct")
    val row = a.orderBy("asset_id").head
    assert(row.getAs[Array[Byte]]("payload").length == 36)
    val kinds = a.select("kind").distinct().collect().map(_.getString(0)).toSet
    assert(kinds == Set("image", "audio", "video"))
  }

  test("feature extraction: batched, deterministic, fixed dim") {
    val a = Multimodal.syntheticAssets(docs)
    val f1 = Multimodal.extractFeatures(spark, a).cache()
    assert(f1.filter(size(col("features")) =!= Multimodal.StubCodec.FeatureDim).count() == 0)
    assert(f1.filter(col("feature_norm") <= 0).count() == 0)
    val h1 = f1.agg(expr("bit_xor(xxhash64(asset_id, cast(feature_norm*1e9 as bigint)))")).head.getLong(0)
    val h2 = Multimodal.extractFeatures(spark, a.repartition(7))
      .agg(expr("bit_xor(xxhash64(asset_id, cast(feature_norm*1e9 as bigint)))")).head.getLong(0)
    assert(h1 == h2)
  }

  test("frame sampling bounded") {
    val plan = Multimodal.frameSamplePlan(Multimodal.syntheticAssets(docs), 10000L, 8)
    assert(plan.filter(size(col("sample_ts_ms")) > 8).count() == 0)
    assert(plan.count() > 0)
  }

  test("streaming extraction agrees with batch on the same micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val turnsDf = TranscriptGen.fromDocuments(docs.limit(60))
    val turns = turnsDf.as[Turn].collect().toSeq

    val stream = MemoryStream[Turn]
    stream.addData(turns)
    val q = graft.streaming.StreamingExtract
      .extractStream(spark, stream.toDF())
      .writeStream.format("memory").queryName("extracted_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("extracted_stream")
    val batch = ExtractJob.run(spark, turnsDf)
    assert(streamed.count() == batch.count())
    def fp(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(expr("bit_xor(xxhash64(conv_id, turn_idx, title, text_content, platform, " +
        "markdown, text_format))"))
        .head.getLong(0)
    assert(fp(streamed) == fp(batch))
  }

  test("streaming dedup drops in-horizon duplicates, agrees with batch q04 survivors") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // duplicate every text: same micro-batch ⇒ inside any watermark
    val base = TranscriptGen.fromDocuments(docs.limit(40)).as[Turn].collect().toSeq
    val dupes = base.map(t => t.copy(conv_id = t.conv_id + "_dup", ts =
      new java.sql.Timestamp(t.ts.getTime + 1000)))
    val stream = MemoryStream[Turn]
    stream.addData(scala.util.Random.javaRandomToRandom(
      new java.util.Random(7)).shuffle(base ++ dupes))
    val q = graft.streaming.StreamingExtract.dedupStream(stream.toDF())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("dedup_stream")
    // exactly one survivor per distinct text — the batch q04 cardinality
    val distinctTexts = base.map(_.text).distinct.size
    assert(out.count() == distinctTexts)
    assert(out.select("content_hash").distinct().count() == distinctTexts)
  }

  test("streaming ingest drops committed content via the stream-static anti-join") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // day 1: extract + commit a corpus
    val root = java.nio.file.Files.createTempDirectory("graft-stream-ingest")
    try {
      val store = new ParquetSnapshotStore(root.toString)
      CheckpointedExtract.run(spark, TranscriptGen.fromDocuments(docs.limit(30)),
        store, buckets = 2, bucketsPerCommit = 2)
      val storeHashes = graft.streaming.StreamingExtract.storeHashIndex(store, spark)
      // day 2 stream: re-crawled committed content + fresh docs (one duplicated in-stream)
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      val recrawl = store.readData(spark).select(col("text_content")).limit(10)
        .collect().zipWithIndex.map { case (r, i) =>
          (new java.sql.Timestamp(t0.getTime + i * 1000L), r.getString(0), 1000L + i) }
      val fresh = Seq(
        (new java.sql.Timestamp(t0.getTime + 60000L), "fresh streaming document one", 1L),
        (new java.sql.Timestamp(t0.getTime + 61000L), "fresh streaming document two", 2L),
        (new java.sql.Timestamp(t0.getTime + 62000L), "fresh streaming document one", 3L))
      val stream = MemoryStream[(java.sql.Timestamp, String, Long)]
      stream.addData(recrawl.toSeq ++ fresh)
      val q = graft.streaming.StreamingExtract
        .ingestStream(stream.toDF().toDF("ts", "text", "doc_id"), storeHashes)
        .writeStream.format("memory").queryName("ingest_stream")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val out = spark.table("ingest_stream")
      // every re-crawled row dropped by the static hash index; the two
      // distinct fresh texts admitted once each (in-stream dup dropped)
      assert(out.count() == 2)
      assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    } finally ParquetSnapshotStore.deleteTree(root)
  }

  test("streaming windowed metrics produce rows under watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val turns = TranscriptGen.fromDocuments(docs.limit(30)).as[Turn].collect().toSeq
    val stream = MemoryStream[Turn]
    stream.addData(turns)
    val agg = graft.streaming.StreamingExtract.windowedMetrics(
      graft.streaming.StreamingExtract.extractStream(spark, stream.toDF()))
    val q = agg.writeStream.format("memory").queryName("metrics_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("metrics_stream").count() > 0)
  }
}

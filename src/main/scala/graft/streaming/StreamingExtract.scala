package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.ExtractJob

/** Structured Streaming wrapper over the same extraction core
  * (SURVEY.md §1.2 stretch goal): `readStream` of Turn-shaped
  * micro-batches → per-turn extraction → windowed quality metrics
  * with a watermark.
  *
  * The per-turn transform is the batch path's plan (`ExtractJob.run`:
  * mapPartitions over the source's partitions), keeping `ts` for the
  * window, so batch and streaming outputs agree row-for-row,
  * renderings included; the watermark/window agg demonstrates the
  * stateful side.
  */
object StreamingExtract {

  /** Per-turn extraction on a streaming Dataset of turns. */
  def extractStream(spark: SparkSession, turns: DataFrame): DataFrame = {
    import spark.implicits._
    turns.select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
        col("tool"), col("ts"))
      .as[graft.pipeline.Turn]
      .mapPartitions { it =>
        val ex = new graft.extract.ExtractorSet
        it.map(t => (t.ts, ExtractJob.extractTurn(ex, t)))
      }
      .select(col("_1").as("ts"), col("_2.*"))
  }

  /** Windowed per-platform extraction metrics with a watermark —
    * append-mode-compatible (north-rule metrics, streaming flavor). */
  def windowedMetrics(extracted: DataFrame): DataFrame =
    extracted
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("platform"))
      .agg(
        count(lit(1)).as("n_turns"),
        avg(col("metrics.boilerplate_ratio")).as("avg_boilerplate_ratio"),
        sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("n_errors"))

  /** Streaming exact dedup by content hash with a bounded-state
    * watermark (the streaming flavor of q04): each arriving turn is
    * keyed by md5(text); duplicates arriving within the watermark
    * horizon are dropped, and state older than the horizon is evicted
    * — the state store holds one (hash, ts) row per distinct recent
    * text, never the texts themselves, so state is bounded by the
    * event rate × horizon, not the corpus. Output rows are the
    * surviving (first-seen) turns. */
  def dedupStream(turns: DataFrame, horizon: String = "10 minutes"): DataFrame =
    turns
      .withColumn("content_hash", md5(col("text").cast("binary")))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming incremental ingest — the streaming flavor of q41's
    * exact-dedup stages: each arriving doc is dropped when its
    * content hash is already COMMITTED (a stream-static left_anti
    * join against the snapshot's hash column — only hashes sit on
    * the static side, never bodies; at scale that side is the
    * store's hash index, broadcast or shuffled once per micro-batch
    * by Spark's stream-static planning), then deduped WITHIN the
    * stream under the same bounded-state watermark as dedupStream.
    * Near-dup admission deliberately stays the daily batch job
    * (q41's df-capped machinery): cross-batch LSH state would grow
    * with the corpus, not the horizon, which is exactly what the
    * watermark contract forbids. */
  def ingestStream(docs: DataFrame, storeHashes: DataFrame,
                   horizon: String = "10 minutes"): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text").cast("binary")))
      .join(storeHashes, Seq("content_hash"), "left_anti")
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("content_hash")

  /** The committed store's content-hash index in the shape
    * `ingestStream` expects on its static side. */
  def storeHashIndex(store: graft.pipeline.TranscriptStore,
                     spark: SparkSession): DataFrame =
    store.readData(spark)
      .select(md5(col("text_content").cast("binary")).as("content_hash"))
      .distinct()
}

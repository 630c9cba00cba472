package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.ExtractorSet

/** The core Spark job: transcript table → per-turn extraction
  * (SURVEY.md §2.10, the north rule's engine).
  *
  * Shape: scan → mapPartitions with one ExtractorSet per partition
  * (partition-scoped analogue of the reference's process-wide
  * extractor cache, ExtractorFactory.ts:9 — fresh state per partition
  * kills the cross-document state bugs by construction) → typed
  * output rows.
  *
  * Scale notes:
  *  - extraction is per-turn pure, so the job is narrow: no exchange,
  *    and the input's splits set the parallelism and the output
  *    partitioning. Results do not depend on either; output order is
  *    only imposed downstream where an invariant requires it
  *    (Reassembly);
  *  - an input too coarsely split for the cluster is rebalanced by
  *    its producer, before any work that inflates the rows (the
  *    registry queries do this ahead of HTML synthesis);
  *  - the per-turn work is opaque string→struct (Catalyst can't see
  *    into HTML), so `mapPartitions` on a typed Dataset is the
  *    optimal plan — one codegen boundary, no per-row UDF setup
  *    (SURVEY.md §4.3).
  */
object ExtractJob {

  /** One turn through the engine, markdown and plain-text renderings
    * included. */
  def extractTurn(ex: ExtractorSet, t: Turn): ExtractedTurn = {
    val url = TranscriptGen.urlOf(t.conv_id, t.turn_idx, t.tool)
    val t0 = System.nanoTime()
    ex.extract(t.text, url, renderFormats = true) match {
      case Right(r) =>
        ExtractedTurn(
          conv_id = t.conv_id, turn_idx = t.turn_idx, role = t.role,
          platform = r.platform, title = r.title, content = r.content,
          text_content = r.textContent,
          markdown = r.markdown,
          text_format = r.textFormat,
          metadata = r.metadata,
          metrics = ExtractMetrics(r.metrics.nodesScored,
            r.metrics.boilerplateRatio, r.metrics.fallbackStage,
            System.nanoTime() - t0),
          error = None)
      case Left(err) =>
        ExtractedTurn(t.conv_id, t.turn_idx, t.role, "", "", "", "", "", "",
          Map.empty, ExtractMetrics(0, 0.0, 0, System.nanoTime() - t0),
          Some(err))
    }
  }

  /** Extract every turn of `turns` into [[ExtractedTurn]] rows, one
    * output partition per input partition. */
  def run(spark: SparkSession, turns: DataFrame): DataFrame = {
    import spark.implicits._
    turns
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
        col("tool"), col("ts"))
      .as[Turn]
      .mapPartitions { it =>
        val ex = new ExtractorSet // one parser/extractor set per partition
        it.map(extractTurn(ex, _))
      }.toDF()
  }
}

/** Per-conversation reassembly in stable (conv_id, turn_idx) order —
  * the table-scale analogue of the reference's forum-thread
  * reorganization (ForumExtractor.ts:245-273; SURVEY.md §2.8).
  *
  * Memory-bounded two-level aggregation: a flat
  * `collect_list(struct(turn_idx, text))` per conv_id would build one
  * unbounded array on a single reducer for a pathological
  * conversation (the generator deliberately routes ~5% of all rows to
  * `conv-skew`; at 10^9 turns that is an executor OOM). Instead:
  *
  *   level 1: group by (conv_id, turn_idx DIV chunkSize) — each
  *     collect_list buffer is bounded by chunkSize turns, and a
  *     skewed conversation's chunks hash to MANY reducers;
  *   level 2: group by conv_id over the (ordered, pre-concatenated)
  *     chunk strings — the buffer holds n_turns/chunkSize strings,
  *     not n_turns structs.
  *
  * `turn_idx DIV chunkSize` is an order-aligned bucketing (every
  * turn_idx in chunk i sorts before every turn_idx in chunk i+1) and
  * concat_ws with a fixed separator over non-null strings is
  * associative, so the chunked result is identical to the flat one
  * for ANY chunkSize (property-tested in PipelineSpec). The residual
  * cost — the output row itself is conversation-sized — is inherent
  * to the operator's contract; callers needing bounded rows consume
  * the level-1 chunk table instead ([[conversationChunks]]).
  */
object Reassembly {
  val DefaultChunkSize = 8192

  private def chunkCol(chunkSize: Int) =
    expr(s"CAST(turn_idx AS BIGINT) DIV $chunkSize")

  /** Level 1: bounded per-chunk reassembly — one row per
    * (conv_id, chunk), each covering ≤ chunkSize turns. */
  def conversationChunks(extracted: DataFrame,
                         chunkSize: Int = DefaultChunkSize): DataFrame =
    extracted
      .groupBy(col("conv_id"), chunkCol(chunkSize).as("chunk"))
      .agg(
        count(lit(1)).as("n_turns_c"),
        concat_ws("\n\n",
          transform(
            array_sort(collect_list(struct(col("turn_idx"), col("text_content")))),
            x => x.getField("text_content"))).as("chunk_text"),
        sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("n_errors_c"))

  /** Level 2: full per-conversation document from ordered chunks. */
  def conversations(extracted: DataFrame,
                    chunkSize: Int = DefaultChunkSize): DataFrame =
    conversationChunks(extracted, chunkSize)
      .groupBy(col("conv_id"))
      .agg(
        sum(col("n_turns_c")).as("n_turns"),
        concat_ws("\n\n",
          transform(
            array_sort(collect_list(struct(col("chunk"), col("chunk_text")))),
            x => x.getField("chunk_text"))).as("conversation_text"),
        sum(col("n_errors_c")).as("n_errors"))
}

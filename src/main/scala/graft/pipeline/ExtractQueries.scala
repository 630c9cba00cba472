package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.queries.{Q, Tables}

/** Extraction-core queries (non-SQL-expressible — rows-only driver
  * check; semantics are pinned by the golden-fixture ScalaTest suite
  * instead, see SURVEY.md §5.2, and each output by OracleSpec's
  * sf0.001 fingerprint).
  */
object ExtractQueries {

  /** Flagship: synthesize the transcript table from `documents`,
    * run the full per-turn extraction, return stable-ordered rows. */
  // The documents scan is a single split; rebalancing it to full
  // parallelism FIRST (Tables.parallelize — a no-op when the source
  // is properly split) lets the HTML synthesis and the narrow
  // extraction after it run in parallel, and the one shuffle carries
  // the raw document text, not the ~4-6x larger synthesized HTML.
  private def parTurns(s: org.apache.spark.sql.SparkSession, d: String) =
    TranscriptGen.fromDocuments(Tables.parallelize(Tables.documents(s, d)))

  val qExtract = Q.noOracle("q20_extract_turns") { (s, d) =>
    ExtractJob.run(s, parTurns(s, d))
      .select(col("conv_id"), col("turn_idx"), col("platform"), col("title"),
        col("text_content"), col("metrics.fallback_stage").as("fallback_stage"))
      .orderBy(col("conv_id"), col("turn_idx"))
  }

  /** Per-platform extraction metrics rollup (north rule metrics). */
  val qMetrics = Q.noOracle("q21_extract_metrics") { (s, d) =>
    platformMetrics(ExtractJob.run(s, parTurns(s, d)))
  }

  /** q21's rollup over extracted rows. The averages are exact sums
    * (DECIMAL for the ratio, LONG for the count) divided once, so they
    * depend on the rows only: a double `avg` adds its terms in
    * partition order and moves in the last digits when the
    * partitioning changes (as `CheckpointedExtract.metricsOf`). */
  def platformMetrics(extracted: DataFrame): DataFrame =
    extracted.groupBy(col("platform"))
      .agg(
        count(lit(1)).as("n_turns"),
        (sum(col("metrics.boilerplate_ratio").cast(DecimalType(38, 18))) / count(lit(1)))
          .cast("double").as("avg_boilerplate_ratio"),
        (sum(col("metrics.nodes_scored").cast("long")) / count(lit(1)))
          .as("avg_nodes_scored"),
        avg(when(col("metrics.fallback_stage") === 5, 1.0).otherwise(0.0))
          .as("body_fallback_rate"))
      .orderBy(col("platform"))

  /** Per-conversation reassembly of extracted turns in stable
    * (conv_id, turn_idx) order (ForumExtractor.reorganizeContent at
    * table scale; SURVEY.md §2.8/§2.10). */
  val qReassemble = Q.noOracle("q22_extract_reassembly") { (s, d) =>
    Reassembly.conversations(
        ExtractJob.run(s, parTurns(s, d)))
      .orderBy(col("conv_id"))
  }

  /** q38: extraction composed with corpus cleaning — the pipeline a
    * training-data user ACTUALLY runs end-to-end (round-4 VERDICT
    * #6): per-turn extraction → q36's oracle-verified cleaning stages
    * (quality gate → exact dedup → capped-Jaccard near-dup removal)
    * over the EXTRACTED text, not the raw documents. No SQL oracle is
    * possible across the extraction boundary (DuckDB cannot replay
    * the extractor), so the driver check is rows-only and the
    * semantics are pinned by OracleSpec's sf0.001 fingerprint (row
    * count and every column, in order) plus the q36 oracle on the
    * shared cleaning stages.
    *
    * doc_id = xxhash64(conv_id, turn_idx): deterministic and stable
    * under any partitioning, so the min-doc_id dedup canonicalization
    * and the near-dup higher-id drop are reproducible (collision odds
    * ~n²/2⁶⁵ — negligible at any realistic corpus size).
    * Scale shape: extraction is the narrow mapPartitions pass;
    * cleaning adds one (md5, doc_id) shuffle, the df-capped shingle
    * join, and two anti-joins — the same plan PlanSpec pins for q36. */
  val qExtractClean = Q.noOracle("q38_extract_corpus_clean") { (s, d) =>
    val turns = parTurns(s, d)
    // CACHED: corpusClean references its input on both sides of the
    // dedup join (and in the near-dup stage), so an uncached input
    // would re-run the EXPENSIVE extraction 2-3x — a real 2x at
    // 100 TB (for q36 the input is a cheap parquet scan, so it stays
    // uncached there; Dataset.cache spills MEMORY_AND_DISK, so this
    // holds at any corpus size — recompute always loses to re-read).
    val ex = graft.queries.TempCaches.cached(
      ExtractJob.run(s, turns).select(
        xxhash64(col("conv_id"), col("turn_idx")).as("doc_id"),
        col("platform"), col("text_content").as("text")))
    graft.queries.TextPipeline.corpusClean(ex, "platform")
  }

  val all: Seq[Q] = Seq(qExtract, qMetrics, qReassemble, qExtractClean)
}

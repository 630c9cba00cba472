package graft.pipeline

import java.sql.Timestamp

/** Input row: one conversation turn (BASELINE.json `input_hint`).
  * `text` carries the HTML payload.
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** Per-turn extraction metrics (north rule: "nodes scored,
  * boilerplate ratio, fallback rate" — see BASELINE.md).
  * fallback_stage: 1=xpath(no-op) 2=custom-selector 3=generic-selector
  * 4=heuristic-argmax 5=body-fallback.
  * parse_ns: wall time of the whole `ExtractorSet.extract` call for
  * the turn (parse, detection, extraction and rendering), not only
  * the parse.
  */
final case class ExtractMetrics(
    nodes_scored: Int,
    boilerplate_ratio: Double,
    fallback_stage: Int,
    parse_ns: Long)

/** Output row: reference `ExtractResult`
  * (/root/reference/app/types/extractor.ts:3-17) mapped per turn,
  * plus lineage/metrics columns per the north rule.
  */
final case class ExtractedTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    platform: String,
    title: String,
    content: String,
    text_content: String,
    markdown: String,
    text_format: String,
    metadata: Map[String, String],
    metrics: ExtractMetrics,
    error: Option[String])

package graft.pipeline

import org.apache.spark.sql.functions._
import graft.queries.{Q, Tables}

/** Multimodal + checkpoint/resume operators as registry queries. */
object MultimodalQueries {

  /** Per-asset decoded features via the batched binary pipeline.
    * ALL media kinds decode for real: image payloads are genuine PNGs
    * decoded with the JDK's ImageIO (PngCodec); audio payloads are
    * genuine RIFF/WAVE PCM parsed by WavCodec; video payloads are
    * genuine RIFF/AVI uncompressed-DIB streams parsed by AviCodec.
    * StubCodec survives only as the undecodable-payload fallback
    * (e.g. compressed formats). Rows-only for the driver, but every
    * column is pinned by OracleSpec's sf0.001 fingerprint so decode
    * regressions fail a test. Output is per-asset and deterministic
    * (PNG and PCM are lossless, so decoded pixels/samples — and
    * therefore features — are exact). */
  val q30 = Q.noOracle("q30_multimodal_features") { (s, d) =>
    val assets = Multimodal.syntheticAssetsDecodable(s, Tables.documents(s, d))
    Multimodal.extractFeatures(s, assets)
      .select(col("asset_id"), col("kind"), col("n_bytes"),
        round(col("feature_norm"), 6).as("feature_norm"))
      .orderBy(col("asset_id"))
  }

  /** Resize planning over binary assets — fully relational, so it
    * carries an oracle (payload is 4 magic bytes + two md5 digests;
    * dims are deterministic functions of the text). */
  val q31 = Q(
    "q31_multimodal_resize",
    """SELECT asset_id, kind, target_width, target_height, n_bytes
      |FROM (SELECT doc_id AS asset_id,
      |  (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
      |  CAST(LEAST(16 + (length(text) % 1024), 256) AS INT) AS target_width,
      |  CAST(LEAST(16 + ((length(text) * 31) % 768), 256) AS INT) AS target_height,
      |  CAST(octet_length(unhex(
      |    (CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '89504e47' WHEN 1 THEN '52494646' ELSE '00000018' END)
      |    || md5(text) || md5(text || 'x'))) AS INT) AS n_bytes
      |FROM documents) ORDER BY asset_id""".stripMargin) { (s, d) =>
    Multimodal.resizePlan(
        Multimodal.syntheticAssets(Tables.documents(s, d)), maxDim = 256)
      .select(col("asset_id"), col("kind"), col("target_width"),
        col("target_height"), col("n_bytes").cast("int").as("n_bytes"))
      .orderBy(col("asset_id"))
  }

  /** Frame sampling for video assets: bounded sample-timestamp arrays,
    * flattened to a comma-joined string so the driver's pandas compare
    * (and the DuckDB oracle) can hash it — the sampling plan is pure
    * arithmetic over (doc_id, n_chars). */
  val q32 = Q(
    "q32_frame_sample",
    """SELECT asset_id, CAST(len(ts_l) AS BIGINT) AS n_frames,
      |  array_to_string(list_transform(ts_l, x -> CAST(x AS VARCHAR)), ',') AS sample_ts
      |FROM (SELECT doc_id AS asset_id,
      |        (range(0, CAST((n_chars * 997) % 600000 AS BIGINT) + 1, 10000))[1:8] AS ts_l
      |      FROM documents WHERE doc_id % 3 = 2)
      |ORDER BY asset_id""".stripMargin) { (s, d) =>
    Multimodal.frameSamplePlan(
        Multimodal.syntheticAssets(Tables.documents(s, d)),
        everyMs = 10000L, maxFrames = 8)
      .select(col("asset_id"),
        size(col("sample_ts_ms")).cast("long").as("n_frames"),
        array_join(transform(col("sample_ts_ms"), _.cast("string")), ",")
          .as("sample_ts"))
      .orderBy(col("asset_id"))
  }

  /** REAL content resize over the decodable asset table: decode →
    * nearest-neighbor rescale (images/video frames) or sample
    * decimation (audio) → re-encode with the same zero-dependency
    * codecs. Rows-only (re-encoded byte streams are not
    * SQL-expressible); pixel/sample-exact behavior is pinned in
    * MultimodalCodecSpec, and the md5 column makes the driver's
    * rows-only dump content-sensitive. maxDim=12 so every decodable
    * kind genuinely transforms at sf geometry (images 16-32 px,
    * video frames 8-16 px, audio 256-767 samples). */
  val q34 = Q.noOracle("q34_multimodal_resize_exec") { (s, d) =>
    val assets = Multimodal.syntheticAssetsDecodable(s, Tables.documents(s, d))
    Multimodal.executeResize(s, assets, maxDim = 12)
      .select(col("asset_id"), col("kind"), col("n_bytes_in"),
        col("n_bytes_out"), col("resized"), md5(col("payload")).as("payload_md5"))
      .orderBy(col("asset_id"))
  }

  /** REAL frame extraction: AVI decode → every 2nd frame, ≤ 4 per
    * video → PNG thumbnails (bounded array column). Rows-only (PNG
    * byte streams are not SQL-expressible); frame-pixel exactness is
    * pinned in MultimodalCodecSpec; frames_md5 makes the driver dump
    * content-sensitive. */
  val q35 = Q.noOracle("q35_frame_extract") { (s, d) =>
    val assets = Multimodal.syntheticAssetsDecodable(s, Tables.documents(s, d))
    Multimodal.extractFrames(s, assets, everyN = 2, maxFrames = 4)
      .select(col("asset_id"), col("decoded"), col("n_frames"),
        size(col("frames")).as("n_sampled"), col("frames_md5"))
      .orderBy(col("asset_id"))
  }

  /** Checkpoint/commit/read round-trip through the snapshot store:
    * extraction committed in bucket groups with lineage + metrics,
    * then read back from the snapshot chain. Result must equal the
    * direct extraction (asserted in StoreSpec; rows-only here). */
  val q33 = Q.noOracle("q33_checkpoint_roundtrip") { (s, d) =>
    // under the SparkContext's files root, which spark.stop() deletes:
    // the store must outlive this call (the result reads it lazily)
    val dir = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(
      org.apache.spark.SparkFiles.getRootDirectory()), "graft-store-q33").toString
    val store = new ParquetSnapshotStore(dir)
    val turns = TranscriptGen.fromDocuments(
      Tables.parallelize(Tables.documents(s, d)))
    CheckpointedExtract.run(s, turns, store, buckets = 8, bucketsPerCommit = 4)
    store.readData(s)
      .select(col("conv_id"), col("turn_idx"), col("platform"),
        col("text_content"))
      .orderBy(col("conv_id"), col("turn_idx"))
  }

  val all: Seq[Q] = Seq(q30, q31, q32, q33, q34, q35)
}

package graft.extract

import java.sql.Timestamp

/** Input row — EXACTLY the input-hint shape (BASELINE.json input_hint):
  * Iceberg/parquet table of Common-Crawl-style web pages.
  * `text` is the crawl's noisy pre-extracted text (decoy column — the
  * engine computes its own clean text; the hot path never reads it).
  */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** The columns extraction reads — [[Page]] without the crawl's noisy
  * `text` (SURVEY.md §4.2 column-pruning contract) and `lang`. Input of
  * [[GoldenExtractor.extractPage]]; the Spark pipeline selects the same
  * three columns so the scan never reads the decoy `text`. `warc_ts`
  * rides along so latest-snapshot dedup can run AFTER extraction
  * (shuffling extracted text, ~25% of the raw html bytes, not the html).
  */
final case class PageLite(url: String, warc_ts: Timestamp, html: Array[Byte])

/** One candidate text block produced by the tokenizer (the CRAFT
  * "character region" analog, per BASELINE.json north_star: block
  * geometry = (tag, depth, pos), densities from char/link/tag counts).
  */
final case class Block(
    blockId: Int,
    tag: String,
    depth: Int,
    pos: Int,
    text: String,
    nChars: Int,
    nLinkChars: Int,
    nTags: Int
)

/** Scored page: stage M2 output. `scores`/`linkScores` are primitive
  * Float arrays indexed by blockId (the region/affinity score-map
  * analog of CRAFT, per BASELINE.json north_star: "per-block score
  * arrays as primitive Float arrays"). `linkScores(i)` is the affinity
  * between block i and block i+1 (last entry 0f).
  */
final case class ScoredPage(
    url: String,
    blocks: Array[Block],
    scores: Array[Float],
    linkScores: Array[Float]
)

/** One output span: byte offsets [start, end) into the extracted text
  * (UTF-8 bytes), the source blockId, span kind, and the block score.
  */
final case class Span(start: Int, end: Int, blockId: Int, kind: String, score: Float)

/** Final extracted row (SURVEY.md §1.2 output table) plus metrics
  * fields used by the checkpoint/lineage table. Spans are stored
  * STRUCT-OF-ARRAYS: four parallel primitive arrays
  * (index = span ordinal) instead of ARRAY<STRUCT<...>>. Primitive
  * arrays hit Spark's UnsafeArrayData fast path — no per-element object
  * construction, no nested-group assembly in parquet —
  * measured ~30% of pipeline wall-time at 8 cores with the row-form
  * representation. Row-form spans remain available relationally via
  * arrays_zip (see Queries / ExtractPipeline.spansAsStructs). Span kind
  * is uniform ("content") in the current heuristic set and therefore
  * not materialized per span.
  */
final case class ExtractedPage(
    url: String,
    warc_ts: Timestamp,
    text: String,
    span_starts: Array[Int],
    span_ends: Array[Int],
    span_block_ids: Array[Int],
    span_scores: Array[Float],
    n_blocks: Int,
    n_kept: Int,
    bytes_in: Long,
    bytes_out: Long
)

/** Extraction configuration: the two settings production varies.
  * Broadcast once per job; pure data, no state. The score and affinity
  * thresholds are fixed constants of the heuristic ([[Assembler.TextThreshold]],
  * [[Assembler.LinkThreshold]]), not per-job settings.
  *
  * @param blockSep     separator between kept blocks in the output text
  * @param maxHtmlBytes per-page work cap on outside input
  *                     (canvas_size/mag_ratio analog)
  */
final case class ExtractorConfig(
    blockSep: String = "\n",
    maxHtmlBytes: Int = 4 * 1024 * 1024
)

object ExtractorConfig {
  val default: ExtractorConfig = ExtractorConfig()
  /** Config used by the oracle queries over documents-derived pages:
    * blocks joined by a single space so extracted text is byte-identical
    * to the source document text (single-space-separated words).
    */
  val spaceJoined: ExtractorConfig = ExtractorConfig(blockSep = " ")
}

package graft.model

import java.sql.Timestamp

/** Input row — the exact `input_hint` shape from BASELINE.json:
  * one Common-Crawl-style web page per row.
  * Reference analogue: one PDF page / one markdown intermediate
  * (/root/reference/soa_extractor/run.py:149-183).
  */
case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** A span of the extracted main text: offsets are into the extracted
  * text string (byte-identity contract is on text + these offsets).
  */
case class Span(start: Int, end: Int, kind: String, block_id: Int)

/** Result of content extraction (X1 HTML / X2 PDF) for one page.
  * `page_md` is the downstream-pipeline text (headings as `# …` lines,
  * paragraphs, and table markup preserved verbatim) — the analogue of
  * the reference's per-page markdown intermediate.
  * `main_text` + `spans` are the byte-identity artifacts.
  */
case class ExtractedContent(
    page_md: String,
    main_text: String,
    spans: Seq[Span],
    n_blocks: Int,
    content_kind: String, // "html" | "pdf" | "empty" | "error"
    error: String)

/** One page after extraction, carried through the Spark pipeline. */
case class PageText(
    url: String,
    warc_ts: Timestamp,
    lang: String,
    page_md: String,
    main_text: String,
    spans: Seq[Span],
    n_blocks: Int,
    content_kind: String,
    error: String)

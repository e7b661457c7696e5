"""Layout parse: raw document bytes → documents_raw (doc_id, spans).

The reference obtains layout from its remote API; the north rule replaces
that with local parsing. Plain text, markdown and HTML split into
blank-line blocks (the classic layout heuristic); PDFs go through
sources/pdf_text.py (text layer plus embedded rasters); image files that
``operators.multimodal.raster_format`` names become one media span per
page, their bytes served by ``image_media_table``. A document that
reaches the parser but cannot be decoded becomes a one-span corrupt
marker, which extract turns into failed-part error rows.

The kernel is ``layout_batch``: each binaryFile row becomes one
(doc_id, spans) row, its spans already in offset order (a document with
no blocks gets spans=[]). ``layout_extract`` (``api.parse``'s raw route)
runs it and then ``arrow_engine.extract_batch`` on each batch in ONE
mapInArrow; ``layout_parse`` runs it alone. Both share ``_raw_stage``,
whose exchange below the kernel makes a small input one Python task and
spreads a larger one over every core.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from agentic_doc_spark.functions.classify import is_boilerplate
from agentic_doc_spark.schema import DOCUMENTS_RAW


#: blank-line block splitter (one or more empty lines)
_BLOCK_RE = re.compile(r"\n\s*\n+")
#: HTML block-level boundaries we convert to blank lines before splitting
_HTML_BLOCK_RE = re.compile(
    r"</?(?:p|div|br|h[1-6]|li|ul|ol|table|tr|section|article)[^>]*>",
    re.IGNORECASE,
)
_SCRIPT_RE = re.compile(
    r"<(script|style)[^>]*>.*?</\1>", re.IGNORECASE | re.DOTALL
)
_HTML_TABLE_RE = re.compile(r"<table[^>]*>(.*?)</table>", re.IGNORECASE | re.DOTALL)
_HTML_TR_RE = re.compile(r"<tr[^>]*>(.*?)</tr>", re.IGNORECASE | re.DOTALL)
_HTML_CELL_RE = re.compile(r"<t[dh][^>]*>(.*?)</t[dh]>", re.IGNORECASE | re.DOTALL)
_ANY_TAG_RE = re.compile(r"<[^>]+>")


def _html_table_to_markdown(m: "re.Match[str]") -> str:
    """<table> region → one markdown pipe-table block, so downstream
    classification fires the table kind (classify.TABLE_RE) and the
    markdown renderer keeps the rows verbatim (F9) — the DOM-heuristic
    analog of the reference's table chunks (agentic_doc/common.py:22-26).
    Rows stay newline-joined (no blank lines) so the block splitter
    keeps the table as ONE span."""
    rows = []
    for tr in _HTML_TR_RE.finditer(m.group(1)):
        cells = [
            _ANY_TAG_RE.sub(" ", c.group(1)).strip()
            for c in _HTML_CELL_RE.finditer(tr.group(1))
        ]
        if cells:
            rows.append("| " + " | ".join(cells) + " |")
    return "\n\n" + "\n".join(rows) + "\n\n" if rows else "\n\n"


def split_blocks(data: bytes, doc_type: str) -> list[str]:
    """bytes → ordered text blocks.

    PDFs go through the pure-stdlib text-layer extractor
    (sources/pdf_text.py — handles Flate/plain content streams of simple
    generators like the reference's reportlab fixtures); a PDF with no
    extractable text layer raises the documented stub boundary.

    HTML blocks lose their tags, except blocks that
    ``classify.is_boilerplate`` flags (nav/footer/aside, copyright and
    cookie lines, anchor-dense link soup): those keep their markup so
    extract's boilerplate strip can see the tags and the anchor density.
    With ``Settings.strip_boilerplate=False`` such blocks reach the
    output with their markup."""
    if doc_type == "pdf":
        from agentic_doc_spark.sources.pdf_text import extract_pdf_blocks

        blocks = [t for _, t in extract_pdf_blocks(data)]
        if not blocks:
            raise NotImplementedError(
                "no extractable text layer (scanned/encrypted/composite "
                "PDF) — rasterizing needs a PDF library not present in "
                "this container; supply (doc_id, spans) corpora instead"
            )
        return blocks
    text = data.decode("utf-8", errors="replace")
    if doc_type == "html":
        text = _SCRIPT_RE.sub(" ", text)
        # tables convert BEFORE the block-boundary substitution (which
        # would dissolve their structure into plain text blocks)
        text = _HTML_TABLE_RE.sub(_html_table_to_markdown, text)
        text = _HTML_BLOCK_RE.sub("\n\n", text)
        out = []
        for b in _BLOCK_RE.split(text):
            bare = _ANY_TAG_RE.sub("", b).strip()
            # a block that is ONLY markup (<html><body>, </body></html>,
            # …) carries no text and must not become a span
            if bare:
                out.append(b.strip() if is_boilerplate(b) else bare)
        return out
    blocks = [b.strip() for b in _BLOCK_RE.split(text)]
    return [b for b in blocks if b]


def _pdf_spans(data: bytes, doc_id: str) -> list[tuple[str, str | None, str | None]]:
    """PDF bytes → ordered (kind, text, media_ref) spans: text blocks
    from the text layer interleaved (per page, text first) with media
    spans for embedded raster images — the scanned-PDF path: a page
    that is one big DCTDecode JPEG yields a media span whose bytes are
    served by ``pdf_media_table`` under the same ``pdfimg://`` ref.
    Raises the stub boundary only when there is neither text nor any
    decodable image."""
    from agentic_doc_spark.sources.pdf_text import (
        extract_pdf_blocks,
        extract_pdf_images,
    )

    blocks = extract_pdf_blocks(data)
    # probe mode: validity/page/order identical to a transcoding run,
    # but no image decodes — pdf_media_table does the one real transcode
    images = extract_pdf_images(data, transcode=False)
    if not blocks and not images:
        raise NotImplementedError(
            "no extractable text layer or embedded raster (encrypted/"
            "exotic-codec PDF) — rasterizing needs a PDF library not "
            "present in this container; supply (doc_id, spans) corpora "
            "instead"
        )
    items: list[tuple[int, int, int, str | None, str | None]] = []
    for i, (page, text) in enumerate(blocks):
        items.append((page, 0, i, text, None))
    for i, (page, _img) in enumerate(images):
        # empty text + media_ref classifies to kind 'media' (the synth
        # corpus convention — classify contract, functions/classify.py)
        items.append((page, 1, i, "", f"pdfimg://{doc_id}/{i}"))
    items.sort(key=lambda t: t[:3])
    return [("raw", text, ref) for _p, _m, _i, text, ref in items]


def _raster_spans(
    data: bytes, doc_id: str
) -> list[tuple[str, str | None, str | None]] | None:
    """Raster DOCUMENT (any ``raster_format`` file fed to parse()) →
    one media span per page under ``imgdoc://{doc_id}/p{i}`` refs, the
    scanned-document analog of the ``pdfimg://`` path; multi-page TIFFs
    (the fax/scanner shape) get one span per IFD via a header-only page
    walk. None when the bytes are not a known raster format (text/md
    keep the block path). Magic bytes only — routing never decodes;
    bytes are served by ``image_media_table``, span rows never carry
    payloads."""
    from agentic_doc_spark.functions import tiff
    from agentic_doc_spark.operators.multimodal import raster_format

    fmt = raster_format(data)
    if fmt is None:
        return None
    n = 1
    if fmt == "tiff":
        try:
            n = max(tiff.tiff_page_count(data), 1)
        except ValueError:
            pass
    return [("raw", "", f"imgdoc://{doc_id}/p{i}") for i in range(n)]


def _doc_spans(
    doc_id: str, data: bytes, doc_type: str | None, spans_per_page: int
) -> list[tuple[str, str | None, str | None, int]]:
    """One document's bytes → its (kind, text, media_ref, offset) spans
    in offset order. HTML routes by ``doc_type`` or a leading '<' (the
    magic sniff calls markup 'image'); raster documents get one span per
    page with offsets spaced by ``spans_per_page``, so page_no = offset
    // spans_per_page equals the real scan page and end_page_idx and
    grounding pages line up with the ``image_media_table`` sidecar. A
    document with no blocks (whitespace-only text, markup-only HTML)
    gets no spans."""
    is_html = doc_type == "image" and data[:1] == b"<"
    eff = "html" if is_html or doc_type == "html" else doc_type
    step = 1
    try:
        if eff == "pdf":
            spans = _pdf_spans(data, doc_id)
        else:
            spans = _raster_spans(data, doc_id)
            if spans is not None:
                step = spans_per_page
            else:
                spans = [("raw", b, None) for b in split_blocks(data, eff)]
    except NotImplementedError as ex:
        # A document that reaches the parser but cannot be decoded is a
        # PARSE failure, not a download failure: a one-span corrupt
        # marker makes extract produce the reference's failed-part shape
        # — empty spans + per-page error rows (agentic_doc/parse.py:
        # 722-739, pinned by reference tests/unit/test_parse.py:473-501)
        # — instead of the document silently vanishing. (The
        # skip-silently precedent, parse.py:183-190, covers download
        # failures only.)
        return [("corrupt", f"undecodable document: {ex}", None, 0)]
    return [(k, t, m, i * step) for i, (k, t, m) in enumerate(spans)]


#: documents_raw with a nullable ``doc_id``: the schema layout_parse
#: declares to mapInArrow (a fresh StructType — never mutate schema.py's)
_LAYOUT_STRUCT = T.StructType(
    [T.StructField("doc_id", T.StringType())] + DOCUMENTS_RAW.fields[1:]
)
_LAYOUT_SCHEMA = to_arrow_schema(_LAYOUT_STRUCT)


def layout_batch(batch: pa.RecordBatch, spans_per_page: int) -> pa.RecordBatch:
    """One Arrow batch of (doc_id, content, doc_type) rows → one batch of
    documents_raw (doc_id, spans) rows, row for row."""
    doc_ids = batch.column("doc_id")
    spans = [
        _doc_spans(doc_id, data, dt, spans_per_page)
        for doc_id, data, dt in zip(
            doc_ids.to_pylist(),
            batch.column("content").to_pylist(),
            batch.column("doc_type").to_pylist(),
        )
    ]
    return pa.RecordBatch.from_arrays(
        [doc_ids, pa.array(spans, _LAYOUT_SCHEMA.field("spans").type)],
        schema=_LAYOUT_SCHEMA,
    )


#: raw input whose plan estimate exceeds this many bytes spreads over
#: every core: its kernels cost more than the ≈0.25 s worker setup per
#: Python task that coalescing saves (layout + extract of text PDFs take
#: over 1 s of CPU per MB on a 4-vCPU VM)
_SPREAD_BYTES = 256 * 1024
#: Spark's default minimum size of an AQE-coalesced partition
_AQE_MIN_PARTITION_BYTES = 1 << 20


def _raw_stage(binary_df: DataFrame, run, schema: T.StructType) -> DataFrame:
    """The raw rows' one Python stage: ``run`` maps (doc_id, content,
    doc_type) batches to ``schema`` rows, over an exchange BELOW it.

    The exchange rebalances by doc_id, so AQE sizes the tasks by bytes:
    a small input (the plan estimates at most ``_SPREAD_BYTES``, or has
    no estimate: rows built on the driver) becomes one task, since there
    the per-task worker setup is most of the cost. AQE packs at least
    1 MB into a task, so input between the two sizes, up to 1 MB per
    core, would run on fewer tasks than cores; it is dealt round-robin
    to one task per core instead, so CPU-heavy documents keep their
    parallelism."""
    # a file scan's estimate is its files' bytes; local rows report
    # Long.MaxValue or more
    size = binary_df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    cores = binary_df.sparkSession.sparkContext.defaultParallelism
    if _SPREAD_BYTES < size < cores * _AQE_MIN_PARTITION_BYTES:
        return binary_df.repartition(cores).mapInArrow(run, schema)
    return binary_df.hint("rebalance", "doc_id").mapInArrow(run, schema)


def layout_parse(binary_df: DataFrame, settings=None) -> DataFrame:
    """(doc_id, content BINARY, doc_type) → documents_raw (doc_id, spans).

    Emits 'raw' kinds — classification happens in the extract kernel, so
    the span stream composes with the rest of the pipeline unchanged.
    ``settings`` must be the SAME Settings later passed to extract():
    raster-document page spacing uses ``settings.spans_per_page`` so
    page_no = offset // spans_per_page equals the real scan page."""
    from agentic_doc_spark.config import DEFAULT_SETTINGS

    spans_per_page = (settings or DEFAULT_SETTINGS).spans_per_page

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield layout_batch(batch, spans_per_page)

    return _raw_stage(binary_df, run, _LAYOUT_STRUCT)


def layout_extract(binary_df: DataFrame, settings) -> DataFrame:
    """(doc_id, content BINARY, doc_type) → ParsedDocument rows: the
    layout kernel and then the extract kernel on each batch, in the one
    Python stage ``layout_parse`` would run alone (what
    ``extract(layout_parse(df, s), s)`` returns, minus a Python node)."""
    from agentic_doc_spark.arrow_engine import _OUT_STRUCT, extract_batch

    spans_per_page = settings.spans_per_page

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows:
                yield extract_batch(layout_batch(batch, spans_per_page), settings)

    return _raw_stage(binary_df, run, _OUT_STRUCT)


def route_doc_types(raw: DataFrame) -> DataFrame:
    """Route html by extension (the magic sniff only separates pdf from
    the rest; the kernel additionally content-sniffs leading '<')."""
    return raw.withColumn(
        "doc_type",
        F.when(F.col("doc_id").rlike(r"(?i)\.html?$"), "html").otherwise(
            F.col("doc_type")
        ),
    )


def ingest_directory(spark, path: str, **options) -> DataFrame:
    """End-to-end file ingest: dir scan (S2) → sniff (P1) → layout parse →
    documents_raw, ready for pipeline.extract. Handles text/markdown/HTML
    natively and text-layer PDFs via sources/pdf_text.py; undecodable
    documents become failed-part error documents (empty spans, per-page
    error rows) downstream."""
    from agentic_doc_spark.sources.resolve import read_binary_dir

    return layout_parse(route_doc_types(read_binary_dir(spark, path, **options)))


_MEDIA_TABLE = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("page", T.IntegerType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def pdf_media_table(binary_df: DataFrame) -> DataFrame:
    """(doc_id, content, doc_type) → (doc_id, media_ref, page, content):
    the embedded raster payloads behind ``layout_parse``'s ``pdfimg://``
    media spans — the sidecar table the multimodal operators (decode /
    features / resize / crop) consume. Span rows carry only the ref
    string; bytes stay in this narrow table so the text pipeline never
    shuffles image payloads (north-rule media-column discipline)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from agentic_doc_spark.sources.pdf_text import extract_pdf_images

        for pdf in batches:
            rows = []
            for doc_id, content, dt in zip(
                pdf["doc_id"], pdf["content"], pdf["doc_type"]
            ):
                if dt != "pdf":
                    continue
                for i, (page, img) in enumerate(
                    extract_pdf_images(bytes(content))
                ):
                    rows.append(
                        (doc_id, f"pdfimg://{doc_id}/{i}", int(page),
                         bytearray(img))
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "media_ref", "page", "content"]
            )

    return binary_df.mapInPandas(run, _MEDIA_TABLE)


def image_media_table(binary_df: DataFrame) -> DataFrame:
    """(doc_id, content, doc_type) → (doc_id, media_ref, page, content):
    payloads behind ``_raster_spans``'s ``imgdoc://`` refs — one row per
    routed page, the same ``raster_format`` decision. Single-image
    formats pass their original bytes through undecoded; multi-page
    TIFFs transcode each page to PNG (pure functions/tiff.py →
    functions/png.py) PER PAGE — one bad page (CCITT, corrupt strip)
    yields an empty payload, not the loss of the document's good pages.
    Routing a page never decodes it: the crop renderer decodes each page
    once with ``_decode_array`` and synthesizes the page from the layout
    when that fails. Same narrow-table discipline as
    ``pdf_media_table``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from agentic_doc_spark.functions import tiff
        from agentic_doc_spark.functions.png import encode_png
        from agentic_doc_spark.operators.multimodal import raster_format

        for pdf in batches:
            rows = []
            for doc_id, content, dt in zip(
                pdf["doc_id"], pdf["content"], pdf["doc_type"]
            ):
                if dt == "pdf":
                    continue
                data = bytes(content)
                fmt = raster_format(data)
                if fmt == "tiff":
                    try:
                        for i, arr in tiff.iter_tiff_pages(data):
                            png = b"" if arr is None else encode_png(arr)
                            rows.append(
                                (doc_id, f"imgdoc://{doc_id}/p{i}", i,
                                 bytearray(png))
                            )
                    except ValueError:
                        continue  # broken container: no pages to serve
                elif fmt is not None:
                    rows.append(
                        (doc_id, f"imgdoc://{doc_id}/p0", 0, bytearray(data))
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "media_ref", "page", "content"]
            )

    return binary_df.mapInPandas(run, _MEDIA_TABLE)

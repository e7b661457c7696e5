"""Layout parse: raw document bytes → documents_raw (doc_id, spans).

The reference obtains layout from its remote API; the north rule replaces
that with local parsing. Plain text, markdown and HTML split into
blank-line blocks (the classic layout heuristic); PDFs go through
sources/pdf_text.py (text layer plus embedded rasters); image files that
``operators.multimodal.raster_format`` names become one media span per
page, their bytes served by ``image_media_table``. A document that
reaches the parser but cannot be decoded becomes a one-span corrupt
marker, which extract turns into failed-part error rows.

Everything is one mapInPandas kernel over binaryFile rows: it emits flat
(doc_id, kind, text, media_ref, offset) rows, and a groupBy(doc_id) +
collect_list re-assembles them into the nested spans array
pipeline.extract consumes. A document with no blocks at all emits one
NULL-offset placeholder row, so it still reaches extract (spans=[]).
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


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

_SPANS_FLAT = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)


def split_blocks(data: bytes, doc_type: str) -> list[str]:
    """bytes → ordered text blocks.

    PDFs go through the pure-stdlib text-layer extractor
    (sources/pdf_text.py — handles Flate/plain content streams of simple
    generators like the reference's reportlab fixtures); a PDF with no
    extractable text layer raises the documented stub boundary."""
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
        blocks = [b.strip() for b in _BLOCK_RE.split(text)]
        # a block that is ONLY markup (<html><body>, </body></html>, …)
        # carries no text and must not become a span
        return [
            b for b in blocks if b and _ANY_TAG_RE.sub("", b).strip()
        ]
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


def layout_parse(binary_df: DataFrame, settings=None) -> DataFrame:
    """(doc_id, content BINARY, doc_type) → documents_raw (doc_id, spans).

    Emits 'raw' kinds — classification happens in the extract kernel, so
    the span stream composes with the rest of the pipeline unchanged.
    ``settings`` must be the SAME Settings later passed to extract():
    raster-document page spacing uses ``settings.spans_per_page`` so
    page_no = offset // spans_per_page equals the real scan page."""
    from agentic_doc_spark.config import DEFAULT_SETTINGS

    spans_per_page = (settings or DEFAULT_SETTINGS).spans_per_page

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, kinds, texts, refs, offs = [], [], [], [], []
            for doc_id, content, dt in zip(
                pdf["doc_id"], pdf["content"], pdf["doc_type"]
            ):
                data = bytes(content)
                is_html = dt == "image" and data[:1] == b"<"
                eff = "html" if is_html or dt == "html" else dt
                step = 1
                try:
                    if eff == "pdf":
                        spans = _pdf_spans(data, doc_id)
                    else:
                        spans = _raster_spans(data, doc_id)
                        if spans is not None:
                            # one span PER PAGE: space offsets by
                            # spans_per_page so page_no = offset // spp
                            # equals the real scan page — end_page_idx
                            # and grounding pages line up with the
                            # image_media_table sidecar
                            step = spans_per_page
                        else:
                            spans = [
                                ("raw", b, None)
                                for b in split_blocks(data, eff)
                            ]
                except NotImplementedError as ex:
                    # A document that reaches the parser but cannot be
                    # decoded is a PARSE failure, not a download failure:
                    # emit a one-span corrupt marker so extract produces
                    # the reference's failed-part shape — empty spans +
                    # per-page error rows (agentic_doc/parse.py:722-739,
                    # pinned by reference tests/unit/test_parse.py:473-501)
                    # — instead of the document silently vanishing. (The
                    # skip-silently precedent, parse.py:183-190, covers
                    # download failures only.)
                    ids.append(doc_id)
                    kinds.append("corrupt")
                    texts.append(f"undecodable document: {ex}")
                    refs.append(None)
                    offs.append(0)
                    continue
                if not spans:
                    # no blocks (whitespace-only text, markup-only HTML):
                    # one NULL-offset placeholder row keeps the document
                    # in the groupBy below, whose collect_list drops it,
                    # so the doc reaches extract with spans=[]
                    ids.append(doc_id)
                    kinds.append(None)
                    texts.append(None)
                    refs.append(None)
                    offs.append(None)
                    continue
                ids.extend([doc_id] * len(spans))
                kinds.extend(k for k, _t, _m in spans)
                texts.extend(t for _k, t, _m in spans)
                refs.extend(m for _k, _t, m in spans)
                offs.extend(i * step for i in range(len(spans)))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "kind": kinds,
                    "text": texts,
                    "media_ref": refs,
                    "offset": offs,
                }
            )

    flat = binary_df.mapInPandas(run, _SPANS_FLAT)
    # sort key must lead the struct (sort_array orders by field position);
    # collect_list skips the NULL a placeholder row maps to
    ordered = F.sort_array(
        F.collect_list(
            F.when(
                F.col("offset").isNotNull(),
                F.struct("offset", "kind", "text", "media_ref"),
            )
        )
    )
    spans = F.transform(
        ordered,
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )
    return flat.groupBy("doc_id").agg(spans.alias("spans"))


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


_IMG_MEDIA_TABLE = T.StructType(
    list(_MEDIA_TABLE.fields)
    + [T.StructField("decodable", T.BooleanType())]
)


def image_media_table(binary_df: DataFrame) -> DataFrame:
    """(doc_id, content, doc_type) → (doc_id, media_ref, page, content,
    decodable): payloads behind ``_raster_spans``'s ``imgdoc://`` refs —
    one row per routed page, the same ``raster_format`` decision.
    Single-image formats pass their original bytes through; multi-page
    TIFFs transcode each page to PNG (pure functions/tiff.py →
    functions/png.py) PER PAGE — one bad page (CCITT, corrupt strip)
    yields an undecodable row, not the loss of the document's good
    pages. ``decodable`` is exactly "``_decode_array`` returns an
    array" (per page for TIFF), so a sniffed-but-corrupt image (a JPEG
    SOI over a broken body, WebP without PIL) is False and grounding
    falls back to the synthesized page for it — the crop renderer
    decodes with the same function. Same narrow-table discipline as
    ``pdf_media_table``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from agentic_doc_spark.functions import tiff
        from agentic_doc_spark.functions.png import encode_png
        from agentic_doc_spark.operators.multimodal import (
            _decode_array,
            raster_format,
        )

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
                                 bytearray(png), arr is not None)
                            )
                    except ValueError:
                        continue  # broken container: no pages to serve
                elif fmt is not None:
                    rows.append(
                        (doc_id, f"imgdoc://{doc_id}/p0", 0, bytearray(data),
                         _decode_array(data) is not None)
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "media_ref", "page", "content", "decodable",
                ],
            )

    return binary_df.mapInPandas(run, _IMG_MEDIA_TABLE)

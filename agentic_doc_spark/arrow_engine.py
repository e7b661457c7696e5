"""The Arrow engine: zero-shuffle per-document extraction via mapInArrow.

``documents_raw`` already holds ONE ROW PER DOCUMENT, so the whole
reference pipeline — classify, boilerplate strip, part split, per-part
failure, ordered merge (agentic_doc/parse.py:472-629) — is row-local.
The reference splits documents into parts to satisfy an external API's
page limits; with local compute the split/merge is pure arithmetic
inside the row, and the DataFrame plan needs NO exchange at all:

    scan → mapInArrow(extract_batch) → sink

Inside the kernel everything after the flatten stays in Arrow and numpy:
the spans are sorted once by (doc, offset), the classify contract runs
as classify_arrays (functions/classify.py), and because part = page //
split_size is monotone in offset, every (doc, part) group is one
contiguous segment of rows. Per-part failure, error
pages, dense offsets and page ranges are segment arithmetic (reduceat,
starts/ends), markdown is two ``pc.binary_join`` calls over ListArrays
built from segment offsets, and the nested output (spans/chunks/errors
ListArray<StructArray>) is rebuilt directly from flat arrays + offsets.
The only per-row Python is classify's regex loops (Python ``re`` has no
vectorized form).

Scale: parallelism = scan splits (a 100 TB corpus has ~10^6 of them);
each Arrow batch is bounded by maxRecordsPerBatch; a mega-document is a
single large row — 1000 pages ≈ 4k spans ≈ a few hundred KB, far below
batch limits. Because Python workers share nothing, throughput scales
with cores/executors linearly (no shuffle, no JVM allocation pressure).

This is the only extraction engine (pipeline.extract calls it). Its
span sequences, markdown, chunks, page ranges and errors are pinned
against the pure-Python oracle synth.expected_parsed
(tests/test_pipeline.py, tests/test_property_merge.py,
tests/test_kernels.py).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from agentic_doc_spark.config import DEFAULT_SETTINGS, Settings
from agentic_doc_spark.functions.classify import classify_arrays
from agentic_doc_spark.functions.markdown import PART_SEP
from agentic_doc_spark.schema import PARSED_DOCUMENT

#: ParsedDocument with a nullable ``doc_id``: the schema extract_arrow
#: declares to mapInArrow (a fresh StructType — never mutate schema.py's)
_OUT_STRUCT = T.StructType(
    [T.StructField("doc_id", T.StringType())] + PARSED_DOCUMENT.fields[1:]
)
_OUT_SCHEMA = to_arrow_schema(_OUT_STRUCT)


def _render(kind: pa.Array, text: pa.Array, media: pa.Array) -> pa.Array:
    """Vectorized render_span twin (functions/markdown.py); ``text`` has
    its nulls already filled with ''."""
    m = pc.fill_null(media, "")
    media_md = pc.binary_join_element_wise("![", m, "](", m, ")", "")
    fig_md = pc.binary_join_element_wise("![", text, "](", m, ")", "")
    is_fig = pc.and_(pc.equal(kind, "figure"), pc.greater(pc.binary_length(m), 0))
    return pc.if_else(
        pc.equal(kind, "media"), media_md, pc.if_else(is_fig, fig_md, text)
    )


def _offsets(counts: np.ndarray) -> pa.Array:
    """List offsets (int32) for consecutive groups of the given sizes."""
    out = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts, out=out[1:])
    return pa.array(out, pa.int32())


def extract_batch(
    batch: pa.RecordBatch, settings: Settings = DEFAULT_SETTINGS
) -> pa.RecordBatch:
    """One Arrow batch of documents → one batch of ParsedDocument rows."""
    spp, split = settings.spans_per_page, settings.split_size
    n_docs = batch.num_rows
    doc_ids, spans_col = batch.column("doc_id"), batch.column("spans")
    if isinstance(spans_col, pa.ChunkedArray):
        doc_ids, spans_col = doc_ids.combine_chunks(), spans_col.combine_chunks()

    # --- flatten list<struct> to flat columns + per-span doc index -------
    lengths = pc.list_value_length(spans_col).fill_null(0).to_numpy()
    flat = spans_col.flatten()
    offset = flat.field("offset")
    # tolerate garbage: null struct elements / null offsets are dropped
    # (as in the oracle and pipeline.explode_spans)
    valid = np.asarray(pc.and_(pc.is_valid(flat), pc.is_valid(offset)))
    sel = np.flatnonzero(valid)
    parent = np.repeat(np.arange(n_docs), lengths)[sel]
    off = offset.fill_null(0).to_numpy().astype(np.int64)[sel]
    # restore in-document order (offset may arrive unsorted); lexsort is
    # stable, so duplicate offsets keep input-array order
    order = np.lexsort((off, parent))
    take = pa.array(sel[order])
    parent, off = parent[order], off[order]
    kind, text, media = (
        flat.field(f).take(take) for f in ("kind", "text", "media_ref")
    )

    # --- classify + strip: the shared kernel contract --------------------
    kind_out, keep_span, corrupt = classify_arrays(kind, text, media)
    page = off // spp
    part = page // split

    # --- (doc, part) segments --------------------------------------------
    # rows are sorted by (parent, offset) and part is monotone in offset,
    # so every (doc, part) group is one contiguous segment of rows
    first = np.ones(len(off), dtype=bool)
    first[1:] = (parent[1:] != parent[:-1]) | (part[1:] != part[:-1])
    is_last = np.ones(len(off), dtype=bool)
    is_last[:-1] = first[1:]
    starts, last = np.flatnonzero(first), np.flatnonzero(is_last)
    seg = np.cumsum(first) - 1
    seg_parent = parent[starts]

    # --- per-part failure (agentic_doc/parse.py:722-739) -----------------
    seg_failed = np.logical_or.reduceat(corrupt, starts)
    keep = ~seg_failed[seg]
    if settings.strip_boilerplate:
        keep &= keep_span
    if not settings.include_marginalia:
        keep &= np.asarray(pc.not_equal(kind_out, "marginalia"))

    # failed-part error rows: one per page of the part's span range, in
    # (doc, page) order because segments are
    f_lo, f_hi = page[starts[seg_failed]], page[last[seg_failed]]
    counts = f_hi - f_lo + 1
    err_parent = np.repeat(seg_parent[seg_failed], counts)
    err_page = np.arange(counts.sum()) + np.repeat(
        f_lo - (np.cumsum(counts) - counts), counts
    )

    # --- kept spans, ordered; dense output offsets -----------------------
    kidx = np.flatnonzero(keep)
    kp = parent[kidx]
    doc_counts = np.bincount(kp, minlength=n_docs)
    kept_offsets = _offsets(doc_counts)
    new_off = np.arange(len(kidx)) - np.repeat(
        kept_offsets.to_numpy()[:-1], doc_counts
    )
    take = pa.array(kidx)
    k_kind = kind_out.take(take)
    k_text, k_media = text.take(take), media.take(take)
    rendered = _render(k_kind, pc.fill_null(k_text, ""), k_media)

    # --- markdown: join spans within part, parts within doc --------------
    # segments come from ALL rows, so a failed or fully stripped part
    # still contributes '' and its separator (parse.py:621 join)
    part_md = pc.binary_join(
        pa.ListArray.from_arrays(
            _offsets(np.bincount(seg[kidx], minlength=len(starts))), rendered
        ),
        PART_SEP,
    )
    markdown = pc.binary_join(
        pa.ListArray.from_arrays(
            _offsets(np.bincount(seg_parent, minlength=n_docs)), part_md
        ),
        PART_SEP,
    )

    # --- page range: max of the segments' last pages, floored at 0 -------
    end_page_idx = np.zeros(n_docs, dtype=np.int32)
    np.maximum.at(end_page_idx, seg_parent, page[last])

    # --- build nested outputs straight from flat arrays -------------------
    span_struct = pa.StructArray.from_arrays(
        [k_kind, k_text, k_media, pa.array(new_off, pa.int32())],
        names=["kind", "text", "media_ref", "offset"],
    )
    spans_out = pa.ListArray.from_arrays(kept_offsets, span_struct)

    h = 0.8 / spp
    src_off = off[kidx]
    t_raw = (src_off % spp) * h + 0.05
    n_kept = len(kidx)
    box = pa.StructArray.from_arrays(
        [
            pa.array(np.full(n_kept, 0.1), pa.float64()),
            pa.array(np.round(t_raw, 6), pa.float64()),
            pa.array(np.full(n_kept, 0.9), pa.float64()),
            pa.array(np.round(t_raw + h - 0.01, 6), pa.float64()),
        ],
        names=["l", "t", "r", "b"],
    )
    pages32 = pa.array(page[kidx], pa.int32())
    grounding_struct = pa.StructArray.from_arrays(
        [pages32, box, pa.nulls(n_kept, pa.string())],
        names=["page", "box", "image_path"],
    )
    # exactly one grounding per chunk: offsets 0..n
    ground_list = pa.ListArray.from_arrays(
        pa.array(np.arange(n_kept + 1, dtype=np.int32)), grounding_struct
    )
    chunk_ids = pc.binary_join_element_wise(
        doc_ids.take(pa.array(kp)),
        pc.cast(pages32, pa.string()),
        pc.cast(pa.array(src_off), pa.string()),
        ":",
    )
    chunk_type = pc.if_else(pc.equal(k_kind, "media"), "figure", k_kind)
    chunk_struct = pa.StructArray.from_arrays(
        [rendered, ground_list, chunk_type, chunk_ids],
        names=["text", "grounding", "chunk_type", "chunk_id"],
    )
    chunks_out = pa.ListArray.from_arrays(kept_offsets, chunk_struct)

    n_err = len(err_page)
    err_struct = pa.StructArray.from_arrays(
        [
            pa.array(err_page, pa.int32()),
            pa.repeat(pa.scalar("part unparseable"), n_err),
            pa.repeat(pa.scalar(-1, pa.int32()), n_err),
        ],
        names=["page_num", "error", "error_code"],
    )
    errors_out = pa.ListArray.from_arrays(
        _offsets(np.bincount(err_parent, minlength=n_docs)), err_struct
    )

    return pa.RecordBatch.from_arrays(
        [
            doc_ids,
            markdown,
            chunks_out,
            spans_out,
            pa.array(np.zeros(n_docs, dtype=np.int32)),
            pa.array(end_page_idx),
            pa.repeat(pa.scalar("pdf"), n_docs),
            errors_out,
        ],
        schema=_OUT_SCHEMA,
    )


def extract_arrow(df: DataFrame, settings: Settings = DEFAULT_SETTINGS) -> DataFrame:
    """documents_raw → ParsedDocument rows, zero shuffles."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows:
                yield extract_batch(b, settings)

    return df.mapInArrow(run, _OUT_STRUCT)

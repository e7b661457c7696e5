"""No-Spark tests of the batch kernels against their scalar contracts.

``classify_frame`` is checked row by row against the scalar
``classify_kind`` / ``is_boilerplate`` / ``is_corrupt``, and
``arrow_engine.extract_batch`` record by record against
``synth.expected_parsed`` — including the batch shapes the Spark tests
never feed it: a sliced RecordBatch (list offsets not starting at 0), a
batch with no valid span at all, and a Table whose spans column is a
multi-chunk ChunkedArray.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pytest

from agentic_doc_spark.arrow_engine import extract_batch
from agentic_doc_spark.config import Settings
from agentic_doc_spark.functions.classify import (
    classify_frame,
    classify_kind,
    is_boilerplate,
    is_corrupt,
)
from agentic_doc_spark.synth import expected_parsed, make_corpus

_SPANS = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)
_RAW = pa.schema([("doc_id", pa.string()), ("spans", _SPANS)])

#: (kind, text, media_ref) rows where a vectorized shortcut could diverge
#: from the scalar contract
_EDGE_ROWS = [
    ("raw", " 12 ", None),
    ("raw", "　iv　", None),
    ("raw", "Page 3 of 4\n", None),
    ("raw", "a|\nb|", None),
    ("raw", "a | b", None),
    ("raw", "| a | b |", None),
    ("text", "a | b | c", None),
    ("marginalia", "a | b | c", None),
    ("raw", "prıvacy policy", None),
    ("raw", "all rights reſerved", None),
    ("raw", "clean\x00text", None),
    ("text", "nul\x00in a labelled span", None),
    ("corrupt", "looks fine", None),
    ("corrupt", None, None),
    ("raw", None, None),
    (None, None, None),
    ("raw", "", None),
    ("raw", "plain words", ""),
    ("raw", "caption", "img/a.png"),
    ("raw", "", "img/b.png"),
    ("raw", None, "img/c.png"),
    ("media", None, None),
    ("figure", "cap", ""),
    ("raw", '<p><a href="/x">home</a> <a href="/y">about us</a> hi</p>', None),
    ("raw", "<p>mostly text with <a href='/z'>one</a> link in it</p>", None),
    ("raw", "<nav>menu</nav>", None),
    ("raw", "a < b and c > d", None),
    ("raw", "<a></a>", None),
]


def test_classify_frame_matches_scalar():
    rows = _EDGE_ROWS + [
        (s["kind"], s["text"], s["media_ref"])
        for d in make_corpus(n_per_profile=2)
        for s in d["spans"]
    ]
    pdf = pd.DataFrame(rows, columns=["kind", "text", "media_ref"])
    got = classify_frame(pdf)
    assert list(got.columns[:3]) == ["kind", "text", "media_ref"]
    for i, (kind, text, media) in enumerate(rows):
        row = (kind, text, media)
        assert got["kind_out"][i] == classify_kind(kind, text, media), row
        assert got["keep"][i] == (not is_boilerplate(text)), row
        assert got["corrupt"][i] == is_corrupt(kind, text), row


def _docs() -> list[dict]:
    return make_corpus(n_per_profile=2) + [
        # rows of test_pipeline.py::test_null_span_elements_tolerated
        {
            "doc_id": "nullspan-1",
            "spans": [
                {"kind": "text", "text": "a", "media_ref": None, "offset": 0},
                None,
                {"kind": "text", "text": "b", "media_ref": None, "offset": 1},
            ],
        },
        {"doc_id": "nullspan-allnull", "spans": [None, None]},
        {
            "doc_id": "nullspan-nulloffset",
            "spans": [
                {"kind": "text", "text": "a", "media_ref": None, "offset": 0},
                {"kind": "text", "text": "x", "media_ref": None, "offset": None},
            ],
        },
        # rows of test_pipeline.py::test_duplicate_offset_stable_order
        {
            "doc_id": "dupoff-1",
            "spans": [
                {"kind": "text", "text": "z-first", "media_ref": None, "offset": 2},
                {"kind": "text", "text": "a-second", "media_ref": None, "offset": 2},
                {"kind": "text", "text": "m-third", "media_ref": None, "offset": 2},
                {"kind": "text", "text": "head", "media_ref": None, "offset": 0},
            ],
        },
        {"doc_id": "nullspans", "spans": None},
        {"doc_id": "emptyspans", "spans": []},
    ]


def _shapes(docs: list[dict]):
    """The documents as a whole batch, a sliced batch, a batch of only
    those without a valid span, and a Table with a multi-chunk spans
    column."""
    pad = [{"doc_id": f"pad-{i}", "spans": d["spans"]} for i, d in enumerate(docs[:3])]
    spanless = [
        d
        for d in docs
        if not any(s and s["offset"] is not None for s in d["spans"] or [])
    ]
    padded = pa.Table.from_pylist(pad + docs, _RAW).combine_chunks()
    half = len(docs) // 2
    yield "whole", pa.RecordBatch.from_pylist(docs, _RAW)
    yield "sliced", padded.to_batches()[0].slice(len(pad), len(docs))
    yield "no-spans", pa.RecordBatch.from_pylist(spanless, _RAW)
    yield "chunked", pa.concat_tables(
        [
            pa.Table.from_pylist(docs[:half], _RAW),
            pa.Table.from_pylist(docs[half:], _RAW),
        ]
    )


@pytest.mark.parametrize(
    "settings",
    [Settings(), Settings(include_marginalia=False), Settings(strip_boilerplate=False)],
    ids=["default", "no-marginalia", "no-strip"],
)
def test_extract_batch_matches_oracle(settings):
    docs = _docs()
    want = {d["doc_id"]: expected_parsed(d, settings) for d in docs}
    for shape, batch in _shapes(docs):
        if shape == "sliced":
            assert batch.column("spans").offset > 0
        if shape == "chunked":
            assert batch.column("spans").num_chunks == 2
        got = extract_batch(batch, settings).to_pylist()
        assert [g["doc_id"] for g in got] == batch.column("doc_id").to_pylist()
        for g in got:
            assert g == want[g["doc_id"]], (shape, g["doc_id"])

"""Span-sequence-equality fixture tests — the BASELINE.json correctness gate.

Runs the Spark pipeline (the Arrow engine behind ``extract``) over the
deterministic fixture corpus and asserts EXACT equality of (kind, text,
media_ref, order) per doc_id against the pure-Python oracle (reference
merge semantics, agentic_doc/parse.py:597-629), plus markdown /
page-range / error equality and the reference's integ-test invariants
(ordering, unique chunk ids, bbox validity —
tests/integ/test_parse_integ.py:75-401)."""

from __future__ import annotations

import pytest

from agentic_doc_spark.config import Settings
from agentic_doc_spark.pipeline import explode_spans, extract
from agentic_doc_spark.synth import corpus_df, expected_corpus, make_corpus


def _rows_by_doc(parsed_rows):
    return {r["doc_id"]: r for r in parsed_rows}


# ``arrow`` names the engine behind extract, the only one there is
@pytest.fixture(scope="module", params=[Settings()], ids=["arrow"])
def settings(request):
    return request.param


@pytest.fixture(scope="module")
def result(spark, settings):
    df = corpus_df(spark, n_per_profile=2, settings=settings)
    got = {r["doc_id"]: r.asDict(recursive=True) for r in extract(df, settings).collect()}
    want = _rows_by_doc(expected_corpus(n_per_profile=2, settings=settings))
    return got, want


def test_all_docs_present(result):
    got, want = result
    assert set(got) == set(want)


def test_span_sequence_equality(result):
    got, want = result
    for doc_id, exp in want.items():
        got_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in got[doc_id]["spans"]
        ]
        exp_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in exp["spans"]
        ]
        assert got_spans == exp_spans, f"span mismatch for {doc_id}"


def test_markdown_equality(result):
    got, want = result
    for doc_id, exp in want.items():
        assert got[doc_id]["markdown"] == exp["markdown"], doc_id


def test_page_ranges_and_errors(result):
    got, want = result
    for doc_id, exp in want.items():
        g = got[doc_id]
        assert g["start_page_idx"] == exp["start_page_idx"], doc_id
        assert g["end_page_idx"] == exp["end_page_idx"], doc_id
        assert g["errors"] == exp["errors"], doc_id


def test_chunk_equality(result):
    got, want = result
    for doc_id, exp in want.items():
        assert got[doc_id]["chunks"] == exp["chunks"], doc_id


def test_chunk_ids_unique_per_doc(result):
    # reference integ invariant: tests/integ/test_parse_integ.py:337-360
    got, _ = result
    for doc_id, g in got.items():
        ids = [c["chunk_id"] for c in g["chunks"]]
        assert len(ids) == len(set(ids)), doc_id


def test_bboxes_valid(result):
    # reference integ invariant: tests/integ/test_parse_integ.py:375-401
    got, _ = result
    for g in got.values():
        for c in g["chunks"]:
            for gr in c["grounding"]:
                b = gr["box"]
                assert 0.0 <= b["l"] < b["r"] <= 1.0
                assert 0.0 <= b["t"] < b["b"] <= 1.0


def test_offsets_dense(result):
    got, _ = result
    for g in got.values():
        assert [s["offset"] for s in g["spans"]] == list(range(len(g["spans"])))


def test_errdoc_semantics(result):
    # failed middle part: pages 10-19 error rows, its spans dropped
    got, _ = result
    g = got["errdoc-000000"]
    assert [e["page_num"] for e in g["errors"]] == list(range(10, 20))
    assert all(e["error_code"] == -1 for e in g["errors"])
    assert g["end_page_idx"] == 24
    # spans from parts 0 and 2 survive: 40 + 20 spans
    assert len(g["spans"]) == 60


def test_html_boilerplate_stripped(result):
    got, _ = result
    g = got["html-000000"]
    joined = " ".join(s["text"] for s in g["spans"])
    assert "cookie" not in joined.lower()
    assert "<nav>" not in joined
    assert "<footer>" not in joined
    assert len(g["spans"]) == 9  # 12 - 3 boilerplate


def test_empty_doc_identity(spark, settings):
    # A4: zero spans → md='', pages 0..0 (agentic_doc/parse.py:598-611)
    from agentic_doc_spark.schema import DOCUMENTS_RAW

    df = spark.createDataFrame(
        [{"doc_id": "empty-1", "spans": []}, {"doc_id": "empty-2", "spans": None}],
        DOCUMENTS_RAW,
    )
    rows = {r["doc_id"]: r.asDict(recursive=True) for r in extract(df, settings).collect()}
    for r in rows.values():
        assert r["markdown"] == ""
        assert r["chunks"] == [] and r["spans"] == [] and r["errors"] == []
        assert r["start_page_idx"] == 0 and r["end_page_idx"] == 0


@pytest.mark.parametrize("s", [Settings(include_marginalia=False)], ids=["arrow"])
def test_marginalia_filter(spark, s):
    # P2: include_marginalia=False drops marginalia spans
    df = corpus_df(spark, n_per_profile=1, settings=s)
    got = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in extract(df, s).collect()
    }
    want = _rows_by_doc(expected_corpus(n_per_profile=1, settings=s))
    m = got["marginalia-000000"]
    assert all(sp["kind"] != "marginalia" for sp in m["spans"])
    assert len(m["spans"]) == 15  # 20 - 5 folio lines
    for doc_id, exp in want.items():
        g_spans = [
            (x["kind"], x["text"], x["media_ref"], x["offset"])
            for x in got[doc_id]["spans"]
        ]
        e_spans = [
            (x["kind"], x["text"], x["media_ref"], x["offset"])
            for x in exp["spans"]
        ]
        assert g_spans == e_spans, doc_id


def test_null_span_elements_tolerated(spark):
    # NULL elements inside the spans array must be dropped exactly as the
    # oracle drops them — spans, markdown, errors all equal (a null
    # element must not form a phantom empty part or a leading '\n\n')
    from agentic_doc_spark.schema import DOCUMENTS_RAW
    from agentic_doc_spark.synth import expected_parsed

    docs = [
        {
            "doc_id": "nullspan-1",
            "spans": [
                {"kind": "text", "text": "a", "media_ref": None, "offset": 0},
                None,
                {"kind": "text", "text": "b", "media_ref": None, "offset": 1},
            ],
        },
        # all-null array degrades to the A4 empty identity
        {"doc_id": "nullspan-allnull", "spans": [None, None]},
        # null offset is dropped like a null element
        {
            "doc_id": "nullspan-nulloffset",
            "spans": [
                {"kind": "text", "text": "a", "media_ref": None, "offset": 0},
                {"kind": "text", "text": "x", "media_ref": None, "offset": None},
            ],
        },
    ]
    df = spark.createDataFrame(docs, DOCUMENTS_RAW)
    want = {d["doc_id"]: expected_parsed(d, Settings()) for d in docs}
    got = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in extract(df, Settings()).collect()
    }
    for doc_id, exp in want.items():
        g = got[doc_id]
        assert g["markdown"] == exp["markdown"], doc_id
        assert [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in g["spans"]
        ] == [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in exp["spans"]
        ], doc_id
        assert g["errors"] == exp["errors"], doc_id
    assert [s["text"] for s in want["nullspan-1"]["spans"]] == ["a", "b"]
    assert want["nullspan-allnull"]["markdown"] == ""


def test_duplicate_offset_stable_order(spark):
    # equal offsets must keep input-array order: the engine's lexsort and
    # the oracle's sorted() are both stable
    from agentic_doc_spark.schema import DOCUMENTS_RAW
    from agentic_doc_spark.synth import expected_parsed

    doc = {
        "doc_id": "dupoff-1",
        "spans": [
            {"kind": "text", "text": "z-first", "media_ref": None, "offset": 2},
            {"kind": "text", "text": "a-second", "media_ref": None, "offset": 2},
            {"kind": "text", "text": "m-third", "media_ref": None, "offset": 2},
            {"kind": "text", "text": "head", "media_ref": None, "offset": 0},
        ],
    }
    df = spark.createDataFrame([doc], DOCUMENTS_RAW)
    want = expected_parsed(doc, Settings())
    exp_texts = [s["text"] for s in want["spans"]]
    assert exp_texts == ["head", "z-first", "a-second", "m-third"]
    got = extract(df, Settings()).collect()[0].asDict(recursive=True)
    assert [s["text"] for s in got["spans"]] == exp_texts
    assert got["markdown"] == want["markdown"]


def test_mega_document_stress(spark):
    # one 2000-page document (8000 spans, 200 parts): the engine carries
    # it as a single large row and must still match the oracle
    spans = [
        {"kind": "raw", "text": f"w{i} " * 5, "media_ref": None, "offset": i}
        for i in range(8000)
    ]
    doc = {"doc_id": "mega-stress", "spans": spans}
    from agentic_doc_spark.schema import DOCUMENTS_RAW
    from agentic_doc_spark.synth import expected_parsed

    df = spark.createDataFrame([doc], DOCUMENTS_RAW)
    want = expected_parsed(doc, Settings())
    got = extract(df, Settings()).collect()[0].asDict(recursive=True)
    assert len(got["spans"]) == 8000
    assert got["end_page_idx"] == 1999
    assert got["markdown"] == want["markdown"]
    assert [
        (s["kind"], s["text"], s["offset"]) for s in got["spans"][:5]
    ] == [(s["kind"], s["text"], s["offset"]) for s in want["spans"][:5]]


def test_partition_count_invariance(spark, settings):
    # SURVEY.md §7.3: ordering must survive arbitrary repartitioning
    df = corpus_df(spark, n_per_profile=1, settings=settings).repartition(13)
    got = {
        r["doc_id"]: r.asDict(recursive=True) for r in extract(df, settings).collect()
    }
    want = _rows_by_doc(expected_corpus(n_per_profile=1, settings=settings))
    for doc_id, exp in want.items():
        g = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in got[doc_id]["spans"]]
        e = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in exp["spans"]]
        assert g == e, doc_id


def test_explode_spans_keys_and_placeholders(spark):
    # X1 (the page_split query's stage): page_no / part_idx per span row,
    # null elements and null offsets dropped, and exactly one all-null
    # placeholder row per doc with no usable span
    from agentic_doc_spark.schema import DOCUMENTS_RAW

    s = Settings(spans_per_page=2, split_size=3)  # a part is 6 offsets

    def sp(text, offset):
        return {"kind": "raw", "text": text, "media_ref": None, "offset": offset}

    docs = [
        {"doc_id": "empty", "spans": []},
        {"doc_id": "null", "spans": None},
        {"doc_id": "allnull", "spans": [None, sp("x", None)]},
        {
            # offsets cross page (every 2) and part (every 6) boundaries,
            # arrive unsorted, repeat, and are mixed with nulls
            "doc_id": "mixed",
            "spans": [
                sp("e", 13), None, sp("a", 0), sp("b", 1), sp("n", None),
                sp("c", 5), sp("d", 6), sp("d2", 6), sp("f", 12), sp("g", 2),
            ],
        },
        {"doc_id": "one", "spans": [sp("z", 7)]},
    ]
    rows = explode_spans(spark.createDataFrame(docs, DOCUMENTS_RAW), s).collect()

    got = sorted(
        (r["doc_id"], r["offset"], r["text"], r["page_no"], r["part_idx"])
        for r in rows
        if r["offset"] is not None
    )
    want = sorted(
        (d["doc_id"], x["offset"], x["text"], x["offset"] // 2, x["offset"] // 2 // 3)
        for d in docs
        for x in d["spans"] or []
        if x is not None and x["offset"] is not None
    )
    assert got == want
    # boundary spot checks: 5 ends part 0, 6 and 12 open parts 1 and 2
    mixed = {(o, p, q) for d, o, _, p, q in got if d == "mixed"}
    assert {(5, 2, 0), (6, 3, 1), (12, 6, 2), (13, 6, 2)} <= mixed

    placeholders = [r for r in rows if r["offset"] is None]
    assert sorted(r["doc_id"] for r in placeholders) == ["allnull", "empty", "null"]
    for r in placeholders:
        assert r["kind"] is None and r["text"] is None
        assert r["page_no"] is None and r["part_idx"] is None
    assert len(rows) == len(want) + 3

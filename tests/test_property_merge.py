"""Property test: for ARBITRARY span soups the Spark pipeline (the Arrow
engine behind ``extract``) must reproduce the pure-Python oracle's span
sequences, markdown, page ranges, and errors. This is the SURVEY.md §7.3 mitigation for the
ordering-under-shuffles hazard — offsets arrive shuffled, sparse, with
corrupt parts, boilerplate, media and marginalia mixed in."""

from __future__ import annotations

import random

import pytest
from hypothesis import HealthCheck, given, settings as hsettings
from hypothesis import strategies as st

from agentic_doc_spark.config import Settings
from agentic_doc_spark.pipeline import extract
from agentic_doc_spark.schema import DOCUMENTS_RAW
from agentic_doc_spark.synth import expected_parsed

KINDS = ["raw", "text", "table", "figure", "marginalia", "media", "corrupt"]
TEXTS = [
    "plain words here",
    "Page 3 of 9",
    "| a | b |",
    "<nav><a href='/'>x</a></nav>",
    "Accept all cookies now",
    "",
    None,
    "\x00broken",
    "the end",
]


def span_strategy():
    return st.fixed_dictionaries(
        {
            "kind": st.sampled_from(KINDS),
            "text": st.sampled_from(TEXTS),
            "media_ref": st.sampled_from([None, "media://x/1", ""]),
            "offset": st.integers(0, 60),
        }
    )


def doc_strategy(i: int):
    # duplicate offsets ARE allowed (stable input-order tie-break is part
    # of the contract) and NULL elements must be dropped identically
    return st.lists(
        st.one_of(st.none(), span_strategy()), min_size=0, max_size=25
    ).map(lambda spans: {"doc_id": f"prop-{i}", "spans": spans})


@pytest.mark.parametrize("s", [Settings()], ids=["arrow"])
@given(data=st.data())
@hsettings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_corpora_match_oracle(spark, s, data):
    docs = [data.draw(doc_strategy(i)) for i in range(8)]
    df = spark.createDataFrame(docs, DOCUMENTS_RAW).repartition(5)
    got = {
        r["doc_id"]: r.asDict(recursive=True) for r in extract(df, s).collect()
    }
    for d in docs:
        want = expected_parsed(d, s)
        g = got[d["doc_id"]]
        g_seq = [
            (x["kind"], x["text"], x["media_ref"], x["offset"])
            for x in g["spans"]
        ]
        w_seq = [
            (x["kind"], x["text"], x["media_ref"], x["offset"])
            for x in want["spans"]
        ]
        assert g_seq == w_seq, d
        assert g["markdown"] == want["markdown"], d
        assert g["errors"] == want["errors"], d
        assert g["end_page_idx"] == want["end_page_idx"], d

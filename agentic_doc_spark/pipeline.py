"""The extraction pipeline entry points (SURVEY.md §3, Spark lifecycle).

    documents_raw (doc_id, spans)
    → extract: mapInArrow(arrow_engine.extract_batch)    [X3/X4, A1-A5]
    → ParsedDocument rows

``documents_raw`` holds one row per document and every step of the
reference pipeline (classify, boilerplate strip, part split, per-part
failure, ordered merge — agentic_doc/parse.py:472-629) is row-local, so
``extract`` is the zero-shuffle Arrow engine (arrow_engine.py). Its span
sequences are pinned against the pure-Python oracle
``synth.expected_parsed``.

Two long-form helpers remain for queries that need one row per span:
``explode_spans`` derives the page/part keys (X1, the ``page_split``
query) and ``spans_long`` flattens ParsedDocument rows back to spans
(the ``spans_long`` query and the span-equality comparisons).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from agentic_doc_spark.arrow_engine import extract_arrow
from agentic_doc_spark.config import DEFAULT_SETTINGS, Settings


def explode_spans(df: DataFrame, settings: Settings = DEFAULT_SETTINGS) -> DataFrame:
    """X1: one row per span + page/part keys.

    page_no = offset // spans_per_page (FIXTURES.md §1); part_idx =
    page_no // split_size — the page-group key mirroring split_pdf
    (agentic_doc/utils.py:214-264).

    explode_outer keeps empty/null-span docs as a single null-span row, so
    every document appears at least once.

    NULL span elements (and elements with a NULL offset) are dropped
    BEFORE the explode, as the arrow engine and the oracle drop them, so
    they never form a phantom null-part_idx row. A doc whose array is
    all-null degrades to the empty array → one placeholder row."""
    clean = F.filter(
        F.col("spans"), lambda s: s.isNotNull() & s["offset"].isNotNull()
    )
    return (
        df.select("doc_id", F.explode_outer(clean).alias("s"))
        .select(
            "doc_id",
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").alias("offset"),
        )
        .withColumn(
            "page_no",
            F.floor(F.col("offset") / settings.spans_per_page).cast("int"),
        )
        .withColumn(
            "part_idx",
            F.floor(F.col("page_no") / settings.split_size).cast("int"),
        )
    )


def extract(df: DataFrame, settings: Settings = DEFAULT_SETTINGS) -> DataFrame:
    """documents_raw → ParsedDocument rows (arrow_engine.extract_arrow).

    Docs with NULL/empty span arrays land on the empty-merge identity
    (markdown='', pages 0..0 — agentic_doc/parse.py:598-611, A4)."""
    return extract_arrow(df, settings)


def spans_long(parsed: DataFrame) -> DataFrame:
    """Flatten ParsedDocument rows to one row per output span — the shape
    the span-sequence-equality check compares on (kind, text, media_ref,
    order) per doc_id."""
    return parsed.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )

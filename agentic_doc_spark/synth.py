"""Deterministic fixture corpus + pure-Python expected-output oracle.

Generates the ``documents_raw`` table (FIXTURES.md §1) from the seven
profiles in FIXTURES.md §3, which model the reference's test fixtures
(tests/conftest.py:76-237), and computes the golden ``documents_expected``
rows by executing the reference's merge semantics
(agentic_doc/parse.py:597-629) in plain Python. Seed-stable: no wall clock,
no nondeterministic iteration.

The Spark pipeline (pipeline.py) must reproduce these expected rows with
exact span-sequence equality (kind, text, media_ref, order) per doc_id —
the BASELINE.json correctness gate.
"""

from __future__ import annotations

import random

from agentic_doc_spark.config import DEFAULT_SETTINGS, Settings
from agentic_doc_spark.functions.classify import (
    classify_kind,
    is_boilerplate,
    is_corrupt,
)
from agentic_doc_spark.functions.markdown import PART_SEP, render_span

SEED = 42

_WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "spark group query row data slow filter customer line batch value page "
    "span chunk figure layout grounding extract markdown document parse"
).split()

PROFILES = ("single", "multi", "complex", "marginalia", "html", "mega", "errdoc")


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _span(kind: str, text: str | None, media_ref: str | None, offset: int) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def _text_page(rng: random.Random, page: int, spp: int, start: int) -> list[dict]:
    return [
        _span("raw", _sentence(rng, 6 + (i % 3)), None, start + i)
        for i in range(spp)
    ]


def _make_doc(profile: str, i: int, spp: int) -> dict:
    """One document for a profile. Deterministic in (profile, i)."""
    doc_id = f"{profile}-{i:06d}"
    rng = random.Random(f"{SEED}:{doc_id}")
    spans: list[dict] = []

    def fill_pages(n_pages: int) -> None:
        for p in range(n_pages):
            spans.extend(_text_page(rng, p, spp, p * spp))

    if profile == "single":
        spans = [
            _span("text", _sentence(rng, 8), None, 0),
            _span("text", _sentence(rng, 5), None, 1),
        ]
    elif profile == "multi":
        fill_pages(5)
        # one figure with media on page 1 (mirrors the 3-page 5-chunk
        # fixture's figure chunk, tests/conftest.py:177-237)
        fig_off = spp + 1
        spans[fig_off] = _span(
            "raw", "diagram of the pipeline", f"media://{doc_id}/fig0", fig_off
        )
    elif profile == "complex":
        rows = " | ".join(["col_a", "col_b", "col_c"])
        vals = " | ".join(str(rng.randint(0, 99)) for _ in range(3))
        spans = [
            _span("raw", "# " + _sentence(rng, 3), None, 0),
            _span("raw", _sentence(rng, 10), None, 1),
            _span("raw", f"| {rows} |\n| {vals} |", None, 2),
            _span("raw", _sentence(rng, 7), None, 3),
            _span("raw", "", f"media://{doc_id}/img0", spp),
            _span("raw", _sentence(rng, 9), None, spp + 1),
            _span("raw", "chart of results", f"media://{doc_id}/img1", spp + 2),
            _span("raw", _sentence(rng, 6), None, spp + 3),
        ]
    elif profile == "marginalia":
        fill_pages(5)
        # last span of each page becomes a folio line → classified marginalia
        for p in range(5):
            off = p * spp + (spp - 1)
            spans[off] = _span("raw", f"Page {p + 1} of 5", None, off)
    elif profile == "html":
        fill_pages(3)
        boilers = [
            "<nav><a href='/'>home</a> <a href='/about'>about</a></nav>",
            "Accept all cookies to continue reading this site",
            "<footer>© 2024 Example Corp — All rights reserved</footer>",
        ]
        for p, b in enumerate(boilers):
            off = p * spp + 1
            spans[off] = _span("raw", b, None, off)
    elif profile == "mega":
        fill_pages(120)
    elif profile == "errdoc":
        fill_pages(25)
        bad = 12 * spp + 1  # page 12 → middle part at split_size=10
        spans[bad] = _span("raw", "\x00corrupted stream", None, bad)
    else:
        raise ValueError(f"unknown profile {profile}")

    return {"doc_id": doc_id, "spans": spans}


def make_corpus(n_per_profile: int = 2, spans_per_page: int = 4) -> list[dict]:
    """The fixture corpus: n docs per profile, FIXTURES.md §3 order."""
    return [
        _make_doc(p, i, spans_per_page)
        for p in PROFILES
        for i in range(n_per_profile)
    ]


def chunk_id(doc_id: str, page: int, offset: int) -> str:
    """Deterministic unique chunk id (SURVEY.md O3). Plain concatenation:
    uniqueness-per-doc is the pinned invariant
    (tests/integ/test_parse_integ.py:337-360), and the cheap form avoids
    ~1 hash per span across the whole corpus (JVM MessageDigest also
    contends under high thread counts)."""
    return f"{doc_id}:{page}:{offset}"


def synth_box(offset: int, spp: int) -> dict:
    """Deterministic normalized bbox, within [0,1], r>l, b>t
    (validity bounds per tests/integ/test_parse_integ.py:375-401)."""
    h = 0.8 / spp
    t = (offset % spp) * h + 0.05
    # b computed from the unrounded t — matches the pipeline's expression
    return {"l": 0.1, "t": round(t, 6), "r": 0.9, "b": round(t + h - 0.01, 6)}


# ---------------------------------------------------------------------------
# Pure-Python oracle: the reference merge semantics, executed eagerly
# ---------------------------------------------------------------------------


def expected_parsed(doc: dict, settings: Settings = DEFAULT_SETTINGS) -> dict:
    """Golden ParsedDocument row for one input doc.

    Implements: page/part derivation (X1), classify+strip (phase-2 kernel),
    per-part failure → per-page errors (agentic_doc/parse.py:722-739),
    ordered part merge with '\\n\\n' markdown join
    (agentic_doc/parse.py:597-629), dense output offsets.
    """
    spp, split = settings.spans_per_page, settings.split_size
    # NULL elements / NULL offsets are dropped before ordering (the arrow
    # engine does the same); sorted() is stable, so duplicate offsets keep
    # input order — as the engine's stable lexsort does
    spans = sorted(
        (
            s
            for s in (doc["spans"] or [])
            if s is not None and s.get("offset") is not None
        ),
        key=lambda s: s["offset"],
    )
    if not spans:
        return {
            "doc_id": doc["doc_id"],
            "markdown": "",
            "chunks": [],
            "spans": [],
            "start_page_idx": 0,
            "end_page_idx": 0,
            "doc_type": "pdf",
            "errors": [],
        }

    parts: dict[int, list[dict]] = {}
    for s in spans:
        page = s["offset"] // spp
        parts.setdefault(page // split, []).append(s)

    part_mds: list[str] = []
    kept_all: list[tuple[str, dict, int]] = []  # (kind, span, page)
    errors: list[dict] = []
    for part_idx in sorted(parts):
        pspans = parts[part_idx]
        pages = [s["offset"] // spp for s in pspans]
        start_pg, end_pg = min(pages), max(pages)
        if any(is_corrupt(s["kind"], s["text"]) for s in pspans):
            part_mds.append("")
            errors.extend(
                {"page_num": p, "error": "part unparseable", "error_code": -1}
                for p in range(start_pg, end_pg + 1)
            )
            continue
        kept: list[tuple[str, dict, int]] = []
        for s in pspans:
            kind = classify_kind(s["kind"], s["text"], s["media_ref"])
            if settings.strip_boilerplate and is_boilerplate(s["text"]):
                continue
            if kind == "marginalia" and not settings.include_marginalia:
                continue
            kept.append((kind, s, s["offset"] // spp))
        part_mds.append(
            PART_SEP.join(
                render_span(k, s["text"], s["media_ref"]) for k, s, _ in kept
            )
        )
        kept_all.extend(kept)

    out_spans = [
        {"kind": k, "text": s["text"], "media_ref": s["media_ref"], "offset": i}
        for i, (k, s, _) in enumerate(kept_all)
    ]
    chunks = [
        {
            "text": render_span(k, s["text"], s["media_ref"]),
            "grounding": [
                {
                    "page": pg,
                    "box": synth_box(s["offset"], spp),
                    "image_path": None,
                }
            ],
            "chunk_type": "figure" if k == "media" else k,
            "chunk_id": chunk_id(doc["doc_id"], pg, s["offset"]),
        }
        for k, s, pg in kept_all
    ]
    return {
        "doc_id": doc["doc_id"],
        "markdown": PART_SEP.join(part_mds),
        "chunks": chunks,
        "spans": out_spans,
        "start_page_idx": 0,
        "end_page_idx": max(s["offset"] // spp for s in spans),
        "doc_type": "pdf",
        "errors": errors,
    }


def expected_corpus(
    n_per_profile: int = 2, settings: Settings = DEFAULT_SETTINGS
) -> list[dict]:
    return [
        expected_parsed(d, settings)
        for d in make_corpus(n_per_profile, settings.spans_per_page)
    ]


# ---------------------------------------------------------------------------
# Spark-side constructors
# ---------------------------------------------------------------------------


def corpus_df(spark, n_per_profile: int = 2, settings: Settings = DEFAULT_SETTINGS):
    """documents_raw as a DataFrame (exact input_hint schema)."""
    from agentic_doc_spark.schema import DOCUMENTS_RAW

    return spark.createDataFrame(
        make_corpus(n_per_profile, settings.spans_per_page), DOCUMENTS_RAW
    )


def documents_raw_from_table(spark, sf_dir: str, tokens_per_span: int = 8):
    """Derive a large documents_raw corpus from the driver's documents
    parquet (TESTDATA.md) — deterministic, all-JVM (no UDF): tokenize text,
    slice into ``tokens_per_span``-token spans, kind='raw'.

    Used by bench.py so the benchmark corpus scales with the sf ladder.

    The single small parquet file would arrive as ONE scan partition and
    serialize every downstream map-side stage; a real corpus is split
    across thousands of files/row-groups, so the round-robin repartition
    to the session default parallelism reproduces realistic scan
    parallelism (values unchanged — purely physical).
    """
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = F.split(F.col("text"), " ")
    n_spans = F.ceil(F.size(toks) / tokens_per_span).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.struct(
            F.lit("raw").alias("kind"),
            F.array_join(
                F.slice(toks, i * tokens_per_span + 1, tokens_per_span), " "
            ).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans")
    )


def documents_raw_interleaved(
    spark,
    sf_dir: str,
    tokens_per_span: int = 8,
    media_every: int = 3,
):
    """Interleaved text+media documents_raw corpus derived from the
    driver's documents parquet: text is sliced into
    ``tokens_per_span``-token spans (as ``documents_raw_from_table``)
    and a media span (empty text, ``media://{doc_id}/m{j}`` ref) is
    inserted after every ``media_every`` text spans — the interleaved
    image-text document shape of multimodal pre-training corpora.

    Offsets interleave deterministically: text span i sits at
    ``i + i // media_every``; media span j at
    ``(media_every + 1) * j + media_every``. All-JVM (no UDF), purely
    derived — the DuckDB oracle reproduces the same layout from the
    base table with integer arithmetic.
    """
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = F.split(F.col("text"), " ")
    n_spans = F.ceil(F.size(toks) / tokens_per_span).cast("int")
    did = F.col("doc_id").cast("string")
    text_spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.struct(
            F.lit("raw").alias("kind"),
            F.array_join(
                F.slice(toks, i * tokens_per_span + 1, tokens_per_span), " "
            ).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            (i + F.floor(i / media_every)).cast("int").alias("offset"),
        ),
    )
    n_media = F.floor(n_spans / media_every).cast("int")
    empty = F.array().cast(
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    media_spans = F.when(
        n_media > 0,
        F.transform(
            F.sequence(F.lit(0), n_media - 1),
            lambda j: F.struct(
                F.lit("raw").alias("kind"),
                F.lit("").alias("text"),
                F.concat(
                    F.lit("media://"), did, F.lit("/m"), j.cast("string")
                ).alias("media_ref"),
                (j * (media_every + 1) + media_every).cast("int").alias(
                    "offset"
                ),
            ),
        ),
    ).otherwise(empty)
    # spans ship text-first + media-appended; OFFSETS carry the
    # interleaving (every consumer orders by offset — pipeline.explode
    # and packing.interleaved_costs both do), so no in-row sort is
    # needed. This also exercises consumers against out-of-offset-order
    # input, which real span tables are.
    return docs.select(
        did.alias("doc_id"),
        F.concat(text_spans, media_spans).alias("spans"),
    )

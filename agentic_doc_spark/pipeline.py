"""The end-to-end extraction pipeline (SURVEY.md §3, Spark lifecycle).

    documents_raw (doc_id, spans)
    → explode + page/part-key derivation                 [X1]
    → vectorized classify/strip kernel                   [phase-2 kernel]
    → groupBy(doc_id, part_idx) part assembly            [bounded-size groups]
    → groupBy(doc_id) ordered merge                      [A1-A5]
    → ParsedDocument rows

Exactly TWO shuffles. Ordering is carried explicitly through order keys
(offset within part, part_idx across parts) and restored with sort_array —
the Spark replacement for the reference's in-order executor.map
(agentic_doc/parse.py:290-297, SURVEY.md §7.3).

Scale notes (designed for 10^12 docs / 1000 executors, tested on local[]):
- Part groups are bounded: ≤ split_size × spans_per_page spans each, so a
  1000+-page mega-document (reference README.md:242) becomes ~100 *bounded*
  groups — the skew is structurally dissolved by the (doc_id, part_idx)
  key, which is exactly the salting the north rule asks for: part_idx IS
  the salt, derived from content position, so no random salt column or
  second unsalting shuffle is needed for the parse stage.
- The part-assembly exchange partitions by hash(doc_id, part_idx) — that
  IS the salted page-group repartition (part_idx is the salt, derived from
  content position), so mega-document parse work spreads across executors
  without a dedicated salt column or extra shuffle.
- The doc-level merge sees one pre-aggregated row per part (≤ ~100 rows for
  a mega doc), so the final groupBy(doc_id) is skew-free by construction —
  the two-level merge recommended in SURVEY.md §7.3.
- The classify kernel is an Arrow-batched pandas transform (mapInPandas);
  a pure-Catalyst expression twin (use_pandas_udf=False) keeps the whole
  plan inside WholeStageCodegen for comparison.
- All assembly (sort_array / transform / flatten / array_join) is
  higher-order-function work on the JVM — no Python in the merge path.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from agentic_doc_spark.config import DEFAULT_SETTINGS, Settings
from agentic_doc_spark.functions.classify import classify_frame
from agentic_doc_spark.functions.markdown import PART_SEP, render_span_col

# schema of the exploded + classified long frame
_CLASSIFIED = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("part_idx", T.IntegerType()),
        T.StructField("kind_out", T.StringType()),
        T.StructField("keep", T.BooleanType()),
        T.StructField("corrupt", T.BooleanType()),
    ]
)


def explode_spans(df: DataFrame, settings: Settings = DEFAULT_SETTINGS) -> DataFrame:
    """Stage 1 (X1): one row per span + page/part keys.

    page_no = offset // spans_per_page (FIXTURES.md §1); part_idx =
    page_no // split_size — the page-group key mirroring split_pdf
    (agentic_doc/utils.py:214-264).

    explode_outer keeps empty/null-span docs as a single null-span row so
    the empty-merge identity (A4) falls out of the aggregation itself —
    no extra join (and no extra shuffle) at the end of the pipeline.

    NULL span elements (and elements with a NULL offset) are dropped
    BEFORE the explode so they can't form a phantom null-part_idx group —
    the arrow engine and the pure-Python oracle drop them the same way,
    keeping markdown byte-identical across engines. A doc whose array is
    all-null degrades to the empty array → the A4 identity.

    ``pos`` is the element's position in the input array — the explicit
    stable-sort tie-break for duplicate offsets (the arrow engine's
    kind='stable' sort and the oracle's sorted() both preserve input
    order; sort_array needs the key materialized)."""
    clean = F.filter(
        F.col("spans"), lambda s: s.isNotNull() & s["offset"].isNotNull()
    )
    return (
        df.select("doc_id", F.posexplode_outer(clean).alias("pos", "s"))
        .select(
            "doc_id",
            F.col("pos").cast("int").alias("pos"),
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


def classify_spans(
    df: DataFrame, settings: Settings = DEFAULT_SETTINGS
) -> DataFrame:
    """Stage 2: the classify/strip kernel.

    Default path: Arrow-batched kernel via mapInPandas (classify_frame:
    Arrow compute masks, regexes only on the rows whose result is used).
    Alternate path: the Catalyst-expression twin for a UDF-free plan.

    No repartition happens here ON PURPOSE: classification is per-span, so
    it parallelizes on scan partitions (plentiful on a real corpus), and
    the part assembly's required distribution — hash(doc_id, part_idx),
    i.e. the salted page-group repartition the north rule asks for — is
    inserted by Catalyst as the aggregation's own exchange. An explicit
    repartition before a mapInPandas kernel would NOT be elided later
    (the UDF is a distribution black box to Catalyst) and would cost a
    second full shuffle of the span data."""
    if settings.use_pandas_udf:

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield classify_frame(pdf)

        return df.mapInPandas(run, _CLASSIFIED)
    return _classify_native(df)


def _classify_native(df: DataFrame) -> DataFrame:
    """Expression twin of functions/classify.classify_frame (JVM-only)."""
    text = F.coalesce(F.col("text"), F.lit(""))
    has_media = F.col("media_ref").isNotNull() & (F.col("media_ref") != "")
    is_table = text.rlike(r"\|.*\|")
    is_marg = text.rlike(
        r"(?i)^\s*(?:page\s+\d+(?:\s+of\s+\d+)?|\d{1,4}|[ivxlcdm]{1,7})\s*$"
    )
    known = F.col("kind").isin("text", "table", "figure", "marginalia", "media")
    kind_out = (
        F.when(known, F.col("kind"))
        .when(has_media & (text == ""), F.lit("media"))
        .when(has_media, F.lit("figure"))
        .when(is_table, F.lit("table"))
        .when(is_marg, F.lit("marginalia"))
        .otherwise(F.lit("text"))
    )
    anchors = F.regexp_extract_all(text, F.lit(r"(?is)<a[\s>].*?</a>"), 0)
    anchor_chars = F.aggregate(
        F.transform(
            anchors, lambda a: F.length(F.regexp_replace(a, r"<[^>]+>", ""))
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    stripped_len = F.length(F.regexp_replace(text, r"<[^>]+>", ""))
    link_density = F.when(
        stripped_len > 0, anchor_chars / stripped_len
    ).otherwise(F.lit(0.0))
    boiler = (
        text.rlike(r"(?i)<(?:nav|footer|aside)[\s>/]")
        | text.rlike(
            r"(?i)(?:accept\s+(?:all\s+)?cookies|cookie\s+policy"
            r"|all\s+rights\s+reserved|©\s*\d{4}|terms\s+of\s+service"
            r"|privacy\s+policy)"
        )
        | (link_density > 0.5)
    )
    corrupt = (F.col("kind") == "corrupt") | text.contains(F.lit("\x00"))
    return (
        df.withColumn("kind_out", kind_out)
        .withColumn("keep", ~boiler)
        .withColumn("corrupt", corrupt)
    )


def assemble_parts(
    df: DataFrame, settings: Settings = DEFAULT_SETTINGS
) -> DataFrame:
    """Stage 3 (shuffle #1): per-(doc, part) assembly.

    One row per part: ordered kept spans, page range, per-page error rows
    for failed parts (agentic_doc/parse.py:722-739). Group size is bounded
    by split_size × spans_per_page → skew-free.

    Bandwidth discipline (this stage feeds the second shuffle): dropped
    spans are excluded inside collect_list (its null-skipping makes the
    filter free — no post-hoc array filtering), the keep flag never
    leaves the map side, and part markdown is NOT materialized here — it
    would duplicate every span text through the doc-merge shuffle; the
    merge composes it from the spans instead."""
    keep_cond = (
        F.col("offset").isNotNull()  # explode_outer placeholder
        & (F.col("keep") if settings.strip_boilerplate else F.lit(True))
        & (
            F.lit(True)
            if settings.include_marginalia
            else (F.col("kind_out") != "marginalia")
        )
    )
    agg = df.groupBy("doc_id", "part_idx").agg(
        (F.max(F.col("corrupt").cast("int")) == 1).alias("part_failed"),
        F.min("page_no").alias("part_start_page"),
        F.max("page_no").alias("part_end_page"),
        # pos directly after offset: sort_array orders by field position,
        # so equal offsets break ties by input-array position — identical
        # to the arrow engine's stable sort and the oracle's sorted()
        F.sort_array(
            F.collect_list(
                F.when(
                    keep_cond,
                    F.struct(
                        "offset", "pos", "kind_out", "text", "media_ref", "page_no"
                    ),
                )
            )
        ).alias("kept"),
    )

    spans_t = (
        "array<struct<offset:int,kind:string,text:string,"
        "media_ref:string,local_page:int>>"
    )
    # part-local pages (reference parts carry local pages; the doc merge
    # re-offsets them by part_start_page — agentic_doc/parse.py:620-629)
    local_spans = F.when(
        F.col("part_failed"), F.array().cast(spans_t)
    ).otherwise(
        F.transform(
            F.col("kept"),
            lambda s: F.struct(
                s["offset"].alias("offset"),
                s["kind_out"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                (s["page_no"] - F.col("part_start_page"))
                .cast("int")
                .alias("local_page"),
            ),
        )
    )
    part_errors = F.when(
        F.col("part_failed"),
        F.transform(
            F.sequence(F.col("part_start_page"), F.col("part_end_page")),
            lambda p: F.struct(
                p.cast("int").alias("page_num"),
                F.lit("part unparseable").alias("error"),
                F.lit(-1).alias("error_code"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<page_num:int,error:string,error_code:int>>")
    )
    return agg.select(
        "doc_id",
        "part_idx",
        "part_failed",
        "part_start_page",
        "part_end_page",
        local_spans.alias("spans"),
        part_errors.alias("errors"),
    )


def merge_documents(
    parts: DataFrame, settings: Settings = DEFAULT_SETTINGS
) -> DataFrame:
    """Stage 4 (shuffle #2): the A1/A2 ordered fold, as one groupBy.

    sort_array over (part_idx-first) structs restores input order, then:
    markdown = array_join(md, '\\n\\n') (parse.py:621); grounding pages are
    re-offset local→global by part_start_page (parse.py:623-625); chunks /
    errors flatten in order; end_page_idx = last part's end
    (parse.py:626)."""
    spp = settings.spans_per_page
    doc = parts.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "part_idx",
                    "part_start_page",
                    "part_end_page",
                    "spans",
                    "errors",
                )
            )
        ).alias("parts")
    )
    p = F.col("parts")
    # markdown composed here rather than per part — a failed/empty part's
    # empty span array renders '' and still contributes its separator,
    # exactly the reference's unconditional '\n\n' join (parse.py:621)
    markdown = F.array_join(
        F.transform(
            p,
            lambda x: F.array_join(
                F.transform(
                    x["spans"],
                    lambda s: render_span_col(
                        s["kind"], s["text"], s["media_ref"]
                    ),
                ),
                PART_SEP,
            ),
        ),
        PART_SEP,
    )
    # global spans in order, then dense re-offset
    flat = F.flatten(
        F.transform(
            p,
            lambda x: F.transform(
                x["spans"],
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("src_offset"),
                    (s["local_page"] + x["part_start_page"])
                    .cast("int")
                    .alias("page"),
                ),
            ),
        )
    )
    out_spans = F.transform(
        flat,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    h = 0.8 / spp
    chunks = F.transform(
        flat,
        lambda s: F.struct(
            render_span_col(s["kind"], s["text"], s["media_ref"]).alias("text"),
            F.array(
                F.struct(
                    s["page"].alias("page"),
                    F.struct(
                        F.lit(0.1).alias("l"),
                        F.round((s["src_offset"] % spp) * h + 0.05, 6).alias("t"),
                        F.lit(0.9).alias("r"),
                        F.round((s["src_offset"] % spp) * h + 0.05 + h - 0.01, 6)
                        .alias("b"),
                    ).alias("box"),
                    F.lit(None).cast("string").alias("image_path"),
                )
            ).alias("grounding"),
            F.when(s["kind"] == "media", F.lit("figure"))
            .otherwise(s["kind"])
            .alias("chunk_type"),
            F.concat_ws(":", F.col("doc_id"), s["page"], s["src_offset"]).alias(
                "chunk_id"
            ),
        ),
    )
    errors = F.flatten(F.transform(p, lambda x: x["errors"]))
    return doc.select(
        "doc_id",
        markdown.alias("markdown"),
        chunks.alias("chunks"),
        out_spans.alias("spans"),
        F.lit(0).alias("start_page_idx"),
        F.aggregate(
            p, F.lit(0), lambda acc, x: F.greatest(acc, x["part_end_page"])
        )
        .cast("int")
        .alias("end_page_idx"),
        F.lit("pdf").alias("doc_type"),
        errors.alias("errors"),
    )


def extract(df: DataFrame, settings: Settings = DEFAULT_SETTINGS) -> DataFrame:
    """documents_raw → ParsedDocument rows. Dispatches by settings.engine:

    - "arrow": zero-shuffle mapInArrow engine (arrow_engine.py) — the
      default; per-document work is row-local so no exchange is needed.
    - "shuffle": the explicit split/merge pipeline below — plan-shape twin
      of the reference's part fan-out, used as the cross-check engine and
      whenever per-PART distribution is genuinely wanted.

    Both reproduce the same span sequences (pinned by the fixture suite).
    """
    if settings.engine == "arrow":
        from agentic_doc_spark.arrow_engine import extract_arrow

        return extract_arrow(df, settings)
    return extract_shuffle(df, settings)


def extract_shuffle(df: DataFrame, settings: Settings = DEFAULT_SETTINGS) -> DataFrame:
    """The two-shuffle split/merge pipeline.

    Docs with NULL/empty span arrays flow through as a single
    explode_outer placeholder row and land on the empty-merge identity
    (markdown='', pages 0..0 — agentic_doc/parse.py:598-611, A4) without
    any extra join or shuffle."""
    return merge_documents(
        assemble_parts(classify_spans(explode_spans(df, settings), settings), settings),
        settings,
    )


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

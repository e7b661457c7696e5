"""Markdown rendering of spans and extraction metadata.

Reference semantics: part markdowns are concatenated with '\\n\\n'
(agentic_doc/parse.py:621); figures render as images. ``render_span`` is
the scalar contract the oracle (synth.py) uses; arrow_engine._render is
its vectorized Arrow twin. The metadata-table renderers are Catalyst
expressions used by the extraction API.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

PART_SEP = "\n\n"


def render_span(kind: str, text: str | None, media_ref: str | None) -> str:
    if kind == "media":
        m = media_ref or ""  # degenerate media spans render "![]()"
        return f"![{m}]({m})"
    if kind == "figure" and media_ref:
        return f"![{text or ''}]({media_ref})"
    return text or ""


def render_metadata_table(extraction: Column, schema: T.StructType) -> Column:
    """F9/P3: render an extraction struct as a `| Field | Value |` markdown
    table (the reference demo's dict→table renderer, app/app.py:160-163;
    gated by include_metadata_in_markdown, agentic_doc/parse.py:61).
    NULL extraction → NULL table (caller keeps markdown unchanged)."""
    rows = [
        F.concat(
            F.lit(f"| {f.name} | "),
            F.coalesce(extraction[f.name].cast("string"), F.lit("")),
            F.lit(" |"),
        )
        for f in schema.fields
    ]
    table = F.concat_ws(
        "\n", F.lit("| Field | Value |"), F.lit("| --- | --- |"), *rows
    )
    return F.when(extraction.isNotNull(), table)


def append_metadata_to_markdown(
    markdown: Column, extraction: Column, schema: T.StructType
) -> Column:
    """markdown + '\\n\\n' + metadata table when extraction is present."""
    table = render_metadata_table(extraction, schema)
    return F.when(
        table.isNotNull(), F.concat(markdown, F.lit(PART_SEP), table)
    ).otherwise(markdown)

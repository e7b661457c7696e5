"""Pure-stdlib PNG codec + real grounding-crop rendering."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from agentic_doc_spark.functions.png import (
    crop,
    decode_png,
    encode_png,
    is_png,
    resize_nearest,
)


def _gradient(h, w, ch=3):
    y = np.arange(h, dtype=np.uint32)[:, None, None]
    x = np.arange(w, dtype=np.uint32)[None, :, None]
    c = np.arange(ch, dtype=np.uint32)[None, None, :]
    return ((y * 7 + x * 13 + c * 29) % 256).astype(np.uint8)


@pytest.mark.parametrize("shape", [(12, 17, 3), (5, 9, 1), (8, 8, 4)])
def test_roundtrip_identity(shape):
    arr = _gradient(*shape)
    data = encode_png(arr)
    assert is_png(data)
    back = decode_png(data)
    assert back.shape == arr.shape
    assert (back == arr).all()


def test_decode_all_filter_types():
    # hand-build a PNG whose rows use filters 0..4; reconstruct must
    # invert each (spec-defined filters, W3C PNG §6)
    arr = _gradient(5, 6, 3)
    h, w, ch = arr.shape
    stride = w * ch

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    rows = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        recon = arr[y].reshape(-1).astype(np.int32)
        ftype = y % 5
        filt = np.zeros(stride, dtype=np.int32)
        for x in range(stride):
            left = recon[x - ch] if x >= ch else 0
            upleft = prev[x - ch] if x >= ch else 0
            up = prev[x]
            if ftype == 0:
                filt[x] = recon[x]
            elif ftype == 1:
                filt[x] = recon[x] - left
            elif ftype == 2:
                filt[x] = recon[x] - up
            elif ftype == 3:
                filt[x] = recon[x] - ((left + up) >> 1)
            else:
                filt[x] = recon[x] - paeth(int(left), int(up), int(upleft))
        rows.append(ftype)
        rows.extend((filt & 0xFF).astype(np.uint8).tobytes())
        prev = recon

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(rows)))
        + chunk(b"IEND", b"")
    )
    back = decode_png(data)
    assert (back == arr).all()


def _raw_png(ihdr, extra_chunks, scan_bytes):
    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + b"".join(chunk(t, p) for t, p in extra_chunks)
        + chunk(b"IDAT", zlib.compress(scan_bytes))
        + chunk(b"IEND", b"")
    )


def test_decode_1bit_gray_scanned_document_shape():
    # the classic scanned-document format: 1-bit grayscale, MSB-first
    # packed samples, filter 0
    w, h = 10, 3
    bits = np.zeros((h, w), dtype=np.uint8)
    bits[0, 0] = bits[0, 9] = bits[1, 4] = bits[2, 2] = 1
    rows = bytearray()
    for y in range(h):
        rows.append(0)
        rows.extend(np.packbits(bits[y]).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 1, 0, 0, 0, 0)
    out = decode_png(_raw_png(ihdr, [], bytes(rows)))
    assert out.shape == (h, w, 1)
    assert (out[:, :, 0] == bits * 255).all()  # scaled to full range


def test_decode_4bit_palette_with_trns():
    w, h = 5, 2
    palette = np.array(
        [[255, 0, 0], [0, 255, 0], [0, 0, 255], [10, 20, 30]], dtype=np.uint8
    )
    idx = np.array([[0, 1, 2, 3, 0], [3, 2, 1, 0, 2]], dtype=np.uint8)
    rows = bytearray()
    for y in range(h):
        rows.append(0)
        packed = bytearray()
        for i in range(0, w, 2):
            hi = idx[y, i] << 4
            lo = idx[y, i + 1] if i + 1 < w else 0
            packed.append(hi | lo)
        rows.extend(packed)
    ihdr = struct.pack(">IIBBBBB", w, h, 4, 3, 0, 0, 0)
    extra = [(b"PLTE", palette.tobytes()), (b"tRNS", bytes([255, 128, 64]))]
    out = decode_png(_raw_png(ihdr, extra, bytes(rows)))
    assert out.shape == (h, w, 4)  # tRNS → RGBA
    assert (out[:, :, :3] == palette[idx]).all()
    alphas = np.array([255, 128, 64, 255], dtype=np.uint8)  # tRNS padded 255
    assert (out[:, :, 3] == alphas[idx]).all()


def test_decode_adam7_interlaced_roundtrip():
    # build an interlaced stream directly from the spec's pass geometry
    # and check the deinterlacer reassembles the original image
    arr = _gradient(13, 11, 3)
    h, w = arr.shape[:2]
    passes = (
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    )
    scan = bytearray()
    for x0, y0, dx, dy in passes:
        sub = arr[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for y in range(sub.shape[0]):
            scan.append(0)
            scan.extend(sub[y].tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)  # interlace=1
    out = decode_png(_raw_png(ihdr, [], bytes(scan)))
    assert (out == arr).all()


def test_decode_rejects_garbage():
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")


def test_crop_and_resize():
    arr = _gradient(20, 30, 3)
    c = crop(arr, 5, 2, 25, 18)
    assert c.shape == (16, 20, 3)
    assert (c == arr[2:18, 5:25]).all()
    # clamping
    assert crop(arr, -5, -5, 100, 100).shape == arr.shape
    r = resize_nearest(arr, 10, 7)
    assert r.shape == (7, 10, 3)
    assert r.dtype == np.uint8


def test_render_grounding_crops_real_bytes(spark):
    # end-to-end: synthetic page rasters → crop specs → REAL PNG crops
    # matching a local crop of the same page array, reference naming
    from agentic_doc_spark.operators.multimodal import (
        grounding_crop_specs,
        render_grounding_crops,
    )
    from agentic_doc_spark.pipeline import extract
    from agentic_doc_spark.synth import corpus_df

    W, H = 816, 1056
    parsed = extract(corpus_df(spark, 1)).filter("doc_id = 'single-000000'")
    page_arr = _gradient(H, W, 3)
    pages = spark.createDataFrame(
        [("single-000000", 0, bytearray(encode_png(page_arr)))],
        "doc_id string, page int, content binary",
    )
    crops = {
        r["rel_path"]: bytes(r["content"])
        for r in render_grounding_crops(parsed, pages).collect()
    }
    specs = {
        r["rel_path"]: r["px"]
        for r in grounding_crop_specs(parsed).collect()
    }
    assert set(crops) == set(specs) and len(crops) == 2
    for rel, px in specs.items():
        assert rel.startswith("page_0/text_single-000000_0_")  # : sanitized to '_'
        got = decode_png(crops[rel])
        want = page_arr[px["y0"] : px["y1"], px["x0"] : px["x1"]]
        assert (got == want).all()


def _spec_pages(parsed):
    # (doc_id, page) → the page's crop-spec dicts, text included — the
    # per-page group render_grounding_crops hands its kernel
    from collections import defaultdict

    from agentic_doc_spark.operators.multimodal import grounding_crop_specs

    pages = defaultdict(list)
    for r in grounding_crop_specs(parsed, include_text=True).collect():
        pages[(r["doc_id"], r["page"])].append(r.asDict(recursive=True))
    return pages


def test_synth_page_draws_layout_pages(spark):
    # K1 raster half: a parsed page with valid groundings renders to a
    # page-sized canvas with ink inside the grounding boxes
    from agentic_doc_spark.operators.multimodal import _synth_page
    from agentic_doc_spark.pipeline import extract
    from agentic_doc_spark.synth import corpus_df

    pages = _spec_pages(extract(corpus_df(spark, 1)))
    assert pages
    cs = pages[min(pages)]
    one = _synth_page(cs, 816, 1056)
    assert one.shape == (1056, 816, 3) and one.dtype == np.uint8
    assert one.min() < 80  # text-run ink, not a blank page
    # deterministic: a second render is identical
    assert (_synth_page(cs, 816, 1056) == one).all()


def test_parse_grounding_save_dir_end_to_end(spark, tmp_path):
    # parse(grounding_save_dir=...) with ZERO caller-supplied rasters:
    # every non-null image_path has its PNG file on disk, and each crop's
    # pixel dims match the spec's clamped rect
    from agentic_doc_spark.api import parse
    from agentic_doc_spark.operators.multimodal import grounding_crop_specs
    from agentic_doc_spark.synth import corpus_df

    save = str(tmp_path / "gsave")
    out = parse(spark, corpus_df(spark, 1), grounding_save_dir=save)
    paths = [
        g["image_path"]
        for r in out.collect()
        for c in (r["chunks"] or [])
        for g in (c["grounding"] or [])
        if g["image_path"] is not None
    ]
    assert paths
    specs = {
        f"{save}/{r['rel_path']}": r["px"]
        for r in grounding_crop_specs(out).collect()
    }
    import os

    for p in paths:
        assert os.path.isfile(p), p
        with open(p, "rb") as f:
            img = decode_png(f.read())
        px = specs[p]
        assert img.shape[:2] == (px["y1"] - px["y0"], px["x1"] - px["x0"])


def test_write_grounding_images_refuses_escape(spark, tmp_path):
    # defense in depth: a hand-built crops frame with a traversal
    # rel_path must be refused, never written outside save_dir
    from agentic_doc_spark.operators.multimodal import write_grounding_images

    crops = spark.createDataFrame(
        [("d", "../evil.png", bytearray(b"x"))],
        "doc_id string, rel_path string, content binary",
    )
    out_dir = tmp_path / "safe" / "out"
    out_dir.mkdir(parents=True)
    with pytest.raises(Exception):
        write_grounding_images(crops, str(out_dir))
    assert not (tmp_path / "safe" / "evil.png").exists()
    assert not (tmp_path / "evil.png").exists()


def test_grounding_save_dir_traversal_safe(spark, tmp_path):
    # doc_id is untrusted (arbitrary string in parquet corpora); a
    # '../'-laden id must neither escape grounding_save_dir nor break
    # the image_path ↔ written-file correspondence
    import os

    from pyspark.sql import functions as F

    from agentic_doc_spark.api import parse
    from agentic_doc_spark.synth import corpus_df

    evil = (
        corpus_df(spark, 1)
        .limit(3)
        .withColumn(
            "doc_id", F.concat(F.lit("../../esc/"), F.col("doc_id"))
        )
    )
    save = tmp_path / "safe" / "gsave"
    out = parse(spark, evil, grounding_save_dir=str(save))
    paths = [
        g["image_path"]
        for r in out.collect()
        for c in (r["chunks"] or [])
        for g in (c["grounding"] or [])
        if g["image_path"] is not None
    ]
    assert paths
    root = os.path.realpath(str(save))
    for p in paths:
        assert os.path.realpath(p).startswith(root + os.sep), p
        assert os.path.isfile(p), p
    assert not (tmp_path / "esc").exists()


def test_parse_with_caller_supplied_page_rasters(spark, tmp_path):
    # page_rasters= slots real renderer output into the same loop: crops
    # must be cut from the SUPPLIED raster, not a synthesized page
    import os

    from agentic_doc_spark.api import parse
    from agentic_doc_spark.functions.png import encode_png
    from agentic_doc_spark.synth import corpus_df

    W, H = 816, 1056
    page = _gradient(H, W, 3)
    df = corpus_df(spark, 1).filter("doc_id = 'single-000000'")
    pages = spark.createDataFrame(
        [("single-000000", 0, bytearray(encode_png(page)))],
        "doc_id string, page int, content binary",
    )
    save = str(tmp_path / "gsave")
    out = parse(spark, df, grounding_save_dir=save, page_rasters=pages)
    paths = [
        g["image_path"]
        for r in out.collect()
        for c in (r["chunks"] or [])
        for g in (c["grounding"] or [])
        if g["image_path"]
    ]
    assert paths
    from agentic_doc_spark.operators.multimodal import grounding_crop_specs

    specs = {f"{save}/{r['rel_path']}": r["px"] for r in grounding_crop_specs(out).collect()}
    for p in paths:
        assert os.path.isfile(p)
        with open(p, "rb") as f:
            got = decode_png(f.read())
        px = specs[p]
        want = page[px["y0"] : px["y1"], px["x0"] : px["x1"]]
        assert (got == want).all()  # cut from the caller's raster


def test_synth_page_renders_legible_glyphs(spark):
    # a born-digital chunk's TEXT must appear as exact 5×7 glyph
    # bitmaps inside its grounding block
    from agentic_doc_spark.functions.bitmapfont import CELL_W, glyph
    from agentic_doc_spark.operators.multimodal import _synth_page
    from agentic_doc_spark.schema import PARSED_DOCUMENT

    row = {
        "doc_id": "g1",
        "markdown": "HELLO WORLD",
        "chunks": [
            {
                "text": "HELLO WORLD",
                "grounding": [
                    {
                        "page": 0,
                        "box": {"l": 0.1, "t": 0.1, "r": 0.9, "b": 0.5},
                        "image_path": None,
                    }
                ],
                "chunk_type": "text",
                "chunk_id": "c0",
            }
        ],
        "spans": [],
        "start_page_idx": 0,
        "end_page_idx": 0,
        "doc_type": "pdf",
        "errors": [],
    }
    parsed = spark.createDataFrame([row], PARSED_DOCUMENT)
    [cs] = _spec_pages(parsed).values()
    px = cs[0]["px"]
    arr = _synth_page(cs, 816, 1056)
    x, y = px["x0"] + 4, px["y0"] + 4
    for i, ch in enumerate("HELLO"):
        region = arr[y : y + 7, x + i * CELL_W : x + i * CELL_W + 5]
        ink = (region == 30).all(axis=2)
        assert (ink == glyph(ch)).all(), f"glyph {ch!r} mismatch"

    # a grounding box too narrow for one glyph must not bleed ink past
    # its right edge into neighboring page area
    import numpy as np

    from agentic_doc_spark.functions.bitmapfont import render_wrapped

    canvas = np.full((40, 40, 3), 255, np.uint8)
    render_wrapped(canvas, 2, 2, 8, 38, "WWWW")  # 6 px wide < GLYPH_W+margin
    assert (canvas[:, 8:] == 255).all()
    canvas2 = np.full((40, 40, 3), 255, np.uint8)
    render_wrapped(canvas2, 2, 2, 14, 38, "WWWW")  # fits exactly one col
    assert (canvas2[:, 14:] == 255).all() and (canvas2 != 255).any()


def test_page_crops_decode_once_or_synthesize(monkeypatch):
    # one kernel row is one page: its raster decodes exactly once for
    # all of the page's crops, and a missing or undecodable raster
    # falls back to the synthesized page — never to a skipped crop
    from agentic_doc_spark.operators import multimodal as mm

    W, H = 60, 40
    cs = [
        {"chunk_id": f"c{i}", "chunk_type": "text", "text": t,
         "px": {"x0": x0, "y0": 4, "x1": x0 + 25, "y1": 30},
         "rel_path": f"page_0/text_c{i}_0.png"}
        for i, (x0, t) in enumerate([(2, "AB"), (31, "")])
    ]
    decodes = []
    real_decode = mm._decode_array
    monkeypatch.setattr(
        mm, "_decode_array", lambda b: decodes.append(b) or real_decode(b)
    )

    def cut(page):
        return {
            c["rel_path"]: page[c["px"]["y0"] : c["px"]["y1"],
                                c["px"]["x0"] : c["px"]["x1"]]
            for c in cs
        }

    page = _gradient(H, W, 3)
    got = mm._page_crops(cs, encode_png(page), W, H)
    assert len(decodes) == 1
    want = cut(page)
    assert [rel for rel, _ in got] == list(want)
    for rel, png in got:
        assert (decode_png(png) == want[rel]).all()

    synth = cut(mm._synth_page(cs, W, H))
    for content, n_decodes in ((None, 0), (b"\x89PNG\r\n\x1a\n" + bytes(40), 1)):
        decodes.clear()
        got = mm._page_crops(cs, content, W, H)
        assert len(decodes) == n_decodes
        assert [rel for rel, _ in got] == list(synth)
        for rel, png in got:
            assert (decode_png(png) == synth[rel]).all()


def test_decode_16bit_gray_and_rgb():
    # 16-bit samples (big-endian) reduce to their high byte (libpng
    # strip-16 convention); filters still operate at byte level with
    # fpp = ch*2
    w, h = 5, 3
    hi = _gradient(h, w, 1)[:, :, 0].astype(np.uint16)
    samples = (hi << 8) | 0x7F  # low byte must be discarded
    rows = bytearray()
    for y in range(h):
        rows.append(0)
        rows.extend(samples[y].astype(">u2").tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)
    out = decode_png(_raw_png(ihdr, [], bytes(rows)))
    assert out.shape == (h, w, 1)
    assert (out[:, :, 0] == hi.astype(np.uint8)).all()

    rgb_hi = _gradient(h, w, 3).astype(np.uint16)
    rows = bytearray()
    for y in range(h):
        rows.append(0)
        rows.extend(((rgb_hi[y] << 8) | 0x01).astype(">u2").tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0)
    out = decode_png(_raw_png(ihdr, [], bytes(rows)))
    assert out.shape == (h, w, 3)
    assert (out == rgb_hi.astype(np.uint8)).all()


def test_decode_rejects_unreasonable_dims_and_idat_bombs():
    # crafted IHDR with absurd dims must raise (not MemoryError); an
    # IDAT expanding past the declared geometry is rejected
    ihdr = struct.pack(">IIBBBBB", 2 ** 24, 2 ** 24, 8, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="dimensions"):
        decode_png(_raw_png(ihdr, [], b"\x00" * 10))
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="geometry"):
        decode_png(_raw_png(ihdr, [], b"\x00" * (1024 * 1024)))

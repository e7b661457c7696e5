"""Pure-stdlib TIFF codec (functions/tiff.py)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from agentic_doc_spark.functions.tiff import (
    decode_tiff,
    encode_tiff,
    is_tiff,
    tiff_pages,
)


def _img(seed=7, shape=(19, 27)):
    return np.random.RandomState(seed).randint(
        0, 256, (*shape, 3), dtype=np.uint8
    )


@pytest.mark.parametrize(
    "comp,pred", [(1, 1), (5, 1), (5, 2), (32773, 1)]
)
def test_tiff_roundtrip_compressions(comp, pred):
    img = _img()
    data = encode_tiff([img], compression=comp, predictor=pred)
    assert is_tiff(data)
    assert np.array_equal(decode_tiff(data), img)


def test_tiff_lzw_width_growth_and_reset():
    img = _img(seed=3, shape=(150, 220))
    assert np.array_equal(decode_tiff(encode_tiff([img], 5, 2)), img)


def test_tiff_lzw_predictor_compresses_gradients():
    grad = np.tile(
        np.arange(256, dtype=np.uint8)[None, :, None], (40, 1, 3)
    )
    plain = encode_tiff([grad], 1)
    packed = encode_tiff([grad], 5, 2)
    assert np.array_equal(decode_tiff(packed), grad)
    assert len(packed) < len(plain) / 10


def test_tiff_multipage_scanned_document_shape():
    pages = [_img(seed=s, shape=(9, 11)) for s in range(3)]
    dec = tiff_pages(encode_tiff(pages, 32773))
    assert len(dec) == 3
    for a, b in zip(dec, pages):
        assert np.array_equal(a, b)


def _minimal_tiff(tags, body):
    """Hand-build a little-endian single-strip TIFF from (tag, type,
    count, value) entries; value==None → patched to the strip offset."""
    out = bytearray(b"II*\x00\x00\x00\x00\x00")
    strip_off = len(out)
    out += body
    if len(out) % 2:
        out += b"\x00"
    ifd_off = len(out)
    struct.pack_into("<I", out, 4, ifd_off)
    entries = sorted(
        (t, ty, n, strip_off if v is None else v) for t, ty, n, v in tags
    )
    out += struct.pack("<H", len(entries))
    for t, ty, n, v in entries:
        out += struct.pack("<HHII", t, ty, n, v)
    out += b"\x00\x00\x00\x00"
    return bytes(out)


def test_tiff_bilevel_white_is_zero():
    # 1-bit, photometric 0: bit 0 → white, bit 1 → black
    idx = np.array([[0, 1, 0, 1, 1, 0, 0, 1], [1, 0, 1, 0, 0, 1, 1, 0]],
                   dtype=np.uint8)
    body = np.packbits(idx, axis=1).tobytes()
    data = _minimal_tiff(
        [
            (256, 4, 1, 8), (257, 4, 1, 2), (258, 3, 1, 1),
            (259, 3, 1, 1), (262, 3, 1, 0), (273, 4, 1, None),
            (277, 3, 1, 1), (278, 4, 1, 2), (279, 4, 1, len(body)),
        ],
        body,
    )
    exp = np.array(
        [[255, 255, 255], [0, 0, 0]], dtype=np.uint8
    )[idx]
    assert np.array_equal(decode_tiff(data), exp)


def test_tiff_gray8_white_is_zero_inverts():
    g = np.array([[0, 128, 255]], dtype=np.uint8)
    data = _minimal_tiff(
        [
            (256, 4, 1, 3), (257, 4, 1, 1), (258, 3, 1, 8),
            (259, 3, 1, 1), (262, 3, 1, 0), (273, 4, 1, None),
            (277, 3, 1, 1), (278, 4, 1, 1), (279, 4, 1, 3),
        ],
        g.tobytes(),
    )
    exp = np.repeat((255 - g)[:, :, None], 3, axis=2)
    assert np.array_equal(decode_tiff(data), exp)


def test_tiff_ccitt_surfaced():
    img = _img(seed=5, shape=(4, 4))
    data = bytearray(encode_tiff([img], 1))
    # patch Compression (tag 259) value to CCITT G4 (4)
    idf_off = struct.unpack_from("<I", data, 4)[0]
    count = struct.unpack_from("<H", data, idf_off)[0]
    for i in range(count):
        base = idf_off + 2 + 12 * i
        if struct.unpack_from("<H", data, base)[0] == 259:
            struct.pack_into("<I", data, base + 8, 4)
    with pytest.raises(ValueError, match="CCITT"):
        decode_tiff(bytes(data))


def test_tiff_fuzz_folds_to_valueerror():
    import random

    rng = random.Random(47)
    data = encode_tiff([_img(seed=21, shape=(12, 16))], 5, 2)
    for cut in range(4, len(data), max(1, len(data) // 40)):
        try:
            decode_tiff(data[:cut])
        except ValueError:
            pass
    for _ in range(300):
        b = bytearray(data)
        for _ in range(rng.randint(1, 6)):
            b[rng.randrange(4, len(b))] = rng.randrange(256)
        try:
            decode_tiff(bytes(b))
        except ValueError:
            pass


def test_decode_ladder_handles_tiff():
    from agentic_doc_spark.operators.multimodal import _decode_array

    img = _img(seed=11)
    assert np.array_equal(_decode_array(encode_tiff([img], 5, 2)), img)


def test_raster_documents_become_media_spans(spark, tmp_path):
    from agentic_doc_spark.functions.png import decode_png, encode_png
    from agentic_doc_spark.pipeline import extract
    from agentic_doc_spark.sources.layout import (
        image_media_table,
        layout_parse,
    )
    from agentic_doc_spark.sources.resolve import read_binary_dir

    pages = [_img(seed=s, shape=(10, 12)) for s in range(3)]
    (tmp_path / "scan.tiff").write_bytes(encode_tiff(pages, 5, 2))
    (tmp_path / "photo.png").write_bytes(encode_png(_img(seed=9)))
    (tmp_path / "note.txt").write_text("Plain paragraph.\n\nSecond one.")

    raw = read_binary_dir(spark, str(tmp_path))
    parsed = {r["doc_id"]: r for r in extract(layout_parse(raw)).collect()}
    by_name = {k.rsplit("/", 1)[-1]: v for k, v in parsed.items()}

    scan = by_name["scan.tiff"]
    assert [s["kind"] for s in scan["spans"]] == ["media"] * 3
    assert [s["media_ref"] for s in scan["spans"]] == [
        f"imgdoc://{scan['doc_id']}/p{i}" for i in range(3)
    ]
    assert scan["errors"] == []
    # one parsed page per scan page (offsets spaced by spans_per_page)
    assert scan["end_page_idx"] == 2

    photo = by_name["photo.png"]
    assert [s["kind"] for s in photo["spans"]] == ["media"]

    note = by_name["note.txt"]
    assert [s["kind"] for s in note["spans"]] == ["text", "text"]

    # the sidecar serves decodable bytes for every imgdoc:// ref
    media = {r["media_ref"]: r for r in image_media_table(raw).collect()}
    for i in range(3):
        row = media[f"imgdoc://{scan['doc_id']}/p{i}"]
        assert row["page"] == i
        assert np.array_equal(decode_png(bytes(row["content"])), pages[i])
    assert f"imgdoc://{photo['doc_id']}/p0" in media


def test_webp_routes_as_raster_document(spark, tmp_path):
    from agentic_doc_spark.pipeline import extract
    from agentic_doc_spark.sources.layout import layout_parse
    from agentic_doc_spark.sources.resolve import read_binary_dir

    # minimal RIFF/WEBP shell: routing is magic-based, payload decode
    # stays a surfaced boundary
    (tmp_path / "pic.webp").write_bytes(
        b"RIFF" + (20).to_bytes(4, "little") + b"WEBPVP8 " + b"\x00" * 12
    )
    raw = read_binary_dir(spark, str(tmp_path))
    row = extract(layout_parse(raw)).collect()[0]
    assert [s["kind"] for s in row["spans"]] == ["media"]
    assert row["spans"][0]["media_ref"].startswith("imgdoc://")


def test_parse_scanned_tiff_grounding_crops_from_real_pages(
    spark, tmp_path
):
    # parse(grounding_save_dir=) over a raster DOCUMENT: crops must come
    # from the REAL page image (solid-color pages → solid-color crops),
    # not the synthesized layout canvas
    import os

    from agentic_doc_spark.api import parse
    from agentic_doc_spark.functions.png import decode_png

    pages = [
        np.full((40, 30, 3), (40 * (i + 1), 10, 200 - 30 * i), np.uint8)
        for i in range(2)
    ]
    src = tmp_path / "docs"
    src.mkdir()
    (src / "scan.tiff").write_bytes(encode_tiff(pages, 5, 2))
    save = str(tmp_path / "gsave")
    out = parse(spark, str(src), grounding_save_dir=save)
    rows = out.collect()
    assert len(rows) == 1
    paths = [
        (c["grounding"][0]["page"], g["image_path"])
        for c in (rows[0]["chunks"] or [])
        for g in (c["grounding"] or [])
        if g["image_path"] is not None
    ]
    assert {p for p, _ in paths} == {0, 1}
    for page, path in paths:
        assert os.path.isfile(path), path
        with open(path, "rb") as f:
            crop = decode_png(f.read())
        # every pixel of the crop carries the page's solid color
        uniq = np.unique(crop.reshape(-1, 3), axis=0)
        assert uniq.shape[0] == 1
        assert tuple(uniq[0]) == tuple(pages[page][0, 0])


def test_text_starting_with_bm_keeps_text_path(spark, tmp_path):
    from agentic_doc_spark.pipeline import extract
    from agentic_doc_spark.sources.layout import layout_parse
    from agentic_doc_spark.sources.resolve import read_binary_dir

    body = "BMW sales rose sharply this quarter.\n\n" + "x " * 40
    (tmp_path / "report.txt").write_text(body)
    raw = read_binary_dir(spark, str(tmp_path))
    row = extract(layout_parse(raw)).collect()[0]
    kinds = [s["kind"] for s in row["spans"]]
    assert "media" not in kinds
    assert "BMW sales rose" in row["spans"][0]["text"]


def test_tiff_bad_page_keeps_good_pages_in_sidecar(spark, tmp_path):
    import struct as st

    from agentic_doc_spark.functions.png import decode_png
    from agentic_doc_spark.functions.tiff import iter_tiff_pages
    from agentic_doc_spark.operators.multimodal import _decode_array
    from agentic_doc_spark.sources.layout import image_media_table
    from agentic_doc_spark.sources.resolve import read_binary_dir

    pages = [_img(seed=s, shape=(8, 9)) for s in range(3)]
    data = bytearray(encode_tiff(pages, 1))
    # corrupt the SECOND page's compression tag to CCITT G4
    ifd_off = st.unpack_from("<I", data, 4)[0]
    count = st.unpack_from("<H", data, ifd_off)[0]
    ifd2 = st.unpack_from("<I", data, ifd_off + 2 + 12 * count)[0]
    count2 = st.unpack_from("<H", data, ifd2)[0]
    for i in range(count2):
        base = ifd2 + 2 + 12 * i
        if st.unpack_from("<H", data, base)[0] == 259:
            st.pack_into("<I", data, base + 8, 4)
    decoded = dict(iter_tiff_pages(bytes(data)))
    assert decoded[1] is None and decoded[0] is not None and decoded[2] is not None

    (tmp_path / "scan.tiff").write_bytes(bytes(data))
    raw = read_binary_dir(spark, str(tmp_path))
    rows = {r["page"]: r for r in image_media_table(raw).collect()}
    assert sorted(rows) == [0, 1, 2]
    assert bytes(rows[1]["content"]) == b""
    assert _decode_array(bytes(rows[1]["content"])) is None
    for p in (0, 2):
        assert _decode_array(bytes(rows[p]["content"])) is not None
        assert np.array_equal(
            decode_png(bytes(rows[p]["content"])), pages[p]
        )


def test_layout_parse_honors_custom_spans_per_page(spark, tmp_path):
    from agentic_doc_spark.config import Settings
    from agentic_doc_spark.pipeline import extract
    from agentic_doc_spark.sources.layout import layout_parse
    from agentic_doc_spark.sources.resolve import read_binary_dir

    pages = [_img(seed=s, shape=(6, 7)) for s in range(3)]
    (tmp_path / "scan.tiff").write_bytes(encode_tiff(pages, 1))
    raw = read_binary_dir(spark, str(tmp_path))
    st = Settings(spans_per_page=8)
    row = extract(layout_parse(raw, st), st).collect()[0]
    assert row["end_page_idx"] == 2


# -- CCITT Group 4 / MH fax (round-4 VERDICT task 5) -----------------------


def _fax_page(seed: int = 0, shape: tuple[int, int] = (40, 90)) -> np.ndarray:
    rng = np.random.default_rng(seed)
    img = np.zeros(shape, np.uint8)
    for _ in range(5):
        y0 = int(rng.integers(0, shape[0]))
        x0 = int(rng.integers(0, shape[1]))
        img[y0 : y0 + int(rng.integers(1, 12)),
            x0 : x0 + int(rng.integers(1, 30))] = 1
    img ^= (rng.random(shape) < 0.05).astype(np.uint8)
    return img


def test_g4_fixture_matches_uncompressed_twin():
    # the round-4 VERDICT "done" criterion: a G4-compressed fixture
    # decodes to the same pixels as its uncompressed twin
    from agentic_doc_spark.functions.tiff import encode_tiff_bilevel

    img = _fax_page(1)
    plain = decode_tiff(encode_tiff_bilevel([img], compression=1))
    g4 = decode_tiff(encode_tiff_bilevel([img], compression=4))
    assert np.array_equal(plain, g4)
    # black ink where the page has ink (WhiteIsZero photometric)
    assert (g4[img.astype(bool)] == 0).all()
    assert (g4[~img.astype(bool)] == 255).all()
    # multi-strip G4: every strip is an independently coded block
    g4s = decode_tiff(
        encode_tiff_bilevel([img], compression=4, rows_per_strip=7)
    )
    assert np.array_equal(plain, g4s)
    # multi-page
    pages = tiff_pages(encode_tiff_bilevel([img, 1 - img], compression=4))
    assert len(pages) == 2 and np.array_equal(pages[0], plain)


def test_g4_roundtrip_random_pages():
    from agentic_doc_spark.functions.ccitt import g4_decode, g4_encode

    for seed in range(8):
        img = _fax_page(seed, shape=(25, 64 + seed * 13))
        dec = g4_decode(g4_encode(img), img.shape[1], img.shape[0])
        assert np.array_equal(dec, img), seed
    # degenerate pages: all white, all black, 1×1
    for img in (
        np.zeros((5, 2000), np.uint8),
        np.ones((4, 1729), np.uint8),
        np.ones((1, 1), np.uint8),
    ):
        dec = g4_decode(g4_encode(img), img.shape[1], img.shape[0])
        assert np.array_equal(dec, img)


def test_mh_compression2_decodes():
    from agentic_doc_spark.functions.ccitt import g3_1d_decode

    # hand-code one 12-px row: white 4 (1011), black 2 (11), white 6
    # (1110) → bits 1011 11 1110 padded to a byte boundary per row
    row_bits = "1011" + "11" + "1110"
    row_bits += "0" * (-len(row_bits) % 8)
    data = bytes(
        int(row_bits[i : i + 8], 2) for i in range(0, len(row_bits), 8)
    )
    out = g3_1d_decode(data * 3, 12, 3)
    want = np.array([[0, 0, 0, 0, 1, 1, 0, 0, 0, 0, 0, 0]] * 3, np.uint8)
    assert np.array_equal(out, want)


def test_ccitt_tables_structurally_sound():
    # the published T.4 tables must be prefix-free within each decode
    # context and complete (64 terminating + 27 make-up per colour + 13
    # shared extended make-ups) — catches transcription typos
    from agentic_doc_spark.functions.ccitt import (
        _BLACK_MAKEUP,
        _BLACK_TERM,
        _EXT_MAKEUP,
        _WHITE_MAKEUP,
        _WHITE_TERM,
    )

    def assert_prefix_free(codes):
        codes = sorted(codes, key=len)
        for i, a in enumerate(codes):
            for b in codes[i + 1 :]:
                assert not b.startswith(a), (a, b)

    assert len(_WHITE_TERM) == 64 and len(_BLACK_TERM) == 64
    assert len(_WHITE_MAKEUP) == 27 and len(_BLACK_MAKEUP) == 27
    assert len(_EXT_MAKEUP) == 13
    assert sorted(_WHITE_TERM) == list(range(64))
    assert sorted(_WHITE_MAKEUP) == [64 * i for i in range(1, 28)]
    assert sorted(_EXT_MAKEUP) == [1792 + 64 * i for i in range(13)]
    white = list(_WHITE_TERM.values()) + list(_WHITE_MAKEUP.values()) + list(
        _EXT_MAKEUP.values()
    )
    black = list(_BLACK_TERM.values()) + list(_BLACK_MAKEUP.values()) + list(
        _EXT_MAKEUP.values()
    )
    assert len(set(white)) == len(white) and len(set(black)) == len(black)
    assert_prefix_free(white)
    assert_prefix_free(black)
    assert all(len(c) <= 13 for c in white + black)


def test_g4_fuzz_valueerror_only():
    # corrupt G4 strips must raise ValueError (surfaced), never hang or
    # crash with an internal error
    from agentic_doc_spark.functions.ccitt import g4_decode, g4_encode

    rng = np.random.default_rng(11)
    img = _fax_page(3)
    enc = bytearray(g4_encode(img))
    for trial in range(40):
        bad = bytearray(enc)
        for _ in range(int(rng.integers(1, 6))):
            bad[int(rng.integers(0, len(bad)))] = int(rng.integers(0, 256))
        try:
            out = g4_decode(bytes(bad), img.shape[1], img.shape[0])
            assert out.shape == img.shape  # decoded to SOME bilevel page
        except ValueError:
            pass


def test_g3_fixture_matches_uncompressed_twin():
    # Compression=3 (T.4 EOL-framed, mixed 1-D/2-D rows) decodes to the
    # same pixels as its uncompressed twin, incl. multi-strip
    from agentic_doc_spark.functions.tiff import encode_tiff_bilevel

    img = _fax_page(7)
    plain = decode_tiff(encode_tiff_bilevel([img], compression=1))
    g3 = decode_tiff(encode_tiff_bilevel([img], compression=3))
    assert np.array_equal(plain, g3)
    g3s = decode_tiff(
        encode_tiff_bilevel([img], compression=3, rows_per_strip=9)
    )
    assert np.array_equal(plain, g3s)


def test_g4_fax_tiff_ingests_end_to_end(spark, tmp_path):
    # the fax shape: a multi-page G4-compressed bilevel TIFF through
    # parse() becomes per-page media spans with decodable PNG bytes
    from agentic_doc_spark.functions.png import decode_png
    from agentic_doc_spark.functions.tiff import encode_tiff_bilevel
    from agentic_doc_spark.pipeline import extract
    from agentic_doc_spark.sources.layout import (
        image_media_table,
        layout_parse,
    )
    from agentic_doc_spark.sources.resolve import read_binary_dir

    pages = [_fax_page(seed=s, shape=(22, 40)) for s in range(2)]
    (tmp_path / "fax.tiff").write_bytes(
        encode_tiff_bilevel(pages, compression=4)
    )
    raw = read_binary_dir(spark, str(tmp_path))
    row = extract(layout_parse(raw)).collect()[0]
    assert [s["kind"] for s in row["spans"]] == ["media"] * 2
    assert row["errors"] == [] and row["end_page_idx"] == 1

    media = {r["page"]: r for r in image_media_table(raw).collect()}
    for i in range(2):
        arr = decode_png(bytes(media[i]["content"]))
        # WhiteIsZero photometric: ink = black pixels
        assert (arr[pages[i].astype(bool)] == 0).all()
        assert (arr[~pages[i].astype(bool)] == 255).all()

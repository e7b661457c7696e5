"""Pure-stdlib PDF text extraction: handcrafted minimal PDFs (plain and
FlateDecode content streams), escapes, TJ arrays, page ordering, and the
stub boundary for textless PDFs."""

from __future__ import annotations

import zlib

import pytest

from agentic_doc_spark.sources.pdf_text import extract_pdf_blocks
from agentic_doc_spark.sources.layout import split_blocks


def _pdf(*content_streams: bytes, compress: bool = False) -> bytes:
    """A minimal (not strictly valid, but generator-shaped) PDF body."""
    out = [b"%PDF-1.4\n"]
    for i, cs in enumerate(content_streams):
        body = zlib.compress(cs) if compress else cs
        filt = b"/Filter /FlateDecode " if compress else b""
        out.append(
            b"%d 0 obj\n<< %s/Length %d >>\nstream\n" % (i + 1, filt, len(body))
            + body
            + b"\nendstream\nendobj\n"
        )
    out.append(b"%%EOF\n")
    return b"".join(out)


PAGE1 = b"BT /F1 12 Tf 72 720 Td (Hello world) Tj ET\nBT (Second block) Tj ET"
PAGE2 = b"BT [(Kerned ) -250 (text)] TJ ET"
ESCAPED = rb"BT (Parens \(nested\) and \\ backslash \101) Tj ET"
HEXSTR = b"BT <48 69> Tj ET"


def test_plain_streams_two_pages():
    blocks = extract_pdf_blocks(_pdf(PAGE1, PAGE2))
    assert blocks == [
        (0, "Hello world"),
        (0, "Second block"),
        (1, "Kerned text"),
    ]


def test_flate_streams():
    blocks = extract_pdf_blocks(_pdf(PAGE1, PAGE2, compress=True))
    assert [t for _, t in blocks] == ["Hello world", "Second block", "Kerned text"]


def test_escapes_and_hex():
    blocks = extract_pdf_blocks(_pdf(ESCAPED, HEXSTR))
    assert blocks[0][1] == "Parens (nested) and \\ backslash A"
    assert blocks[1][1] == "Hi"


_CMAP = b"""/CIDInit /ProcSet findresource begin
12 dict begin
begincmap
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
2 beginbfchar
<0003> <0048>
<0004> <0065006C>
endbfchar
2 beginbfrange
<0010> <0012> <006C>
<0020> <0021> [<0021> <003F>]
endbfrange
endcmap
CMap defined
"""


def test_type0_hex_through_tounicode_cmap():
    # the Word/LibreOffice layout: Type0 font, 2-byte hex show strings,
    # ToUnicode CMap mapping CIDs to text. bfchar (incl. multi-unit dst),
    # bfrange increment form, and bfrange array form all resolve.
    # 0003→H, 0004→el, 0010..0012→l,m,n, 0020→!, 0021→?
    content = b"BT <0003 0004 0010 0020> Tj ET"
    blocks = extract_pdf_blocks(_pdf(_CMAP, content, compress=True))
    assert blocks == [(0, "Hell!")]


def test_type0_array_tj_and_simple_hex_coexist():
    # a TJ array of 2-byte hex runs decodes through the cmap; a classic
    # 1-byte hex string in the same doc keeps its latin-1 reading
    # (coverage heuristic: its byte pairs are not cmap codes)
    content = b"BT [<00030004> -120 <00100011>] TJ ET\nBT <48 69> Tj ET"
    blocks = extract_pdf_blocks(_pdf(_CMAP, content))
    assert [t for _, t in blocks] == ["Hellm", "Hi"]


def test_unmapped_type0_still_skipped():
    # hex codes outside every cmap (and failing the latin-1 plausibility
    # guard) must not produce garbage blocks
    content = b"BT <DEAD BEEF 0bad F00d> Tj ET"
    blocks = extract_pdf_blocks(_pdf(_CMAP, content))
    assert blocks == []


def _cmap_stream(pairs: dict[int, str]) -> bytes:
    entries = "".join(
        f"<{c:04X}> <{''.join(f'{ord(u):04X}' for u in txt)}>\n"
        for c, txt in sorted(pairs.items())
    )
    return (
        b"/CIDInit /ProcSet findresource begin\nbegincmap\n"
        + b"%d beginbfchar\n" % len(pairs)
        + entries.encode()
        + b"endbfchar\nendcmap\n"
    )


def _graph_pdf(content: bytes, fonts: dict[bytes, dict[int, str]]) -> bytes:
    """A PDF with a real (page → contents → resources → font → ToUnicode)
    object graph: font objects at 10, 12, ...; their CMap streams one
    number above."""
    out = [b"%PDF-1.4\n"]
    font_entries = []
    num = 10
    for name, cmap in sorted(fonts.items()):
        font_entries.append(b"/%s %d 0 R " % (name, num))
        out.append(
            b"%d 0 obj\n<< /Type /Font /Subtype /Type0 /ToUnicode %d 0 R >>\nendobj\n"
            % (num, num + 1)
        )
        payload = _cmap_stream(cmap)
        out.append(
            b"%d 0 obj\n<< /Length %d >>\nstream\n" % (num + 1, len(payload))
            + payload
            + b"\nendstream\nendobj\n"
        )
        num += 2
    out.append(
        b"1 0 obj\n<< /Type /Page /Contents 2 0 R /Resources << /Font << "
        + b"".join(font_entries)
        + b">> >> >>\nendobj\n"
    )
    out.append(
        b"2 0 obj\n<< /Length %d >>\nstream\n" % len(content)
        + content
        + b"\nendstream\nendobj\n%%EOF\n"
    )
    return b"".join(out)


def test_two_cid_fonts_same_code_scoped_decoding():
    # two Type0 fonts assign the SAME codes different meanings; per-font
    # scoping through Tf operators must decode each show string with its
    # own font's CMap (the union heuristic would decode one of them with
    # the other font's mapping)
    content = (
        b"BT /F1 10 Tf <0003 0004 0005> Tj ET\n"
        b"BT /F2 10 Tf <0003 0004 0005> Tj ET"
    )
    pdf = _graph_pdf(
        content,
        {
            b"F1": {3: "c", 4: "a", 5: "t"},
            b"F2": {3: "d", 4: "o", 5: "g"},
        },
    )
    assert [t for _, t in extract_pdf_blocks(pdf)] == ["cat", "dog"]


def test_scoped_simple_font_hex_stays_latin1():
    # in a scoped stream, a hex string shown with a font that has NO
    # ToUnicode map (simple font) must keep its latin-1 reading even when
    # a CID font's CMap could cover its byte pairs
    content = (
        b"BT /F1 10 Tf <0003 0004> Tj ET\n"
        b"BT /FS 10 Tf <48 69> Tj ET"  # 'Hi', FS not a Type0 font
    )
    pdf = _graph_pdf(content, {b"F1": {3: "o", 4: "k", 0x4869: "ZZ"}})
    assert [t for _, t in extract_pdf_blocks(pdf)] == ["ok", "Hi"]


def test_textless_pdf_hits_stub_boundary():
    with pytest.raises(NotImplementedError, match="text layer"):
        split_blocks(b"%PDF-1.4\njust bytes, no streams", "pdf")


def test_pdf_route_through_layout(spark, tmp_path):
    from agentic_doc_spark.pipeline import extract
    from agentic_doc_spark.sources.layout import layout_parse
    from agentic_doc_spark.sources.resolve import read_binary_dir

    (tmp_path / "doc.pdf").write_bytes(_pdf(PAGE1, PAGE2, compress=True))
    raw = read_binary_dir(spark, str(tmp_path))
    assert raw.collect()[0]["doc_type"] == "pdf"  # magic sniff
    parsed = extract(layout_parse(raw)).collect()[0]
    assert [s["text"] for s in parsed["spans"]] == [
        "Hello world",
        "Second block",
        "Kerned text",
    ]
    assert parsed["markdown"].startswith("Hello world")


def _obj(num: int, body: bytes) -> bytes:
    return b"%d 0 obj\n" % num + body + b"\nendobj\n"


def _stream_obj(num: int, header: bytes, payload: bytes) -> bytes:
    return (
        b"%d 0 obj\n<< %s /Length %d >>\nstream\n" % (num, header, len(payload))
        + payload
        + b"\nendstream\nendobj\n"
    )


def _scanned_pdf(page_images: list[bytes], texts: list[bytes] | None = None) -> bytes:
    """One page per image: /Type /Page with an /XObject /Image resource
    (DCTDecode = the embedded JPEG), optionally with a text content
    stream too (mixed text+scan page)."""
    out = [b"%PDF-1.4\n"]
    num = 10
    for i, img in enumerate(page_images):
        img_num, content_num = num, num + 1
        page = (
            b"<< /Type /Page /Resources << /XObject << /Im0 %d 0 R >> >>"
            % img_num
        )
        if texts and texts[i]:
            out.append(_stream_obj(content_num, b"", texts[i]))
            page = (
                b"<< /Type /Page /Contents %d 0 R /Resources "
                b"<< /XObject << /Im0 %d 0 R >> >> >>"
                % (content_num, img_num)
            )
        else:
            page += b" >>"
        out.append(
            _stream_obj(
                img_num,
                b"/Subtype /Image /Filter /DCTDecode /Width 1 /Height 1",
                img,
            )
        )
        out.append(_obj(num + 2, page))
        num += 3
    out.append(b"%%EOF\n")
    return b"".join(out)


def test_scanned_pdf_yields_media_spans(spark, tmp_path):
    # the scanned-PDF path: pages that are one embedded JPEG and no text
    # layer must parse to MEDIA spans (not error rows, not a skip), with
    # the bytes served by pdf_media_table under the same pdfimg:// ref
    import numpy as np

    from agentic_doc_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_progressive_jpeg,
    )
    from agentic_doc_spark.pipeline import extract
    from agentic_doc_spark.sources.layout import layout_parse, pdf_media_table
    from agentic_doc_spark.sources.resolve import read_binary_dir

    arr = ((np.arange(24 * 32 * 3) * 7) % 256).astype(np.uint8).reshape(24, 32, 3)
    jpegs = [encode_jpeg(arr, quality=90), encode_progressive_jpeg(arr, quality=90)]
    (tmp_path / "scan.pdf").write_bytes(_scanned_pdf(jpegs))
    raw = read_binary_dir(spark, str(tmp_path))
    parsed = extract(layout_parse(raw)).collect()[0]
    spans = parsed["spans"]
    assert [s["kind"] for s in spans] == ["media", "media"]
    refs = [s["media_ref"] for s in spans]
    assert all(r and r.startswith("pdfimg://") for r in refs)
    assert parsed["errors"] == []
    media = {r["media_ref"]: r for r in pdf_media_table(raw).collect()}
    assert sorted(media) == sorted(refs)
    for i, ref in enumerate(sorted(media)):
        row = media[ref]
        assert row["page"] in (0, 1)
        decoded = decode_jpeg(bytes(row["content"]))
        assert decoded.shape == (24, 32, 3)


def test_mixed_text_and_scan_pdf_interleaves(spark, tmp_path):
    import numpy as np

    from agentic_doc_spark.functions.jpeg import encode_jpeg
    from agentic_doc_spark.sources.layout import layout_parse
    from agentic_doc_spark.sources.resolve import read_binary_dir

    arr = np.full((8, 8, 3), 200, dtype=np.uint8)
    pdf = _scanned_pdf(
        [encode_jpeg(arr)], texts=[b"BT (Caption text) Tj ET"]
    )
    (tmp_path / "mixed.pdf").write_bytes(pdf)
    raw = read_binary_dir(spark, str(tmp_path))
    row = layout_parse(raw).collect()[0]
    spans = row["spans"]
    # text block first, media span after it (same page)
    assert [s["text"] for s in spans] == ["Caption text", ""]
    assert spans[0]["media_ref"] is None
    assert spans[1]["media_ref"] == f"pdfimg://{row['doc_id']}/0"


def test_objstm_embedded_page_and_font_dicts():
    # PDF 1.5+ layout: the page and font DICTIONARIES live inside a
    # compressed /ObjStm; only the content and ToUnicode streams are
    # top-level objects. The graph walk must still resolve per-font
    # scoping through the expanded object map.
    cmap = _cmap_stream({3: "y", 4: "e", 5: "s"})
    content = b"BT /F1 10 Tf <0003 0004 0005> Tj ET"
    # embedded objects: 1 = page dict, 3 = font dict
    emb1 = b"<< /Type /Page /Contents 2 0 R /Resources << /Font << /F1 3 0 R >> >> >>"
    emb3 = b"<< /Type /Font /Subtype /Type0 /ToUnicode 4 0 R >>"
    body = emb1 + b" " + emb3
    head = b"1 0 3 %d " % (len(emb1) + 1)
    stm = head + body
    first = len(head)
    objstm_payload = zlib.compress(stm)
    pdf = (
        b"%PDF-1.5\n"
        + _stream_obj(2, b"", content)
        + _stream_obj(4, b"", cmap)
        + (
            b"5 0 obj\n<< /Type /ObjStm /N 2 /First %d /Filter /FlateDecode"
            b" /Length %d >>\nstream\n" % (first, len(objstm_payload))
            + objstm_payload
            + b"\nendstream\nendobj\n"
        )
        + b"%%EOF\n"
    )
    assert [t for _, t in extract_pdf_blocks(pdf)] == ["yes"]


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """TIFF-variant LZW encoder (fixture twin of tiff.lzw_decode)."""
    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    acc = nbits = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    emit(256)  # clear
    w = b""
    for b in data:
        wb = w + bytes([b])
        if wb in table:
            w = wb
            continue
        emit(table[w])
        table[wb] = next_code
        next_code += 1
        # the encoder's table add leads the decoder's by one code, so
        # its width bump uses (next_code - 1): both sides then switch at
        # the same position in the code stream
        if next_code - 1 + early >= (1 << width) and width < 12:
            width += 1
        w = bytes([b])
    if w:
        emit(table[w])
    emit(257)  # EOD
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def test_lzw_decode_roundtrip_and_stream():
    import random

    from agentic_doc_spark.functions.tiff import lzw_decode

    rng = random.Random(5)
    cases = [
        b"ABABABABABAB",
        b"x" * 5000,
        bytes(rng.randrange(256) for _ in range(3000)),
        b"",
    ]
    for data in cases:
        for early in (0, 1):
            assert lzw_decode(_lzw_encode(data, early), 1 << 20, early) == data
    # hand-derived prefix: clear(256), 'A'(65), 'B'(66), then "AB"
    # matches the first table entry 258
    enc = _lzw_encode(b"ABABAB")
    bits = "".join(f"{byte:08b}" for byte in enc)
    codes = [int(bits[i : i + 9], 2) for i in range(0, 5 * 9, 9)]
    assert codes[:4] == [256, 65, 66, 258]
    # a clear resets the table: code 258 right after it is corrupt (it
    # must not replay the entry from before the clear)
    stale = "".join(f"{c:09b}" for c in (256, 65, 66, 256, 258, 257))
    stale += "0" * (-len(stale) % 8)
    with pytest.raises(ValueError):
        lzw_decode(int(stale, 2).to_bytes(len(stale) // 8, "big"), 1 << 20)
    # and an LZW-compressed content stream decodes through the full path
    content = b"BT (lzw words here) Tj ET"
    enc_stream = _lzw_encode(content)
    pdf = (
        b"%PDF-1.2\n"
        + b"1 0 obj\n<< /Filter /LZWDecode /Length %d >>\nstream\n"
        % len(enc_stream)
        + enc_stream
        + b"\nendstream\nendobj\n%%EOF\n"
    )
    assert extract_pdf_blocks(pdf) == [(0, "lzw words here")]


def test_bilevel_and_lzw_embedded_images():
    # 1-bit DeviceGray Flate image (classic bilevel scan) and an
    # LZW-compressed 8-bit grayscale image both extract and decode
    import numpy as np

    from agentic_doc_spark.functions.png import decode_png
    from agentic_doc_spark.sources.pdf_text import extract_pdf_images

    bits = np.zeros((4, 10), dtype=np.uint8)
    bits[0, 0] = bits[1, 4] = bits[3, 9] = 1
    packed = np.packbits(bits, axis=1).tobytes()
    bilevel = zlib.compress(packed)
    gray = ((np.arange(6 * 7) * 13) % 256).astype(np.uint8).reshape(6, 7)
    lzw_gray = _lzw_encode(gray.tobytes())

    pdf = (
        b"%PDF-1.4\n"
        + _stream_obj(
            10,
            b"/Subtype /Image /Filter /FlateDecode /Width 10 /Height 4 "
            b"/BitsPerComponent 1 /ColorSpace /DeviceGray",
            bilevel,
        )
        + _obj(
            11,
            b"<< /Type /Page /Resources << /XObject << /Im0 10 0 R >> >> >>",
        )
        + _stream_obj(
            12,
            b"/Subtype /Image /Filter /LZWDecode /Width 7 /Height 6 "
            b"/BitsPerComponent 8 /ColorSpace /DeviceGray",
            lzw_gray,
        )
        + _obj(
            13,
            b"<< /Type /Page /Resources << /XObject << /Im0 12 0 R >> >> >>",
        )
        + b"%%EOF\n"
    )
    images = extract_pdf_images(pdf)
    assert [p for p, _ in images] == [0, 1]
    out0 = decode_png(images[0][1])
    assert out0.shape[:2] == (4, 10)
    assert (out0[:, :, 0] == bits * 255).all()
    out1 = decode_png(images[1][1])
    assert (out1[:, :, 0] == gray).all()


def test_png_predicted_flate_image():
    # Flate image with /Predictor 12 (PNG Up): rows carry PNG filter
    # tags; the extractor must defilter before re-encoding
    import numpy as np

    from agentic_doc_spark.functions.png import decode_png
    from agentic_doc_spark.sources.pdf_text import extract_pdf_images

    gray = ((np.arange(5 * 8) * 7) % 256).astype(np.uint8).reshape(5, 8)
    # apply the Up filter (type 2) ourselves: filt = row - prev_row
    rows = bytearray()
    prev = np.zeros(8, dtype=np.int32)
    for y in range(5):
        rows.append(2)
        rows.extend(((gray[y].astype(np.int32) - prev) & 0xFF).astype(np.uint8).tobytes())
        prev = gray[y].astype(np.int32)
    payload = zlib.compress(bytes(rows))
    pdf = (
        b"%PDF-1.4\n"
        + _stream_obj(
            10,
            b"/Subtype /Image /Filter /FlateDecode /Width 8 /Height 5 "
            b"/BitsPerComponent 8 /ColorSpace /DeviceGray "
            b"/DecodeParms << /Predictor 12 /Columns 8 >>",
            payload,
        )
        + _obj(
            11,
            b"<< /Type /Page /Resources << /XObject << /Im0 10 0 R >> >> >>",
        )
        + b"%%EOF\n"
    )
    images = extract_pdf_images(pdf)
    assert len(images) == 1
    out = decode_png(images[0][1])
    assert (out[:, :, 0] == gray).all()


def test_zip_bomb_stream_bounded():
    # a crafted high-ratio Flate stream must hit the decompression
    # ceiling and be treated as unreadable — not expand to gigabytes
    # inside an executor
    bomb = zlib.compress(b"\x00" * (300 * 1024 * 1024), 9)
    pdf = (
        b"%PDF-1.4\n"
        + b"1 0 obj\n<< /Filter /FlateDecode /Length "
        + str(len(bomb)).encode()
        + b" >>\nstream\n"
        + bomb
        + b"\nendstream\nendobj\n"
    )
    assert extract_pdf_blocks(pdf) == []


def test_mixed_scanned_then_text_page_order():
    # page 0 is image-only (scanned), page 1 is text-only: the text and
    # image extractors must agree on page numbering via /Type /Page
    # object order, so the image sorts BEFORE the page-1 text
    import numpy as np

    from agentic_doc_spark.functions.jpeg import encode_jpeg
    from agentic_doc_spark.sources.pdf_text import (
        extract_pdf_blocks,
        extract_pdf_images,
    )

    jpg = encode_jpeg(np.full((8, 8, 3), 77, dtype=np.uint8))
    pdf = (
        b"%PDF-1.4\n"
        + _stream_obj(
            10, b"/Subtype /Image /Filter /DCTDecode /Width 8 /Height 8", jpg
        )
        + _obj(
            11,
            b"<< /Type /Page /Resources << /XObject << /Im0 10 0 R >> >> >>",
        )
        + _stream_obj(12, b"", b"BT (page two text here) Tj ET")
        + _obj(13, b"<< /Type /Page /Contents 12 0 R >>")
        + b"%%EOF\n"
    )
    assert extract_pdf_blocks(pdf) == [(1, "page two text here")]
    assert [p for p, _ in extract_pdf_images(pdf)] == [0]
    # and through the span builder: media (page 0) BEFORE text (page 1)
    from agentic_doc_spark.sources.layout import _pdf_spans

    spans = _pdf_spans(pdf, "d")
    assert spans == [
        ("raw", "", "pdfimg://d/0"),
        ("raw", "page two text here", None),
    ]


def test_extract_pdf_images_probe_matches_transcode():
    import numpy as np

    from agentic_doc_spark.functions.jpeg import encode_jpeg
    from agentic_doc_spark.sources.pdf_text import extract_pdf_images

    jpg = encode_jpeg(np.full((8, 8, 3), 50, dtype=np.uint8))
    pdf = _scanned_pdf([jpg, jpg])
    full = extract_pdf_images(pdf)
    probe = extract_pdf_images(pdf, transcode=False)
    assert [p for p, _ in full] == [p for p, _ in probe]
    assert len(full) == len(probe) == 2


def test_ccitt_g4_embedded_image():
    # /CCITTFaxDecode with K < 0 (Group 4) decodes for real; BlackIs1
    # default false → sample 0 = black ink (round-4 VERDICT task 5)
    import numpy as np

    from agentic_doc_spark.functions.ccitt import g4_encode
    from agentic_doc_spark.functions.png import decode_png
    from agentic_doc_spark.sources.pdf_text import extract_pdf_images

    bits = np.zeros((6, 14), dtype=np.uint8)
    bits[0, 0] = bits[2, 5] = bits[5, 13] = 1
    bits[3, 2:11] = 1
    payload = g4_encode(bits)
    pdf = (
        b"%PDF-1.4\n"
        + _stream_obj(
            10,
            b"/Subtype /Image /Filter /CCITTFaxDecode "
            b"/DecodeParms << /K -1 /Columns 14 /Rows 6 >> "
            b"/Width 14 /Height 6 /BitsPerComponent 1 "
            b"/ColorSpace /DeviceGray",
            payload,
        )
        + _obj(
            11,
            b"<< /Type /Page /Resources << /XObject << /Im0 10 0 R >> >> >>",
        )
        # EncodedByteAlign stays a surfaced gap: page yields no image
        + _stream_obj(
            12,
            b"/Subtype /Image /Filter /CCITTFaxDecode "
            b"/DecodeParms << /K -1 /EncodedByteAlign true "
            b"/Columns 14 /Rows 6 >> "
            b"/Width 14 /Height 6 /BitsPerComponent 1 "
            b"/ColorSpace /DeviceGray",
            payload,
        )
        + _obj(
            13,
            b"<< /Type /Page /Resources << /XObject << /Im0 12 0 R >> >> >>",
        )
        + b"%%EOF\n"
    )
    images = extract_pdf_images(pdf)
    assert [p for p, _ in images] == [0]
    out = decode_png(images[0][1])
    assert out.shape[:2] == (6, 14)
    # ink (bit 1) → black pixel (BlackIs1 false: sample 0 = black)
    assert (out[:, :, 0] == (1 - bits) * 255).all()
    # probe mode agrees on validity/order with empty payloads
    probe = extract_pdf_images(pdf, transcode=False)
    assert [p for p, _ in probe] == [0] and probe[0][1] == b""


def test_jbig2_mq_and_generic_region_roundtrip():
    # MQ coder fuzz + generic-region round-trips in both TPGDON modes;
    # the encoder and decoder are independent walks of the two T.88
    # procedures, so agreement pins both against transcription slips
    import numpy as np

    from agentic_doc_spark.functions.jbig2 import (
        MQDecoder,
        MQEncoder,
        decode_generic_region,
        encode_generic_region,
    )

    rng = np.random.default_rng(9)
    for _ in range(10):
        nbits = int(rng.integers(1, 1500))
        bits = rng.integers(0, 2, nbits).tolist()
        ncx = int(rng.integers(1, 6))
        sel = rng.integers(0, ncx, nbits).tolist()
        enc = MQEncoder()
        ecx = [[0, 0] for _ in range(ncx)]
        for b, s in zip(bits, sel):
            enc.encode(ecx[s], b)
        dec = MQDecoder(enc.flush())
        dcx = [[0, 0] for _ in range(ncx)]
        assert [dec.decode(dcx[s]) for s in sel] == bits

    for tp in (False, True):
        img = np.zeros((25, 60), np.uint8)
        img[4:12, 5:40] = 1
        img[20, :] = 1
        img ^= (rng.random(img.shape) < 0.08).astype(np.uint8)
        out = decode_generic_region(
            encode_generic_region(img, tpgdon=tp), 60, 25, tpgdon=tp
        )
        assert np.array_equal(out, img), tp


def test_jbig2_embedded_image():
    # /JBIG2Decode generic-region stream decodes end to end; filter
    # output is DeviceGray with sample 0 = black
    import numpy as np

    from agentic_doc_spark.functions.jbig2 import encode_embedded
    from agentic_doc_spark.functions.png import decode_png
    from agentic_doc_spark.sources.pdf_text import extract_pdf_images

    bits = np.zeros((10, 22), dtype=np.uint8)
    bits[2:5, 3:18] = 1
    bits[8, ::2] = 1
    pdf = (
        b"%PDF-1.5\n"
        + _stream_obj(
            10,
            b"/Subtype /Image /Filter /JBIG2Decode "
            b"/Width 22 /Height 10 /BitsPerComponent 1 "
            b"/ColorSpace /DeviceGray",
            encode_embedded(bits, tpgdon=True),
        )
        + _obj(
            11,
            b"<< /Type /Page /Resources << /XObject << /Im0 10 0 R >> >> >>",
        )
        # a globals-referencing stream stays a surfaced gap
        + _stream_obj(
            12,
            b"/Subtype /Image /Filter /JBIG2Decode "
            b"/DecodeParms << /JBIG2Globals 99 0 R >> "
            b"/Width 22 /Height 10 /BitsPerComponent 1 "
            b"/ColorSpace /DeviceGray",
            encode_embedded(bits),
        )
        + _obj(
            13,
            b"<< /Type /Page /Resources << /XObject << /Im0 12 0 R >> >> >>",
        )
        + b"%%EOF\n"
    )
    images = extract_pdf_images(pdf)
    assert [p for p, _ in images] == [0]
    out = decode_png(images[0][1])
    assert out.shape[:2] == (10, 22)
    assert (out[:, :, 0] == (1 - bits) * 255).all()


def test_jpx_roundtrip_and_embedded_image():
    # restricted-profile lossless JPEG 2000: gray + RGB round-trips and
    # a /JPXDecode image extracting end to end
    import numpy as np

    from agentic_doc_spark.functions.jpx import decode_jpx, encode_jpx
    from agentic_doc_spark.functions.png import decode_png
    from agentic_doc_spark.sources.pdf_text import extract_pdf_images

    rng = np.random.default_rng(13)
    gray = rng.integers(0, 256, (21, 34)).astype(np.uint8)
    assert np.array_equal(decode_jpx(encode_jpx(gray, levels=2)), gray)
    rgb = rng.integers(0, 256, (18, 25, 3)).astype(np.uint8)
    assert np.array_equal(decode_jpx(encode_jpx(rgb, levels=3)), rgb)
    # document-shaped image compresses losslessly
    doc = np.full((64, 96, 3), 255, np.uint8)
    doc[10:20, 5:90] = 40
    payload = encode_jpx(doc, levels=2)
    assert len(payload) < doc.size // 4
    assert np.array_equal(decode_jpx(payload), doc)

    pdf = (
        b"%PDF-1.6\n"
        + _stream_obj(
            10,
            b"/Subtype /Image /Filter /JPXDecode "
            b"/Width 96 /Height 64 /BitsPerComponent 8",
            payload,
        )
        + _obj(
            11,
            b"<< /Type /Page /Resources << /XObject << /Im0 10 0 R >> >> >>",
        )
        + b"%%EOF\n"
    )
    images = extract_pdf_images(pdf)
    assert [p for p, _ in images] == [0]
    assert np.array_equal(decode_png(images[0][1]), doc)


def test_jpx_and_jbig2_fuzz_valueerror_only():
    # corrupt JPX codestreams / JBIG2 segment streams must raise
    # ValueError (surfaced), never hang or crash with internal errors
    import struct

    import numpy as np

    from agentic_doc_spark.functions.jbig2 import (
        decode_embedded,
        encode_embedded,
    )
    from agentic_doc_spark.functions.jpx import decode_jpx, encode_jpx

    rng = np.random.default_rng(17)
    img = (rng.random((20, 30)) < 0.3).astype(np.uint8)
    for enc, dec in (
        (encode_jpx((img * 255).astype(np.uint8), 2), decode_jpx),
        (encode_embedded(img), decode_embedded),
    ):
        base = bytearray(enc)
        for _ in range(25):
            bad = bytearray(base)
            for _ in range(int(rng.integers(1, 5))):
                bad[int(rng.integers(0, len(bad)))] = int(
                    rng.integers(0, 256)
                )
            try:
                out = dec(bytes(bad))
                assert out.shape[0] > 0
            except (ValueError, struct.error, IndexError):
                pass


def test_jbig2_region_outside_page_raises_fast():
    # T.88 7.4.8: a region must lie inside the page its page-info
    # segment declares. A forged width (20×2,031,646 — under the
    # max_pixels cap) used to decode for minutes; it must raise at once.
    # A striped page (height 0xFFFFFFFF) leaves y unchecked.
    import struct
    import time

    import numpy as np

    from agentic_doc_spark.functions.bitmapfont import glyph
    from agentic_doc_spark.functions.jbig2 import (
        decode_embedded,
        encode_embedded,
        encode_embedded_text,
    )

    img = (np.random.default_rng(3).random((20, 30)) < 0.3).astype(np.uint8)
    generic = encode_embedded(img)
    text = encode_embedded_text(
        12, 9, [glyph(c).astype(np.uint8) for c in "AB"], [(0, 0, 0), (1, 6, 1)]
    )
    # both streams: page info (11-byte header, body w/h at 11/15), then
    # the region segments; the generic region's body starts at 41
    page_w, region = 11, 41

    def forged(data, *fields):
        out = bytearray(data)
        for off, val in fields:
            struct.pack_into(">I", out, off, val)
        return bytes(out)

    bad = [
        forged(generic, (region, 2_031_646)),  # region wider than page
        forged(generic, (region + 8, 5)),  # x offset pushes it out
        forged(generic, (page_w + 4, 19)),  # page one row short
        forged(text, (page_w, 11)),  # text region wider than page
    ]
    for data in bad:
        t0 = time.perf_counter()
        with pytest.raises(ValueError, match="outside"):
            decode_embedded(data)
        assert time.perf_counter() - t0 < 1.0
    striped = forged(generic, (page_w + 4, 0xFFFFFFFF), (region + 12, 7))
    assert (decode_embedded(striped) == img).all()
    assert decode_embedded(text).shape == (9, 12)


def test_ccitt_g3_embedded_images():
    # K > 0 (mixed 2-D) and K = 0 (pure MH) G3 streams decode; the
    # /EndOfLine default (false) means bare tag bits / bare runs
    import numpy as np

    from agentic_doc_spark.functions.ccitt import g3_encode
    from agentic_doc_spark.functions.png import decode_png
    from agentic_doc_spark.sources.pdf_text import extract_pdf_images

    bits = np.zeros((7, 19), dtype=np.uint8)
    bits[1, 2:16] = 1
    bits[4:6, 5:9] = 1
    cases = [
        (b"/K 2 /EndOfLine true", g3_encode(bits, two_d=True, eol=True)),
        (b"/K 2", g3_encode(bits, two_d=True, eol=False)),
        (b"/K 0", g3_encode(bits, two_d=False, eol=False)),
    ]
    for i, (params, payload) in enumerate(cases):
        pdf = (
            b"%PDF-1.4\n"
            + _stream_obj(
                10,
                b"/Subtype /Image /Filter /CCITTFaxDecode "
                b"/DecodeParms << " + params + b" /Columns 19 /Rows 7 >> "
                b"/Width 19 /Height 7 /BitsPerComponent 1 "
                b"/ColorSpace /DeviceGray",
                payload,
            )
            + _obj(
                11,
                b"<< /Type /Page /Resources "
                b"<< /XObject << /Im0 10 0 R >> >> >>",
            )
            + b"%%EOF\n"
        )
        images = extract_pdf_images(pdf)
        assert [p for p, _ in images] == [0], (i, params)
        out = decode_png(images[0][1])
        assert (out[:, :, 0] == (1 - bits) * 255).all(), (i, params)


def test_jbig2_symbol_text_region_embedded():
    # the symbol-coded shape real scanned PDFs use: arithmetic symbol
    # dictionary + text region placing glyph instances; IAx integer and
    # IAID coders round-trip through independent encode/decode walks
    import numpy as np

    from agentic_doc_spark.functions.bitmapfont import glyph
    from agentic_doc_spark.functions.jbig2 import encode_embedded_text
    from agentic_doc_spark.functions.png import decode_png
    from agentic_doc_spark.sources.pdf_text import extract_pdf_images

    syms = [glyph(c).astype(np.uint8) for c in "FAX"]
    placements = []
    x = 1
    for i, ch in enumerate("FAXFAX"):
        placements.append(("FAX".index(ch), x, 2 + (i % 3) * 9))
        x += 6
    w, h = x + 5, 30
    payload = encode_embedded_text(w, h, syms, placements)
    want = np.zeros((h, w), np.uint8)
    for si, px, py in placements:
        s = syms[si]
        want[py : py + s.shape[0], px : px + s.shape[1]] |= s

    pdf = (
        b"%PDF-1.5\n"
        + _stream_obj(
            10,
            b"/Subtype /Image /Filter /JBIG2Decode "
            + b"/Width %d /Height %d /BitsPerComponent 1 "
            % (w, h)
            + b"/ColorSpace /DeviceGray",
            payload,
        )
        + _obj(
            11,
            b"<< /Type /Page /Resources << /XObject << /Im0 10 0 R >> >> >>",
        )
        + b"%%EOF\n"
    )
    images = extract_pdf_images(pdf)
    assert [p for p, _ in images] == [0]
    out = decode_png(images[0][1])
    assert (out[:, :, 0] == (1 - want) * 255).all()

"""Pure-stdlib baseline JPEG codec (functions/jpeg.py): encoder-decoder
round-trip (skipif-free — no PIL needed), restart markers, subsampled
upsampling, unsupported-mode rejection, and the multimodal decode ladder."""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest

from agentic_doc_spark.functions.jpeg import decode_jpeg, encode_jpeg, is_jpeg


def _gradient(h, w, ch=3):
    y = np.arange(h, dtype=np.uint32)[:, None, None]
    x = np.arange(w, dtype=np.uint32)[None, :, None]
    c = np.arange(ch, dtype=np.uint32)[None, None, :]
    return ((y * 7 + x * 13 + c * 29) % 256).astype(np.uint8)


@pytest.mark.parametrize(
    "shape,quality,max_err",
    [
        ((16, 16, 3), 95, 25),
        ((24, 17, 3), 90, 45),  # non-multiple-of-8 edges
        ((8, 8, 1), 90, 5),  # grayscale
        ((33, 41, 3), 75, 135),
    ],
)
def test_roundtrip_lossy_bounded(shape, quality, max_err):
    arr = _gradient(*shape)
    data = encode_jpeg(arr, quality=quality)
    assert is_jpeg(data)
    back = decode_jpeg(data)
    want = arr if shape[-1] == 3 else arr[:, :, 0]
    assert back.shape == want.shape
    err = np.abs(back.astype(int) - want.astype(int))
    assert err.max() <= max_err
    assert err.mean() <= max_err / 4


def test_smooth_image_near_exact():
    smooth = np.tile(
        np.linspace(40, 200, 64).astype(np.uint8)[None, :, None], (32, 1, 3)
    )
    back = decode_jpeg(encode_jpeg(smooth, quality=95))
    assert np.abs(back.astype(int) - smooth.astype(int)).max() <= 2


def test_restart_markers_roundtrip():
    arr = _gradient(40, 56, 3)  # 5×7 = 35 MCUs
    plain = decode_jpeg(encode_jpeg(arr, quality=90))
    rst = decode_jpeg(encode_jpeg(arr, quality=90, restart_interval=4))
    # restart markers change framing only, not reconstruction
    assert (plain == rst).all()


def test_420_subsampled_roundtrip():
    # the layout nearly all real baseline JPEGs use: 2x2 luma blocks per
    # MCU + half-res chroma; decoder must upsample back to full dims.
    # Use a chroma-smooth image (constant hue) so the 4:2:0 loss is small.
    h, w = 40, 56
    lum = ((np.arange(h)[:, None] * 3 + np.arange(w)[None, :] * 5) % 200).astype(
        np.uint8
    ) + 20
    arr = np.stack([lum, lum, lum], axis=-1)  # gray in RGB: Cb=Cr=128
    data = encode_jpeg(arr, quality=92, subsampling="420")
    back = decode_jpeg(data)
    assert back.shape == (h, w, 3)
    err = np.abs(back.astype(int) - arr.astype(int))
    assert err.max() <= 30 and err.mean() <= 6


def test_420_odd_dims_roundtrip():
    arr = _gradient(19, 21, 3)
    back = decode_jpeg(encode_jpeg(arr, quality=90, subsampling="420"))
    assert back.shape == (19, 21, 3)


def test_rejects_arithmetic_and_garbage():
    arr = _gradient(8, 8, 3)
    data = bytearray(encode_jpeg(arr))
    # flip SOF0 (0xC0) into SOF9 (arithmetic sequential, 0xC9)
    idx = data.find(b"\xff\xc0")
    data[idx + 1] = 0xC9
    with pytest.raises(ValueError, match="unsupported frame type"):
        decode_jpeg(bytes(data))
    # a baseline scan mislabeled progressive (Se=63 in a DC-band SOS
    # context) must raise, not mis-decode
    data[idx + 1] = 0xC2
    with pytest.raises(ValueError):
        decode_jpeg(bytes(data))
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8garbage-not-a-real-scan")
    assert not is_jpeg(b"plainly not a jpeg")


def test_progressive_matches_baseline_bit_for_bit():
    # Annex G: spectral selection + successive approximation. The
    # progressive encoder quantizes identically to the baseline one, so
    # the decoded images must be IDENTICAL, not merely close.
    from agentic_doc_spark.functions.jpeg import encode_progressive_jpeg

    for shape, sub in [((24, 33, 3), "444"), ((40, 56, 3), "420")]:
        arr = _gradient(*shape)
        base = decode_jpeg(encode_jpeg(arr, quality=85, subsampling=sub))
        for ri in (1, 3):
            rst = decode_jpeg(
                encode_jpeg(arr, quality=85, restart_interval=ri, subsampling=sub)
            )
            assert (rst == base).all(), (shape, sub, ri)
        for successive in (True, False):
            prog = decode_jpeg(
                encode_progressive_jpeg(
                    arr, quality=85, subsampling=sub, successive=successive
                )
            )
            assert prog.shape == base.shape
            assert (prog == base).all(), (shape, sub, successive)


def test_progressive_grayscale_and_random_content():
    # random (non-smooth) content exercises dense AC bands, long EOB
    # runs, ZRL-in-refinement, and correction-bit buffering
    from agentic_doc_spark.functions.jpeg import encode_progressive_jpeg

    rng = np.random.default_rng(7)
    for _ in range(6):
        h = int(rng.integers(8, 50))
        w = int(rng.integers(8, 50))
        ch = int(rng.choice([1, 3]))
        arr = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        if ch == 1:
            arr = arr[:, :, 0]
        base = decode_jpeg(encode_jpeg(arr, quality=90))
        prog = decode_jpeg(
            encode_progressive_jpeg(arr, quality=90, successive=True)
        )
        assert (prog == base).all(), (h, w, ch)


def test_progressive_truncated_raises():
    from agentic_doc_spark.functions.jpeg import encode_progressive_jpeg

    data = encode_progressive_jpeg(_gradient(16, 16, 3))
    with pytest.raises(ValueError):
        decode_jpeg(data[: len(data) // 2])


def test_progressive_fuzz_only_valueerror():
    # truncations and random byte corruption must fold into ValueError —
    # never OverflowError (a corrupt DHT can claim a 255-bit DC
    # category) or any other exception type
    import random

    from agentic_doc_spark.functions.jpeg import encode_progressive_jpeg

    rng = random.Random(99)
    data = encode_progressive_jpeg(_gradient(24, 18, 3))
    for cut in range(2, len(data), max(1, len(data) // 60)):
        try:
            decode_jpeg(data[:cut])
        except ValueError:
            pass
    for _ in range(200):
        b = bytearray(data)
        for _ in range(rng.randint(1, 6)):
            b[rng.randrange(2, len(b))] = rng.randrange(256)
        try:
            decode_jpeg(bytes(b))
        except ValueError:
            pass


def test_rejects_cmyk_and_zero_sampling():
    arr = _gradient(8, 8, 3)
    data = bytearray(encode_jpeg(arr))
    idx = data.find(b"\xff\xc0")
    # SOF payload: len(2) prec(1) h(2) w(2) nc(1) — claim 4 components
    # (CMYK): must REJECT, not silently decode C/M/Y as YCbCr garbage
    cmyk = bytearray(data)
    cmyk[idx + 9] = 4
    with pytest.raises(ValueError, match="component count"):
        decode_jpeg(bytes(cmyk))
    # zero sampling factors must raise ValueError, not ZeroDivisionError
    zs = bytearray(data)
    zs[idx + 11] = 0x00  # first component's h/v byte
    with pytest.raises(ValueError):
        decode_jpeg(bytes(zs))


def test_property_roundtrip_random_images():
    # property-style: random dims/content at q=95 stay within a bounded
    # reconstruction error for BOTH subsampling layouts
    rng = np.random.default_rng(11)
    for _ in range(12):
        h = int(rng.integers(8, 40))
        w = int(rng.integers(8, 40))
        # smooth-ish content (random low-res upsampled) — JPEG's domain
        base = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
        arr = np.repeat(np.repeat(base, (h + 3) // 4, 0), (w + 3) // 4, 1)[
            :h, :w
        ].astype(np.uint8)
        # 4:2:0 halves chroma resolution, so sharp random color edges
        # legitimately cost more — wider bound there
        for sub, bound in (("444", 12), ("420", 30)):
            back = decode_jpeg(encode_jpeg(arr, quality=95, subsampling=sub))
            assert back.shape == (h, w, 3)
            err = np.abs(back.astype(int) - arr.astype(int))
            assert err.mean() <= bound, (h, w, sub, err.mean())


def test_fuzz_never_hangs_or_crashes_non_valueerror():
    # crafted/corrupt streams must raise ValueError promptly — never hang
    # (zero segment lengths) or escape with a non-ValueError
    rng = np.random.default_rng(7)
    base = bytearray(encode_jpeg(_gradient(16, 16, 3), quality=90))
    for trial in range(200):
        data = bytearray(base)
        for _ in range(rng.integers(1, 8)):
            data[rng.integers(2, len(data))] = rng.integers(0, 256)
        try:
            decode_jpeg(bytes(data))
        except ValueError:
            pass  # rejection is fine; silent wrong output is also fine (lossy)
    # pure-random payloads with a JPEG SOI
    for trial in range(50):
        blob = b"\xff\xd8" + bytes(rng.integers(0, 256, size=300, dtype=np.uint8))
        try:
            decode_jpeg(blob)
        except ValueError:
            pass


def test_decode_ladder_handles_jpeg(spark):
    # multimodal features decode a baseline JPEG for REAL (decoded=True,
    # true dims) with no PIL in the container
    from agentic_doc_spark.operators.multimodal import extract_media_features

    arr = _gradient(20, 32, 3)
    media = spark.createDataFrame(
        [("j1", bytearray(encode_jpeg(arr, quality=92)))],
        "media_ref string, content binary",
    )
    row = extract_media_features(media).collect()[0]
    assert row["decoded"] is True
    assert (row["width"], row["height"]) == (32, 20)


def test_rejects_unreasonable_dimensions():
    arr = _gradient(8, 8, 3)
    data = bytearray(encode_jpeg(arr))
    idx = data.find(b"\xff\xc0")
    # SOF payload: marker(2) len(2) prec(1) h(2) w(2): claim 65000x65000
    data[idx + 5 : idx + 9] = (65000).to_bytes(2, "big") * 2
    with pytest.raises(ValueError, match="dimensions"):
        decode_jpeg(bytes(data))


def test_extended_sequential_12bit():
    # SOF1 12-bit precision: level shift 2048, output scaled to 8-bit;
    # the medical/scanner shape (round-4 VERDICT missing item 4, the
    # feasible half — arithmetic coding remains surfaced)
    from agentic_doc_spark.functions.jpeg import decode_jpeg, encode_jpeg12

    yy, xx = np.mgrid[0:48, 0:70]
    smooth = (
        2048 + 1700 * np.sin(yy / 8.0) * np.cos(xx / 12.0)
    ).astype(np.uint16)
    out = decode_jpeg(encode_jpeg12(smooth, quality=97))
    assert out.shape == smooth.shape and out.dtype == np.uint8
    ref = (smooth >> 4).astype(np.uint8)
    err = np.abs(out.astype(int) - ref.astype(int))
    assert err.max() <= 2, err.max()

    # hard edges + flat regions survive at high quality too
    doc = np.full((30, 40), 4095, np.uint16)
    doc[8:16, 5:35] = 300
    out2 = decode_jpeg(encode_jpeg12(doc, quality=100))
    ref2 = (doc >> 4).astype(np.uint8)
    assert np.abs(out2.astype(int) - ref2.astype(int)).mean() < 3

    # 12-bit progressive stays a surfaced gap
    import pytest as _pytest

    data = bytearray(encode_jpeg12(doc))
    sof = data.find(b"\xff\xc1")
    data[sof + 1] = 0xC2
    with _pytest.raises(ValueError):
        decode_jpeg(bytes(data))


def _segments(data):
    """Baseline stream → ([(marker, payload) ... up to SOS], entropy bytes)."""
    i, segs = 2, []
    while True:
        marker = data[i + 1]
        (n,) = struct.unpack(">H", data[i + 2 : i + 4])
        segs.append((marker, data[i + 4 : i + 2 + n]))
        i += 2 + n
        if marker == 0xDA:
            return segs, data[i:-2]  # entropy data up to EOI


def test_noninterleaved_sequential_decodes():
    # a sequential frame may code each component in its own scan (spec
    # A.2.2, Ns=1): three grayscale baseline streams spliced under one
    # 3-component SOF0 (1×1 sampling, tables 0) decode as YCbCr
    yy, xx = np.mgrid[0:21, 0:30]
    arr = np.stack(
        [40 + yy * 6, 200 - xx * 4, 90 + yy * 2 + xx * 2], axis=-1
    ).astype(np.uint8)
    r, g, b = (arr[:, :, c].astype(np.float64) for c in range(3))
    ycc = [
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ]
    out = bytearray(b"\xff\xd8")
    for ci, plane in enumerate(ycc):
        gray = np.clip(np.round(plane), 0, 255).astype(np.uint8)
        segs, entropy = _segments(encode_jpeg(gray, quality=92))
        for marker, payload in segs:
            if ci and marker != 0xDA:
                continue  # every gray stream carries the same tables
            if marker == 0xC0:
                payload = payload[:5] + bytes(
                    [3, 1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]
                )
            elif marker == 0xDA:
                payload = bytes([1, ci + 1]) + payload[2:]
            out += b"\xff" + bytes([marker])
            out += struct.pack(">H", len(payload) + 2) + payload
        out += entropy
    out += b"\xff\xd9"
    back = decode_jpeg(bytes(out))
    assert back.shape == arr.shape
    assert np.abs(back.astype(int) - arr.astype(int)).max() <= 13


def _golden_corpus():
    """(layout, stream) pairs from the repo's encoders at a fixed seed:
    each layout's baseline streams (restart intervals 0, 1, 3) and
    progressive streams (with and without successive approximation)
    quantize identically, so they decode to the same pixels."""
    from agentic_doc_spark.functions.jpeg import (
        encode_jpeg12,
        encode_progressive_jpeg,
    )

    rng = np.random.default_rng(20261018)
    yy, xx = np.mgrid[0:27, 0:38]
    smooth = (yy[..., None] * 5 + xx[..., None] * 3 + np.arange(3) * 40) % 256
    noisy = smooth + rng.integers(-40, 41, smooth.shape)
    rgb = np.clip(noisy, 0, 255).astype(np.uint8)
    noise = rng.integers(0, 256, (17, 23, 3), dtype=np.uint8)
    for layout, arr, sub, q in (
        ("444", rgb, "444", 80),
        ("420", rgb, "420", 80),
        ("gray", rgb[:, :, 1], "444", 80),
        ("noise420", noise, "420", 95),
    ):
        for ri in (0, 1, 3):
            yield layout, encode_jpeg(
                arr, quality=q, restart_interval=ri, subsampling=sub
            )
        for sa in (True, False):
            yield layout, encode_progressive_jpeg(
                arr, quality=q, subsampling=sub, successive=sa
            )
    d12 = 2048 + 1800 * np.sin(yy / 6.0) * np.cos(xx / 9.0)
    d12 = (d12 + rng.integers(-200, 201, yy.shape)).clip(0, 4095)
    yield "sof1_12bit", encode_jpeg12(d12.astype(np.uint16), quality=90)


# SHA-256 of the decoded pixels, recorded while baseline and progressive
# frames still had separate scan decoders
_GOLDEN = {
    "444": ((27, 38, 3), "ea5b3c7c215846d3886904b230e6d35f314ca9c828ad96a050fa9c3d03ffdcf7"),
    "420": ((27, 38, 3), "767b51297d7e9af8553bb0c9f6bff552c98c1608ca56c697a506b413a1852574"),
    "gray": ((27, 38), "c3a6672f10bf69a8e3bbf38ba87a14067cf86a8867439521b4970894673d8c63"),
    "noise420": ((17, 23, 3), "ac3084ed5605ab5f8189cdd3ae8f06812a33c20ced7406dca3874e9a1c2207ba"),
    "sof1_12bit": ((27, 38), "8296d28343d085cade6c0a392323c90817372b2f8f9ec8481599c489468814b5"),
}


def test_decoded_pixels_match_golden_digests():
    seen = set()
    for layout, data in _golden_corpus():
        out = decode_jpeg(data)
        shape, digest = _GOLDEN[layout]
        assert out.shape == shape, layout
        assert hashlib.sha256(out.tobytes()).hexdigest() == digest, layout
        seen.add(layout)
    assert seen == set(_GOLDEN)

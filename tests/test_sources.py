"""Sources: dispatch, magic sniff, binary dir scan, sinks, multimodal stubs,
geometry."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from agentic_doc_spark.operators.multimodal import extract_media_features, sample_frames
from agentic_doc_spark.functions.geometry import box_is_valid, box_to_pixels, clamp_box
from agentic_doc_spark.sources.resolve import (
    create_connector,
    read_binary_dir,
    read_bytes,
    resolve,
)
from agentic_doc_spark.sources.sinks import read_parsed_json, write_json_results
from agentic_doc_spark.pipeline import extract
from agentic_doc_spark.synth import corpus_df


PDF_BYTES = b"%PDF-1.7 fake body"
PNG_BYTES = b"\x89PNG\r\n fake body"


def test_read_bytes_sniff(spark):
    assert read_bytes(spark, PDF_BYTES).collect()[0]["doc_type"] == "pdf"
    assert read_bytes(spark, PNG_BYTES).collect()[0]["doc_type"] == "image"


def test_binary_dir_scan(spark, tmp_path):
    (tmp_path / "a.pdf").write_bytes(PDF_BYTES)
    (tmp_path / "b.png").write_bytes(PNG_BYTES)
    (tmp_path / "skip.xyz").write_bytes(b"nope")
    rows = read_binary_dir(spark, str(tmp_path)).collect()
    types = {r["doc_id"].split("/")[-1]: r["doc_type"] for r in rows}
    assert types == {"a.pdf": "pdf", "b.png": "image"}  # P4: .xyz filtered


def test_resolve_dispatch(spark, tmp_path):
    # bytes route
    assert resolve(spark, PDF_BYTES).count() == 1
    # parquet route: canonical corpus round-trip
    p = str(tmp_path / "docs.parquet")
    corpus_df(spark, 1).write.parquet(p)
    assert resolve(spark, p).count() == corpus_df(spark, 1).count()
    # empty list → P7 short-circuit
    assert resolve(spark, []).count() == 0


def test_is_valid_httpurl():
    from agentic_doc_spark.sources.resolve import is_valid_httpurl

    assert is_valid_httpurl("https://example.com/a.pdf")
    assert is_valid_httpurl("http://x")
    assert not is_valid_httpurl("ftp://x") and not is_valid_httpurl("not a url")


def test_connector_factory():
    local = create_connector({"connector_type": "local", "path": "/x"})
    assert local["path"] == "/x"
    s3 = create_connector({"connector_type": "s3", "bucket_name": "b", "prefix": "p"})
    assert s3["path"] == "s3a://b/p"
    url = create_connector({"connector_type": "url", "urls": []})
    assert url["path"] and url["pattern"].endswith("_*")  # staged names only
    with pytest.raises(NotImplementedError):  # no fetcher injected
        create_connector({"connector_type": "google_drive"})
    with pytest.raises(ValueError):
        create_connector({"connector_type": "nope"})


def test_staging_dir_preserves_unrelated_files(tmp_path):
    # a caller-supplied staging_dir with pre-existing unrelated files must
    # NOT be wiped — only stager-created NNNNNN_* and *.part leftovers go
    stage = tmp_path / "stage"
    stage.mkdir()
    keep = stage / "important_notes.txt"
    keep.write_text("do not delete")
    (stage / "000001_stale_staged.bin").write_bytes(b"old")
    (stage / "000002_half.pdf.part").write_bytes(b"partial")
    spec = create_connector(
        {"connector_type": "url", "urls": [], "staging_dir": str(stage)}
    )
    assert spec["path"] == str(stage)
    assert keep.read_text() == "do not delete"  # survived
    assert not (stage / "000001_stale_staged.bin").exists()  # stale staged gone
    assert not (stage / "000002_half.pdf.part").exists()  # .part leftover gone
    # and the surviving unrelated file is NOT swept into the corpus: the
    # default pattern admits only stager-created NNNNNN_* names
    assert spec["pattern"] == "[0-9][0-9][0-9][0-9][0-9][0-9]_*"


def test_staging_pattern_excludes_unrelated_files(spark, tmp_path):
    stage = tmp_path / "stage2"
    stage.mkdir()
    (stage / "unrelated.txt").write_text("user notes, not a document")
    src = tmp_path / "remote.txt"
    src.write_text("a staged document")
    spec = create_connector(
        {
            "connector_type": "url",
            "urls": [f"file://{src}"],
            "staging_dir": str(stage),
        }
    )
    df = read_binary_dir(spark, spec["path"], pattern=spec["pattern"])
    names = [r["doc_id"].rsplit("/", 1)[-1] for r in df.collect()]
    assert names == ["000000_remote.txt"]  # unrelated.txt excluded


def test_parquet_schema_mismatch_raises(spark, tmp_path):
    # an arbitrary parquet dataset must error clearly, not null-fill
    from agentic_doc_spark.sources.resolve import resolve

    p = str(tmp_path / "not_docs")
    spark.createDataFrame([(1, "x")], ["id", "name"]).write.parquet(p)
    with pytest.raises(ValueError, match="not a documents_raw corpus"):
        resolve(spark, p)


def test_parquet_superset_keeps_extra_columns(spark, tmp_path):
    # a documents_raw corpus with an extraction_payload column riding
    # along keeps it through resolve (the facade's payload path needs it)
    from agentic_doc_spark.sources.resolve import resolve
    from agentic_doc_spark.synth import corpus_df

    p = str(tmp_path / "docs_plus")
    corpus_df(spark, 1).withColumn(
        "extraction_payload", F.lit('{"title":"t"}')
    ).write.parquet(p)
    df = resolve(spark, p)
    assert "extraction_payload" in df.columns
    assert df.count() == corpus_df(spark, 1).count()
    # canonical columns are CAST to DOCUMENTS_RAW types (a foreign
    # writer's long offsets must not drift downstream)
    from agentic_doc_spark.schema import DOCUMENTS_RAW

    for f in DOCUMENTS_RAW.fields:
        assert df.schema[f.name].dataType == f.dataType, f.name


def test_parquet_nested_span_shape_mismatch_raises(spark, tmp_path):
    # EXACT top-level columns but a malformed spans element (no
    # 'offset') must raise, not silently null-fill — the equal-columns
    # fast path used a forced-schema read that would have null-filled
    # (round-3 ADVICE finding)
    from agentic_doc_spark.sources.resolve import resolve

    p = str(tmp_path / "bad_nested")
    spark.createDataFrame(
        [("d1", [("text", "hello", None)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string>>",
    ).write.parquet(p)
    with pytest.raises(ValueError, match="cannot coerce"):
        resolve(spark, p)


def test_parquet_exact_columns_casts_by_name(spark, tmp_path):
    # exact columns with a REORDERED span struct must coerce by field
    # name (a positional whole-struct cast would scramble kind/text)
    from agentic_doc_spark.schema import DOCUMENTS_RAW
    from agentic_doc_spark.sources.resolve import resolve

    p = str(tmp_path / "reordered")
    spark.createDataFrame(
        [("d1", [(3, None, "body text", "text")])],
        "doc_id string, spans array<struct<offset:int,media_ref:string,"
        "text:string,kind:string>>",
    ).write.parquet(p)
    df = resolve(spark, p)
    assert df.schema["spans"].dataType == DOCUMENTS_RAW["spans"].dataType
    row = df.collect()[0]
    assert row["spans"][0]["kind"] == "text"
    assert row["spans"][0]["text"] == "body text"
    assert row["spans"][0]["offset"] == 3


def test_google_drive_connector_staging(spark, tmp_path):
    # S4: staging + R6 skip with an injected fetcher (the Drive API client
    # slot; OAuth is driver-side so tests inject a fake)
    from agentic_doc_spark.api import parse

    blobs = {
        "fileA": b"drive block one\n\ndrive block two",
        "fileB": b"drive second doc",
    }

    def fetcher(file_id: str) -> bytes:
        return blobs[file_id]  # KeyError for unknown ids → skipped (R6)

    spec = create_connector(
        {
            "connector_type": "google_drive",
            "file_ids": ["fileA", "fileB", "missing"],
            "fetcher": fetcher,
            "staging_dir": str(tmp_path / "gd_stage"),
        }
    )
    df = read_binary_dir(spark, spec["path"], pattern=spec["pattern"])
    assert df.count() == 2
    out = parse(spark, spec["path"], connector_pattern=spec["pattern"])
    rows = {
        r["doc_id"].rsplit("_", 1)[-1]: r.asDict(recursive=True)
        for r in out.collect()
    }
    assert [s["text"] for s in rows["fileA"]["spans"]] == [
        "drive block one",
        "drive block two",
    ]
    assert rows["fileB"]["markdown"] == "drive second doc"


def test_json_sink_roundtrip(spark, tmp_path):
    parsed = extract(corpus_df(spark, 1))
    out = str(tmp_path / "json_out")
    write_json_results(parsed, out)
    back = read_parsed_json(spark, out)
    assert back.count() == parsed.count()
    a = {r["doc_id"]: r["markdown"] for r in back.collect()}
    b = {r["doc_id"]: r["markdown"] for r in parsed.collect()}
    assert a == b


def test_media_features_stub(spark):
    media = spark.createDataFrame(
        [("m1", bytearray(b"img-bytes-1")), ("m2", bytearray(b"img-bytes-2"))],
        "media_ref string, content binary",
    )
    rows = {r["media_ref"]: r for r in extract_media_features(media).collect()}
    assert len(rows) == 2
    assert all(64 <= rows[m]["width"] <= 256 for m in rows)
    assert all(len(rows[m]["features"]) == 8 for m in rows)
    # the codec boundary is SURFACED, not silent: garbage bytes → decoded=False
    assert all(rows[m]["decoded"] is False for m in rows)
    # determinism
    again = {r["media_ref"]: r for r in extract_media_features(media).collect()}
    assert rows["m1"]["features"] == again["m1"]["features"]


def test_media_features_decoded_flag_real_png(spark):
    import numpy as np

    from agentic_doc_spark.functions.png import encode_png

    arr = np.arange(10 * 12 * 3, dtype=np.uint8).reshape(10, 12, 3)
    media = spark.createDataFrame(
        [("real", bytearray(encode_png(arr))), ("fake", bytearray(b"junk"))],
        "media_ref string, content binary",
    )
    rows = {r["media_ref"]: r for r in extract_media_features(media).collect()}
    assert rows["real"]["decoded"] is True
    assert (rows["real"]["width"], rows["real"]["height"]) == (12, 10)
    assert rows["fake"]["decoded"] is False


def test_sample_frames_stub(spark):
    # non-AVI payload: deterministic fake path, surfaced as decoded=False
    media = spark.createDataFrame(
        [("v1", bytearray(bytes(range(256)) * 40))], "media_ref string, content binary"
    )
    rows = sample_frames(media, every_n=10).collect()
    assert [r["frame_idx"] for r in rows] == list(range(0, 40, 10))
    assert all(r["decoded"] is False for r in rows)


def test_riff_deep_nesting_never_recursion_errors():
    # a crafted stream of deeply nested LIST headers must degrade
    # gracefully (explicit-stack walk), never RecursionError a task
    import struct

    from agentic_doc_spark.functions.riff import extract_avi_frames

    depth = 5000
    inner = b""
    for _ in range(depth):
        inner = b"LIST" + struct.pack("<I", len(inner) + 4) + b"rec " + inner
    blob = b"RIFF" + struct.pack("<I", len(inner) + 4) + b"AVI " + inner
    assert extract_avi_frames(blob) == []


def test_sample_frames_raw_dib_avi(spark):
    # uncompressed BI_RGB AVI: strf declares biCompression 0, frames are
    # bottom-up padded BGR DIBs → transcoded to PNG by the demuxer and
    # decoded for real downstream (true dims, decoded=True)
    import numpy as np

    from agentic_doc_spark.functions.png import decode_png
    from agentic_doc_spark.functions.riff import (
        encode_avi_rawdib,
        extract_avi_frames,
    )

    frames = [
        ((np.arange(10 * 14 * 3) * (i + 3)) % 256)
        .astype(np.uint8)
        .reshape(10, 14, 3)
        for i in range(4)
    ]
    avi = encode_avi_rawdib(frames)
    # demux-level: PNG-transcoded frames reconstruct the RGB pixels
    for png_bytes, orig in zip(extract_avi_frames(avi), frames):
        assert (decode_png(png_bytes) == orig).all()
    media = spark.createDataFrame(
        [("rawvid", bytearray(avi))], "media_ref string, content binary"
    )
    rows = {
        r["frame_idx"]: r for r in sample_frames(media, every_n=2).collect()
    }
    assert sorted(rows) == [0, 2]
    for r in rows.values():
        assert (r["width"], r["height"], r["decoded"]) == (14, 10, True)


def test_sample_frames_real_mjpeg_avi(spark):
    # REAL video path: MJPEG AVI demux (functions/riff.py) + JPEG decode —
    # every 2nd frame sampled, true dims, per-frame sha over raw bytes
    import hashlib

    import numpy as np

    from agentic_doc_spark.functions.jpeg import encode_jpeg
    from agentic_doc_spark.functions.riff import encode_avi_mjpeg

    frames = [
        bytes(
            encode_jpeg(
                np.full((16, 24, 3), 40 * (i + 1), dtype=np.uint8), quality=92
            )
        )
        for i in range(5)
    ]
    avi = encode_avi_mjpeg(frames, width=24, height=16)
    media = spark.createDataFrame(
        [("vid", bytearray(avi))], "media_ref string, content binary"
    )
    rows = {
        r["frame_idx"]: r for r in sample_frames(media, every_n=2).collect()
    }
    assert sorted(rows) == [0, 2, 4]
    for i, r in rows.items():
        assert (r["width"], r["height"], r["decoded"]) == (24, 16, True)
        assert r["frame_sha"] == hashlib.sha256(frames[i]).hexdigest()[:16]


def test_grounding_crop_specs(spark):
    # S9: naming + pixel conversion per reference utils.py:131-169
    from agentic_doc_spark.operators.multimodal import grounding_crop_specs

    parsed = extract(corpus_df(spark, 1))
    specs = grounding_crop_specs(parsed)
    rows = [r for r in specs.collect() if r["doc_id"] == "single-000000"]
    assert len(rows) == 2
    r0 = rows[0]
    safe_id = re.sub(r"[^A-Za-z0-9._-]", "_", r0["chunk_id"])
    assert r0["rel_path"] == f"page_0/text_{safe_id}_0.png"
    assert 0 <= r0["px"]["x0"] < r0["px"]["x1"] <= 816
    assert 0 <= r0["px"]["y0"] < r0["px"]["y1"] <= 1056


def test_url_connector_staging(spark, tmp_path):
    # S5: driver-side staging + R6 skip-on-failure, end to end through
    # parse() (reference connectors.py:454-517)
    import functools
    import http.server
    import threading

    from agentic_doc_spark.api import parse

    src = tmp_path / "srv"
    src.mkdir()
    (src / "a.txt").write_text("url block one\n\nurl block two")
    (src / "b.txt").write_text("second doc body")
    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler, directory=str(src)
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    try:
        spec = create_connector(
            {
                "connector_type": "url",
                "urls": [
                    f"http://127.0.0.1:{port}/a.txt",
                    f"http://127.0.0.1:{port}/b.txt",
                    f"http://127.0.0.1:{port}/missing.txt",  # 404 → skipped
                    "ftp://bad.scheme/x",  # invalid scheme → skipped
                ],
                "staging_dir": str(tmp_path / "stage"),
            }
        )
        df = read_binary_dir(spark, spec["path"], pattern=spec["pattern"])
        assert df.count() == 2
        out = parse(spark, spec["path"], connector_pattern=spec["pattern"])
        rows = {
            r["doc_id"].rsplit("_", 1)[-1]: r.asDict(recursive=True)
            for r in out.collect()
        }
        assert [s["text"] for s in rows["a.txt"]["spans"]] == [
            "url block one",
            "url block two",
        ]
        assert rows["b.txt"]["markdown"] == "second doc body"
    finally:
        srv.shutdown()


def test_viz_crop_specs_svg(spark):
    # K3: textual overlay renderer — one SVG per (doc, page), every chunk
    # present as a rect + label, page-sized canvas
    from agentic_doc_spark.operators.multimodal import (
        grounding_crop_specs,
        viz_crop_specs,
    )

    parsed = extract(corpus_df(spark, 1))
    specs = grounding_crop_specs(parsed)
    svgs = {
        (r["doc_id"], r["page"]): r["svg"]
        for r in viz_crop_specs(specs).collect()
    }
    single = svgs[("single-000000", 0)]
    assert single.startswith('<svg width="816" height="1056">')
    assert single.endswith("</svg>")
    assert single.count("<rect ") == 2  # both chunks of the single doc
    assert 'class="text"' in single
    assert "single-000000:0:0</text>" in single
    # every (doc, page) with specs got exactly one overlay row
    n_pages = specs.select("doc_id", "page").distinct().count()
    assert len(svgs) == n_pages


def test_decode_image_fallback_deterministic():
    import agentic_doc_spark.operators.multimodal as mm

    # non-image bytes always take the deterministic fallback
    a = mm._decode_image(b"not an image")
    b = mm._decode_image(b"not an image")
    assert a[0] == b[0] and a[1] == b[1]
    assert (a[2] == b[2]).all()


def test_geometry(spark):
    df = spark.createDataFrame(
        [(-0.5, 0.2, 1.7, 0.9, 100, 50)], ["l", "t", "r", "b", "w", "h"]
    )
    box = F.struct(F.col("l"), F.col("t"), F.col("r"), F.col("b"))
    r = df.select(
        clamp_box(box).alias("cb"),
        box_to_pixels(box, F.col("w"), F.col("h")).alias("px"),
        box_is_valid(box).alias("ok"),
    ).collect()[0]
    assert r["cb"]["l"] == 0.0 and r["cb"]["r"] == 1.0
    assert (r["px"]["x0"], r["px"]["y0"], r["px"]["x1"], r["px"]["y1"]) == (0, 10, 100, 45)
    assert r["ok"]


def test_redact_config():
    # F8: secrets masked, structure and non-secrets preserved
    from agentic_doc_spark.sources.resolve import redact_config

    cfg = {
        "connector_type": "s3",
        "bucket_name": "corpus",
        "aws_secret_access_key": "AKIAXXXXYYYYZZZZ",
        "nested": {"api_key": "sk-abcdef123", "path": "/x"},
        "token": "ab",
    }
    red = redact_config(cfg)
    assert red["bucket_name"] == "corpus"
    assert red["aws_secret_access_key"] == "AK***"
    assert red["nested"]["api_key"] == "sk***"
    assert red["nested"]["path"] == "/x"
    assert red["token"] == "***"
    assert cfg["aws_secret_access_key"] == "AKIAXXXXYYYYZZZZ"  # input untouched


def test_resize_media_shape_contract(spark):
    from agentic_doc_spark.operators.multimodal import resize_media

    media = spark.createDataFrame(
        [("m1", bytearray(b"payload-one")), ("m2", bytearray(b"payload-two"))],
        "media_ref string, content binary",
    )
    rows = {r["media_ref"]: r for r in resize_media(media, 16, 8).collect()}
    assert set(rows) == {"m1", "m2"}
    for r in rows.values():
        assert (r["width"], r["height"]) == (16, 8)
        # a non-image payload takes the fake path: exactly w*h*3 RGB bytes
        assert len(bytes(r["content"])) == 16 * 8 * 3
    again = {r["media_ref"]: r for r in resize_media(media, 16, 8).collect()}
    assert bytes(rows["m1"]["content"]) == bytes(again["m1"]["content"])


def test_mixed_dir_with_stray_parquet_routes_to_binary(spark, tmp_path):
    # a raw corpus containing one stray parquet file (or a _SUCCESS
    # marker) must still take the binary-ingest route
    from agentic_doc_spark.api import parse

    d = tmp_path / "mixed"
    d.mkdir()
    (d / "a.txt").write_text("real doc body")
    (d / "report.parquet").write_bytes(b"PAR1 not really")
    (d / "_SUCCESS").write_bytes(b"")
    out = parse(spark, str(d))
    rows = {r["doc_id"].rsplit("/", 1)[-1]: r for r in out.collect()}
    assert set(rows) == {"a.txt"}
    assert rows["a.txt"]["markdown"] == "real doc body"


def test_stage_urls_no_partial_files(tmp_path):
    # a failed mid-stream download must leave NO partial file behind
    import os

    from agentic_doc_spark.sources.resolve import stage_urls

    src = tmp_path / "f.txt"
    src.write_text("ok body")
    dest = tmp_path / "stage"
    staged = stage_urls(
        [f"file://{src}", "file:///nonexistent/definitely/missing.txt"],
        str(dest),
    )
    assert len(staged) == 1
    names = os.listdir(dest)
    assert len(names) == 1
    assert not any(n.endswith(".part") for n in names)


def test_extract_audio_features_real_wav(spark):
    # REAL audio path: a 440 Hz sine at 16 kHz — duration exact, RMS ≈
    # A/√2, zero-crossing rate ≈ 2f/sr; stereo downmixes; a non-audio
    # payload takes the surfaced fake
    import numpy as np

    from agentic_doc_spark.functions.riff import encode_wav_pcm16
    from agentic_doc_spark.operators.multimodal import extract_audio_features

    sr, f, amp, secs = 16000, 440.0, 0.5, 2.0
    t = np.arange(int(sr * secs)) / sr
    mono = amp * np.sin(2 * np.pi * f * t)
    stereo = np.stack([mono, -mono], axis=1)  # downmix → silence
    media = spark.createDataFrame(
        [
            ("tone", bytearray(encode_wav_pcm16(mono, sr))),
            ("cancel", bytearray(encode_wav_pcm16(stereo, sr))),
            ("junk", bytearray(b"not audio at all")),
        ],
        "media_ref string, content binary",
    )
    rows = {r["media_ref"]: r for r in extract_audio_features(media).collect()}
    tone = rows["tone"]
    assert tone["decoded"] and tone["sample_rate"] == sr
    assert abs(tone["duration_sec"] - secs) < 1e-9
    assert abs(tone["rms"] - amp / 2 ** 0.5) < 0.01
    assert abs(tone["zero_cross_rate"] - 2 * f / sr) < 0.005
    assert abs(tone["peak"] - amp) < 0.01
    cancel = rows["cancel"]
    assert cancel["decoded"] and cancel["channels"] == 2
    assert cancel["rms"] < 1e-4  # L/R cancel after downmix
    assert not rows["junk"]["decoded"]


def test_audio_first_avi_strf_not_shadowed(spark):
    # an AVI whose AUDIO strl precedes the video strl: the video strf
    # must still be found via its own 'vids' strh, so raw DIB frames
    # transcode correctly (a first-strf-wins scan would read the
    # WAVEFORMAT as a bogus BITMAPINFOHEADER)
    import struct as _s

    import numpy as np

    from agentic_doc_spark.functions.png import decode_png
    from agentic_doc_spark.functions.riff import extract_avi_frames

    def chunk(fourcc, body):
        pad = b"\x00" if len(body) & 1 else b""
        return fourcc + _s.pack("<I", len(body)) + body + pad

    h, w = 6, 9
    frame = np.full((h, w, 3), 120, dtype=np.uint8)
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = frame[:, :, [2, 1, 0]].reshape(h, w * 3)
    dib = rows[::-1].tobytes()

    strh_a = _s.pack("<4s4sI44x", b"auds", b"\x00\x00\x00\x00", 0)
    wavefmt = _s.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
    strl_a = chunk(
        b"LIST", b"strl" + chunk(b"strh", strh_a) + chunk(b"strf", wavefmt)
    )
    strh_v = _s.pack("<4s4sI44x", b"vids", b"DIB ", 0)
    strf_v = _s.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0
    )
    strl_v = chunk(
        b"LIST", b"strl" + chunk(b"strh", strh_v) + chunk(b"strf", strf_v)
    )
    avih = _s.pack("<14I", 33333, 0, 0, 0, 1, 0, 2, 0, w, h, 0, 0, 0, 0)
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih) + strl_a + strl_v)
    movi = chunk(b"LIST", b"movi" + chunk(b"00db", dib))
    body = b"AVI " + hdrl + movi
    avi = b"RIFF" + _s.pack("<I", len(body)) + body

    out = extract_avi_frames(avi)
    assert len(out) == 1
    assert (decode_png(out[0]) == frame).all()


def test_audio_one_sample_wav_zcr_zero(spark):
    from agentic_doc_spark.functions.riff import encode_wav_pcm16
    from agentic_doc_spark.operators.multimodal import extract_audio_features

    media = spark.createDataFrame(
        [("one", bytearray(encode_wav_pcm16([0.5], 16000)))],
        "media_ref string, content binary",
    )
    row = extract_audio_features(media).collect()[0]
    assert row["decoded"] and row["zero_cross_rate"] == 0.0

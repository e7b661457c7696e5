"""Multimodal column plumbing (training-data-pipeline requirement).

Images/audio/video ride as opaque BINARY columns with typed metadata
(schema.MEDIA_REFS). Image decode is REAL for PNG, baseline AND
progressive JPEG, GIF (incl. animation), BMP, TIFF and JPEG 2000 via the
pure-stdlib codecs in functions/{png,jpeg,gif,bmp,tiff,jpx}.py:
``raster_format`` sniffs the format and ``_decode_array`` dispatches on
it. Payloads outside that ladder (arithmetic/12-bit JPEG, WebP, other
formats) fall back to a deterministic fake derived from the bytes, and
every row SURFACES which path it took via the ``decoded`` flag.
Audio features are REAL for WAV/PCM payloads (functions/riff.py
parse_wav → extract_audio_features); video frame sampling is REAL for
MJPEG and raw-DIB AVIs plus animated GIFs; the
reference fills the same contract with cv2/pymupdf
(agentic_doc/utils.py:110-211, K1/K2).

All operators are Arrow row kernels (``kernel.map_arrow``) — one Arrow
batch in/out, no per-row Python at the Spark level; each batch is a
tight loop over binary payloads (unavoidable for codecs; each payload is
itself bulk work).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from agentic_doc_spark.functions import bmp, gif, jpeg, jpx, png, tiff
from agentic_doc_spark.kernel import map_arrow

#: magic-byte tests in ladder order; the first hit names the format
_RASTER_MAGIC = (
    ("tiff", tiff.is_tiff),
    ("png", png.is_png),
    ("jpeg", jpeg.is_jpeg),
    ("gif", gif.is_gif),
    # sniff_bmp, not is_bmp: the bare 'BM' magic false-positives on
    # ordinary text ("BMW sales rose ..."), which must keep the text
    # path — the strict probe validates the DIB header
    ("bmp", bmp.sniff_bmp),
    # RIFF container with WEBP form type; VP8/VP8L payload decode is
    # outside the pure-stdlib ladder, but the FILE must still route as
    # a raster document, not fall through to the utf-8 text path
    ("webp", lambda d: d[:4] == b"RIFF" and d[8:12] == b"WEBP"),
    ("jpx", jpx.is_jpx),
)

#: pure-stdlib decoder per sniffed format (WebP has none)
_DECODERS = {
    "tiff": tiff.decode_tiff,
    "png": png.decode_png,
    "jpeg": jpeg.decode_jpeg,
    "gif": gif.decode_gif,
    "bmp": bmp.decode_bmp,
    "jpx": jpx.decode_jpx,
}


def raster_format(data: bytes) -> str | None:
    """Magic-byte sniff → 'tiff' | 'png' | 'jpeg' | 'gif' | 'bmp' |
    'webp' | 'jpx', or None for everything else (text, PDF, markup).

    The ONE still-image decision: layout routing (a raster document
    vs. the text path), the ``image_media_table`` sidecar and
    ``_decode_array`` all sniff through it. Header bytes only — it
    never decodes."""
    return next((fmt for fmt, is_fmt in _RASTER_MAGIC if is_fmt(data)), None)


def _decode_array(data: bytes) -> np.ndarray | None:
    """bytes → uint8 (h, w, ch) array, or None when undecodable.

    ``raster_format`` picks the pure-stdlib codec for the sniffed format
    (functions/{png,jpeg,gif,bmp,tiff,jpx}.py, no third-party
    dependency). Bytes the sniff does not name, WebP, and any payload
    whose codec fails are None."""
    decode = _DECODERS.get(raster_format(data))
    if decode is None:
        return None
    try:
        arr = decode(data)
    except Exception:  # every codec failure means "undecodable" (R6)
        return None
    return arr[:, :, None] if arr.ndim == 2 else arr


def _decode_image(data: bytes) -> tuple[int, int, np.ndarray, bool]:
    """Decode → (width, height, 8-dim feature vector, decoded flag).

    Real path: decode (``_decode_array``) → 4×2 nearest downsample →
    per-cell channel means /255 (reference page_to_image,
    agentic_doc/utils.py:110-124). Fallback for undecodable payloads: a
    deterministic fake — dims from the byte hash, features from a seeded
    generator — keeping every downstream shape contract real."""
    arr = _decode_array(data)
    if arr is not None:
        height, width = arr.shape[:2]
        if arr.ndim == 2:
            arr = arr[:, :, None]
        # TRUE per-cell means over a 4×2 grid (every pixel contributes —
        # nearest-neighbor point samples would all land on background for
        # sparse-ink document pages, collapsing every page to the same
        # feature vector)
        ys = np.linspace(0, height, 3, dtype=np.int64)
        xs = np.linspace(0, width, 5, dtype=np.int64)
        cells = [
            arr[ys[r] : max(ys[r + 1], ys[r] + 1),
                xs[c] : max(xs[c + 1], xs[c] + 1)].mean() / 255.0
            for r in range(2)
            for c in range(4)
        ]
        feat = np.asarray(cells, dtype=np.float32)
        return width, height, feat, True
    h = hashlib.sha256(data).digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    rng = np.random.default_rng(int.from_bytes(h[2:10], "big"))
    feat = rng.standard_normal(8).astype(np.float32)
    return width, height, feat, False


_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def extract_media_features(media: DataFrame) -> DataFrame:
    """media(media_ref, content BINARY) → per-media features.

    ``decoded`` SURFACES the codec boundary per row: True = features came
    from real pixel data (``_decode_array``), False = the payload
    was undecodable and the features are the deterministic hash fake —
    downstream consumers (ANN, dedup) filter on it instead of silently
    training on fakes.

    Arrow-batched; scale path: media bytes stay columnar in parquet, the
    decode cost dominates so partitioning by file size (maxPartitionBytes)
    load-balances executors."""

    def body(refs, contents):
        rows = []
        for ref, data in zip(refs, contents):
            w, h, feat, ok = _decode_image(data or b"")
            rows.append((ref, w, h, feat.tolist(), ok))
        return rows

    return map_arrow(media, ["media_ref", "content"], _FEATURES_SCHEMA, body)


def _crop_rel_path(page, chunk_type, chunk_id, idx) -> "F.Column":
    """The one definition of a grounding crop's file name under the save
    dir, ``page_{p}/{chunk_type}_{chunk_id}_{i}.png`` (the reference
    naming, utils.py:150-156): the spec builder names the file the
    renderer writes with it, and the image_path attacher names the same
    file, so the two cannot drift apart.

    chunk_type and chunk_id derive from untrusted data (doc_id is an
    arbitrary string for parquet corpora and a filesystem path for dir
    corpora), so every character of theirs outside [A-Za-z0-9._-]
    becomes '_': a component can never introduce a path separator —
    '../' in a doc_id cannot escape the save dir, and path-shaped ids
    cannot fan out into unintended directory trees. The reference
    sidesteps this with opaque chunk ids."""
    from pyspark.sql import functions as F

    def safe(col):
        return F.regexp_replace(col.cast("string"), "[^A-Za-z0-9._-]", "_")

    return F.concat(
        F.lit("page_"), page, F.lit("/"), safe(chunk_type), F.lit("_"),
        safe(chunk_id), F.lit("_"), idx, F.lit(".png"),
    )


def grounding_crop_specs(
    parsed: DataFrame,
    page_width: int = 816,
    page_height: int = 1056,
    include_text: bool = False,
) -> DataFrame:
    """S9: the grounding-image sink, minus the raster bytes.

    Reproduces the reference's crop pipeline exactly up to the decode
    boundary (save_groundings_as_images, agentic_doc/utils.py:63-169):
    chunks explode to one row per grounding, boxes clamp and convert to
    pixel rects (F3, utils.py:193-208), and the output path follows the
    reference naming ``page_{p}/{chunk_type}_{chunk_id}_{i}.png``
    (utils.py:150-156). render_grounding_crops cuts the crops these
    specs name from the page rasters.

    Default page dims = US-letter at the reference's 96 dpi
    (agentic_doc/config.py:118-122)."""
    from pyspark.sql import functions as F

    from agentic_doc_spark.functions.geometry import box_is_valid, box_to_pixels

    g = parsed.select(
        "doc_id", F.explode("chunks").alias("c")
    ).select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.chunk_type").alias("chunk_type"),
        *([F.col("c.text").alias("text")] if include_text else []),
        F.posexplode("c.grounding").alias("grounding_idx", "g"),
    )
    px = box_to_pixels(
        F.col("g.box"), F.lit(page_width), F.lit(page_height)
    )
    return (
        g.filter(box_is_valid(F.col("g.box")))
        .select(
            "doc_id",
            F.col("g.page").alias("page"),
            "chunk_id",
            "chunk_type",
            *(["text"] if include_text else []),
            px.alias("px"),
            _crop_rel_path(
                F.col("g.page"), F.col("chunk_type"), F.col("chunk_id"),
                F.col("grounding_idx"),
            ).alias("rel_path"),
        )
    )


def attach_grounding_image_paths(parsed: DataFrame, save_dir: str) -> DataFrame:
    """Populate ``grounding.image_path`` with the exact path the crop
    renderer writes (``{save_dir}/page_{p}/{type}_{chunk_id}_{i}.png`` —
    reference save_groundings_as_images naming, agentic_doc/utils.py:
    150-156; the reference sets image_path only when a grounding save
    dir is given, parse.py:441-448). Pure in-row transform — the path is
    deterministic, so no join with the rendered crops is needed.

    image_path stays NULL for groundings the renderer would SKIP
    (invalid/degenerate boxes — the same box_is_valid predicate
    grounding_crop_specs filters on), so no path ever points at a file
    that cannot exist: render_grounding_crops writes a crop for every
    other grounding, synthesizing any page whose raster is missing or
    does not decode. NULL chunk / grounding elements pass through as
    NULL."""
    from pyspark.sql import functions as F

    from agentic_doc_spark.functions.geometry import box_is_valid

    base = save_dir.rstrip("/")

    def grounding_out(c, g, i):
        path = F.concat(
            F.lit(f"{base}/"),
            _crop_rel_path(g["page"], c["chunk_type"], c["chunk_id"], i),
        )
        new = F.struct(
            g["page"].alias("page"),
            g["box"].alias("box"),
            F.when(box_is_valid(g["box"]), path).alias("image_path"),
        )
        return F.when(g.isNotNull(), new)  # NULL element stays NULL

    chunks = F.transform(
        F.col("chunks"),
        lambda c: F.when(
            c.isNotNull(),
            F.struct(
                c["text"].alias("text"),
                F.transform(
                    c["grounding"], lambda g, i: grounding_out(c, g, i)
                ).alias("grounding"),
                c["chunk_type"].alias("chunk_type"),
                c["chunk_id"].alias("chunk_id"),
            ),
        ),
    )
    return parsed.withColumn("chunks", chunks)


def viz_crop_specs(
    specs: DataFrame, page_width: int = 816, page_height: int = 1056
) -> DataFrame:
    """K3: textual visualization — one SVG overlay per (doc, page).

    The reference draws chunk boxes onto page rasters (viz_parsed_document,
    agentic_doc/utils.py:294-414); without an imaging library the same
    information renders as an inline-SVG string: one ``<rect>`` +
    ``<text>`` label per chunk, page-sized canvas. Pure Catalyst
    (sort_array + transform + concat) over the crop specs — one narrow
    aggregation keyed by (doc_id, page), no Python."""
    from pyspark.sql import functions as F

    rect = lambda c: F.concat(  # noqa: E731
        F.lit('<rect x="'),
        c["px"]["x0"],
        F.lit('" y="'),
        c["px"]["y0"],
        F.lit('" width="'),
        c["px"]["x1"] - c["px"]["x0"],
        F.lit('" height="'),
        c["px"]["y1"] - c["px"]["y0"],
        F.lit('" class="'),
        c["chunk_type"],
        F.lit('"/><text x="'),
        c["px"]["x0"],
        F.lit('" y="'),
        c["px"]["y0"],
        F.lit('">'),
        c["chunk_id"],
        F.lit("</text>"),
    )
    per_page = specs.groupBy("doc_id", "page").agg(
        F.sort_array(
            F.collect_list(F.struct("chunk_id", "chunk_type", "px"))
        ).alias("cs")
    )
    svg = F.concat(
        F.lit(f'<svg width="{page_width}" height="{page_height}">'),
        F.array_join(F.transform(F.col("cs"), rect), ""),
        F.lit("</svg>"),
    )
    return per_page.select("doc_id", "page", svg.alias("svg"))


_CROPS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("rel_path", T.StringType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def _synth_page(cs, page_width: int, page_height: int) -> np.ndarray:
    """K1's raster half: one (page_height, page_width, 3) uint8 page
    rendered from the parsed layout itself — the in-engine stand-in for
    a PDF renderer (reference page_to_image, agentic_doc/utils.py:
    110-124, rasterizes with pypdfium2; the pure-stdlib build has no
    PDF renderer, so the page is SYNTHESIZED deterministically from the
    chunk geometry: each grounding box ``cs`` (chunk_id, chunk_type, px,
    text, … structs, sorted — chunk_id first, so that order is the
    z-order of overlapping blocks) draws a tinted bordered block and the
    chunk's ACTUAL TEXT renders inside it through the embedded 5×7
    bitmap font (functions/bitmapfont.py) — grounding crops of
    born-digital documents therefore contain legible glyph pixels, the
    closest a renderer-free build gets to the reference's pymupdf page
    render. Text-less chunks (media/figure placeholders) keep the ragged
    sha256(chunk_id)-seeded ink runs."""
    from agentic_doc_spark.functions.bitmapfont import render_wrapped

    canvas = np.full((page_height, page_width, 3), 255, np.uint8)
    for c in cs:
        px = c["px"]
        x0, y0 = int(px["x0"]), int(px["y0"])
        x1, y1 = int(px["x1"]), int(px["y1"])
        if x1 <= x0 or y1 <= y0:
            continue
        seed = hashlib.sha256(str(c["chunk_id"]).encode()).digest()
        # block background tint + 2px border
        canvas[y0:y1, x0:x1] = (
            205 + seed[0] % 50,
            215 + seed[1] % 40,
            225 + seed[2] % 30,
        )
        canvas[y0 : min(y0 + 2, y1), x0:x1] = 60
        canvas[max(y1 - 2, y0) : y1, x0:x1] = 60
        canvas[y0:y1, x0 : min(x0 + 2, x1)] = 60
        canvas[y0:y1, max(x1 - 2, x0) : x1] = 60
        text = (c["text"] or "").strip()
        if text:
            # the chunk's real text in 5×7 glyphs, wrapped
            render_wrapped(canvas, x0 + 4, y0 + 4, x1 - 3, y1 - 2, text)
            continue
        # ragged text runs: 2px dark lines, widths from the seed
        for li, y in enumerate(range(y0 + 5, y1 - 4, 7)):
            frac = 0.5 + (seed[(3 + li) % 32] % 115) / 256.0
            xe = x0 + 3 + int((x1 - x0 - 6) * min(frac, 1.0))
            canvas[y : y + 2, x0 + 3 : max(xe, x0 + 4)] = 30
    return canvas


def _page_crops(
    cs, content, page_width: int, page_height: int
) -> list[tuple[str, bytes]]:
    """One page's crops: (rel_path, PNG bytes) per grounding in ``cs``.

    The page decodes ONCE (``_decode_array``); no content, or content
    that does not decode (R6), falls back to the synthesized page
    (``_synth_page``), so every spec gets its file. Spec px live in the
    reference page space (page_width × page_height); the real page
    image may have any dimensions (scanned rasters, caller DPI), so each
    rect scales to the page array, keeping ≥1 px."""
    from agentic_doc_spark.functions.png import crop, encode_png

    arr = None if content is None else _decode_array(bytes(content))
    if arr is None:
        arr = _synth_page(cs, page_width, page_height)
    ah, aw = arr.shape[:2]
    sx, sy = aw / page_width, ah / page_height
    out = []
    for c in cs:
        px = c["px"]
        x0 = int(px["x0"] * sx)
        y0 = int(px["y0"] * sy)
        x1 = max(int(px["x1"] * sx), x0 + 1)
        y1 = max(int(px["y1"] * sy), y0 + 1)
        piece = crop(arr, x0, y0, min(x1, aw), min(y1, ah))
        if piece.size:
            out.append((c["rel_path"], encode_png(piece)))
    return out


def render_grounding_crops(
    parsed: DataFrame,
    pages: DataFrame | None = None,
    page_width: int = 816,
    page_height: int = 1056,
) -> DataFrame:
    """S9/K2 for REAL: crop PNG bytes per grounding, named exactly as the
    reference writes them (save_groundings_as_images,
    agentic_doc/utils.py:63-169: ``page_{p}/{type}_{chunk_id}_{i}.png``).

    The ONE renderer, and the reference's loop: the crop specs
    (grounding_crop_specs: geometry, clamping, naming) group by
    (doc_id, page) — the chunk_id-first sort of each group is the
    z-order of synthesized blocks — and ``pages`` (doc_id, page,
    content BINARY: renderer output, scanned rasters; optional)
    LEFT-joins on that key. One kernel row is one page, so each
    page decodes once by construction (``_page_crops``); a page with no
    raster, or whose raster does not decode, is synthesized from the
    layout (``_synth_page``) — every valid grounding gets its crop, the
    exact set attach_grounding_image_paths names. Plan shape: one
    map-side-combinable groupBy (groups are page-sized) plus, with
    ``pages``, one equi-join on (doc_id, page) — both sides partition
    on the same key at any scale, no broadcast assumption; canvas
    memory is one page (~2.6 MB) at a time per worker."""
    from pyspark.sql import functions as F

    specs = grounding_crop_specs(
        parsed, page_width, page_height, include_text=True
    )
    per_page = specs.groupBy("doc_id", "page").agg(
        F.sort_array(
            # chunk_id leads the struct, so sort order (and thus z-order
            # of overlapping blocks) is unchanged by the trailing fields
            F.collect_list(
                F.struct("chunk_id", "chunk_type", "px", "text", "rel_path")
            )
        ).alias("cs")
    )
    if pages is None:
        per_page = per_page.withColumn("content", F.lit(None).cast("binary"))
    else:
        per_page = per_page.join(
            pages.select("doc_id", "page", "content"), ["doc_id", "page"], "left"
        )

    def body(doc_ids, css, contents):
        return [
            (doc_id, rel, png)
            for doc_id, cs, data in zip(doc_ids, css, contents)
            for rel, png in _page_crops(cs, data, page_width, page_height)
        ]

    return map_arrow(per_page, ["doc_id", "cs", "content"], _CROPS_SCHEMA, body)


def write_grounding_images(crops: DataFrame, save_dir: str) -> None:
    """Materialize rendered crops as files: ``{save_dir}/{rel_path}`` —
    the exact paths attach_grounding_image_paths put in
    ``grounding.image_path``. Executor-side foreachPartition (no
    driver collect); ``save_dir`` must be storage every executor can
    reach (local fs in local mode, NFS/object-store mount on a
    cluster)."""
    base = save_dir.rstrip("/")

    def write_part(rows) -> None:
        import os

        root = os.path.realpath(base)
        for row in rows:
            out = f"{base}/{row['rel_path']}"
            # grounding_crop_specs sanitizes every untrusted component,
            # so this guard only fires on a hand-built crops frame — but
            # escaping save_dir must be impossible, not merely unlikely
            real = os.path.realpath(out)
            if real != root and not real.startswith(root + os.sep):
                raise ValueError(
                    f"grounding rel_path escapes save_dir: {row['rel_path']!r}"
                )
            os.makedirs(os.path.dirname(out), exist_ok=True)
            tmp = f"{out}.part"
            with open(tmp, "wb") as f:
                f.write(bytes(row["content"]))
            os.replace(tmp, out)  # publish whole files only

    crops.foreachPartition(write_part)


_RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def resize_media(media: DataFrame, width: int = 224, height: int = 224) -> DataFrame:
    """Resize images to a fixed training shape (media_ref, width, height,
    content). REAL path: decode (``_decode_array``) →
    nearest-neighbor resize → PNG re-encode; fallback for undecodable
    payloads: a deterministic sha-derived payload of the target shape so
    batching/schema stay production-shaped.

    Scale: one row kernel over binary parquet — decode dominates, so
    partitioning by file size (maxPartitionBytes) load-balances; output
    bytes are bounded by the target shape, not the input."""
    from agentic_doc_spark.functions.png import encode_png, resize_nearest

    def resized(b: bytes) -> bytes:
        arr = _decode_array(b)
        if arr is not None:
            return encode_png(resize_nearest(arr, width, height))
        # deterministic fake, bounded size
        seed = hashlib.sha256(b).digest()
        reps = (width * height * 3) // len(seed) + 1
        return (seed * reps)[: width * height * 3]

    def body(refs, contents):
        return [
            (ref, width, height, resized(data or b""))
            for ref, data in zip(refs, contents)
        ]

    return map_arrow(media, ["media_ref", "content"], _RESIZED_SCHEMA, body)


_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("frame_sha", T.StringType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def sample_frames(media: DataFrame, every_n: int = 10) -> DataFrame:
    """video(media_ref, content) → every Nth frame's row.

    REAL path for MJPEG AVIs (the classic zero-dependency layout):
    functions/riff.py demuxes the ``movi`` chunks, every_n-th frame's
    JPEG payload decodes through functions/jpeg.py for true dims, and
    frame_sha fingerprints the raw frame bytes. Payloads that are not a
    demuxable AVI keep the previous deterministic byte-slice contract
    with ``decoded=False`` — the same surfaced boundary as
    extract_media_features."""
    from agentic_doc_spark.functions.riff import extract_avi_frames

    def sha16(b: bytes) -> str:
        return hashlib.sha256(b).hexdigest()[:16]

    def frame_rows(ref, b: bytes) -> list[tuple]:
        frames = extract_avi_frames(b)
        if frames:
            rows = []
            for i in range(0, len(frames), every_n):
                arr = _decode_array(frames[i])
                h, w = arr.shape[:2] if arr is not None else (0, 0)
                rows.append((ref, i, int(w), int(h), sha16(frames[i]), arr is not None))
            return rows
        if gif.is_gif(b):
            try:
                # stride retains only the sampled frames: every frame is
                # still COMPOSED (disposal semantics), but memory holds
                # n/every_n canvases, not n
                composed = gif.gif_frames(b, stride=every_n)
            except Exception:
                composed = []
            if composed:
                return [
                    (ref, i * every_n, a.shape[1], a.shape[0], sha16(a.tobytes()), True)
                    for i, a in enumerate(composed)
                ]
        # non-AVI/GIF payload: deterministic fake slices, surfaced
        n_frames = max(1, len(b) // 256)
        return [
            (ref, i, 0, 0, sha16(b[i * 256 : (i + 1) * 256]), False)
            for i in range(0, n_frames, every_n)
        ]

    def body(refs, contents):
        return [
            row
            for ref, data in zip(refs, contents)
            for row in frame_rows(ref, data or b"")
        ]

    return map_arrow(media, ["media_ref", "content"], _FRAME_SCHEMA, body)


_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("zero_cross_rate", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """audio(media_ref, content BINARY) → per-clip features: sample rate,
    channels, duration, RMS energy, zero-crossing rate, peak amplitude.

    REAL path for WAV/PCM payloads (functions/riff.py::parse_wav — pure
    stdlib, 8/16-bit integer and float32, multi-channel downmixed);
    other codecs (mp3/ogg/flac need decoders this container lacks) take
    the deterministic hash fake with ``decoded=False`` — the same
    surfaced boundary as the image/video operators. One row kernel over
    binary parquet; decode dominates, so size-based partitioning
    (maxPartitionBytes) load-balances."""
    from agentic_doc_spark.functions.riff import parse_wav

    def features(ref, b: bytes) -> tuple:
        w = parse_wav(b)
        if w is not None and len(w["samples"]):
            x = w["samples"]
            sr = w["sample_rate"]
            zc = (
                float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
                if len(x) > 1
                else 0.0  # a 1-sample clip has no crossings
            )
            rms = float(np.sqrt(np.mean(x * x)))
            peak = float(np.max(np.abs(x)))
            return (ref, sr, w["channels"], len(x) / sr, rms, zc, peak, True)
        # deterministic fake, surfaced
        seed = hashlib.sha256(b).digest()
        fake = (seed[0] % 60 + 1.0, seed[1] / 512.0, seed[2] / 512.0, seed[3] / 256.0)
        return (ref, 16000, 1, *fake, False)

    def body(refs, contents):
        return [features(ref, data or b"") for ref, data in zip(refs, contents)]

    return map_arrow(media, ["media_ref", "content"], _AUDIO_SCHEMA, body)


def strip_media_boilerplate(
    docs: DataFrame,
    max_doc_freq: int,
    key=None,
    spans_col: str = "spans",
    id_col: str = "doc_id",
    max_hot_keys: int = 100_000,
) -> DataFrame:
    """Image-boilerplate removal for INTERLEAVED text+media corpora:
    drop media spans whose content key appears in MORE than
    ``max_doc_freq`` distinct documents — the multimodal analog of text
    boilerplate stripping (logos, nav icons, tracking pixels repeated
    across a crawl; the cleanup step interleaved-pretraining corpora
    like OBELICS apply, public method). Text spans are untouched;
    surviving spans keep their original array order and offsets, so the
    interleaved T/M layout every downstream consumer orders by is
    preserved.

    ``key`` maps a span struct Column to its content key (default: the
    ``media_ref`` itself; a production pipeline passes a bytes-hash —
    e.g. ``lambda s: F.xxhash64(s["content"])`` after joining the media
    table, or a perceptual hash column).

    Plan shape: ONE map-side-combinable count-distinct aggregation over
    media spans (keys × docs), then the hot set — bounded above by
    total_media_spans / max_doc_freq keys, i.e. small for any sane
    threshold — collects to an array LITERAL and the span rewrite is a
    pure in-row ``filter``: zero exchanges over the corpus at rewrite
    time, no join, no re-collect of span arrays. ``max_hot_keys`` guards
    a misconfigured threshold (hot set no longer "boilerplate-sized")
    with a clear error instead of a silent giant literal."""
    from pyspark.sql import functions as F

    def is_media(s):
        return s["media_ref"].isNotNull() & (s["media_ref"] != "")

    if key is None:
        key = lambda s: s["media_ref"]  # noqa: E731

    ex = docs.select(F.col(id_col), F.explode(spans_col).alias("s"))
    freq = (
        ex.filter(is_media(F.col("s")))
        .groupBy(key(F.col("s")).alias("k"))
        .agg(F.countDistinct(id_col).alias("df"))
    )
    hot_rows = freq.filter(F.col("df") > int(max_doc_freq)).collect()
    if len(hot_rows) > max_hot_keys:
        raise ValueError(
            f"strip_media_boilerplate: {len(hot_rows)} keys exceed "
            f"doc-frequency {max_doc_freq} (cap {max_hot_keys}) — the "
            "threshold matches far more than boilerplate; raise "
            "max_doc_freq or pre-bucket the keys"
        )
    hot = sorted(str(r["k"]) for r in hot_rows if r["k"] is not None)
    if not hot:
        return docs
    # NULL keys (e.g. an undecodable image's hash) must KEEP the span:
    # array_contains(..., NULL) is NULL and a bare ~NULL predicate would
    # silently drop exactly the spans that are NOT boilerplate
    keep = lambda s: ~F.coalesce(  # noqa: E731
        is_media(s) & F.array_contains(F.lit(hot), key(s).cast("string")),
        F.lit(False),
    )
    return docs.withColumn(spans_col, F.filter(F.col(spans_col), keep))

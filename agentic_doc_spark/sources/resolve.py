"""S1: universal input dispatch — the Spark twin of parse()'s input
resolution (agentic_doc/parse.py:49-163).

The reference routes bytes / str / Path / URL / connector / list into a
document list; here every route lands on a DataFrame:

- parquet/table of (doc_id, spans)  → read as-is (the canonical corpus)
- directory of raw files            → binaryFile reader + magic sniff (P1)
- raw bytes                         → one-row binary DataFrame (S6)
- list of paths                     → binaryFile over the list

Raw-binary routes produce ``(doc_id, content BINARY, doc_type)``, which
``sources/layout.layout_parse`` turns into ``(doc_id, spans)``.
"""

from __future__ import annotations

from pathlib import Path
from typing import Iterable, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from agentic_doc_spark.schema import DOCUMENTS_RAW

#: admitted raw-file extensions (reference keeps ~35,
#: agentic_doc/connectors.py:72-111; engine core needs the doc types)
VALID_EXTENSIONS = (
    "pdf", "png", "jpg", "jpeg", "tiff", "tif", "bmp", "gif", "webp", "html",
    "htm", "txt", "md",
)

DocumentsInput = Union[str, Path, bytes, Iterable[Union[str, Path]], DataFrame]


def sniff_doc_type(content_col: F.Column) -> F.Column:
    """P1: magic-byte sniff — first 5 bytes '%PDF-' → pdf, else image
    (agentic_doc/utils.py:45-60). Pure JVM expression over BINARY."""
    head = F.substring(content_col, 1, 5)
    return F.when(
        head == F.lit(b"%PDF-"), F.lit("pdf")
    ).otherwise(F.lit("image"))


def read_binary_dir(
    spark: SparkSession,
    path: str,
    pattern: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """S2: local/remote dir scan via the binaryFile source. The SAME call
    handles s3a:// buckets (S3, agentic_doc/connectors.py:355-451) — no
    custom connector code is needed on Spark. Extension filtering is
    pushed into the reader (P4) so non-matching files are never opened."""
    glob = pattern or ("*.{" + ",".join(VALID_EXTENSIONS) + "}")
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path)
    )
    return df.select(
        F.col("path").alias("doc_id"),
        F.col("content"),
        sniff_doc_type(F.col("content")).alias("doc_type"),
    )


def read_bytes(spark: SparkSession, data: bytes, doc_id: str = "bytes-0") -> DataFrame:
    """S6: raw bytes → one-document DataFrame (agentic_doc/parse.py:193-198)."""
    df = spark.createDataFrame(
        [(doc_id, bytearray(data))], "doc_id string, content binary"
    )
    return df.withColumn("doc_type", sniff_doc_type(F.col("content")))


def _is_parquet_corpus(p: str) -> bool:
    """Canonical-corpus detection: a ``*.parquet`` path OR a parquet
    DIRECTORY (the normal ``df.write.parquet()`` layout). Remote URIs are
    detected by extension only; pass ``format='parquet'`` to force.

    A directory routes to the parquet reader only when it contains
    parquet data files AND no admitted raw-document files — a raw corpus
    with one stray ``report.parquet`` (or a ``_SUCCESS`` marker from a
    non-parquet Spark write) must still take the binary-ingest route."""
    if p.endswith(".parquet"):
        return True
    d = Path(p)
    if not d.is_dir():  # remote URI or plain file
        return False
    has_parquet = any(d.glob("*.parquet"))
    if not has_parquet:
        return False
    raw_exts = tuple(f".{e}" for e in VALID_EXTENSIONS)
    has_raw = any(
        f.suffix.lower() in raw_exts for f in d.iterdir() if f.is_file()
    )
    return not has_raw


def resolve(spark: SparkSession, documents: DocumentsInput, **options) -> DataFrame:
    """The dispatch itself (parse.py:140-163 twin). Returns either the
    canonical (doc_id, spans) frame or a raw (doc_id, content, doc_type)
    frame, by input type."""
    if isinstance(documents, DataFrame):
        return documents
    if isinstance(documents, bytes):
        return read_bytes(spark, documents)
    if isinstance(documents, (str, Path)):
        p = str(documents)
        if options.pop("format", None) == "parquet" or _is_parquet_corpus(p):
            # validate the ACTUAL parquet schema before forcing
            # DOCUMENTS_RAW onto it — a forced schema null-fills missing
            # columns, so an arbitrary parquet dataset would silently
            # yield all-null doc_id/spans instead of an error. Footer
            # read only (no data scan).
            actual = spark.read.parquet(p)
            missing = [
                f.name for f in DOCUMENTS_RAW.fields
                if f.name not in actual.columns
            ]
            if missing:
                raise ValueError(
                    f"parquet input at {p!r} is not a documents_raw corpus: "
                    f"missing column(s) {missing} (found {actual.columns}); "
                    "expected (doc_id string, spans array<struct<kind,text,"
                    "media_ref,offset>>)"
                )
            # exact columns or superset (e.g. extraction_payload riding
            # along): EITHER way coerce the canonical columns to
            # DOCUMENTS_RAW types BY FIELD NAME (a whole-struct cast is
            # positional — a foreign writer's alphabetized span struct
            # would silently scramble kind/text/media_ref/offset; and a
            # forced-schema read would silently NULL-fill missing nested
            # span fields, the exact failure this validation exists to
            # prevent); an incompatible shape raises here, not mid-job
            known = {f.name for f in DOCUMENTS_RAW.fields}
            from pyspark.errors import AnalysisException

            span = lambda s: F.struct(  # noqa: E731
                s["kind"].cast("string").alias("kind"),
                s["text"].cast("string").alias("text"),
                s["media_ref"].cast("string").alias("media_ref"),
                s["offset"].cast("int").alias("offset"),
            )
            try:
                canonical_spans = F.transform(F.col("spans"), span).cast(
                    # normalize containsNull after the (name-safe,
                    # already-ordered) per-field coercion above
                    DOCUMENTS_RAW["spans"].dataType
                )
                out = actual.select(
                    F.col("doc_id").cast("string").alias("doc_id"),
                    canonical_spans.alias("spans"),
                    *[c for c in actual.columns if c not in known],
                )
                out.schema  # force analysis so shape errors surface NOW
                return out
            except AnalysisException as ex:
                raise ValueError(
                    f"parquet input at {p!r} has doc_id/spans columns whose "
                    f"shape cannot coerce to the documents_raw schema: {ex}"
                ) from ex
        return read_binary_dir(spark, p, **options)
    if isinstance(documents, Iterable):
        paths = [str(x) for x in documents]
        if not paths:  # P7: empty-input short-circuit (parse.py:115-117)
            return spark.createDataFrame([], DOCUMENTS_RAW)
        df = spark.read.format("binaryFile").load(paths)
        return df.select(
            F.col("path").alias("doc_id"),
            "content",
            sniff_doc_type(F.col("content")).alias("doc_type"),
        )
    raise TypeError(f"unsupported documents input: {type(documents)}")


def is_valid_httpurl(url: str) -> bool:
    """F5: URL scheme check (agentic_doc/utils.py:456-462 twin)."""
    from urllib.parse import urlparse

    try:
        return urlparse(url).scheme in ("http", "https")
    except ValueError:
        return False


def _safe_name(name: str) -> str:
    """Staging-filename sanitizer: path separators and control chars from
    untrusted names (URL basenames, Drive file ids) must not escape the
    staging directory."""
    import re

    return re.sub(r"[^A-Za-z0-9._-]", "_", name)[:128] or "download"


#: glob admitting only stager-created files (six-digit index prefix) —
#: the read-side twin of _clean_staging's write-side ownership rule
_STAGED_GLOB = "[0-9][0-9][0-9][0-9][0-9][0-9]_*"


def _clean_staging(dest: str) -> None:
    """Remove ONLY files the stager itself creates — the ``NNNNNN_*``
    staged names and ``*.part`` leftovers of a hard-killed run. A
    caller-supplied staging_dir may contain unrelated pre-existing files;
    an rmtree of an arbitrary user path would silently delete them."""
    import re

    d = Path(dest)
    if not d.is_dir():
        return
    staged = re.compile(r"^\d{6}_")
    for f in d.iterdir():
        if f.is_file() and (staged.match(f.name) or f.name.endswith(".part")):
            try:
                f.unlink()
            except OSError:
                pass


def stage_urls(
    urls: Iterable[str], dest_dir: str, timeout: float = 30.0
) -> list[str]:
    """S5: driver-side URL staging (the Spark twin of the reference's
    download_file loop, agentic_doc/connectors.py:454-517 +
    utils.py:433-453). Each URL is fetched into ``dest_dir`` and the
    staged paths are returned; a failed download is SKIPPED, not fatal
    (R6 — reference parse.py:183-190 skips failed downloads the same
    way). Scheme-gated by is_valid_httpurl (F5); ``file://`` is admitted
    for tests/local mirrors.

    Scale note: staging is inherently driver-side I/O (the reference does
    the same); for large URL lists, stage to object storage and point
    read_binary_dir at the bucket instead."""
    import shutil
    import urllib.request
    from urllib.parse import urlparse

    import os

    os.makedirs(dest_dir, exist_ok=True)
    staged: list[str] = []
    for i, url in enumerate(urls):
        if not (is_valid_httpurl(url) or url.startswith("file://")):
            continue
        name = _safe_name(Path(urlparse(url).path).name or "download")
        out = str(Path(dest_dir) / f"{i:06d}_{name}")
        tmp = out + ".part"
        try:
            with urllib.request.urlopen(url, timeout=timeout) as r:
                with open(tmp, "wb") as f:
                    shutil.copyfileobj(r, f)
            os.replace(tmp, out)  # publish only complete downloads
            staged.append(out)
        except Exception:  # R6: skip-and-continue, no partial file left
            try:
                os.unlink(tmp)
            except OSError:
                pass
            continue
    return staged


#: config keys whose values must never reach logs (F8 — the reference
#: redacts its API key the same way, agentic_doc/utils.py logging filter)
_SECRET_KEY_RE = None


def redact_config(config: dict) -> dict:
    """F8: credential redaction for connector configs — any key that looks
    like a secret (api key / access key / token / secret / password /
    credential / authorization / bearer) is masked before the config is
    logged or embedded in lineage/run metadata. Recurses into nested
    dicts AND lists."""
    import re

    global _SECRET_KEY_RE
    if _SECRET_KEY_RE is None:
        _SECRET_KEY_RE = re.compile(
            r"(?i)(api[_-]?key|access[_-]?key|token|secret|passw(or)?d"
            r"|credential|authorization|bearer|session[_-]?key)"
        )

    def _redact_value(key: str, v):
        if isinstance(v, dict):
            return redact_config(v)
        if isinstance(v, (list, tuple)):
            return type(v)(_redact_value(key, x) for x in v)
        if _SECRET_KEY_RE.search(key) and isinstance(v, str) and v:
            return v[:2] + "***" if len(v) > 4 else "***"
        return v

    return {k: _redact_value(str(k), v) for k, v in config.items()}


def create_connector(config: dict) -> dict:
    """S7: connector factory — type string → Spark reader options
    (agentic_doc/connectors.py:520-533 twin). Returns a reader-spec dict
    (path, pattern, recursive) whose keys are read_binary_dir's
    arguments: ``read_binary_dir(spark, **spec)``. Nothing in resolve or
    parse() consumes the dict; parse() takes ``connector_path`` and
    ``connector_pattern`` instead."""
    kind = config.get("connector_type")
    if kind == "local":
        return {
            "path": config["path"],
            "pattern": config.get("pattern"),
            "recursive": bool(config.get("recursive", False)),
        }
    if kind == "s3":
        return {
            "path": f"s3a://{config['bucket_name']}/{config.get('prefix', '')}",
            "pattern": config.get("pattern"),
            "recursive": True,
        }
    if kind == "url":
        # driver-side staging (S5), then the ordinary binary dir scan —
        # staged names carry an index prefix, so no extension assumption.
        # Stale STAGED files from prior runs (NNNNNN_* and .part
        # leftovers of a hard-killed stager) are removed first; unrelated
        # pre-existing files in a caller-supplied staging_dir survive.
        import tempfile

        dest = config.get("staging_dir") or tempfile.mkdtemp(
            prefix="agentic_doc_url_stage_"
        )
        _clean_staging(dest)
        stage_urls(
            config.get("urls", []), dest, timeout=config.get("timeout", 30.0)
        )
        # default pattern admits ONLY stager-created names: unrelated
        # pre-existing files in a caller-supplied staging_dir survive the
        # cleanup above AND must not be swept into the corpus
        return {
            "path": dest,
            "pattern": config.get("pattern") or _STAGED_GLOB,
            "recursive": False,
        }
    if kind == "google_drive":
        # S4: same driver-side staging shape as URL (reference
        # connectors.py:221-352). The Drive API client is injected as
        # ``fetcher(file_id) -> bytes`` — OAuth flows are driver-side and
        # environment-specific, so the connector owns staging + R6
        # skip-on-failure while the caller owns auth.
        import tempfile

        fetcher = config.get("fetcher")
        if fetcher is None:
            raise NotImplementedError(
                "google_drive needs a fetcher(file_id) -> bytes callable "
                "(e.g. googleapiclient files().get_media) — OAuth is "
                "driver-side; staging/skip semantics are handled here"
            )
        dest = config.get("staging_dir") or tempfile.mkdtemp(
            prefix="agentic_doc_gdrive_stage_"
        )
        import os

        _clean_staging(dest)  # stale staged files only; user files survive
        os.makedirs(dest, exist_ok=True)
        for i, file_id in enumerate(config.get("file_ids", [])):
            try:
                data = fetcher(file_id)
                out_name = f"{i:06d}_{_safe_name(str(file_id))}"
                with open(str(Path(dest) / out_name), "wb") as f:
                    f.write(data)
            except Exception:  # R6: skip-and-continue
                continue
        return {
            "path": dest,
            "pattern": config.get("pattern") or _STAGED_GLOB,
            "recursive": False,
        }
    raise ValueError(f"unknown connector_type: {kind}")

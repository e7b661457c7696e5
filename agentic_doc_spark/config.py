"""Engine settings + SparkSession factory.

Mirrors the reference Settings (agentic_doc/config.py:85-148): split_size=10
(≤100), extraction_split_size=50, batch/worker knobs become Spark parallelism
config. Designed for a 1000-executor cluster; local[] for tests.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class Settings:
    """Pipeline knobs, same defaults/bounds as the reference.

    - split_size: pages per part (reference agentic_doc/config.py:123-128,
      asserted 0 < split_size <= 100 in agentic_doc/utils.py:229-231).
    - extraction_split_size: max pages when field extraction is enabled
      (agentic_doc/config.py:129-134, guard agentic_doc/parse.py:483-498).
    - spans_per_page: fixture constant deriving page_no = offset //
      spans_per_page (FIXTURES.md §1).
    - include_marginalia / include_metadata_in_markdown: the two analysis
      flags (agentic_doc/parse.py:60-61).
    - strip_boilerplate: north-rule HTML boilerplate strip (no reference
      analog).

    Mega-document skew needs no salt knob: extraction is row-local
    (arrow_engine.py), so a mega-document is one row — a 1000-page doc is
    a few hundred KB inside one Arrow batch — and no shuffle key exists
    to salt.
    """

    split_size: int = 10
    extraction_split_size: int = 50
    spans_per_page: int = 4
    include_marginalia: bool = True
    include_metadata_in_markdown: bool = True
    strip_boilerplate: bool = True

    def __post_init__(self) -> None:
        if not (0 < self.split_size <= 100):
            raise ValueError("split_size must be in (0, 100]")
        if not (0 < self.extraction_split_size <= 50):
            raise ValueError("extraction_split_size must be in (0, 50]")
        if self.spans_per_page <= 0:
            raise ValueError("spans_per_page must be positive")


DEFAULT_SETTINGS = Settings()


def build_spark(
    app_name: str = "agentic-doc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """SparkSession tuned for the extraction workload.

    Scale-aware defaults: AQE on (runtime coalescing + skew splitting),
    Arrow on (pandas UDF batches), shuffle partitions sized to cores
    locally (a real cluster overrides via spark-submit conf).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if master.startswith("local["):
        try:
            local_threads = int(master[len("local[") : -1].replace("*", "0")) or cpus
        except ValueError:
            local_threads = cpus
    else:
        local_threads = cpus
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
    )
    # Arrow batch size scales INVERSELY with parallelism so the aggregate
    # Python-worker working set stays constant: measured on this box
    # (BENCH/BASELINE.md §attribution sweep), 10k-record batches at 32
    # workers saturate shared memory (8→32 efficiency 0.217, NEGATIVE
    # absolute scaling) while 2k batches reach 0.74 — the pure-JVM control
    # ceiling. At low parallelism bigger batches amortize IPC better.
    arrow_batch = max(1024, 65536 // max(local_threads, 1))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # reliable-checkpoint files (iterative ops, dedup._truncate_lineage)
        # are garbage-collected with their DataFrames on long-lived drivers
        # instead of accumulating forever (default is false)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    # Shuffle files on tmpfs in LOCAL mode: this box's disk-backed /tmp
    # is the shared bottleneck for every shuffle (measured: a 320k-row
    # round-robin repartition at local[32] took 1.52 s via /tmp vs
    # 0.55 s via /dev/shm — shuffle-heavy operators anti-scaled with
    # thread count). A real cluster configures per-node spark.local.dir
    # (NVMe) in spark-submit conf, which overrides this local default.
    shm = "/dev/shm"
    if (
        master.startswith("local")
        and "spark.local.dir" not in (extra_conf or {})
        and os.access(shm, os.W_OK)
    ):
        d = os.path.join(shm, "spark-local")
        try:
            os.makedirs(d, exist_ok=True)
            b = b.config("spark.local.dir", d)
        except OSError:
            pass
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to Python workers (the local-mode equivalent of
    ``spark-submit --py-files``). Without it, the Arrow kernels fail
    with ModuleNotFoundError whenever the driver's cwd isn't the repo
    root — workers unpickle kernel closures by module reference."""
    zip_path = _package_zip(Path(__file__).resolve().parent)
    spark.sparkContext.addPyFile(str(zip_path))


def _package_zip(pkg_dir: Path) -> Path:
    """Zip ``pkg_dir``'s ``*.py`` files into the temp dir under a name
    derived from their paths and bytes.

    Sessions started from different checkouts get different zips, so one
    can never overwrite the code another's workers import. The zip is
    written to a private temp file and moved into place with
    ``os.replace``, so a reader sees either no zip or a complete one; an
    existing zip of the same content is reused as is."""
    import hashlib
    import tempfile
    import zipfile

    files = [
        (f.relative_to(pkg_dir).as_posix(), f.read_bytes())
        for f in sorted(pkg_dir.rglob("*.py"))
    ]
    h = hashlib.sha256()
    for rel, data in files:
        h.update(f"{rel}\0{len(data)}\0".encode())
        h.update(data)
    out_dir = Path(tempfile.gettempdir())
    zip_path = out_dir / f"agentic_doc_spark_pyfiles-{h.hexdigest()[:16]}.zip"
    if zip_path.exists():
        return zip_path
    fd, tmp = tempfile.mkstemp(dir=out_dir, suffix=".zip.tmp")
    try:
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as zf:
            for rel, data in files:
                zf.writestr(f"agentic_doc_spark/{rel}", data)
        os.chmod(tmp, 0o644)  # mkstemp's 0600 would lock out other users
        os.replace(tmp, zip_path)
    except BaseException:
        os.unlink(tmp)
        raise
    return zip_path

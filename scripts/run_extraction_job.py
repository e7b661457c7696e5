"""The production job entry point — what `spark-submit --py-files` runs.

    spark-submit --py-files agentic_doc_spark.zip \
        scripts/run_extraction_job.py \
        --input  <documents_raw parquet/table path> \
        --output <parsed table path> \
        --metrics <extraction_metrics table path> \
        --run-id r42 [--split-size 10]

Resume-aware: on restart the anti-join against the metrics table skips
every completed document (operators/lineage.py). The input snapshot id is
derived from the input file set via the catalog shim (Iceberg's native
snapshot id on a real catalog).
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--metrics", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--split-size", type=int, default=10)
    ap.add_argument(
        "--include-marginalia",
        action=argparse.BooleanOptionalAction,
        default=True,
        help="--no-include-marginalia drops marginalia spans",
    )
    ap.add_argument("--no-strip-boilerplate", action="store_true")
    ap.add_argument(
        "--sink",
        default="parquet",
        choices=["parquet", "noop"],
        help="noop = execute the full extraction but discard rows "
        "(compute-only benchmarking; skips resume/lineage)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from agentic_doc_spark.config import Settings, _ship_package
    from agentic_doc_spark.operators.lineage import run_with_resume
    from agentic_doc_spark.pipeline import extract
    from agentic_doc_spark.schema import DOCUMENTS_RAW
    from agentic_doc_spark.sources.catalog import Catalog

    # under spark-submit the session comes preconfigured from the CLI;
    # getOrCreate attaches to it (local fallback for ad-hoc runs)
    spark = SparkSession.builder.appName(
        f"agentic-doc-extract-{args.run_id}"
    ).getOrCreate()
    _ship_package(spark)
    # adaptive Arrow batch size (see build_spark / BENCH/BASELINE.md
    # attribution sweep): constant aggregate worker working set — fixed
    # 10k batches at 32 workers measured NEGATIVE absolute scaling
    cores = max(spark.sparkContext.defaultParallelism, 1)
    spark.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        str(max(1024, 65536 // cores)),
    )

    settings = Settings(
        split_size=args.split_size,
        include_marginalia=args.include_marginalia,
        strip_boilerplate=not args.no_strip_boilerplate,
    )

    cat = Catalog(str(Path(args.input).parent))
    snapshot = cat.snapshot_id(Path(args.input).name)

    import time

    raw = spark.read.schema(DOCUMENTS_RAW).parquet(args.input)
    if args.sink == "noop":
        # compute-only benchmark mode: warm the codegen/JIT path first,
        # then report the min of two timed executions — measures
        # steady-state throughput, not Janino compile time (same
        # methodology as scripts/scaling_bench.py)
        extract(raw.limit(1000), settings).write.mode("overwrite").format(
            "noop"
        ).save()
        walls = []
        for _ in range(2):
            t0 = time.perf_counter()
            extract(raw, settings).write.mode("overwrite").format("noop").save()
            walls.append(time.perf_counter() - t0)
        n = raw.count()
        print(
            f"run_id={args.run_id} snapshot={snapshot} docs_extracted={n} "
            f"wall_sec={min(walls):.2f}"
        )
        return
    # output is written INSIDE run_with_resume, before the lineage append —
    # a crash mid-run re-extracts (at-least-once) instead of losing docs
    t0 = time.perf_counter()
    parsed = run_with_resume(
        spark,
        raw,
        args.metrics,
        args.run_id,
        snapshot,
        lambda df: extract(df, settings),
        output_path=args.output,
    )
    n = parsed.count()
    wall = time.perf_counter() - t0
    print(
        f"run_id={args.run_id} snapshot={snapshot} docs_extracted={n} "
        f"wall_sec={wall:.2f}"
    )


if __name__ == "__main__":
    main()

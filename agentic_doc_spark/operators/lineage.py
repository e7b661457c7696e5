"""Per-partition lineage + exact resume (north rule R7/J2; FIXTURES.md §5).

The reference re-runs idempotently by writing timestamped JSON
(agentic_doc/parse.py:453-467); at 10^12-document scale that is replaced by
an append-only ``extraction_metrics`` table and an anti-join restart:

    restart input = documents_raw LEFT ANTI JOIN completed doc_ids

Checksums are hierarchical so no unbounded string ever materializes:
per-doc checksum = sha256 over that doc's ordered span tuples (computed
inside the row, bounded by doc size), partition checksum = sha256 of the
sorted per-doc checksums. The metrics table is parquet here (Iceberg's
snapshot id degrades to a caller-supplied string — SURVEY.md §7.3 sandbox
note); on a real cluster the writer is `format("iceberg")` with the same
schema.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _per_doc_checksums(parsed: DataFrame) -> DataFrame:
    """(partition_id, doc_id, n_spans, doc_checksum) via a mapInArrow
    kernel: vectorized string assembly (pandas C ops) + hashlib sha256.
    doc_checksum = sha256 hex of the doc's spans in order, one line per
    span (doc_id, offset, kind, text, media_ref joined by '\\x1f', NULL
    as ''), lines joined by '\\x1e'.

    An expression form (sha2 inside an interpreted HOF) measured 8×
    SLOWER at 32 threads than at 8 on the same data — MessageDigest and
    HOF allocation contend under high thread counts (BENCH/BASELINE.md
    spark-submit section). Heavy per-row hashing belongs in a kernel."""
    import hashlib

    import pyarrow as pa
    import pyarrow.compute as pc

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np

        for batch in batches:
            if not batch.num_rows:
                continue
            pids = batch.column("partition_id")
            doc_ids = batch.column("doc_id")
            spans = batch.column("spans")
            if isinstance(spans, pa.ChunkedArray):
                spans = spans.combine_chunks()
            lengths = np.asarray(
                pc.list_value_length(spans)
                .fill_null(0)
                .to_numpy(zero_copy_only=False),
                dtype=np.int64,
            )
            flat = spans.flatten()
            # single-pass C++ string assembly (no pandas concat chain —
            # that allocated one 5M-row intermediate per operand)
            did = pc.take(doc_ids, pa.array(pc.list_parent_indices(spans)))
            line = pc.binary_join_element_wise(
                did,
                pc.cast(flat.field("offset"), pa.string()),
                pc.fill_null(flat.field("kind"), ""),
                pc.fill_null(flat.field("text"), ""),
                pc.fill_null(flat.field("media_ref"), ""),
                "\x1f",
            )
            offsets = pa.array(
                np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
            )
            per_doc = pc.binary_join(
                pa.ListArray.from_arrays(offsets, line), "\x1e"
            )
            if per_doc.offset == 0 and per_doc.null_count == 0:
                # hash straight off the utf-8 value buffer — no Python
                # string materialization
                bufs = per_doc.buffers()
                voff = np.frombuffer(
                    bufs[1], dtype=np.int32, count=len(per_doc) + 1
                )
                data = memoryview(bufs[2]) if bufs[2] is not None else memoryview(b"")
                sums = [
                    hashlib.sha256(data[voff[i] : voff[i + 1]]).hexdigest()
                    for i in range(len(per_doc))
                ]
            else:  # sliced/nullable fallback, identical bytes
                sums = [
                    hashlib.sha256(
                        (s.as_py() or "").encode("utf-8")
                    ).hexdigest()
                    for s in per_doc
                ]
            yield pa.RecordBatch.from_arrays(
                [
                    pids,
                    doc_ids,
                    pa.array(lengths, pa.int64()),
                    pa.array(sums, pa.string()),
                ],
                names=["partition_id", "doc_id", "n_spans", "doc_checksum"],
            )

    with_pid = parsed.select(
        F.spark_partition_id().alias("partition_id"), "doc_id", "spans"
    )
    return with_pid.mapInArrow(
        run,
        "partition_id int, doc_id string, n_spans long, doc_checksum string",
    )


def lineage_rows(
    parsed: DataFrame, run_id: str, input_snapshot_id: str
) -> DataFrame:
    """One lineage row per Spark partition of the parsed output
    (EXTRACTION_METRICS schema): Arrow checksum kernel + one narrow
    groupBy."""
    per_doc = _per_doc_checksums(parsed)
    return per_doc.groupBy("partition_id").agg(
        F.lit(run_id).alias("run_id"),
        F.lit(input_snapshot_id).alias("input_snapshot_id"),
        F.sort_array(F.collect_list("doc_id")).alias("doc_ids_completed"),
        F.sum("n_spans").alias("span_count"),
        F.sha2(
            F.array_join(F.sort_array(F.collect_list("doc_checksum")), ""), 256
        ).alias("checksum"),
    ).select(
        "run_id",
        "partition_id",
        "input_snapshot_id",
        "doc_ids_completed",
        "span_count",
        "checksum",
    )


def write_lineage(
    parsed: DataFrame, metrics_path: str, run_id: str, input_snapshot_id: str
) -> None:
    """Append lineage rows for a completed batch (S8-style append sink)."""
    lineage_rows(parsed, run_id, input_snapshot_id).write.mode("append").parquet(
        metrics_path
    )


def completed_doc_ids(spark: SparkSession, metrics_path: str) -> DataFrame:
    """Distinct completed doc_ids from all prior runs."""
    return (
        spark.read.parquet(metrics_path)
        .select(F.explode("doc_ids_completed").alias("doc_id"))
        .distinct()
    )


def resume_filter(raw: DataFrame, completed: DataFrame) -> DataFrame:
    """J2: the resume anti-join — drop already-completed documents.

    At scale the completed side is doc_ids only (narrow); AQE converts
    this to a broadcast anti-join whenever it fits, otherwise a shuffled
    anti-join on the same doc_id key the corpus is bucketed by."""
    return raw.join(completed, "doc_id", "left_anti")


def run_with_resume(
    spark: SparkSession,
    raw: DataFrame,
    metrics_path: str,
    run_id: str,
    input_snapshot_id: str,
    extract_fn,
    output_path: str | None = None,
) -> DataFrame:
    """Resume-aware execution: filter completed docs, extract the rest,
    write the output sink, THEN append lineage. Returns the newly parsed
    rows.

    Commit-order invariant: lineage marks documents completed, so it must
    be the LAST write — a crash between output and lineage re-extracts
    those docs next run (at-least-once), whereas lineage-first would
    silently skip them forever (data loss).

    With an output sink, each run writes its own ``run_id=<id>``
    partition directory (idempotent overwrite — re-running a crashed
    run_id replaces its partial output) and the lineage rows are computed
    FROM THE DURABLY WRITTEN FILES, so checksums can never diverge from
    what readers see — and nothing is cached in executor memory (a full
    .persist() of the parsed corpus caused GC thrash at high thread
    counts; measured in the spark-submit two-level run)."""
    from pyspark.errors import AnalysisException

    try:
        metrics = spark.read.parquet(metrics_path)
        # run-id replay guard: the per-run output dir is overwritten on
        # retry (idempotent for a run that crashed BEFORE its lineage
        # commit), so a run_id that already committed lineage must never
        # be reused — overwriting its output with the residual todo set
        # would delete committed rows that lineage marks completed.
        if (
            output_path is not None
            and metrics.filter(F.col("run_id") == run_id).limit(1).count() > 0
        ):
            raise ValueError(
                f"run_id {run_id!r} already committed lineage — a retry "
                "must use a fresh run_id (resume skips completed docs)"
            )
        done = metrics.select(
            F.explode("doc_ids_completed").alias("doc_id")
        ).distinct()
        todo = resume_filter(raw, done)
    except AnalysisException:  # first run: no metrics table yet
        todo = raw
    parsed = extract_fn(todo)
    if output_path is not None:
        run_dir = f"{output_path}/run_id={run_id}"
        parsed.write.mode("overwrite").parquet(run_dir)
        durable = spark.read.parquet(run_dir)
        write_lineage(durable, metrics_path, run_id, input_snapshot_id)
        return durable
    parsed = parsed.persist()
    write_lineage(parsed, metrics_path, run_id, input_snapshot_id)
    return parsed

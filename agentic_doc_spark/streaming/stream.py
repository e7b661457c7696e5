"""Incremental extraction over a growing documents_raw table.

The pipeline is per-document (no cross-document windows), so the idiomatic
Structured Streaming shape is a file/table stream + ``foreachBatch``: each
micro-batch runs the SAME batch plan (pipeline.extract) and commits results
+ lineage idempotently per epoch. Structured Streaming REPLAYS an epoch
after a crash that happens before the checkpoint commit, so a blind
``mode("append")`` would duplicate every parsed row and its lineage row on
replay; instead each epoch writes its own ``epoch=<id>`` partition
directory with OVERWRITE (the same pattern as dedup_stream.py's near-dup
state), making replay a no-op rewrite — exactly-once output under
crash-replay. The lineage table additionally enables exact cross-run
resume (operators/lineage.py) even if the checkpoint is lost — the
anti-join path.

This mirrors the reference's incremental posture (idempotent re-runs via
timestamped results, agentic_doc/parse.py:453-467) with real streaming
semantics. Watermark/stateful operators are intentionally absent: nothing
in the reference's semantics is time-windowed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from agentic_doc_spark.config import DEFAULT_SETTINGS, Settings
from agentic_doc_spark.operators.lineage import lineage_rows
from agentic_doc_spark.pipeline import extract
from agentic_doc_spark.schema import DOCUMENTS_RAW
from agentic_doc_spark.streaming import _start


def stream_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    metrics_path: str | None = None,
    run_id: str = "stream",
    settings: Settings = DEFAULT_SETTINGS,
    available_now: bool = True,
):
    """Start (and by default drain) the incremental extraction stream.

    input_path: parquet directory receiving documents_raw files.
    available_now=True processes the backlog then stops — the batch-ish
    trigger used in tests and backfills; False runs continuously.

    ``run_id`` keys the per-epoch output partitions: reuse it across
    restarts of the SAME checkpoint (epochs continue, replays rewrite in
    place); pick a FRESH run_id whenever the checkpoint is lost or reset
    (epoch numbering restarts at 0 and must not collide with committed
    partitions of the previous run)."""
    src = (
        spark.readStream.schema(DOCUMENTS_RAW)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_path)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        _process_extract_batch(
            batch_df, int(epoch_id), output_path, metrics_path, run_id, settings
        )

    writer = (
        src.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    return _start(writer, available_now)


def _process_extract_batch(
    batch_df: DataFrame,
    epoch_id: int,
    output_path: str,
    metrics_path: str | None,
    run_id: str,
    settings: Settings = DEFAULT_SETTINGS,
) -> None:
    """One extraction epoch (module-level so replay idempotency is
    directly testable by invoking the same epoch twice).

    Replay-idempotent commit: the epoch's parsed rows land in
    ``{output_path}/epoch=<run_id>-<id>`` with OVERWRITE — a replayed
    epoch rewrites the same partition instead of appending duplicates —
    and lineage is computed FROM THE DURABLY WRITTEN FILES (the
    run_with_resume invariant: checksums can never diverge from what
    readers see) into ``{metrics_path}/epoch=<run_id>-<id>``, also
    OVERWRITE. Output commits before lineage: a crash between the two
    re-extracts the epoch on replay (at-least-once work, exactly-once
    rows), whereas lineage-first would mark unwritten docs completed.

    The partition key includes ``run_id`` because epoch ids RESTART AT 0
    under a fresh checkpoint: a stream restarted after checkpoint loss
    must start a NEW run_id (the run_with_resume convention) — with a
    bare epoch key its epoch 0 would overwrite the old run's committed
    epoch-0 rows that lineage already marks completed."""
    if not batch_df.head(1):
        return
    spark = batch_df.sparkSession
    part = f"epoch={run_id}-{epoch_id}"
    epoch_dir = f"{output_path}/{part}"
    extract(batch_df, settings).write.mode("overwrite").parquet(epoch_dir)
    if metrics_path is not None:
        durable = spark.read.parquet(epoch_dir)
        lineage_rows(
            durable, f"{run_id}-epoch{epoch_id}", f"epoch-{epoch_id}"
        ).write.mode("overwrite").parquet(f"{metrics_path}/{part}")

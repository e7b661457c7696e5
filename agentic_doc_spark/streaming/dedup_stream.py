"""Stateful streaming dedup: exact-dup suppression across micro-batches.

The streaming twin of operators/dedup.dedup_exact — a growing corpus is
deduplicated as it arrives using Spark's streaming state store:
fingerprint (md5 of normalized text) → ``dropDuplicates`` keeps the first
occurrence ever seen, across batches and restarts (state lives in the
checkpoint).

Scale notes: state is keyed by the 32-char fingerprint only (not the
text), so 10^12 documents cost ~32 TB of state spread over the cluster's
state stores — bound it with a watermark on an event-time column
(``dropDuplicatesWithinWatermark``) when exact-forever semantics aren't
required.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from agentic_doc_spark.functions.textstats import fingerprint
from agentic_doc_spark.streaming import _start


def stream_dedup_exact(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    available_now: bool = True,
):
    """File stream of (doc_id, text, ...) → append sink of first-seen rows.

    Schema is inferred from the existing files at start (file streams
    need a fixed schema)."""
    schema = spark.read.parquet(input_path).schema
    src = spark.readStream.schema(schema).parquet(input_path)
    deduped = (
        src.withColumn("fingerprint", fingerprint(F.col(text_col)))
        .dropDuplicates(["fingerprint"])
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    return _start(writer, available_now)


def stream_dedup_within_watermark(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    ts_col: str = "ts",
    text_col: str = "text",
    watermark: str = "1 hour",
    available_now: bool = True,
):
    """Bounded-state variant: duplicates are suppressed only within the
    watermark horizon — state for fingerprints older than the watermark is
    evicted, so state size is O(arrival rate × horizon) instead of
    O(corpus). The right tool when the corpus is unbounded and duplicates
    cluster in time (crawl re-fetches, retries)."""
    schema = spark.read.parquet(input_path).schema
    src = spark.readStream.schema(schema).parquet(input_path)
    deduped = (
        src.withColumn("fingerprint", fingerprint(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    return _start(writer, available_now)


def stream_near_dedup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    state_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    run_id: str = "stream",
    available_now: bool = True,
):
    """Incremental NEAR-duplicate suppression: minhash-LSH band keys as
    the dedup signature, first-seen wins across micro-batches/restarts.

    Per epoch (foreachBatch — reuses the batch minhash kernel):
    1. band the new docs (operators/dedup.minhash_bands_fast);
    2. drop any new doc whose band key collides with the STATE (a doc
       already accepted in an earlier epoch) — LSH-candidate semantics:
       precision follows the banding parameters, the same trade the
       batch lsh_jaccard_pairs path verifies exactly;
    3. within the batch, the lowest id of each colliding group wins;
    4. append the survivors' rows to the sink and their bands to the
       state table.

    State is (doc_id, band_idx, band_key) — bounded by accepted docs ×
    n_bands, independent of text size; at 10^12 docs the state join is an
    equi-join on band key, the same shape as the batch path.

    Replay-idempotent: each epoch writes its output and state bands into
    its own ``epoch=<run_id>-<id>`` partition with OVERWRITE (Structured
    Streaming replays an epoch after a crash before checkpoint commit —
    a blind append would duplicate every survivor), and the state read
    EXCLUDES the current epoch so a half-committed prior attempt can't
    make the replayed docs collide with themselves. ``run_id`` qualifies
    the partition key because epoch ids RESTART AT 0 under a fresh
    checkpoint: restart after checkpoint loss with a NEW run_id (same
    convention as stream_extract) or epoch 0 would overwrite the prior
    run's committed rows and state."""
    schema = spark.read.parquet(input_path).schema
    src = spark.readStream.schema(schema).parquet(input_path)

    def process_batch(batch_df, epoch_id: int) -> None:
        _process_near_dedup_batch(
            spark, batch_df, int(epoch_id), output_path, state_path,
            text_col, id_col, run_id,
        )

    writer = (
        src.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    return _start(writer, available_now)


def _process_near_dedup_batch(
    spark: SparkSession,
    batch_df,
    epoch_id: int,
    output_path: str,
    state_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    run_id: str = "stream",
) -> None:
    """One near-dedup epoch (module-level so replay idempotency is
    directly testable by invoking the same epoch twice)."""
    from pyspark.errors import AnalysisException

    from agentic_doc_spark.operators.dedup import minhash_bands_fast

    if not batch_df.head(1):
        return
    bands = minhash_bands_fast(
        batch_df.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
    ).persist()
    try:
        # exclude this epoch's own partition: a replayed batch must not
        # collide with its prior half-committed attempt
        state = spark.read.parquet(state_path).filter(
            F.col("epoch") != f"{run_id}-{epoch_id}"
        )
        if not state.head(1):
            state = None
    except AnalysisException:
        state = None
    # vs state: any collision with an ALREADY-ACCEPTED doc kills the new one
    dead = None
    if state is not None:
        dead = (
            bands.join(
                state.select("band_idx", "band_key").distinct(),
                ["band_idx", "band_key"],
            )
            .select("doc_id")
            .distinct()
        )
    # within the batch: lowest id per band bucket wins
    w_min = bands.groupBy("band_idx", "band_key").agg(
        F.min("doc_id").alias("winner")
    )
    batch_dead = (
        bands.join(w_min, ["band_idx", "band_key"])
        .filter(F.col("doc_id") != F.col("winner"))
        .select("doc_id")
        .distinct()
    )
    losers = batch_dead if dead is None else dead.unionByName(batch_dead).distinct()
    survivors = batch_df.join(
        losers.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    ).persist()
    part = f"epoch={run_id}-{epoch_id}"
    try:
        survivors.write.mode("overwrite").parquet(f"{output_path}/{part}")
        bands.join(
            survivors.select(F.col(id_col).alias("doc_id")), "doc_id"
        ).write.mode("overwrite").parquet(f"{state_path}/{part}")
    finally:
        survivors.unpersist()
        bands.unpersist()

"""Bucketed corpus layout: co-located joins with NO exchange.

At 10^12 documents every doc_id-keyed join (resume anti-join, chunk
provenance, enrichment) pays a full shuffle of the fact side unless the
tables agree on a physical layout. Writing both sides bucketed by the
join key (hash(doc_id) mod n_buckets, Spark's bucketBy) lets the planner
emit a SortMergeJoin with ZERO Exchange operators — each task reads
matching buckets from both tables.

This is the parquet/warehouse analog of an Iceberg `bucket(N, doc_id)`
partition transform; on a real catalog the same write is
`.writeTo(...).partitionedBy(bucket(N, col))`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str = "doc_id",
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed+sorted table (saveAsTable — bucketing
    metadata lives in the session catalog; plain .parquet() paths cannot
    carry it)."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, key: str = "doc_id"
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key. With matching
    bucket specs the physical plan contains no Exchange — verify with
    ``.explain()`` (pinned by tests/test_bucketing.py)."""
    return spark.table(left_table).join(spark.table(right_table), key)

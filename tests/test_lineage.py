"""R7/J2: lineage rows + exact resume via anti-join (north rule)."""

from __future__ import annotations

from agentic_doc_spark.config import Settings
from agentic_doc_spark.operators.lineage import (
    completed_doc_ids,
    lineage_rows,
    resume_filter,
    run_with_resume,
)
from agentic_doc_spark.pipeline import extract
from agentic_doc_spark.synth import corpus_df


def test_lineage_rows_cover_all_docs(spark):
    parsed = extract(corpus_df(spark, 1))
    rows = lineage_rows(parsed, "run1", "snap1").collect()
    all_ids = sorted(i for r in rows for i in r["doc_ids_completed"])
    assert all_ids == sorted(r["doc_id"] for r in parsed.select("doc_id").collect())
    assert all(r["run_id"] == "run1" for r in rows)
    total_spans = sum(r["span_count"] for r in rows)
    got = sum(len(r["spans"]) for r in parsed.collect())
    assert total_spans == got
    assert all(len(r["checksum"]) == 64 for r in rows)


def test_checksum_deterministic(spark):
    parsed = extract(corpus_df(spark, 1))
    a = {
        r["partition_id"]: r["checksum"]
        for r in lineage_rows(parsed, "r", "s").collect()
    }
    b = {
        r["partition_id"]: r["checksum"]
        for r in lineage_rows(parsed, "r", "s").collect()
    }
    assert a == b


def test_resume_anti_join(spark, tmp_path):
    raw = corpus_df(spark, 2)
    n = raw.count()
    half = raw.limit(0).sparkSession.createDataFrame(
        [(r["doc_id"],) for r in raw.select("doc_id").collect()[: n // 2]],
        ["doc_id"],
    )
    remaining = resume_filter(raw, half)
    assert remaining.count() == n - n // 2


def test_run_with_resume_end_to_end(spark, tmp_path):
    metrics = str(tmp_path / "metrics")
    raw = corpus_df(spark, 2)
    n = raw.count()
    # first run: everything processed
    p1 = run_with_resume(spark, raw, metrics, "run1", "snap1", extract)
    assert p1.count() == n
    assert completed_doc_ids(spark, metrics).count() == n
    # second run: nothing left to do
    p2 = run_with_resume(spark, raw, metrics, "run2", "snap1", extract)
    assert p2.count() == 0


def test_output_written_before_lineage(spark, tmp_path, monkeypatch):
    # commit-order invariant: a crash during the lineage append must NOT
    # lose output rows — the docs were already written, and the next run
    # re-extracts them (at-least-once), never skips them
    import agentic_doc_spark.operators.lineage as lineage_mod

    metrics = str(tmp_path / "metrics")
    output = str(tmp_path / "parsed")
    raw = corpus_df(spark, 1)
    n = raw.count()

    def boom(*a, **k):
        raise RuntimeError("simulated crash during lineage append")

    monkeypatch.setattr(lineage_mod, "write_lineage", boom)
    try:
        lineage_mod.run_with_resume(
            spark, raw, metrics, "run1", "snap1", extract, output_path=output
        )
    except RuntimeError:
        pass
    # output landed despite the lineage crash
    assert spark.read.parquet(output).count() == n
    monkeypatch.undo()
    # restart: no metrics table → everything re-extracted, output appended
    p = run_with_resume(
        spark, raw, metrics, "run2", "snap1", extract, output_path=output
    )
    assert p.count() == n
    assert spark.read.parquet(output).count() == 2 * n  # at-least-once
    assert completed_doc_ids(spark, metrics).count() == n


def test_corrupt_metrics_table_raises(spark, tmp_path):
    # a corrupt/unreadable metrics table must raise, not silently
    # reprocess everything as if it were a first run
    import pytest

    metrics = tmp_path / "metrics"
    metrics.mkdir()
    (metrics / "part-00000.parquet").write_bytes(b"this is not parquet")
    raw = corpus_df(spark, 1)
    with pytest.raises(Exception) as exc_info:
        run_with_resume(spark, raw, str(metrics), "run1", "snap1", extract)
    # must NOT be swallowed by the first-run AnalysisException branch
    from pyspark.errors import AnalysisException

    assert not isinstance(exc_info.value, AnalysisException)


def test_kernel_checksum_matches_scalar_loop(spark):
    # the Arrow checksum kernel must hash exactly these bytes per doc:
    # each span is doc_id, offset, kind, text, media_ref joined by
    # '\x1f' (NULL text or media_ref as ''), spans joined by '\x1e'
    import hashlib

    from agentic_doc_spark.operators.lineage import _per_doc_checksums

    parsed = extract(corpus_df(spark, 2))
    want = {}
    for r in parsed.select("doc_id", "spans").collect():
        lines = [
            "\x1f".join(
                [r["doc_id"], str(s["offset"]), s["kind"],
                 s["text"] or "", s["media_ref"] or ""]
            )
            for s in r["spans"]
        ]
        want[r["doc_id"]] = (
            len(lines),
            hashlib.sha256("\x1e".join(lines).encode("utf-8")).hexdigest(),
        )
    got = {
        r["doc_id"]: (r["n_spans"], r["doc_checksum"])
        for r in _per_doc_checksums(parsed).collect()
    }
    assert got == want


def test_replay_guard_rejects_committed_run_id(spark, tmp_path):
    # reusing a run_id whose lineage already committed must raise, never
    # overwrite the committed output partition with the residual todo set
    metrics = str(tmp_path / "metrics")
    output = str(tmp_path / "parsed")
    raw = corpus_df(spark, 1)
    n = raw.count()
    run_with_resume(
        spark, raw, metrics, "runX", "snap1", extract, output_path=output
    )
    assert spark.read.parquet(output).count() == n
    import pytest

    with pytest.raises(ValueError, match="already committed"):
        run_with_resume(
            spark, raw, metrics, "runX", "snap1", extract, output_path=output
        )
    # committed rows untouched
    assert spark.read.parquet(output).count() == n
    # a FRESH run_id proceeds (and has nothing left to do)
    p = run_with_resume(
        spark, raw, metrics, "runY", "snap1", extract, output_path=output
    )
    assert p.count() == 0

"""Plan-shape regression guards: the scale-critical physical-plan
invariants that PLANS.md documents, pinned so a future edit that
silently reintroduces an exchange, a sort-merge join, or an extra
corpus scan fails CI instead of surviving until the next manual audit.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as e

    return e


def test_extract_merge_has_no_semantic_exchange(spark, entry):
    # the arrow engine's whole contract: zero shuffles end to end. The
    # single allowed exchange is the round-robin scan-parallelism
    # repartition of the one-file test corpus (purely physical) — any
    # HASH or RANGE exchange means the extraction itself shuffles.
    plan = _plan(entry.queries()["extract_merge"](spark, SF))
    semantic = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln and "RoundRobinPartitioning" not in ln
    ]
    assert not semantic, "\n".join(semantic)


def test_dsir_final_plan_scans_corpus_once(spark, entry):
    # the ratio table is collected and re-injected as a literal map —
    # the inline form re-derived the word counts and scanned 3×. Since
    # r6 the bucket-count kernel output is lineage-truncated, so the
    # final plan reads the checkpoint leaf: ≤ 1 scan (0 locally)
    plan = _plan(entry.queries()["dsir_select"](spark, SF))
    assert plan.count("FileScan parquet") <= 1, plan


def test_pq_encode_is_a_pure_map(spark, entry):
    from agentic_doc_spark.operators.similarity import (
        pq_encode,
        pq_train_codebook,
    )

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    cb = pq_train_codebook(emb, m=8, k=16)
    plan = _plan(pq_encode(emb, cb))
    assert "Exchange" not in plan and "Join" not in plan, plan


def test_ann_pq_has_no_sort_merge_join(spark, entry):
    # the distance table is bounded and must broadcast
    plan = _plan(entry.queries()["ann_pq"](spark, SF))
    assert "SortMergeJoin" not in plan, plan


@pytest.mark.parametrize(
    "name", ["ann_bruteforce", "ann_ivf", "ann_pq", "ann_ivfpq"]
)
def test_ann_topk_has_no_single_partition_window(spark, entry, name):
    # per-query ranking must be the two-phase bounded top-k
    # (mapInArrow local top-k + bounded merge agg) — a
    # Window.partitionBy(query_id) funnels every candidate row of a
    # query through ONE reducer task (round-4 VERDICT finding #1)
    plan = _plan(entry.queries()[name](spark, SF))
    assert "Window" not in plan, (name, plan)


def test_semantic_dedup_assignment_materialized_once(spark):
    # the checkpoint cut: without it the zero-exchange assignment
    # subtree (scan + argmax fold) re-derives in all three consumers
    from agentic_doc_spark.operators.similarity import semantic_dedup

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    plan = _plan(semantic_dedup(emb, threshold=0.3))
    assert plan.count("FileScan parquet") <= 1, plan


def test_top_orders_uses_bounded_topk(spark, entry):
    # deterministic ranked top-10 must be TakeOrderedAndProject, never
    # a global sort
    plan = _plan(entry.queries()["top_orders"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_decontaminate_broadcasts_benchmark_side(spark, entry):
    plan = _plan(entry.queries()["decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def _python_nodes(plan: str) -> list[tuple[str, str]]:
    """(Python map node, the plan line directly under it) per node."""
    lines = plan.splitlines()
    return [
        (ln.lstrip(" +-:"), lines[i + 1].lstrip(" +-:"))
        for i, ln in enumerate(lines[:-1])
        if ln.lstrip(" +-:").startswith(("MapInArrow", "MapInPandas"))
    ]


def test_ann_ivfpq_query_side_is_one_kernel(spark, entry):
    # one query kernel emits (query_id, cell, dtab) per probed cell: the
    # plan holds the corpus kernel, the query kernel and the local top-k
    # pass, and its one join broadcasts the probes into the codes stream
    plan = _plan(entry.queries()["ann_ivfpq"](spark, SF))
    assert len(_python_nodes(plan)) == 3, plan
    ops = [ln.lstrip(" +-:").split(" ")[0] for ln in plan.splitlines()]
    assert sum(op.endswith("Join") for op in ops) == 1, plan


def test_layout_parse_is_one_kernel_and_one_exchange(spark):
    # each raw row leaves the kernel as one nested (doc_id, spans) row —
    # no re-nesting aggregate — and the only wide step is the hash
    # exchange BELOW the kernel, which lets AQE size its Python tasks
    from agentic_doc_spark.sources.layout import layout_parse

    raw = spark.createDataFrame(
        [("a.txt", bytearray(b"one\n\ntwo"), "text")],
        "doc_id string, content binary, doc_type string",
    )
    plan = _plan(layout_parse(raw))
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1 and "hashpartitioning" in exchanges[0], plan
    nodes = _python_nodes(plan)
    assert len(nodes) == 1, plan
    assert nodes[0][1].startswith("Exchange hashpartitioning(doc_id"), plan
    assert "Aggregate" not in plan, plan


def test_parse_raw_dir_is_one_python_stage(spark, tmp_path):
    # parse() over raw files is ONE Python node: layout and extract run
    # back to back in one kernel over rows rebalanced by doc_id, and AQE
    # coalesces a small directory's exchange into few tasks (each Python
    # task pays a fixed worker setup)
    from agentic_doc_spark.api import parse

    for i in range(12):
        (tmp_path / f"d{i:02d}.txt").write_text(f"title {i}\n\nbody {i}")
    df = parse(spark, str(tmp_path))
    nodes = _python_nodes(_plan(df))
    assert len(nodes) == 1 and nodes[0][0].startswith("MapInArrow"), nodes
    under = nodes[0][1]
    assert under.startswith("Exchange hashpartitioning(doc_id"), under
    assert "REBALANCE_PARTITIONS_BY_COL" in under, under
    assert len(df.collect()) == 12
    final = _plan(df)
    assert "isFinalPlan=true" in final, final
    lines = [ln.lstrip(" +-:") for ln in final.splitlines()]
    i = next(i for i, ln in enumerate(lines) if ln.startswith("MapInArrow"))
    assert lines[i + 1] == "AQEShuffleRead coalesced", final


def test_parse_larger_raw_dir_spreads_over_every_core(spark, tmp_path):
    # above _SPREAD_BYTES the kernels outweigh the per-task setup that
    # coalescing saves, and AQE would pack ≥ 1 MB into a task: the one
    # Python node reads a round-robin exchange with one partition per
    # core, so CPU-heavy documents keep their parallelism
    from agentic_doc_spark.api import parse
    from agentic_doc_spark.sources.layout import _SPREAD_BYTES

    block = "word " * 200
    for i in range(4):
        n = _SPREAD_BYTES // 3 // len(block)
        (tmp_path / f"d{i}.txt").write_text("\n\n".join([block] * n))
    df = parse(spark, str(tmp_path))
    nodes = _python_nodes(_plan(df))
    cores = spark.sparkContext.defaultParallelism
    assert len(nodes) == 1 and nodes[0][0].startswith("MapInArrow"), nodes
    assert nodes[0][1].startswith(f"Exchange RoundRobinPartitioning({cores})"), nodes
    assert sorted(r.doc_id[-6:] for r in df.select("doc_id").collect()) == [
        f"d{i}.txt" for i in range(4)
    ]


def test_grounding_crop_aggregate_reads_unsorted_specs(spark):
    # the crop renderer groups specs by (doc_id, page) with a hash
    # aggregate, which needs no input order: a Sort under it is waste
    from agentic_doc_spark.operators.multimodal import render_grounding_crops
    from agentic_doc_spark.pipeline import extract
    from agentic_doc_spark.synth import corpus_df

    plan = _plan(render_grounding_crops(extract(corpus_df(spark, 1))))
    lines = plan.splitlines()
    assert any("HashAggregate" in ln for ln in lines), plan
    assert not any(ln.lstrip(" +-:").startswith("Sort ") for ln in lines), plan

"""Plan audit: dump the physical-plan facts that matter at 100 TB for
every headline query — exchange count, scan column pruning (ReadSchema),
pushed filters, join strategies, codegen vs UDF boundaries → PLANS.md.

Run: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

#: the Python-boundary operators of a physical plan
_PY_OP = (
    r"\b(MapInPandas|PythonMapInArrow|MapInArrow|FlatMapGroupsInPandas"
    r"|ArrowEvalPython|BatchEvalPython)\b"
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from agentic_doc_spark.config import build_spark

    import __spark_entry__ as entry

    spark = build_spark(
        master="local[8]",
        shuffle_partitions=16,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `python scripts/explain_audit.py {sf_dir}`.",
        "For each query: exchanges (shuffles/broadcasts), scan pruning,",
        "join strategies, and Python-boundary operators (counted: each",
        "node pays one Python worker setup per task).",
        "",
        "| query | exchanges | broadcasts | scans (pruned columns) | joins | python ops |",
        "|---|---|---|---|---|---|",
    ]
    for name, fn in entry.queries().items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        n_ex = len(re.findall(r"\bExchange hashpartitioning", plan))
        n_rr = len(re.findall(r"\bExchange RoundRobinPartitioning", plan))
        n_rg = len(re.findall(r"\bExchange rangepartitioning", plan))
        n_bc = len(re.findall(r"BroadcastExchange", plan))
        scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        scan_cols = "; ".join(
            ",".join(f.split(":")[0] for f in s.split(",") if f) for s in scans
        )
        joins = sorted(
            set(re.findall(r"(\w*(?:HashJoin|NestedLoopJoin|SortMergeJoin))", plan))
        )
        # counted, not a set: every Python node pays one worker setup
        # per task
        pyops = [
            f"{op} ×{n}" if n > 1 else op
            for op, n in sorted(Counter(re.findall(_PY_OP, plan)).items())
        ]
        ex_cell = f"{n_ex} hash + {n_rr} rr"
        if n_rg:
            ex_cell += f" + {n_rg} range"
        lines.append(
            f"| {name} | {ex_cell} | {n_bc} | {scan_cols or '—'} "
            f"| {', '.join(joins) or '—'} | {', '.join(pyops) or '—'} |"
        )

    lines += [
        "",
        "Reading notes:",
        "- `rr` exchanges are the explicit scan-parallelism repartition for",
        "  the single-file local testdata (a real corpus arrives pre-split;",
        "  see `_docs` in `__spark_entry__.py`).",
        "- `extract_merge` and the other pipeline queries show ZERO hash",
        "  exchanges: the Arrow engine is shuffle-free by design",
        "  (arrow_engine.py).",
        "- every dedup/similarity join is an equi-join on a derived key —",
        "  broadcast where one side is small, shuffled hash otherwise; no",
        "  cartesian products outside the intentionally-broadcast ANN",
        "  query×corpus scoring.",
        "- `pack_bins` (and `training_set`, which ends in the same",
        "  packing stage) ALSO audit as a leaf: running_totals executes its",
        "  range exchange + per-partition windows EAGERLY (localCheckpoint",
        "  pins one partitioning for the offsets collect), so the audited",
        "  plan is the checkpointed result. Its real budget: 1 range",
        "  exchange + bounded driver offsets — no global-order window",
        "  (operators/packing.py docstring; pinned by test_packing.py).",
        "- `near_dup_clusters` shows a LEAF final plan: the iterative CC",
        "  loop cuts lineage after every round (one equi-join + one",
        "  groupBy each), so the audited plan is the cut result, not an",
        "  unrolled join chain (round 2 showed 306/612 unrolled exchanges",
        "  here). `near_dup_survivors` joins those labels back to the",
        "  corpus; before execution that join plans as a sort-merge join",
        "  (AQE picks the final strategy from runtime stats).",
    ]
    out = REPO / "PLANS.md"
    out.write_text("\n".join(lines) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()

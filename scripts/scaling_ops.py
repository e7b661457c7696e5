"""Operator-level scaling evidence: the LLM-pipeline operator family at
N and 4N parallelism (north rule: efficiency >= 0.8 between N and 4N
executors; sandbox proxy = same job at two local[] core counts).

Complements scripts/scaling_bench.py (extraction kernel): measures the
data-pipeline operators (packing, interleaved packing, DSIR selection,
domain mixing, semantic dedup, BPE) on a deterministically replicated
corpus. Same methodology: fresh process per level, min-of-3, noop sink,
console progress off, pure-compute control job bounding what the shared
box allows. Appends its own section to BENCH/BASELINE.md.

Run:  python scripts/scaling_ops.py [sf_dir] [rep_docs] [rep_emb]
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
STAGE = "/tmp/spark_graft_ops_scale"

_SETUP = r"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from agentic_doc_spark.config import build_spark

sf_dir, rep_docs, rep_emb, stage = {sf_dir!r}, {rep_docs}, {rep_emb}, {stage!r}
spark = build_spark(master="local[16]",
                    extra_conf={{"spark.ui.showConsoleProgress": "false"}})
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet(f"{{sf_dir}}/documents.parquet")
r = spark.range(rep_docs).select(F.col("id").alias("rep"))
(docs.crossJoin(r)
     .select((F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
             "text", "lang", "source", "n_chars")
     .repartition(32)
     .write.mode("overwrite").parquet(f"{{stage}}/documents.parquet"))
emb = spark.read.parquet(f"{{sf_dir}}/embeddings.parquet")
re_ = spark.range(rep_emb).select(F.col("id").alias("rep"))
(emb.crossJoin(re_)
    .select((F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
            "embedding", "label")
    .repartition(32)
    .write.mode("overwrite").parquet(f"{{stage}}/embeddings.parquet"))
print("SETUP_OK")
"""

_CHILD = r"""
import sys, time, json
sys.path.insert(0, {repo!r})
import os; os.environ["SPARK_DRIVER_MEM"] = "24g"
from pyspark.sql import functions as F
from agentic_doc_spark.config import build_spark

cores, stage = {cores}, {stage!r}
spark = build_spark(master=f"local[{{cores}}]", shuffle_partitions=cores * 4,
                    extra_conf={{"spark.ui.showConsoleProgress": "false"}})
spark.sparkContext.setLogLevel("ERROR")

def docs():
    # 32 staged parquet files give every level the same natural scan
    # parallelism — no input repartition (its shuffle would dominate
    # small levels and is not part of the operators under test)
    return spark.read.parquet(f"{{stage}}/documents.parquet")

def emb():
    return spark.read.parquet(f"{{stage}}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))

def op_pack_bins():
    from agentic_doc_spark.functions.textstats import token_count_ws
    from agentic_doc_spark.operators.packing import pack_sequences
    t = docs().select("doc_id",
                      token_count_ws(F.col("text")).cast("long").alias("n_tokens"))
    return pack_sequences(t, budget=512)

def op_pack_interleaved():
    from agentic_doc_spark.operators.packing import pack_interleaved
    from agentic_doc_spark.synth import documents_raw_interleaved
    raw = documents_raw_interleaved(spark, stage, 8, 3)
    return pack_interleaved(raw.withColumn("doc_id", F.col("doc_id").cast("long")),
                            budget=1024, media_tokens=64)

def op_dsir_select():
    from agentic_doc_spark.operators.selection import dsir_select
    d = docs().select("doc_id", "text", (F.col("lang") == "en").alias("is_t"))
    return dsir_select(d, "is_t", k=200)

def op_domain_mix():
    from agentic_doc_spark.functions.textstats import token_count_ws
    from agentic_doc_spark.operators.selection import domain_mix
    d = docs().select("doc_id", "source",
                      token_count_ws(F.col("text")).alias("t"))
    return domain_mix(d, "source", "t", temperature=0.7)

def op_semantic_dedup():
    from agentic_doc_spark.operators.similarity import semantic_dedup
    # n_cells grows with the corpus (docstring contract) so cells
    # stay bounded; 32 cells over ~32k vectors ~ 1k-vector cells
    return semantic_dedup(emb(), threshold=0.3, n_cells=32)

def op_ann_ivf():
    # ranking is a row_number() <= k window that Spark plans as a
    # two-phase WindowGroupLimit (k is far below the 1000-row
    # windowGroupLimitThreshold): it must scale with partitions, not
    # funnel through one reducer per query
    from agentic_doc_spark.operators.similarity import ivf_topk
    e = emb()
    return ivf_topk(e, e.filter(F.col("vec_id") < 5), k=3,
                    n_cells=32, n_probe=8)

def op_bpe_tokens():
    from agentic_doc_spark.operators.bpe import apply_bpe, train_bpe
    d = docs().select("doc_id", "text")
    merges = train_bpe(d, n_merges=40)
    return apply_bpe(d, merges)

OPS = {{
    "pack_bins": op_pack_bins,
    "pack_interleaved": op_pack_interleaved,
    "dsir_select": op_dsir_select,
    "domain_mix": op_domain_mix,
    "semantic_dedup": op_semantic_dedup,
    "ann_ivf": op_ann_ivf,
    "bpe_tokens": op_bpe_tokens,
}}

n = docs().count()
nv = emb().count()
secs = {{}}
for name, fn in OPS.items():
    fn().write.mode("overwrite").format("noop").save()  # warm plans/JIT
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn().write.mode("overwrite").format("noop").save()
        ts.append(time.perf_counter() - t0)
    secs[name] = round(min(ts), 2)

cdf = spark.range(2_000_000_000, numPartitions=cores * 4)
cdf.select(F.sum(F.sqrt(F.col("id")))).collect()
cts = []
for _ in range(3):
    t0 = time.perf_counter()
    cdf.select(F.sum(F.sqrt(F.col("id")))).collect()
    cts.append(time.perf_counter() - t0)
# shuffle control: one full round-robin repartition of the corpus —
# the box's measured ceiling for any SHUFFLE-bearing job at this level
sdf = docs().repartition(cores * 4)
sdf.count()
sts = []
for _ in range(3):
    t0 = time.perf_counter()
    sdf.count()
    sts.append(time.perf_counter() - t0)
print("RESULT " + json.dumps({{"cores": cores, "n_docs": n, "n_vecs": nv,
                               "sec": secs,
                               "control_sec": round(min(cts), 2),
                               "shuffle_sec": round(min(sts), 2)}}))
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rep_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    rep_emb = int(sys.argv[3]) if len(sys.argv) > 3 else 8

    setup = subprocess.run(
        [sys.executable, "-c", _SETUP.format(
            repo=str(REPO), sf_dir=sf_dir, rep_docs=rep_docs,
            rep_emb=rep_emb, stage=STAGE)],
        capture_output=True, text=True, timeout=900,
    )
    if "SETUP_OK" not in setup.stdout:
        raise RuntimeError(f"setup failed:\n{setup.stderr[-2000:]}")

    levels = {}
    for cores in (4, 8, 16, 32):
        code = _CHILD.format(repo=str(REPO), cores=cores, stage=STAGE)
        out = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True, text=True, timeout=3600,
        )
        for line in out.stdout.splitlines():
            if line.startswith("RESULT "):
                levels[cores] = json.loads(line[len("RESULT "):])
                break
        else:
            raise RuntimeError(
                f"level {cores} failed:\n{out.stderr[-2000:]}"
            )
        print(json.dumps(levels[cores]))

    ops = sorted(levels[4]["sec"])

    def eff(name: str, lo: int, hi: int) -> float:
        return round(
            (levels[lo]["sec"][name] / levels[hi]["sec"][name]) / (hi / lo), 3
        )

    def ctrl_eff(lo: int, hi: int) -> float:
        return round(
            (levels[lo]["control_sec"] / levels[hi]["control_sec"])
            / (hi / lo),
            3,
        )

    def shuf_eff(lo: int, hi: int) -> float:
        return round(
            (levels[lo]["shuffle_sec"] / levels[hi]["shuffle_sec"])
            / (hi / lo),
            3,
        )

    result = {
        "n_docs": levels[4]["n_docs"],
        "n_vecs": levels[4]["n_vecs"],
        "sec": {c: levels[c]["sec"] for c in levels},
        "efficiency_4_to_16": {op: eff(op, 4, 16) for op in ops},
        "control_efficiency_4_to_16": ctrl_eff(4, 16),
        "shuffle_ceiling_4_to_16": shuf_eff(4, 16),
    }
    print(json.dumps(result))

    rows = "\n".join(
        f"| {op} | "
        + " | ".join(f"{levels[c]['sec'][op]:.2f} s" for c in (4, 8, 16, 32))
        + f" | **{eff(op, 4, 16):.3f}** | {eff(op, 8, 32):.3f} |"
        for op in ops
    )
    section = f"""
## Operator-family scaling (N → 4N)

The same scaling methodology applied to the LLM-data-pipeline operator
family on a deterministically replicated corpus
({levels[4]['n_docs']:,} documents / {levels[4]['n_vecs']:,} embedding
vectors = `{sf_dir}` × {rep_docs}/{rep_emb}): fresh process per level,
min-of-3, noop sink, tmpfs spark.local.dir (build_spark's local-mode
default — this box's disk-backed /tmp throttles every shuffle). Two
controls from the same runs bound what the box physically allows at
each pair: pure compute {ctrl_eff(4, 16):.3f} (4→16) and a minimal
pure-SHUFFLE job (one round-robin repartition of the corpus)
{shuf_eff(4, 16):.3f} — on one shared-memory host a shuffle is
all-to-all traffic through ONE memory system, so shuffle-bearing
operators are bounded by the shuffle ceiling here, not by the compute
ceiling; on a real cluster each executor host adds its own DRAM and
disks and the shuffle ceiling rises with the host count.

| operator | local[4] | local[8] | local[16] | local[32] | 4→16 eff | 8→32 eff |
|---|---|---|---|---|---|---|
{rows}

Bounded driver stages (DSIR's 128-row ratio collect, BPE's merge loop
over the word-frequency dict, IVF centroid training) are constant by
design — they are the fixed term that divides out as the distributed
term grows with data, exactly as on a real cluster.

Reproduce: `python scripts/scaling_ops.py {sf_dir} {rep_docs} {rep_emb}`
"""
    out = REPO / "BENCH" / "BASELINE.md"
    prev = out.read_text() if out.exists() else ""
    marker = "\n## Operator-family scaling (N → 4N)"
    idx = prev.find(marker)
    if idx >= 0:
        nxt = prev.find("\n## ", idx + len(marker))
        prev = prev[:idx] + (prev[nxt:] if nxt >= 0 else "")
    out.write_text(prev + section)


if __name__ == "__main__":
    main()

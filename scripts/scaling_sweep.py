"""Attribute the 8→32 scaling gap of the Arrow extraction engine.

BENCH/BASELINE.md shows extraction at 0.374 efficiency for 8→32 cores
while the pure-JVM control gets 0.732 on the same box — extraction loses
~2× more than shared-DRAM saturation explains. This sweep isolates the
cause by running the SAME input at local[8] and local[32] under varied
configs, each in a fresh process, min-of-3:

- arrow-default      : mapInArrow engine, maxRecordsPerBatch=10000
- arrow-batch-2k/50k : Arrow IPC batch-size sensitivity
- arrow-no-reuse     : spark.python.worker.reuse=false (worker spawn cost)
- arrow-passthrough  : identity mapInArrow kernel — Arrow IPC + Python
                       worker plumbing WITHOUT the extraction compute

Hypothesis being tested: mapInArrow keeps BOTH a JVM thread (Arrow
serialization) and a Python worker busy per task → at local[32] that is
~64 runnable threads on 32 hardware threads, an oversubscription the
JVM-only control never sees.

Run:  python scripts/scaling_sweep.py [sf_dir] [replicate]
Appends the attribution table to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_CHILD = r"""
import sys, time, json
sys.path.insert(0, {repo!r})
import os; os.environ["SPARK_DRIVER_MEM"] = "24g"
from pyspark.sql import functions as F
from agentic_doc_spark.config import build_spark, Settings
from agentic_doc_spark.pipeline import extract
from agentic_doc_spark.synth import documents_raw_from_table

cores, rep, sf_dir, config = {cores}, {rep}, {sf_dir!r}, {config!r}
conf = {{"spark.ui.showConsoleProgress": "false"}}
if config == "arrow-batch-2k":
    conf["spark.sql.execution.arrow.maxRecordsPerBatch"] = "2000"
elif config == "arrow-batch-50k":
    conf["spark.sql.execution.arrow.maxRecordsPerBatch"] = "50000"
elif config == "arrow-no-reuse":
    conf["spark.python.worker.reuse"] = "false"
spark = build_spark(master=f"local[{{cores}}]", shuffle_partitions=cores * 4,
                    extra_conf=conf)
spark.sparkContext.setLogLevel("ERROR")
raw = documents_raw_from_table(spark, sf_dir)
r = spark.range(rep).select(F.col("id").alias("rep"))
raw = raw.crossJoin(r).select(
    F.concat_ws("-", "doc_id", "rep").alias("doc_id"), "spans")
n = raw.count()

if config == "arrow-passthrough":
    def job(df):
        def ident(batches):
            yield from batches
        return df.mapInArrow(ident, df.schema)
else:
    job = lambda df: extract(df, Settings())

job(raw.limit(100)).write.mode("overwrite").format("noop").save()
ts = []
for i in range(3):
    t0 = time.perf_counter()
    job(raw).write.mode("overwrite").format("noop").save()
    ts.append(time.perf_counter() - t0)
print("RESULT " + json.dumps(
    {{"config": config, "cores": cores, "n": n, "sec": round(min(ts), 2)}}))
"""

CONFIGS = (
    "arrow-default",
    "arrow-batch-2k",
    "arrow-batch-50k",
    "arrow-no-reuse",
    "arrow-passthrough",
)


def run(config: str, cores: int, rep: int, sf_dir: str) -> dict:
    code = _CHILD.format(
        repo=str(REPO), cores=cores, rep=rep, sf_dir=sf_dir, config=config
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=1800
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"{config}@{cores} failed:\n{out.stderr[-2000:]}")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rep = int(sys.argv[2]) if len(sys.argv) > 2 else 128

    rows = []
    for config in CONFIGS:
        lo = run(config, 8, rep, sf_dir)
        hi = run(config, 32, rep, sf_dir)
        eff = round((lo["sec"] / hi["sec"]) / 4.0, 3)
        rows.append(
            {
                "config": config,
                "sec_8": lo["sec"],
                "sec_32": hi["sec"],
                "eff_8_to_32": eff,
            }
        )
        print(json.dumps(rows[-1]))

    table = "\n".join(
        f"| {r['config']} | {r['sec_8']:.2f} s | {r['sec_32']:.2f} s "
        f"| {r['eff_8_to_32']:.3f} |"
        for r in rows
    )
    from _md_sections import replace_section

    replace_section(
        REPO / "BENCH" / "BASELINE.md",
        "8→32 attribution sweep",
        f"""## 8→32 attribution sweep

`python scripts/scaling_sweep.py {sf_dir} {rep}` — same input, fresh
process per cell, min-of-3:

| config | local[8] | local[32] | 8→32 efficiency |
|---|---|---|---|
{table}
""",
    )


if __name__ == "__main__":
    main()

"""Seeded end-to-end benchmark of agentic_doc_spark.

    python3 perfbench/run.py --workload {extract_bulk,parse_small}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. One process, one closed-loop client on
``local[4]``: the next call starts only after the previous one returned,
with no think time. Inputs are generated from ``--seed`` and staged under
``.perfbench_work/`` (removed on exit); every output is checked against
the repo's oracles outside the timed region.

The gated end-to-end metrics are CPU seconds of the process tree (see
``end_to_end`` in ``_run`` for why); wall times are printed beside them.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records one
span per layer call, each under its own Spark job group, reads the
uncompressed event log after the session stops and prints the per-layer
table. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from tracing import (
    PY_TIMES,
    RssSampler,
    Tracer,
    jobs_outside_s,
    pin_python_time_unit,
    read_event_log,
    span_spark_stats,
    tree_cpu_s,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))

MASTER = "local[4]"
# the traced run pins the Python-worker time units with these sleeps
INIT_SLEEP_S = 0.4
RUN_SLEEP_S = 0.6


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _shutdown(spark) -> None:
    """Stop the session, then the JVM PySpark launched, and wait for it
    (the JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _sleep(seconds: float) -> float:
    time.sleep(seconds)
    return seconds


class _SlowToUnpickle:
    """Unpickling sleeps INIT_SLEEP_S: a Python worker pays it while it
    reads the UDF, inside the 'initialize' interval it reports. Defined
    in __main__, so cloudpickle ships the class and ``_sleep`` by value."""

    def __reduce__(self):
        return _sleep, (INIT_SLEEP_S,)


def _calibrate(spark, tr) -> None:
    """One task whose Python worker sleeps known times while it
    initializes and while it runs: its readings of the Python-worker
    time metrics pin those metrics' units."""
    marker = _SlowToUnpickle()

    def sleepy(batches):
        if marker != INIT_SLEEP_S:  # unpickled (slowly) with this closure
            raise RuntimeError("calibration marker was not unpickled")
        for b in batches:
            time.sleep(RUN_SLEEP_S)
            yield b

    with tr.span("trace.calibration"):
        spark.range(1, numPartitions=1).mapInArrow(sleepy, "id long").write.format(
            "noop"
        ).mode("overwrite").save()


def main() -> int:
    a = _args()
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    try:
        return _run(a, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there


def _run(a: argparse.Namespace, work: str) -> int:
    if not os.path.isdir(os.path.join(ROOT, "agentic_doc_spark")):
        print(f"agentic_doc_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"unknown workload {a.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # everything the session writes stays in the checkout
    os.environ["TMPDIR"] = tmp
    # the program's default driver memory, whatever the caller's shell says
    os.environ.pop("SPARK_DRIVER_MEM", None)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        # shuffle files stay in the checkout too, not on build_spark's
        # local-mode /dev/shm default: the benchmark writes nowhere else
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    events = os.path.join(work, "events")
    if a.trace:
        os.makedirs(events)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    w = workloads.WORKLOADS[a.workload](a.seed, os.path.join(work, "data"))
    os.makedirs(w.work)
    tr = Tracer(a.workload, enabled=bool(a.trace))
    off = Tracer(a.workload, enabled=False)
    spark = None
    outputs: dict[int, object] = {}
    walls: list[float] = []  # timed calls
    cpus: list[float] = []  # their CPU seconds, whole process tree
    traced_walls: list[float] = []
    untraced_walls: list[float] = []
    raised_docs = 0
    n_calls = 0
    phase: dict[str, float] = {}
    t_phase = time.perf_counter()
    try:
        w.prepare()
        phase["prepare"] = time.perf_counter() - t_phase

        def timed_call(tracer) -> None:
            nonlocal raised_docs, n_calls
            i = n_calls
            n_calls += 1
            w.before_call(i)
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                with tracer.span("call", i):
                    out = w.call(spark, i, tracer)
            except Exception:
                traceback.print_exc()
                raised_docs += w.docs_per_call
                return
            wall = time.perf_counter() - t0
            cpus.append(tree_cpu_s() - c0)
            outputs[i] = out
            walls.append(wall)
            (traced_walls if tracer.enabled else untraced_walls).append(wall)

        with RssSampler() as rss:
            cpu0 = tree_cpu_s()
            t0 = time.perf_counter()
            with tr.span("config.build_spark"):
                from agentic_doc_spark.config import build_spark

                spark = build_spark(master=MASTER, extra_conf=conf)
            build_s = time.perf_counter() - t0
            spark.sparkContext.setLogLevel("ERROR")
            tr.sc = spark.sparkContext

            # the first call runs several times slower (Python workers
            # start, JVM code is compiled): it is part of set-up
            with tr.span("setup.first_call"):
                t0 = time.perf_counter()
                w.warm_call(spark, 0)
                first_s = time.perf_counter() - t0
            setup_cpu_s = tree_cpu_s() - cpu0
            # untimed warm-up: later calls keep speeding up for a while
            # (JVM code is compiled). A fixed number of calls, not a fixed
            # time, so that a slower host does not start timing earlier
            # on that curve
            warm: list[float] = []
            with tr.span("warmup"):
                for k in range(1, 1 + w.warmup_calls):
                    t1 = time.perf_counter()
                    w.warm_call(spark, k)
                    warm.append(time.perf_counter() - t1)
            if a.trace:
                _calibrate(spark, tr)

            steal0 = _cpu_ticks()
            deadline = time.perf_counter() + a.seconds
            while n_calls == 0 or time.perf_counter() < deadline:
                # a traced run alternates traced and untraced calls; the
                # difference of their medians is the tracing overhead
                timed_call(tr if a.trace and n_calls % 2 == 0 else off)
            steal1 = _cpu_ticks()

        t_phase = time.perf_counter()
        if a.trace:
            with tr.span("layers"):
                w.layers(spark, tr)
            phase["layers"] = time.perf_counter() - t_phase
            t_phase = time.perf_counter()
        failed = raised_docs + w.check(spark, outputs)
        phase["check"] = time.perf_counter() - t_phase
        attempted = n_calls * w.docs_per_call + w.check_call_docs
    finally:
        if spark is not None:
            _shutdown(spark)

    # The gated metrics are CPU seconds of the whole process tree, not wall
    # times. On a shared host the hypervisor gives the VM's CPUs to
    # other guests for 0% to 25% of the time ("steal"), shifting for
    # minutes at a stretch; the same code then runs its calls up to twice
    # as slow. The kernel charges no stolen time to a process, so CPU time
    # moves far less (still up to ~25% more at high steal: the other
    # guests share the cores' caches). The wall times are printed beside
    # them and reported as per-layer metrics.
    end_to_end = {
        # build_spark plus the first (cold) call
        "setup_s": (setup_cpu_s, "s"),
        "cpu_p50_s": (statistics.median(cpus), "s"),
    }
    steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    print(f"# {a.workload} seed={a.seed} master={MASTER} closed loop, 1 client")
    print(f"# inputs: {w.describe()}")
    print(f"# untimed warm-up calls={len(warm)} walls={[round(x, 3) for x in warm]}")
    print(f"# timed calls={len(walls)} walls={[round(x, 3) for x in walls]}")
    print(f"# their CPU seconds={[round(x, 2) for x in cpus]}")
    print("# untimed phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in phase.items()))
    print(f"{'metric':<40}{'value':>14}  unit")
    rows = dict(end_to_end)
    rows["setup_wall_s"] = (build_s + first_s, "s")
    rows["latency_p50_s"] = (statistics.median(walls), "s")
    # at the median call: one slow call (a GC pause) moves a mean over
    # the loop, not the median
    rows["docs_per_s"] = (w.docs_per_call / statistics.median(walls), "1/s")
    rows["host.steal_frac"] = (steal, "ratio")
    rows["failed_frac"] = (failed / attempted, "ratio")
    # per-layer, not gated: the JVM sizes its heap adaptively, so peak
    # RSS jumps between runs by whole heap-expansion steps
    rows["peak_rss_mb"] = (rss.peak_mb, "MB")
    rows["config.build_spark_s"] = (build_s, "s")
    rows["setup.first_call_s"] = (first_s, "s")
    for name, (v, unit) in rows.items():
        print(f"{name:<40}{v:>14.4f}  {unit}")

    if a.trace:
        metrics = _per_layer(w, tr, events, rows, traced_walls, untraced_walls)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


def _per_layer(w, tr, events, rows, traced_walls, untraced_walls):
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        names = [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]
    logs = [os.path.join(events, f) for f in os.listdir(events)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    groups = read_event_log(logs[0])

    cal = tr.named("trace.calibration")[0]
    cal_groups = [groups[s.group] for s in tr.subtree(cal) if s.group in groups]
    raw = {k: sum(g.acc.get(PY_TIMES[k], 0.0) for g in cal_groups) for k in PY_TIMES}
    # 'total' spans the worker's whole task: initialize, then run
    units = {
        "init": pin_python_time_unit(raw["init"], INIT_SLEEP_S),
        "total": pin_python_time_unit(raw["total"], INIT_SLEEP_S + RUN_SLEEP_S),
    }

    vals: dict[str, float] = {k: v for k, (v, _) in rows.items()} | w.layer
    calls = tr.named("call")
    per_call = [span_spark_stats(tr, s, groups, units) for s in calls]
    for key in per_call[0]:
        vals[key] = statistics.median(st[key] for st in per_call)
    # curate's calls (parse_small's traced run): the last one is warm
    for name in ("pipeline_llm.build", "pipeline_llm.force", "similarity.semantic_dedup"):
        spans = tr.named(name)
        if spans:
            vals[name + "_s"] = spans[-1].wall
    curate = tr.named("curate.call")
    if curate:
        st = span_spark_stats(tr, curate[-1], groups, units)
        for key in ("jobs", "driver_only_s", "shuffle_write_mb", "shuffle_read_mb"):
            vals["curate." + key] = st["spark." + key]
    vals["trace.overhead_frac"] = (
        statistics.median(traced_walls) / statistics.median(untraced_walls) - 1.0
        if traced_walls and untraced_walls else 0.0
    )

    for k, u in units.items():
        print(f"# python-worker {k} time: unit pinned at {u:g} s "
              f"(calibration sleeps read as {raw[k] * u:.3f} s)")
    # driver_only_s is wall - job_s, the jobs clipped to the call; the
    # job time the event log puts outside the call checks that clipping
    # hides nothing (the log's times are whole milliseconds)
    print("# per call: iteration wall_s = job_s + driver_only_s; "
          "job time outside the call (event log)")
    for s, st in zip(calls, per_call):
        print(f"#   {s.iteration} {s.wall:.4f} = {st['spark.job_s']:.4f} + "
              f"{st['spark.driver_only_s']:.4f}; outside {jobs_outside_s(tr, s, groups):.4f}")
    print(f"# tracing overhead: traced call p50 {statistics.median(traced_walls):.4f} s "
          f"vs untraced {statistics.median(untraced_walls) if untraced_walls else float('nan'):.4f} s "
          "in this run (the event log is on for both)")
    t0 = tr.spans[0].start
    print(f"# spans: id parent name iteration start_s wall_s self_s "
          f"(workload {w.name}, start relative to the first span)")
    for s in tr.spans:
        print(f"#   {s.id} {s.parent} {s.name} {s.iteration} {s.start - t0:.4f} "
              f"{s.wall:.4f} {tr.self_time(s):.4f}")
    print(f"{'span':<40}{'n':>5}{'total_s':>12}{'self_s':>12}")
    by_name: dict[str, list] = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)
    for name, spans in by_name.items():
        print(f"{name:<40}{len(spans):>5}{sum(s.wall for s in spans):>12.4f}"
              f"{sum(tr.self_time(s) for s in spans):>12.4f}")
    print(f"{'per-layer metric':<40}{'value':>14}  unit")
    out = {}
    for name, unit_name in names:
        v = float(vals.get(name, 0.0))
        out[name] = {"value": v, "unit": unit_name}
        print(f"{name:<40}{v:>14.4f}  {unit_name}")
    return out


if __name__ == "__main__":
    sys.exit(main())

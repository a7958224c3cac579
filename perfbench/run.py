"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload snapshot_store --seed 1 --seconds 5 --trace 0

Set-up starts the JVM (``get_spark(cpus=nproc)``), writes the seeded
inputs and runs the warm-up cycles; then timed cycles run back to back
for ``--seconds``. Every operation's output is checked against its
oracle outside the timed region. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). A full report, and with ``--trace 1`` the spans,
go to ``perfbench/.work/reports/``.

The repo root goes on ``PYTHONPATH`` (as ``jobs/run_features.py``
does), so Spark's Python workers can import ``icicle_spark``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 165  # the run must end well inside 180 s

END_TO_END = {"cycle_s": "s", "facts_per_s": "1/s", "queries_per_s": "1/s", "setup_s": "s"}
SPARK_KEYS = ["stages", "tasks", "shuffle_write_bytes", "shuffle_read_records",
              "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s", "python_init_s"]
IO_STEPS = ["write_s", "append_s", "merge_read_snapshot_s", "compact_s",
            "arranged_snapshot_s"]


def per_layer_names() -> dict[str, str]:
    """The per-layer metrics every run reports, with units. A layer the
    workload does not call reads 0."""
    from perfbench.workloads import MIX

    names = {"source_lang.compile_s": "s", "plans.executor.run_plan_s": "s",
             "plans.executor.python_nodes": "count"}
    names.update({f"query.{q}_s": "s" for q in MIX})
    names["spark.action_s"] = "s"
    names.update({f"spark.{k}": "s" if k.endswith("_s") else
                  "bytes" if k.endswith("bytes") else "count" for k in SPARK_KEYS})
    names.update({f"sources.io.{k}": "s" for k in IO_STEPS})
    names.update({"sources.io.store_bytes": "bytes", "sources.io.store_files": "count",
                  "plans.resume.fold_states_s": "s", "plans.resume.resume_plan_s": "s"})
    names.update({"host.steal_s": "s", "host.cpu_s": "s", "host.peak_rss_mb": "MB",
                  "trace.overhead_s": "s"})
    return names


def _env(work: str) -> None:
    """Keep the engine's files inside the checkout and let its Python
    workers import the library."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("PYSPARK_GATEWAY_PORT", None)
    sys.path[:0] = [ROOT]


def stop_processes(spark) -> None:
    """Stop Spark, end the gateway JVM, and wait for every process this
    run started (the JVM, the PySpark daemon and its workers)."""
    from perfbench.trace import tree_pids

    started = [p for p in tree_pids() if p != os.getpid()]
    if spark is not None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        try:
            spark.stop()
        finally:
            proc = getattr(gw, "proc", None)
            if gw is not None:
                try:
                    gw.shutdown()
                except Exception:  # noqa: BLE001
                    pass
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=20)
                except Exception:  # noqa: BLE001
                    proc.kill()
                    proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while True:
        alive = [p for p in started if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run_cycle(wl, tracer, traced: bool) -> dict:
    """One timed cycle, then its untimed checks; returns its record."""
    tracer.enabled = traced
    with tracer.span("cycle", kind="cycle") as span:
        t0 = time.perf_counter()
        ops = wl.cycle()
        wall = time.perf_counter() - t0
    for op in ops:
        if op.error is None and op.check is not None:
            try:
                op.error = op.check()
            except Exception as e:  # noqa: BLE001 - a failed check is data
                op.error = f"check {type(e).__name__}: {e}"[:300]
    rec = {"wall_s": wall, "traced": traced,
           "ops": [{"name": o.name, "facts": o.facts, "wall_s": o.wall_s, "error": o.error}
                   for o in ops]}
    if traced:
        tracer.account()
        rec["layers"] = cycle_layers(tracer, span)
        rec["layers"].update({f"sources.io.{k}": v
                              for k, v in getattr(wl, "layout", {}).items()})
    return rec


def cycle_layers(tracer, cycle_span: dict) -> dict[str, float]:
    """Per-layer totals of one traced cycle, from its spans."""
    spans = tracer.children(cycle_span)
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    tot = lambda pred: sum(dur(s) for s in spans if pred(s))  # noqa: E731
    calls = [s for s in spans if s["kind"] == "call"]
    out = {
        "source_lang.compile_s": tot(lambda s: s["name"] == "source_lang.parse_program"),
        "plans.executor.run_plan_s": tot(lambda s: s["name"] == "plans.executor.run_plan"),
        "plans.executor.python_nodes": sum(s.get("python_nodes", 0) for s in calls),
        "spark.action_s": tot(lambda s: s.get("action", False)),
        "sources.io.write_s": tot(lambda s: s["name"] == "sources.io.write_fact_store"),
        "sources.io.append_s": tot(lambda s: s["name"] == "sources.io.append_fact_store"),
        "sources.io.merge_read_snapshot_s":
            tot(lambda s: s["name"] == "sources.io.merge_read_snapshot"),
        "sources.io.compact_s": tot(lambda s: s["name"] == "sources.io.compact_fact_store"),
        "sources.io.arranged_snapshot_s":
            tot(lambda s: s["name"] == "sources.io.arranged_snapshot"),
        "plans.resume.fold_states_s": tot(lambda s: s["name"] == "plans.resume.fold_states"),
        "plans.resume.resume_plan_s": tot(lambda s: s["name"] == "plans.resume.resume_plan"),
    }
    for s in spans:
        if s["name"].startswith("query."):
            out[s["name"] + "_s"] = out.get(s["name"] + "_s", 0.0) + dur(s)
    for k in SPARK_KEYS:
        out[f"spark.{k}"] = sum(s.get(k, 0) for s in calls)
    return out


def measure(wl, tracer, seconds: float, trace: bool) -> list[dict]:
    """Closed loop: timed cycles back to back until ``seconds`` have
    passed. A traced run times cycles in whole untraced, traced, traced,
    untraced groups, so the tracing overhead is measured on the same JVM
    and a JIT slope that is still falling cancels out of it."""
    cycles, t0 = [], time.perf_counter()
    while True:
        cycles.append(run_cycle(wl, tracer, traced=trace and len(cycles) % 4 in (1, 2)))
        enough = time.perf_counter() - t0 >= seconds
        if enough and (not trace or len(cycles) % 4 == 0):
            return cycles


def summarize(cycles: list[dict], setup_s: float, trace: bool, host: dict) -> dict:
    """The result line: counts plus end-to-end or per-layer metrics."""
    ops = [o for c in cycles for o in c["ops"]]
    failed = sum(o["error"] is not None for o in ops)
    plain = [c for c in cycles if not c["traced"]]
    good = [c for c in plain if all(o["error"] is None for o in c["ops"])] or plain
    med = statistics.median
    metrics: dict[str, dict] = {}
    if not trace:
        vals = {
            "cycle_s": med(c["wall_s"] for c in good),
            "facts_per_s": med(sum(o["facts"] for o in c["ops"] if o["error"] is None)
                               / c["wall_s"] for c in good),
            "queries_per_s": med(sum(o["error"] is None for o in c["ops"]) / c["wall_s"]
                                 for c in good),
            "setup_s": setup_s,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}
    else:
        traced = [c for c in cycles if c["traced"]]
        names = per_layer_names()
        vals = {k: med(c["layers"].get(k, 0) for c in traced) for k in names}
        vals.update({f"host.{k}": v for k, v in host.items()})
        vals["trace.overhead_s"] = (med(c["wall_s"] for c in traced)
                                    - med(c["wall_s"] for c in plain))
        metrics = {k: {"value": vals[k], "unit": u} for k, u in names.items()}
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "icicle_spark")):
        print(f"perfbench: no icicle_spark package beside {HERE}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    _env(work)
    from perfbench.trace import HostWindow, Tracer, loadavg, tree_peak_rss_mb
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    def _deadline(_sig, _frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    spark, report = None, {"run_id": run_id, "loadavg_start": loadavg()}
    try:
        t0 = time.perf_counter()
        from icicle_spark.session import get_spark

        spark = get_spark(cpus=os.cpu_count(),
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, run_id, enabled=False)
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
        wl.inputs()
        # nothing runs between the warm-up and the timed cycles
        t_oracle = time.perf_counter()
        wl.oracle()
        report["oracle_s"] = time.perf_counter() - t_oracle
        warm = []
        for _ in range(wl.warm_cycles):
            tw = time.perf_counter()
            wl.cycle()
            warm.append(time.perf_counter() - tw)
        report["warm_s"] = warm
        setup_s = time.perf_counter() - t0 - report["oracle_s"]

        host = HostWindow().start()
        tracer.enabled = bool(args.trace)
        with tracer.span(args.workload, kind="workload"):
            cycles = measure(wl, tracer, args.seconds, bool(args.trace))
        hw = host.stop()
        hw["peak_rss_mb"] = tree_peak_rss_mb()
        result = summarize(cycles, setup_s, bool(args.trace), hw)
        report.update(setup_s=setup_s, host=hw, cycles=cycles, result=result)
    finally:
        signal.alarm(0)
        stop_processes(spark)
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    with open(os.path.join(WORK, "reports", run_id + ".json"), "w") as fh:
        json.dump({**report, "spans": tracer.spans}, fh, indent=1, default=str)
    print(f"perfbench: {run_id}: {len(cycles)} timed cycles, {result['failed']}/"
          f"{result['attempted']} operations failed, steal {hw['steal_s']:.2f} core-s, "
          f"load at start {report['loadavg_start']}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Round-6 optimization harness (bench.py stays FROZEN for the driver).

Times individual declared queries with exactly the frozen bench.py
methodology — noop sink (guide §1.4), one warm run, then min-of-N
fresh-lineage timed runs — and optionally dumps
``.explain("formatted")`` to plans/r06/<query>_<tag>.txt.

Usage:
    python bench_extra.py q1 q2 ...            # time queries at $SPARK_GRAFT_SF_DIR
    python bench_extra.py --plans TAG q1 ...   # also write plans/r06/<q>_<TAG>.txt
    python bench_extra.py --runs 3 q1          # min-of-3
    python bench_extra.py latest_hot_entity    # a leaf below, not a query
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _best_of(build, runs: int) -> float:
    """One warm run of ``build()``, then the min of ``runs`` timed runs,
    each on a fresh lineage."""
    _force(build())  # warm: JIT + file cache
    best = None
    for _ in range(runs):
        df = build()
        t0 = time.perf_counter()
        _force(df)
        el = time.perf_counter() - t0
        best = el if best is None else min(best, el)
    return round(best, 3)


def _differing_rows(a, b, key: str) -> int:
    """Rows of two pandas frames (same keys) that differ in any column:
    numbers beyond 1e-9 relative (nulls equal nulls), anything else by
    its string form."""
    import numpy as np
    import pandas as pd

    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    if len(a) != len(b) or not (a[key] == b[key]).all():
        return max(len(a), len(b))
    bad = np.zeros(len(a), dtype=bool)
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_numeric_dtype(x) and pd.api.types.is_numeric_dtype(y):
            bad |= ~np.isclose(x.to_numpy("float64", na_value=np.nan),
                               y.to_numpy("float64", na_value=np.nan),
                               rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            bad |= (x.astype(str) != y.astype(str)).to_numpy()
    return int(bad.sum())


def latest_hot_entity(spark, runs: int) -> dict:
    """Skew leaf: perfbench's fused snapshot program (12 outputs, one
    ``latest 5`` frame) over benchgen's Zipf facts at 3M rows, where the
    hottest entity holds about 18 % of them, on ``native`` and on
    ``vectorized``. Each is timed like a query (noop sink, one warm run,
    min of ``runs``); the outputs are then compared row by row."""
    from icicle_spark.plans import run_plan
    from icicle_spark.source_lang import parse_program
    from icicle_spark.sources.benchgen import generate
    from perfbench.workloads import FUSED_PROGRAM, FUSED_SNAP

    path = generate(n_rows=3_000_000, n_docs=150_000, seed=7)
    plan = parse_program(
        FUSED_PROGRAM, dialect="sql", skip_nulls=True,
        entity_col="doc_id", time_col="event_time", seq_col="seq",
    )["facts"]

    def build(strategy):
        facts = spark.read.parquet(path).drop("tokens")
        return run_plan(facts, plan, snapshot=FUSED_SNAP, strategy=strategy)

    out: dict = {"facts": 3_000_000}
    for strategy in ("native", "vectorized"):
        out[f"{strategy}_s"] = _best_of(lambda: build(strategy), runs)
    a, b = (build(s).toPandas() for s in ("native", "vectorized"))
    out["differing_rows"] = _differing_rows(a, b, "doc_id")
    out["equal"] = out["differing_rows"] == 0
    return out


LEAVES = {"latest_hot_entity": latest_hot_entity}


def main() -> None:
    args = sys.argv[1:]
    tag = None
    runs = 2
    if "--plans" in args:
        i = args.index("--plans")
        tag = args[i + 1]
        del args[i : i + 2]
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i : i + 2]
    names = args

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry
    from icicle_spark.session import get_spark

    spark = get_spark(cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    timings: dict[str, float] = {}
    leaves: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        if name in LEAVES:
            leaves[name] = LEAVES[name](spark, runs)
            print(f"  {name}: {leaves[name]}", file=sys.stderr)
            continue
        if tag:
            os.makedirs("plans/r06", exist_ok=True)
            df = qs[name](spark, SF_DIR)
            with open(f"plans/r06/{name}_{tag}.txt", "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        timings[name] = _best_of(lambda: qs[name](spark, SF_DIR), runs)
        print(f"  {name}: {timings[name]}", file=sys.stderr)
    print(json.dumps({"sf": SF_DIR, "cpus": CPUS, "queries": timings,
                      **({"leaves": leaves} if leaves else {})}))


if __name__ == "__main__":
    main()

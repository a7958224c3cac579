"""Property test over the SOURCE grammar: randomly generated query
strings (contexts x aggregate-expression tails) must evaluate
identically through the native Catalyst compiler and the cogroup
executor — catching parser or backend divergence in one sweep. Element
expressions are Spark SQL on every backend, so ONE query string runs
on all of them."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from icicle_spark.plans import icicle_snapshot, run_plan
from icicle_spark.source_lang import parse_program

SNAP = icicle_snapshot("2024-03-01")

AGGS = ["sum", "count", "mean", "min", "max", "variance", "sd"]
OPS = ["+", "-", "*", "/"]


def _rand_query(rng: np.random.Generator) -> str:
    parts = ["from facts"]
    if rng.random() < 0.4:
        parts.append(f"filter value > {int(rng.integers(-20, 60))}")
    if rng.random() < 0.3:
        parts.append(f"windowed {int(rng.integers(5, 40))} days")
    has_let = rng.random() < 0.3
    if has_let:
        parts.append(f"let x = value + {int(rng.integers(1, 9))}")
    n_terms = int(rng.integers(1, 4))
    terms = []
    for _ in range(n_terms):
        agg = AGGS[int(rng.integers(0, len(AGGS)))]
        expr = rng.choice(
            ["value", "x" if has_let else "value", "(value * 2)"]
        )
        terms.append(f"{agg} {expr}")
    tail = terms[0]
    for t in terms[1:]:
        tail = f"{tail} {OPS[int(rng.integers(0, len(OPS)))]} {t}"
    parts.append(tail)
    return " ~> ".join(parts)


@pytest.fixture(scope="module")
def facts(spark):
    rng = np.random.default_rng(17)
    n = 4000
    pdf = pd.DataFrame(
        {
            "entity": [f"e{i}" for i in rng.integers(0, 80, n)],
            "time": np.datetime64("2024-01-01")
            + rng.integers(0, 55 * 86_400, n).astype("timedelta64[s]"),
            "value": rng.normal(20, 25, n).round(2),
            "seq": np.arange(n, dtype=np.int64),
        }
    )
    return spark.createDataFrame(pdf).cache()


def test_random_source_programs_commute(spark, facts):
    rng = np.random.default_rng(23)
    queries = {f"q{i}": _rand_query(rng) for i in range(30)}
    outs = {}
    for strat in ("native", "cogroup"):
        plan = parse_program(
            queries, skip_nulls=True,
            entity_col="entity", time_col="time", seq_col="seq",
        )["facts"]
        outs[strat] = (
            run_plan(facts, plan, snapshot=SNAP, strategy=strat)
            .toPandas().set_index("entity").sort_index()
        )
    a, b = outs["native"], outs["cogroup"]
    assert list(a.index) == list(b.index)
    for name, q in queries.items():
        av = a[name].to_numpy(dtype=float)
        bv = b[name].to_numpy(dtype=float)
        ok = np.isclose(av, bv, rtol=1e-9, atol=1e-9, equal_nan=True)
        # inf == inf (division by ~0 postcomps can legitimately blow
        # up identically on both engines)
        ok |= (av == bv)
        assert ok.all(), (name, q)


# -- round-4 grammar classes: tuples, scans, conditionals, post-group
#    filters / per-key latest frames ----------------------------------

def _rand_elem(rng: np.random.Generator) -> str:
    n = int(rng.integers(-10, 40))
    return rng.choice([
        "value",
        f"(value + {int(rng.integers(1, 9))})",
        f"(if value > {n} then value else {int(rng.integers(0, 5))})",
        f"(case value > {n} of True then (value * 2) ; False then 0)",
    ])


def _rand_new_query(rng: np.random.Generator, cls: str) -> str:
    parts = ["from facts"]
    # scan binds run at the scan's stream position — the engine
    # (documented) rejects a scan bound after a filter context
    if cls != "scan" and rng.random() < 0.4:
        parts.append(f"filter value > {int(rng.integers(-20, 30))}")
    if cls == "tuple":
        a1 = AGGS[int(rng.integers(0, len(AGGS)))]
        a2 = AGGS[int(rng.integers(0, len(AGGS)))]
        parts.append(f"({a1} {_rand_elem(rng)}, {a2} value)")
    elif cls == "cond":
        a1 = AGGS[int(rng.integers(0, 4))]
        thr = int(rng.integers(-50, 400))
        form = rng.choice(["if", "case"])
        if form == "if":
            parts.append(
                f"if {a1} value > {thr} then {a1} value else count value"
            )
        else:
            parts.append(
                f"case {a1} value > {thr} of True then {a1} value ; "
                "False then count value"
            )
    elif cls == "pgf":
        agg = rng.choice(["count", "sum"])
        key = rng.choice(["(value > 0)", "(value > 20)"])
        parts.append(f"group {key}")
        if rng.random() < 0.5:
            parts.append(f"latest {int(rng.integers(1, 6))}")
        parts.append(f"filter value > {int(rng.integers(0, 60))}")
        parts.append(f"{agg} value")
    elif cls == "pgf_first":
        # round-4-late: filter BEFORE the per-key frame (zebra
        # test_map order; Feature.pg_before_latest — native declines)
        agg = rng.choice(["count", "sum", "newest"])
        parts.append(f"group (value > {int(rng.integers(-5, 25))})")
        parts.append(f"filter value > {int(rng.integers(0, 60))}")
        parts.append(f"latest {int(rng.integers(1, 5))}")
        parts.append(f"{agg} value")
    elif cls == "mlet":
        # layout-rule multi-binding let block (no semicolons)
        k1, k2 = int(rng.integers(1, 7)), int(rng.integers(2, 5))
        parts.append(
            f"let a = value + {k1} b = a * {k2} c = b - a"
        )
        agg = rng.choice(["sum", "mean", "max", "count"])
        parts.append(f"{agg} c")
    elif cls == "circ":
        # circular_stats lowering (hidden folds + struct postcomp)
        k = int(rng.integers(20, 80))
        fld = rng.choice(["mean", "sd", "z_test"])
        parts.append(f"(circular_stats (value / {k})).{fld}")
    elif cls == "scan":
        sagg = rng.choice(["sum", "count", "min", "max", "mean"])
        oagg = rng.choice(["sum", "mean", "max", "newest"])
        parts.append(f"scan z = {sagg} value")
        if rng.random() < 0.4:
            parts.append(f"filter value > {int(rng.integers(-20, 30))}")
        if rng.random() < 0.6:
            parts.append(f"latest {int(rng.integers(2, 8))}")
        parts.append(f"{oagg} (z + {int(rng.integers(0, 5))})")
    return " ~> ".join(parts)


def _values_close(va, vb) -> bool:
    if va is None or vb is None:
        return va is None and vb is None
    fa, fb = float(va), float(vb)
    if np.isnan(fa) or np.isnan(fb):
        return np.isnan(fa) and np.isnan(fb)
    return bool(np.isclose(fa, fb, rtol=1e-9, atol=1e-9)) or fa == fb


def _assert_cell(name, q, e, a, b):
    ctx = (name, q, e)
    if a is None or b is None:
        assert a is None and b is None, ctx
    elif isinstance(a, dict):
        assert isinstance(b, dict) and set(a) == set(b), (ctx, a, b)
        for k in a:
            assert _values_close(a[k], b[k]), (ctx, k, a[k], b[k])
    elif hasattr(a, "asDict"):  # struct (tuple output)
        da, db = a.asDict(), b.asDict()
        assert set(da) == set(db), (ctx, da, db)
        for k in da:
            assert _values_close(da[k], db[k]), (ctx, k, da, db)
    else:
        assert _values_close(a, b), (ctx, a, b)


def test_random_new_grammar_commutes(spark, facts):
    """Round-4 grammar classes (tuple outputs, element/aggregate
    conditionals, post-group filters + per-key latest, scan binds)
    generated at random must evaluate identically on every backend
    that accepts them (native declines scan binds by design)."""
    rng = np.random.default_rng(41)
    native_ok = {}
    for i in range(6):
        native_ok[f"t{i}"] = _rand_new_query(rng, "tuple")
        native_ok[f"c{i}"] = _rand_new_query(rng, "cond")
        native_ok[f"g{i}"] = _rand_new_query(rng, "pgf")
    scans = {f"s{i}": _rand_new_query(rng, "scan") for i in range(8)}

    def _runs(queries, strats):
        outs = {}
        for strat in strats:
            plan = parse_program(
                queries, skip_nulls=True,
                entity_col="entity", time_col="time", seq_col="seq",
            )["facts"]
            outs[strat] = (
                run_plan(facts, plan, snapshot=SNAP, strategy=strat)
                .toPandas().set_index("entity").sort_index()
            )
        base = outs.pop(strats[0])
        for strat, other in outs.items():
            assert list(base.index) == list(other.index), strat
            for name, q in queries.items():
                for e in base.index:
                    _assert_cell(
                        f"{name}/{strat}", q, e,
                        base.loc[e, name], other.loc[e, name],
                    )

    _runs(native_ok, ["native", "vectorized",
                      "cogroup"])
    _runs(scans, ["vectorized", "cogroup"])

    # late-round-4 classes: multi-binding lets (all three backends),
    # circular_stats, filter-then-frame per key
    # (native declines pg_before_latest by design)
    mlets = {f"m{i}": _rand_new_query(rng, "mlet") for i in range(5)}
    _runs(mlets, ["native", "vectorized",
                  "cogroup"])
    circs = {f"x{i}": _rand_new_query(rng, "circ") for i in range(5)}
    _runs(circs, ["native", "vectorized",
                  "cogroup"])
    pgf_first = {
        f"pf{i}": _rand_new_query(rng, "pgf_first") for i in range(6)
    }
    _runs(pgf_first, ["vectorized", "cogroup"])

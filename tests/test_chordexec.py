"""Vectorized chord executor vs cogroup executor: randomized commuting
check (same discipline as the reference's EvalCommutes property tests)
over a plan covering every prefix-decomposable fold, with windows,
latest-N frames, where-filters, nulls, Possibly poisoning, ties on
time, chords before the first fact, and entities with no facts."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from icicle_spark.plans import Agg, CustomFold, Feature, Plan, Window, run_plan
from icicle_spark.plans.chordexec import supports_chords


@pytest.fixture(scope="module")
def data(spark):
    rng = np.random.default_rng(7)
    n, ents = 12_000, 200
    pdf = pd.DataFrame(
        {
            "entity": [f"e{i}" for i in rng.integers(0, ents, n)],
            "time": np.datetime64("2024-01-01")
            + rng.integers(0, 90 * 86_400, n).astype("timedelta64[s]"),
            "value": np.where(
                rng.random(n) < 0.06, np.nan, rng.normal(50, 20, n).round(2)
            ),
            "flag": rng.integers(0, 2, n).astype(bool),
            "seq": np.arange(n, dtype=np.int64),
        }
    )
    facts = spark.createDataFrame(pdf)
    rows = []
    for i, e in enumerate(sorted(set(pdf["entity"])) + ["e_nofacts"]):
        for qt in ["2023-12-15", "2024-02-01 12:34:56", "2024-04-01"][: (i % 3) + 1]:
            rows.append((e, pd.Timestamp(qt), f"L{qt[:7]}"))
    chords = spark.createDataFrame(
        pd.DataFrame(rows, columns=["entity", "query_time", "label"])
    )
    return facts, chords, len(rows)


PLAN = Plan(
    [
        Feature("s", Agg.SUM, "value", skip_nulls=True),
        Feature("c", Agg.COUNT, "value", skip_nulls=True),
        Feature("m", Agg.MEAN, "value", skip_nulls=True),
        Feature("v", Agg.VARIANCE, "value", skip_nulls=True),
        Feature("sd", Agg.SD, "value", skip_nulls=True),
        Feature("mn", Agg.MIN, "value", skip_nulls=True),
        Feature("mx", Agg.MAX, "value", skip_nulls=True),
        Feature("nw", Agg.NEWEST, "value", skip_nulls=True),
        Feature("od", Agg.OLDEST, "value", skip_nulls=True),
        Feature("anyf", Agg.ANY, "flag", skip_nulls=True),
        Feature("allf", Agg.ALL, "flag", skip_nulls=True),
        Feature("w14s", Agg.SUM, "value", window=Window(14), skip_nulls=True),
        Feature("wb", Agg.COUNT, "value", window=Window(10, 3), skip_nulls=True),
        Feature("wk", Agg.SUM, "value", window=Window(2, unit="weeks"), skip_nulls=True),
        Feature("l5m", Agg.MEAN, "value", latest=5, skip_nulls=True),
        Feature("l3nw", Agg.NEWEST, "value", latest=3, skip_nulls=True),
        Feature("fs", Agg.SUM, "value", where="flag", skip_nulls=True),
        Feature("fl2", Agg.COUNT, "value", where="flag", latest=2, skip_nulls=True),
        Feature("pois", Agg.SUM, "value", skip_nulls=False),
        Feature("poil", Agg.SUM, "value", latest=3, skip_nulls=False),
        Feature("nf", Agg.NUMFLIPS, "flag", skip_nulls=True),
        Feature("nfw", Agg.NUMFLIPS, "flag", window=Window(14), skip_nulls=True),
        Feature("nfl", Agg.NUMFLIPS, "flag", latest=4, skip_nulls=True),
        Feature("wmn", Agg.MIN, "value", window=Window(7), skip_nulls=True),
        Feature("wmx", Agg.MAX, "value", window=Window(14), skip_nulls=True),
        Feature("lmn", Agg.MIN, "value", latest=5, skip_nulls=True),
        Feature("cd", Agg.COUNT_DISTINCT, "value", skip_nulls=True),
        Feature("dvv", Agg.DISTINCT_VALUES, "flag", skip_nulls=True),
        Feature("co", Agg.COLLECT, "value", latest=3, skip_nulls=True),
        Feature(
            "ew",
            CustomFold(
                init=None,
                step_seq=lambda a, v: float(v) if a is None else 0.7 * a + 0.3 * v,
            ),
            "value",
            skip_nulls=True,
        ),
        Feature(
            "cfs",
            CustomFold(init=0.0, step=lambda xs: float(np.sum(xs.astype(float)))),
            "value",
            window=Window(14),
            skip_nulls=True,
        ),
        Feature("mxb", Agg.MAX_BY, "seq", by="value", skip_nulls=True),
        Feature("mnb", Agg.MIN_BY, "value", by="seq", window=Window(14),
                skip_nulls=True),
    ],
    entity_col="entity",
    time_col="time",
    seq_col="seq",
)


def test_plan_is_vectorizable():
    assert supports_chords(PLAN)
    assert not supports_chords(
        Plan([Feature("g", Agg.COUNT, "value", group="flag")],
             entity_col="entity", time_col="time")
    )
    # windowed MIN is supported via the O(frame) slice path
    assert supports_chords(
        Plan([Feature("wmn", Agg.MIN, "value", window=Window(7))],
             entity_col="entity", time_col="time")
    )


def test_chordvec_commutes_with_cogroup(spark, data):
    facts, chords, n_rows = data
    key = ["entity", "query_time", "label"]
    a = run_plan(facts, PLAN, chords=chords, strategy="vectorized").toPandas()
    b = run_plan(facts, PLAN, chords=chords, strategy="cogroup").toPandas()
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) == n_rows
    for col in key:
        assert (a[col] == b[col]).all(), col
    def _canon(x):
        # list-valued outputs (COLLECT / DISTINCT_VALUES) compare as
        # tuples — to_numeric would coerce them to NaN and trivially
        # "match"
        if isinstance(x, (list, np.ndarray)):
            return tuple(x)
        return x

    for col in a.columns:
        if col in key:
            continue
        if a[col].map(lambda x: isinstance(x, (list, np.ndarray))).any():
            av = a[col].map(_canon)
            bv = b[col].map(_canon)
            ok = (av.isna() & bv.isna()) | (av == bv)
            assert ok.all(), (col, a.loc[~ok, key + [col]].head())
            continue
        av = pd.to_numeric(a[col], errors="coerce")
        bv = pd.to_numeric(b[col], errors="coerce")
        ok = (av.isna() & bv.isna()) | np.isclose(
            av.astype(float), bv.astype(float), atol=1e-9, equal_nan=True
        )
        assert ok.all(), (col, a.loc[~ok, key + [col]].head())


def test_chordvec_zero_leakage(spark, data):
    """Removing every fact at time >= the chord's query time leaves
    that chord's outputs unchanged (strict `<` rule at each
    entity x timestamp)."""
    from pyspark.sql import functions as F

    facts, chords, _ = data
    qt = pd.Timestamp("2024-02-01 12:34:56")
    one = chords.where(F.col("query_time") == qt)
    full = run_plan(facts, PLAN, chords=one, strategy="vectorized").toPandas()
    trimmed = run_plan(
        facts.where(F.col("time") < F.lit(qt)), PLAN, chords=one, strategy="vectorized"
    ).toPandas()
    key = ["entity", "query_time", "label"]
    full = full.sort_values(key).reset_index(drop=True)
    trimmed = trimmed.sort_values(key).reset_index(drop=True)
    for col in full.columns:
        if col in key:
            continue
        av = pd.to_numeric(full[col], errors="coerce")
        bv = pd.to_numeric(trimmed[col], errors="coerce")
        assert (
            (av.isna() & bv.isna())
            | np.isclose(av.astype(float), bv.astype(float), equal_nan=True)
        ).all(), col


def test_chordvec_small_arrow_batches(spark, data):
    """Entity groups spanning Arrow batch boundaries exercise the
    carry logic: results must not depend on batch size."""
    facts, chords, n_rows = data
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    baseline = run_plan(facts, PLAN, chords=chords, strategy="vectorized").toPandas()
    try:
        spark.conf.set(conf, "97")
        small = run_plan(facts, PLAN, chords=chords, strategy="vectorized").toPandas()
    finally:
        spark.conf.set(conf, prev)
    key = ["entity", "query_time", "label"]
    a = baseline.sort_values(key).reset_index(drop=True)
    b = small.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) == n_rows
    for col in a.columns:
        if col in key:
            assert (a[col] == b[col]).all(), col
            continue
        av = pd.to_numeric(a[col], errors="coerce")
        bv = pd.to_numeric(b[col], errors="coerce")
        assert (
            (av.isna() & bv.isna())
            | np.isclose(av.astype(float), bv.astype(float), equal_nan=True)
        ).all(), col


def test_windowed_minmax_vectorized_and_native_agree(spark, data):
    """Windowed MIN/MAX chords: the vectorized executor answers them
    with O(frame) slices (round 2 — previously routed to the native
    chord compiler); both must agree with the cogroup executor."""
    facts, chords, n_rows = data
    plan = Plan(
        [
            Feature("wmn", Agg.MIN, "value", window=Window(14), skip_nulls=True),
            Feature("wmx", Agg.MAX, "value", window=Window(14), skip_nulls=True),
        ],
        entity_col="entity",
        time_col="time",
        seq_col="seq",
    )
    assert supports_chords(plan)
    key = ["entity", "query_time", "label"]
    a = run_plan(facts, plan, chords=chords, strategy="vectorized").toPandas()
    b = run_plan(facts, plan, chords=chords, strategy="cogroup").toPandas()
    c = run_plan(facts, plan, chords=chords, strategy="native").toPandas()
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    c = c.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) == len(c) == n_rows
    for col in ("wmn", "wmx"):
        for other in (b, c):
            av, ov = a[col].astype(float), other[col].astype(float)
            assert (
                (av.isna() & ov.isna()) | np.isclose(av, ov, equal_nan=True)
            ).all(), col


def test_chords_derived_from_facts_every_strategy(spark, data):
    """A chord table built from the facts themselves (entities
    cross-joined with query times) shares the facts' entity attribute;
    every strategy must still resolve it and give the same answer."""
    facts, _, _ = data
    times = spark.createDataFrame(
        pd.DataFrame({"query_time": pd.to_datetime(["2024-02-01", "2024-03-15"])})
    )
    chords = facts.select("entity").distinct().crossJoin(times)
    plan = Plan(
        [
            Feature("s", Agg.SUM, "value", skip_nulls=True),
            Feature("c", Agg.COUNT, "value", skip_nulls=True),
            Feature("nw", Agg.NEWEST, "value", skip_nulls=True),
        ],
        entity_col="entity", time_col="time", seq_col="seq",
    )
    outs = {
        s: run_plan(facts, plan, chords=chords, strategy=s)
        .toPandas()
        .sort_values(["entity", "query_time"])
        .reset_index(drop=True)
        for s in ("cogroup", "auto", "native", "vectorized")
    }
    ref = outs.pop("cogroup")
    assert len(ref) == 2 * facts.select("entity").distinct().count()
    for s, out in outs.items():
        assert (out["entity"] == ref["entity"]).all(), s
        for c in ("s", "c", "nw"):
            assert np.allclose(
                out[c].astype("float64"), ref[c].astype("float64"),
                equal_nan=True,
            ), (s, c)


def test_duplicate_chord_rows_every_strategy(spark):
    """Exact duplicate chord rows each get their own output row, and
    each counts the entity's facts once (joining the facts to the
    chord rows themselves would fold them once per duplicate)."""
    from datetime import datetime

    facts = spark.createDataFrame(
        [
            ("a", datetime(2024, 1, 1), 5.0, 0),
            ("a", datetime(2024, 1, 2), 10.0, 1),
            ("a", datetime(2024, 3, 1), 100.0, 2),
            ("b", datetime(2024, 1, 5), 1.0, 3),
        ],
        "entity string, time timestamp, value double, seq bigint",
    )
    qt = datetime(2024, 2, 1)
    chords = spark.createDataFrame(
        [("a", qt), ("a", qt), ("b", qt), ("c", qt)],
        "entity string, query_time timestamp",
    )
    plan = Plan(
        [
            Feature("s", Agg.SUM, "value", skip_nulls=True),
            Feature("c", Agg.COUNT, "value", skip_nulls=True),
            Feature("l2", Agg.SUM, "value", latest=2, skip_nulls=True),
        ],
        entity_col="entity", time_col="time", seq_col="seq",
    )
    want = [("a", 15.0, 2, 15.0), ("a", 15.0, 2, 15.0), ("b", 1.0, 1, 1.0),
            ("c", 0.0, 0, 0.0)]
    for s in ("cogroup", "auto", "native", "vectorized"):
        got = sorted(
            (r.entity, r.s, r.c, r.l2)
            for r in run_plan(facts, plan, chords=chords, strategy=s).collect()
        )
        assert got == want, s
        # the error channel joins one code row per distinct chord
        audited = run_plan(
            facts, plan, chords=chords, strategy=s, error_codes=True
        ).collect()
        assert sorted((r.entity, r.s, r.c, r.l2) for r in audited) == want, s
        assert {(r.s_err, r.c_err, r.l2_err) for r in audited} == {(0, 0, 0)}, s

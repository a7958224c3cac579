"""DECAYED_SUM (engine extension): recency-weighted sum
v * 2^(-(qtime - t)/half_life) across all four backends + a direct
numpy oracle. Prefix trick in the chord executor:
e^(-l(qt-T0)) * cumsum(v e^(l(t-T0))) — verified against the direct
formula."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from icicle_spark.plans import Agg, Feature, Plan, Window, compile_native, run_plan

SNAP = "2024-02-10 00:00:00"


@pytest.fixture(scope="module")
def pdf():
    rng = np.random.default_rng(11)
    n = 5000
    return pd.DataFrame(
        {
            "entity": [f"e{i}" for i in rng.integers(0, 80, n)],
            "time": np.datetime64("2024-01-01")
            + rng.integers(0, 60 * 86_400, n).astype("timedelta64[s]"),
            "value": np.where(
                rng.random(n) < 0.05, np.nan, rng.normal(50, 20, n).round(2)
            ),
            "seq": np.arange(n, dtype=np.int64),
        }
    )


@pytest.fixture(scope="module")
def facts(spark, pdf):
    return spark.createDataFrame(pdf).cache()


PLAN = Plan(
    [
        Feature("d7", Agg.DECAYED_SUM, "value", half_life_days=7.0, skip_nulls=True),
        Feature(
            "d1w", Agg.DECAYED_SUM, "value", half_life_days=2.0,
            window=Window(14), skip_nulls=True,
        ),
        Feature(
            "dl5", Agg.DECAYED_SUM, "value", half_life_days=7.0,
            latest=5, skip_nulls=True,
        ),
    ],
    entity_col="entity",
    time_col="time",
    seq_col="seq",
)


def test_decay_backends_commute_snapshot(spark, facts):
    a = run_plan(facts, PLAN, snapshot=SNAP, strategy="vectorized").toPandas()
    c = run_plan(facts, PLAN, snapshot=SNAP, strategy="cogroup").toPandas()
    a = a.sort_values("entity").reset_index(drop=True)
    c = c.sort_values("entity").reset_index(drop=True)
    for col in ["d7", "d1w", "dl5"]:
        assert np.allclose(a[col], c[col], atol=1e-9), col
    nat = Plan(
        [f for f in PLAN.features if f.latest is None],
        entity_col="entity", time_col="time", seq_col="seq",
    )
    b = compile_native(facts, nat, snapshot=SNAP).toPandas()
    b = b.sort_values("entity").reset_index(drop=True)
    for col in ["d7", "d1w"]:
        assert np.allclose(a[col], b[col], atol=1e-9), col


def test_decay_chord_prefix_trick(spark, facts):
    chords = facts.groupBy("entity").agg(F.max("time").alias("query_time"))
    x = run_plan(facts, PLAN, chords=chords, strategy="vectorized").toPandas()
    y = run_plan(facts, PLAN, chords=chords, strategy="cogroup").toPandas()
    x = x.sort_values("entity").reset_index(drop=True)
    y = y.sort_values("entity").reset_index(drop=True)
    for col in ["d7", "d1w", "dl5"]:
        assert np.allclose(x[col], y[col], atol=1e-9), col


def test_decay_chord_old_qt_long_span(spark):
    """Short half-life over ~9 years of history with chords near the OLD
    facts: a single chunk-newest anchor underflows e^(lam*(t-T0)) to 0
    for facts ≳1075 half-lives older than T0 and would return 0.0 where
    the true decayed sum is large. The era-segmented prefix arrays must
    match the direct formula at every chord."""
    rows = []
    # entity with facts in 2015 AND 2024 (span ~9y, 3-day half-life
    # → lam*span ≈ 760 > 745: guaranteed underflow with a global anchor)
    for d in range(10):
        rows.append(("old", pd.Timestamp("2015-03-01") + pd.Timedelta(days=d), 10.0))
    for d in range(10):
        rows.append(("old", pd.Timestamp("2024-03-01") + pd.Timedelta(days=d), 5.0))
    pdf = pd.DataFrame(rows, columns=["entity", "time", "value"])
    pdf["seq"] = np.arange(len(pdf), dtype=np.int64)
    facts = spark.createDataFrame(pdf)
    plan = Plan(
        [Feature("d3", Agg.DECAYED_SUM, "value", half_life_days=3.0,
                 skip_nulls=True)],
        entity_col="entity", time_col="time", seq_col="seq",
    )
    chord_rows = pd.DataFrame(
        {
            "entity": ["old", "old", "old"],
            "query_time": [
                pd.Timestamp("2015-03-06"),   # mid the old era
                pd.Timestamp("2015-04-01"),   # just after the old era
                pd.Timestamp("2024-03-15"),   # near the newest facts
            ],
        }
    )
    chords = spark.createDataFrame(chord_rows)
    lam = np.log(2.0) / (3.0 * 86_400.0)

    def direct(qt):
        sub = pdf[pdf["time"] < qt]
        age = (qt - sub["time"]).dt.total_seconds().to_numpy()
        return float(np.sum(sub["value"].to_numpy() * np.exp(-lam * age)))

    for strat in ["vectorized", "cogroup"]:
        got = (
            run_plan(facts, plan, chords=chords, strategy=strat)
            .toPandas()
            .sort_values("query_time")
            .reset_index(drop=True)
        )
        for i, qt in enumerate(sorted(chord_rows["query_time"])):
            expect = direct(qt)
            assert got.loc[i, "d3"] == pytest.approx(expect, rel=1e-9, abs=1e-12), (
                strat, qt, expect,
            )
        # the 2015 chords see real mass — the regression this guards
        assert got.loc[0, "d3"] > 1.0


def test_decay_numpy_oracle(spark, facts, pdf):
    a = (
        run_plan(facts, PLAN, snapshot=SNAP, strategy="vectorized")
        .toPandas()
        .set_index("entity")
    )
    snap = pd.Timestamp(SNAP)
    lam = np.log(2.0) / (7.0 * 86_400.0)
    for ent in ["e0", "e1", "e7"]:
        sub = pdf[(pdf["entity"] == ent) & (pdf["time"] < snap)]
        v = sub["value"].dropna()
        age = (snap - sub.loc[v.index, "time"]).dt.total_seconds().to_numpy()
        expect = float(np.sum(v.to_numpy() * np.exp(-lam * age)))
        assert a.loc[ent, "d7"] == pytest.approx(expect, abs=1e-8)

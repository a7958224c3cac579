"""run_plan(strategy="auto") routing: every plan the native compiler
takes, latest-N frames included, runs with no Python node in the
executed plan; arranged stores keep their Arrow executor. Every routed
answer matches the per-entity cogroup executor."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from icicle_spark.plans import Agg, Feature, Plan, run_plan
from icicle_spark.plans.executor import choose_backend

SNAP = "2024-03-01"

PYTHON_NODES = (
    "MapInPandas", "PythonMapInArrow", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
)

# the shapes of the certified asof_snapshot_folds / asof_chord queries
FOLDS = [
    Feature("sum_val", Agg.SUM, "value", skip_nulls=True),
    Feature("cnt", Agg.COUNT, "value", skip_nulls=True),
    Feature("mean_val", Agg.MEAN, "value", skip_nulls=True),
    Feature("min_val", Agg.MIN, "value", skip_nulls=True),
    Feature("max_val", Agg.MAX, "value", skip_nulls=True),
    Feature("newest_val", Agg.NEWEST, "value", skip_nulls=True),
    Feature("oldest_val", Agg.OLDEST, "value", skip_nulls=True),
]
CHORD_FOLDS = FOLDS[:3]
LATEST = [
    Feature("latest5_sum", Agg.SUM, "value", latest=5, skip_nulls=True),
    Feature("latest5_mean", Agg.MEAN, "value", latest=5, skip_nulls=True),
]
CLICKS = [
    Feature("click_cnt", Agg.COUNT, "value", where="event_type == 'click'",
            skip_nulls=True),
]


def _plan(features, **kw) -> Plan:
    return Plan(features, entity_col="user_id", time_col="ts",
                seq_col="event_id", **kw)


@pytest.fixture(scope="module")
def events(spark):
    rng = np.random.default_rng(7)
    n = 600
    pdf = pd.DataFrame({
        "user_id": rng.integers(0, 40, n).astype("int64"),
        "ts": pd.Timestamp("2024-01-01")
        + pd.to_timedelta(rng.integers(0, 90 * 24, n), unit="h"),
        "event_id": np.arange(n, dtype="int64"),
        "value": np.where(rng.random(n) < 0.1, np.nan, rng.normal(10, 3, n)),
        "event_type": rng.choice(["click", "view", "buy"], n),
    })
    return spark.createDataFrame(pdf)


def _python_nodes(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [n for n in PYTHON_NODES if n in plan]


def _broadcast_hint(df) -> bool:
    return "strategy=broadcast" in df._jdf.queryExecution().analyzed().toString()


def _same(a, b, key: list[str]) -> None:
    a = a.toPandas().sort_values(key).reset_index(drop=True)
    b = b.toPandas().sort_values(key).reset_index(drop=True)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b) > 0
    for col in a.columns:
        if col in key:
            assert (a[col] == b[col]).all(), col
            continue
        av, bv = a[col].astype(float), b[col].astype(float)
        assert np.allclose(av, bv, atol=1e-9, equal_nan=True), col


def _chords(events):
    return events.groupBy("user_id").agg(F.max("ts").alias("query_time"))


def test_snapshot_folds_route_native(events):
    plan = _plan(FOLDS)
    assert choose_backend(plan, SNAP) == (
        "native", "native_supported")
    out = run_plan(events, plan, snapshot=SNAP)
    assert _python_nodes(out) == []
    assert not _broadcast_hint(out)
    _same(out, run_plan(events, plan, snapshot=SNAP, strategy="cogroup"),
          ["user_id"])


def test_chord_folds_route_native_without_broadcast_hint(events):
    plan, chords = _plan(CHORD_FOLDS), _chords(events)
    assert choose_backend(plan, chords=chords) == (
        "native", "native_supported")
    out = run_plan(events, plan, chords=chords)
    assert _python_nodes(out) == []
    # no strategy hints a broadcast of the chord table
    for strategy in ("auto", "native", "vectorized", "cogroup"):
        assert not _broadcast_hint(
            run_plan(events, plan, chords=chords, strategy=strategy)
        ), strategy
    assert not _broadcast_hint(run_plan(events, plan, chords=chords,
                                        error_codes=True))
    _same(out, run_plan(events, plan, chords=chords, strategy="cogroup"),
          ["user_id", "query_time"])


def test_sql_dialect_where_routes_native(events):
    plan = _plan([
        Feature("click_cnt", Agg.COUNT, "value", where="event_type = 'click'",
                skip_nulls=True),
    ])
    assert choose_backend(plan, SNAP)[0] == "native"
    out = run_plan(events, plan, snapshot=SNAP)
    assert _python_nodes(out) == []
    _same(out, run_plan(events, _plan(CLICKS), snapshot=SNAP,
                        strategy="cogroup"), ["user_id"])


def test_equality_where_routes_native(events):
    # `==` is Spark SQL equality too: asof_window_folds' where runs
    # on the native compiler
    plan = _plan(CLICKS)
    assert choose_backend(plan, SNAP) == (
        "native", "native_supported")
    out = run_plan(events, plan, snapshot=SNAP)
    assert _python_nodes(out) == []
    _same(out, run_plan(events, plan, snapshot=SNAP, strategy="cogroup"),
          ["user_id"])


def test_latest_snapshot_routes_native(events):
    plan = _plan(LATEST)
    assert choose_backend(plan, SNAP) == ("native", "native_supported")
    out = run_plan(events, plan, snapshot=SNAP)
    assert _python_nodes(out) == []
    _same(out, run_plan(events, plan, snapshot=SNAP, strategy="cogroup"),
          ["user_id"])


def test_latest_chords_route_native(events):
    plan, chords = _plan(LATEST), _chords(events)
    assert choose_backend(plan, chords=chords) == ("native", "native_supported")
    out = run_plan(events, plan, chords=chords)
    assert _python_nodes(out) == []
    _same(out, run_plan(events, plan, chords=chords, strategy="cogroup"),
          ["user_id", "query_time"])


def test_assume_arranged_keeps_vexec(events):
    plan = _plan(FOLDS)
    arranged = events.repartition(4, "user_id").sortWithinPartitions(
        "user_id", "ts", "event_id")
    assert choose_backend(plan, SNAP, assume_arranged=True) == (
        "vexec", "assume_arranged: vexec reads the arranged layout")
    out = run_plan(arranged, plan, snapshot=SNAP, assume_arranged=True)
    assert _python_nodes(out)
    _same(out, run_plan(events, plan, snapshot=SNAP, strategy="cogroup"),
          ["user_id"])


def test_choose_backend_explicit_strategies_and_errors(events):
    plan = _plan(FOLDS)
    assert choose_backend(plan, SNAP, strategy="native") == (
        "native", "strategy='native'")
    assert choose_backend(plan, SNAP, strategy="cogroup") == (
        "cogroup", "strategy='cogroup'")
    assert choose_backend(plan, SNAP, strategy="vectorized") == (
        "vexec", "strategy='vectorized': snapshot on vexec")
    group = _plan([Feature("g", Agg.COUNT, "value", group="event_type",
                           skip_nulls=True)])
    assert choose_backend(group, chords=_chords(events))[0] == "native"
    with pytest.raises(ValueError, match="prefix-decomposable"):
        choose_backend(group, chords=_chords(events), strategy="vectorized")
    with pytest.raises(ValueError, match="assume_arranged"):
        choose_backend(plan, SNAP, strategy="native", assume_arranged=True)
    with pytest.raises(ValueError, match="unknown strategy"):
        choose_backend(plan, SNAP, strategy="fast")


@pytest.mark.parametrize("strategy", ["native", "vectorized", "cogroup", "auto"])
def test_integer_chord_label(spark, strategy):
    facts = spark.createDataFrame(pd.DataFrame({
        "entity": [1, 1, 1, 2, 2],
        "time": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-05",
                                "2024-01-01", "2024-01-03"]),
        "value": [1.0, 2.0, 4.0, 10.0, 20.0],
    }))
    chords = spark.createDataFrame(pd.DataFrame({
        "entity": [1, 2],
        "query_time": pd.to_datetime(["2024-01-04", "2024-01-04"]),
        "label": [1, 2],
    }))
    plan = Plan([Feature("s", Agg.SUM, "value", skip_nulls=True)],
                entity_col="entity", time_col="time")
    out = run_plan(facts, plan, chords=chords, strategy=strategy)
    assert dict(out.dtypes)["label"] == "bigint"
    got = out.toPandas().sort_values("entity")
    assert got["label"].tolist() == [1, 2]
    assert got["s"].tolist() == [3.0, 30.0]

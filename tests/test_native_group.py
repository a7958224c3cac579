"""Native (pure-Catalyst) compilation of `group k` and `distinct k`
features: must commute with the vectorized Arrow executor, including
windowed groups, distinct-NEWEST, and the maxMapSize overflow rule."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from icicle_spark.plans import Agg, Feature, Plan, Window, compile_native, run_plan
from icicle_spark.plans.native import native_supported

SNAP = "2024-02-10 00:00:00"


@pytest.fixture(scope="module")
def facts(spark):
    rng = np.random.default_rng(3)
    n = 6000
    pdf = pd.DataFrame(
        {
            "entity": [f"e{i}" for i in rng.integers(0, 100, n)],
            "time": np.datetime64("2024-01-01")
            + rng.integers(0, 60 * 86_400, n).astype("timedelta64[s]"),
            "value": np.where(
                rng.random(n) < 0.05, np.nan, rng.normal(50, 20, n).round(2)
            ),
            "cat": [f"c{i}" for i in rng.integers(0, 5, n)],
            "seq": np.arange(n, dtype=np.int64),
        }
    )
    return spark.createDataFrame(pdf).cache()


PLAN = Plan(
    [
        Feature("gs", Agg.SUM, "value", group="cat", skip_nulls=True),
        Feature("gc", Agg.COUNT, "value", group="cat", skip_nulls=True),
        Feature("gwin", Agg.MEAN, "value", group="cat", window=Window(14),
                skip_nulls=True),
        Feature("gnew", Agg.NEWEST, "value", group="cat", skip_nulls=True),
        Feature("gold", Agg.OLDEST, "value", group="cat", skip_nulls=True),
        Feature("gvar", Agg.VARIANCE, "value", group="cat", skip_nulls=True),
        Feature("ds", Agg.SUM, "value", distinct="cat", skip_nulls=True),
        Feature("dn", Agg.COUNT_DISTINCT, "cat", distinct="cat", skip_nulls=True),
        Feature("dnew", Agg.NEWEST, "value", distinct="cat", skip_nulls=True),
        Feature("plain", Agg.SUM, "value", skip_nulls=True),
    ],
    entity_col="entity",
    time_col="time",
    seq_col="seq",
)


def test_support_gate():
    assert native_supported(PLAN)
    # Possibly-mode groups compile natively now; latest frames do not
    assert native_supported(
        Plan([Feature("g", Agg.SUM, "value", group="cat")],
             entity_col="entity", time_col="time")
    )
    assert not native_supported(
        Plan([Feature("g", Agg.SUM, "value", group="cat", latest=3,
                      skip_nulls=True)],
             entity_col="entity", time_col="time")
    )


def test_possibly_group_commutes(spark, facts):
    """skip_nulls=False groups: ANY visible null element poisons the
    whole map — native matches the executor (t03.1 semantics)."""
    plan = Plan(
        [Feature("g", Agg.SUM, "value", group="cat")],
        entity_col="entity", time_col="time", seq_col="seq",
    )
    a = (
        compile_native(facts, plan, snapshot=SNAP)
        .toPandas().set_index("entity").sort_index()
    )
    b = (
        run_plan(facts, plan, snapshot=SNAP, strategy="vectorized")
        .toPandas().set_index("entity").sort_index()
    )
    assert list(a.index) == list(b.index)
    n_null = 0
    for e in a.index:
        ma, mb = a.loc[e, "g"], b.loc[e, "g"]
        if ma is None or mb is None:
            n_null += 1
            assert ma is None and mb is None, e
        else:
            assert set(ma) == set(mb) and all(
                np.isclose(ma[k], mb[k]) for k in ma
            ), e
    # the fixture plants ~5% nulls, so poisoned entities exist
    assert n_null > 0


def test_native_group_distinct_commute(spark, facts):
    a = compile_native(facts, PLAN, snapshot=SNAP).toPandas()
    b = run_plan(facts, PLAN, snapshot=SNAP, strategy="vectorized").toPandas()
    a = a.sort_values("entity").reset_index(drop=True)
    b = b.sort_values("entity").reset_index(drop=True)
    assert (a["entity"] == b["entity"]).all()
    for col in ["gs", "gc", "gwin", "gnew", "gold", "gvar"]:
        for i in range(len(a)):
            ma = dict(a.loc[i, col] or {})
            mb = dict(b.loc[i, col] or {})
            assert set(ma) == set(mb), (col, a.loc[i, "entity"])
            for k in ma:
                va, vb = ma[k], mb[k]
                if va is None or vb is None:
                    # e.g. single-sample variance
                    assert va is None and vb is None, (col, k)
                else:
                    assert np.isclose(va, vb, atol=1e-9), (col, k)
    for col in ["ds", "dn", "dnew", "plain"]:
        av = pd.to_numeric(a[col], errors="coerce")
        bv = pd.to_numeric(b[col], errors="coerce")
        assert (
            (av.isna() & bv.isna()) | np.isclose(av, bv, atol=1e-9, equal_nan=True)
        ).all(), col


def test_max_group_size_overflow_is_null(spark, facts):
    small = Plan(
        [Feature("g", Agg.COUNT, "value", group="cat", skip_nulls=True)],
        entity_col="entity",
        time_col="time",
        seq_col="seq",
        max_group_size=2,
    )
    out = compile_native(facts, small, snapshot=SNAP).toPandas()
    # every entity has up to 5 cats; >2 keys must overflow to null
    sizes = out["g"].map(lambda m: None if m is None else len(m))
    assert (sizes.isna() | (sizes <= 2)).all()
    assert sizes.isna().any()


def test_native_chord_shuffle_join(spark, facts):
    """The native chord plan (no broadcast hint: the huge-chord-table
    scale shape) equals the per-entity cogroup executor."""
    from pyspark.sql import functions as F

    chords = facts.groupBy("entity").agg(F.max("time").alias("query_time"))
    plan = Plan(
        [
            Feature("s", Agg.SUM, "value", skip_nulls=True),
            Feature("l3", Agg.MEAN, "value", latest=3, skip_nulls=True),
        ],
        entity_col="entity",
        time_col="time",
        seq_col="seq",
    )
    a = compile_native(facts, plan, chords=chords).toPandas()
    b = run_plan(facts, plan, chords=chords, strategy="cogroup").toPandas()
    key = ["entity", "query_time"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    for col in ("s", "l3"):
        av, bv = a[col].astype(float), b[col].astype(float)
        assert ((av.isna() & bv.isna()) | np.isclose(av, bv, equal_nan=True)).all()


def test_possibly_distinct_commutes(spark, facts):
    """skip_nulls=False distinct: null keys poison; null FIRST values
    poison via the Possibly aggregate — native matches the executor."""
    plan = Plan(
        [
            Feature("d", Agg.SUM, "value", distinct="cat"),
            Feature("dm", Agg.MEAN, "value", distinct="cat"),
        ],
        entity_col="entity", time_col="time", seq_col="seq",
    )
    a = (
        compile_native(facts, plan, snapshot=SNAP)
        .toPandas().set_index("entity").sort_index()
    )
    b = (
        run_plan(facts, plan, snapshot=SNAP, strategy="vectorized")
        .toPandas().set_index("entity").sort_index()
    )
    for col in ("d", "dm"):
        av = pd.to_numeric(a[col], errors="coerce")
        bv = pd.to_numeric(b[col], errors="coerce")
        assert (
            (av.isna() & bv.isna())
            | np.isclose(av, bv, atol=1e-9, equal_nan=True)
        ).all(), col
    # some poisoned entities exist (fixture plants ~5% null values)
    assert a["d"].isna().any()


def test_native_post_group_filter_and_group_latest_commute(spark, facts):
    """Post-group filters (t02 zero-count keys), per-key latest frames
    (t17-latest:4-8), and their composition compile natively and match
    both fold executors — including boolean group keys, whose map-key
    casing must be the Python executors' str() form ('True'/'False',
    not Spark's cast 'true')."""
    plan = Plan(
        [
            Feature("pgf", Agg.COUNT, "value", group="cat",
                    post_group_filter="value > 80", skip_nulls=True),
            Feature("psum", Agg.SUM, "value", group="cat",
                    post_group_filter="value > 80", skip_nulls=True),
            Feature("pnew", Agg.NEWEST, "value", group="cat",
                    post_group_filter="value < 30", skip_nulls=True),
            Feature("pmean", Agg.MEAN, "value", group="cat",
                    post_group_filter="value > 200", skip_nulls=True),
            Feature("gl", Agg.SUM, "value", group="cat",
                    group_latest=2, skip_nulls=True),
            Feature("glf", Agg.SUM, "value", group="cat",
                    group_latest=5, post_group_filter="value > 60",
                    skip_nulls=True),
            Feature("bkey", Agg.COUNT, "value", group="value > 50",
                    post_group_filter="value > 80", skip_nulls=True),
        ],
        entity_col="entity", time_col="time", seq_col="seq",
    )
    assert native_supported(plan)
    outs = {}
    for strat in ("native", "vectorized", "cogroup"):
        outs[strat] = (
            run_plan(facts, plan, snapshot=SNAP, strategy=strat)
            .toPandas().set_index("entity").sort_index()
        )
    a = outs["native"]
    zero_slots = 0
    for other in ("vectorized", "cogroup"):
        b = outs[other]
        assert list(a.index) == list(b.index)
        for col in ["pgf", "psum", "pnew", "pmean", "gl", "glf", "bkey"]:
            for e in a.index:
                ma = dict(a.loc[e, col] or {})
                mb = dict(b.loc[e, col] or {})
                assert set(ma) == set(mb), (col, e, ma, mb)
                for k in ma:
                    va, vb = ma[k], mb[k]
                    if va is None or vb is None:
                        assert va is None and vb is None, (col, e, k)
                    else:
                        assert np.isclose(float(va), float(vb)), (
                            col, e, k, va, vb,
                        )
                    if col in ("pgf", "psum") and (va in (0, 0.0)):
                        zero_slots += 1
    # the t02 semantics are exercised: fully-filtered keys DID emit
    # init-valued slots (not absent keys)
    assert zero_slots > 0
    # boolean keys use Python str() casing on every backend
    all_bkeys = set().union(
        *(dict(m or {}).keys() for m in a["bkey"])
    )
    assert all_bkeys <= {"True", "False"} and all_bkeys

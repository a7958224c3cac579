"""Checkpoint/resume equivalence: fold_states at T0 + facts[T0:T1)
must reproduce run_plan over the full history at T1 exactly —
the reference's resumable-fold property
(/root/reference/doc/internals/core.md:129-148)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from icicle_spark.plans import Agg, Feature, Plan, Window, run_plan
from icicle_spark.plans.resume import fold_states, required_history, resume_plan
from icicle_spark.sources.fixtures import token_facts

T0 = "2024-04-01 00:00:00"
T1 = "2024-07-01 00:00:00"

FEATURES = [
    Feature("sum_ntok", Agg.SUM, "n_tok", skip_nulls=True),
    Feature("cnt", Agg.COUNT, "n_tok", skip_nulls=True),
    Feature("mean_ntok", Agg.MEAN, "n_tok", skip_nulls=True),
    Feature("min_ntok", Agg.MIN, "n_tok", skip_nulls=True),
    Feature("max_ntok", Agg.MAX, "n_tok", skip_nulls=True),
    Feature("newest", Agg.NEWEST, "n_tok", skip_nulls=True),
    Feature("oldest", Agg.OLDEST, "n_tok", skip_nulls=True),
    Feature("var_ntok", Agg.VARIANCE, "n_tok", skip_nulls=True),
    Feature("flips", Agg.NUMFLIPS, "source", skip_nulls=True),
    Feature("latest5_sum", Agg.SUM, "n_tok", latest=5, skip_nulls=True),
    Feature("latest3_mean", Agg.MEAN, "n_tok", latest=3, skip_nulls=True),
    Feature("win30_sum", Agg.SUM, "n_tok", window=Window(30), skip_nulls=True),
    Feature("web_sum", Agg.SUM, "n_tok", where="source = 'web'", skip_nulls=True),
    Feature("sum_p", Agg.SUM, "n_tok"),          # propagate/poison mode
    Feature("newest_p", Agg.NEWEST, "n_tok"),
    Feature("dsum7", Agg.DECAYED_SUM, "n_tok", half_life_days=7.0,
            skip_nulls=True),                    # rescaled state merge
]

PLAN = Plan(FEATURES, entity_col="doc_id", time_col="event_time", seq_col="seq")


@pytest.fixture(scope="module")
def facts(spark):
    df = token_facts(spark, n_rows=3000, n_docs=150)
    df.cache().count()
    return df


def test_resume_equals_direct(spark, facts):
    direct = (
        run_plan(facts, PLAN, snapshot=T1, strategy="native")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    states = fold_states(facts, PLAN, as_of=T0)
    hist = required_history(PLAN)
    assert hist == 30
    lookback = F.lit(T0).cast("timestamp") - F.expr(f"INTERVAL {hist} DAYS")
    incremental = facts.where(F.col("event_time") >= lookback)
    resumed = (
        resume_plan(incremental, PLAN, states, snapshot=T1)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    # resume output covers entities seen either before T0 or in the
    # increment; entities with facts ONLY in [T1, inf) appear in
    # neither — same as direct's spine minus nothing visible. Compare
    # on the union (must be identical sets here since every entity has
    # some fact, but doc_2's facts are all post-snapshot).
    assert set(resumed.doc_id) <= set(direct.doc_id)
    direct = direct[direct.doc_id.isin(set(resumed.doc_id))].reset_index(drop=True)
    assert len(resumed) == len(direct)
    for c in [f.name for f in PLAN.features]:
        a = resumed[c].astype("float64").to_numpy()
        b = direct[c].astype("float64").to_numpy()
        assert np.allclose(a, b, equal_nan=True), (
            c,
            resumed.loc[~np.isclose(a, b, equal_nan=True), ["doc_id", c]].head(),
            direct.loc[~np.isclose(a, b, equal_nan=True), ["doc_id", c]].head(),
        )


def test_checkpoint_roundtrip_parquet(spark, facts, tmp_path):
    """States survive a parquet round-trip (the real checkpoint path)."""
    small = Plan(
        [
            Feature("s", Agg.SUM, "n_tok", skip_nulls=True),
            Feature("l", Agg.MEAN, "n_tok", latest=4, skip_nulls=True),
        ],
        entity_col="doc_id",
        time_col="event_time",
        seq_col="seq",
    )
    p = str(tmp_path / "ckpt")
    fold_states(facts, small, as_of=T0).write.mode("overwrite").parquet(p)
    states = spark.read.parquet(p)
    resumed = resume_plan(facts, small, states, snapshot=T1).toPandas()
    direct = run_plan(facts, small, snapshot=T1, strategy="native").toPandas()
    m = resumed.merge(direct, on="doc_id", suffixes=("_r", "_d"))
    assert np.allclose(m.s_r, m.s_d, equal_nan=True)
    assert np.allclose(m.l_r, m.l_d, equal_nan=True)


def test_resume_postcomp_parity(spark, facts):
    """Postcomputations finalize identically on the resumed path:
    `sum v / count v` parsed from source, checkpoint at T0 +
    increment == full history at T1."""
    from icicle_spark.source_lang import parse_program

    plan = parse_program(
        {"avg_manual": "from f ~> sum n_tok / count n_tok",
         "spread": "from f ~> max n_tok - min n_tok"},
        skip_nulls=True,
        entity_col="doc_id", time_col="event_time", seq_col="seq",
    )["f"]
    direct = (
        run_plan(facts, plan, snapshot=T1, strategy="native")
        .toPandas().set_index("doc_id").sort_index()
    )
    states = fold_states(facts, plan, as_of=T0)
    resumed = (
        resume_plan(
            facts.where(F.col("event_time") >= F.lit(T0).cast("timestamp")),
            plan, states, snapshot=T1,
        )
        .toPandas().set_index("doc_id").sort_index()
    )
    assert list(resumed.columns) == ["avg_manual", "spread"]
    # entities whose FIRST fact is at/after T1 exist only in the
    # direct spine, with all-null postcomps (count=0 -> null-safe
    # division) — reindexing the resumed frame yields the same nulls
    resumed = resumed.reindex(direct.index)
    assert len(direct) - resumed["avg_manual"].notna().sum() <= 1
    for c in resumed.columns:
        assert np.allclose(
            resumed[c].to_numpy(dtype=float),
            direct[c].to_numpy(dtype=float),
            equal_nan=True,
        ), c

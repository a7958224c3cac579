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
    Feature("win_flips", Agg.NUMFLIPS, "source", window=Window(30), skip_nulls=True),
    Feature("web_sum", Agg.SUM, "n_tok", where="source = 'web'", skip_nulls=True),
    Feature("sum_p", Agg.SUM, "n_tok"),          # propagate/poison mode
    Feature("newest_p", Agg.NEWEST, "n_tok"),
    Feature("dsum7", Agg.DECAYED_SUM, "n_tok", half_life_days=7.0,
            skip_nulls=True),                    # rescaled state merge
    Feature("latest3_sd", Agg.SD, "n_tok", latest=3, skip_nulls=True),
    Feature("latest2_sum_p", Agg.SUM, "n_tok", latest=2),  # poison in frame
    Feature("latest2_cnt_p", Agg.COUNT, "n_tok", latest=2),
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


# Four Catalyst paths against the per-entity cogroup reference, on
# inputs where they used to disagree: tied times (NEWEST/OLDEST must
# order by (time, seq)), a 1.7e9 offset (variance must not cancel),
# a null older than a Possibly-mode latest frame (poison is decided
# inside the frame), `latest 3 ~> sd` (resumable, so resume must
# finish it) and latest frames cut inside a tied time.
_E, _TS, _SEQ, _V = "e", "t", "seq", "v"
_DAY = pd.Timedelta(days=1)
_BASE = pd.Timestamp("2024-01-01")
_CK, _SNAP = "2024-02-01 00:00:00", "2024-03-01 00:00:00"


def _tied_facts():
    rng = np.random.default_rng(3)
    rows = []
    for e in range(20):
        # a tied triple before the checkpoint, another after it for
        # every other entity
        days = [5 + e] + ([40 + e // 2] if e % 2 else [])
        for d in days:
            for s, v in enumerate(rng.permutation(3)):
                rows.append((e, _BASE + d * _DAY, 10 * d + s, float(v)))
    return rows


def _offset_facts():
    rng = np.random.default_rng(5)
    rows = []
    for e in range(8):
        days = rng.uniform(0, 59, 200)
        vals = 1.7e9 + rng.integers(0, 10, 200)
        for i, (d, v) in enumerate(zip(days, vals)):
            rows.append((e, _BASE + d * _DAY, 1000 * e + i, float(v)))
    return rows


def _poisoned_tail_facts():
    rows = []
    for e in range(6):
        # a null fact older than the frame, then e+2 valued facts
        # straddling the checkpoint
        rows.append((e, _BASE + (10 + e) * _DAY, 0, None))
        for i in range(e + 2):
            rows.append((e, _BASE + (25 + 3 * i) * _DAY, i + 1, 10.0 * (i + 1)))
    return rows


def _random_facts():
    rng = np.random.default_rng(9)
    return [
        (int(e), _BASE + float(d) * _DAY, i, float(v))
        for i, (e, d, v) in enumerate(
            zip(rng.integers(0, 12, 240), rng.uniform(0, 59, 240),
                rng.normal(50, 10, 240))
        )
    ]


_ANCHOR = Feature("l3_anchor", Agg.SUM, _V, latest=3, skip_nulls=True)
CASES = {
    "tied_newest_oldest": (_tied_facts, [
        Feature("newest", Agg.NEWEST, _V, skip_nulls=True),
        Feature("oldest", Agg.OLDEST, _V, skip_nulls=True),
    ]),
    "offset_variance": (_offset_facts, [
        Feature("var", Agg.VARIANCE, _V, skip_nulls=True),
        Feature("sd", Agg.SD, _V, skip_nulls=True),
    ]),
    "possibly_latest": (_poisoned_tail_facts, [
        Feature("l2_sum", Agg.SUM, _V, latest=2),
        Feature("l2_cnt", Agg.COUNT, _V, latest=2),
    ]),
    "latest_sd": (_random_facts, [
        Feature("l3_sd", Agg.SD, _V, latest=3, skip_nulls=True),
    ]),
    # frames under different conditions that cut inside a tied time:
    # (time, seq) decides which rows every path keeps
    "tied_latest_where": (_tied_facts, [
        Feature("l1_hi", Agg.SUM, _V, latest=1, where=f"{_V} >= 1",
                skip_nulls=True),
        Feature("l3_lo", Agg.MEAN, _V, latest=3, where=f"{_V} < 2",
                skip_nulls=True),
    ]),
}


def _case_facts(spark, rows):
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField(_E, T.LongType()),
        T.StructField(_TS, T.TimestampType()),
        T.StructField(_SEQ, T.LongType()),
        T.StructField(_V, T.DoubleType()),
    ])
    pdf = pd.DataFrame(rows, columns=[_E, _TS, _SEQ, _V])
    pdf[_TS] = pdf[_TS].dt.floor("s")
    # shuffled so no path can lean on arrival order
    pdf = pdf.sample(frac=1.0, random_state=1)
    return spark.createDataFrame(pdf, schema).repartition(4)


def _sorted(df):
    return df.toPandas().sort_values(_E).reset_index(drop=True)


@pytest.mark.parametrize("case", sorted(CASES))
def test_catalyst_paths_agree(spark, case):
    make, feats = CASES[case]
    facts = _case_facts(spark, make())
    single = any(f.latest is None for f in feats)
    two = Plan(feats + [_ANCHOR], entity_col=_E, time_col=_TS, seq_col=_SEQ)
    ref = _sorted(run_plan(facts, two, snapshot=_SNAP, strategy="cogroup"))
    got = {
        "native": _sorted(
            run_plan(facts, two, snapshot=_SNAP, strategy="native")),
        "resume": _sorted(resume_plan(
            facts.where(F.col(_TS) >= F.lit(_CK).cast("timestamp")), two,
            fold_states(facts, two, as_of=_CK), snapshot=_SNAP)),
    }
    if single:
        plain = Plan([f for f in feats if f.latest is None], entity_col=_E,
                     time_col=_TS, seq_col=_SEQ)
        got["native, no frame"] = _sorted(
            run_plan(facts, plain, snapshot=_SNAP, strategy="native"))
    # one-pass (n, mean, m2) states round like Spark's own var_samp:
    # about eps * |mean| / sd = 1.3e-7 relative at this offset (the
    # two-pass cogroup reference and pandas agree to 1e-9 below)
    rtol = 1e-6 if case == "offset_variance" else 1e-9
    for path, df in got.items():
        assert list(df[_E]) == list(ref[_E]), path
        for f in feats:
            a = df[f.name].astype("float64").to_numpy()
            b = ref[f.name].astype("float64").to_numpy()
            assert np.allclose(a, b, rtol=rtol, atol=0, equal_nan=True), (
                path, f.name, a, b)
    if case == "offset_variance":
        pdf = facts.toPandas()
        # Series.var is two-pass (groupby's own var is one-pass)
        want = pdf[pdf[_TS] < pd.Timestamp(_SNAP)].groupby(_E)[_V].apply(
            lambda v: v.var())
        assert np.allclose(ref["var"], want.to_numpy(), rtol=1e-9, atol=0)
        # the same plan at chords: chordexec folds it on prefix sums,
        # which must not cancel at the offset either
        from icicle_spark.plans.executor import choose_backend

        chords = facts.select(_E).distinct().crossJoin(
            spark.createDataFrame(pd.DataFrame(
                {"query_time": pd.to_datetime([_CK, _SNAP])}))
        )
        assert choose_backend(two, None, chords, "vectorized")[0] == "chordexec"
        keys = [_E, "query_time"]
        a, b = (
            run_plan(facts, two, chords=chords, strategy=s).toPandas()
            .sort_values(keys).reset_index(drop=True)
            for s in ("vectorized", "cogroup")
        )
        assert (a[keys] == b[keys]).all().all()
        for c in ("var", "sd"):
            assert np.allclose(a[c], b[c], rtol=1e-9, atol=0, equal_nan=True), c


def test_checkpoint_layout_is_checked(spark, facts):
    """A checkpoint whose states do not have the fold table's layout —
    built for another plan, or missing a feature — is refused with a
    message naming the feature, by a check that reads schemas only."""
    def plan(agg):
        return Plan([
            Feature("a", agg, "n_tok", skip_nulls=True),
            Feature("b", Agg.COUNT, "n_tok", skip_nulls=True),
        ], entity_col="doc_id", time_col="event_time", seq_col="seq")

    sums = fold_states(facts, plan(Agg.SUM), as_of=T0)
    with pytest.raises(ValueError, match=r"feature 'a'.*re-run fold_states"):
        resume_plan(facts, plan(Agg.MEAN), sums, snapshot=T1)
    with pytest.raises(ValueError, match=r"feature 'b'.*re-run fold_states"):
        resume_plan(facts, plan(Agg.SUM), sums.drop("__f_b"), snapshot=T1)

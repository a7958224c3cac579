"""Hypothesis property tests (the shrinking analogue of the
reference's QuickCheck EvalCommutes suites): generated fact tables and
fold plans must agree between the vectorized chord executor and the
per-entity cogroup executor at generated chord times, and obey the
zero-leakage rule.

Example counts are small — every example round-trips Spark — but
hypothesis varies row counts, tie density, null density, window
shapes, and chord placement, and shrinks failures to minimal cases.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from icicle_spark.plans import Agg, Feature, Plan, Window, run_plan

AGGS = [
    Agg.SUM, Agg.COUNT, Agg.MEAN, Agg.NEWEST, Agg.OLDEST, Agg.ANY,
    Agg.ALL, Agg.VARIANCE, Agg.MIN, Agg.MAX,
]


@st.composite
def fact_frame(draw):
    n = draw(st.integers(80, 600))
    ents = draw(st.integers(3, 25))
    null_frac = draw(st.floats(0.0, 0.3))
    tie_frac = draw(st.floats(0.0, 0.5))
    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    secs = rng.integers(0, 40 * 86_400, n)
    ties = rng.random(n) < tie_frac
    secs[ties] = (secs[ties] // 86_400) * 86_400
    vals = rng.normal(10, 5, n).round(2)
    vals[rng.random(n) < null_frac] = np.nan
    return pd.DataFrame(
        {
            "entity": [f"e{i}" for i in rng.integers(0, ents, n)],
            "time": np.datetime64("2024-01-01")
            + secs.astype("timedelta64[s]"),
            "value": vals,
            "flag": rng.integers(0, 2, n).astype(bool),
            "seq": np.arange(n, dtype=np.int64),
        }
    )


@st.composite
def feature(draw, i: int):
    agg = draw(st.sampled_from(AGGS))
    window = None
    latest = None
    if agg not in (Agg.MIN, Agg.MAX):
        if draw(st.booleans()):
            window = Window(
                draw(st.integers(1, 45)),
                draw(st.sampled_from([0, 0, 1, 7])),
            )
            if window.older_than_days >= window.newer_than_days:
                window = Window(window.newer_than_days)
        if agg in (Agg.SUM, Agg.COUNT, Agg.MEAN, Agg.NEWEST, Agg.OLDEST):
            latest = draw(st.sampled_from([None, None, 1, 3, 5]))
    expr = "flag" if agg in (Agg.ANY, Agg.ALL) else "value"
    return Feature(
        f"h{i}",
        agg,
        expr,
        where=draw(st.sampled_from([None, None, "flag"])),
        window=window,
        latest=latest,
        skip_nulls=draw(st.sampled_from([True, True, False])),
    )


@st.composite
def case(draw):
    pdf = draw(fact_frame())
    feats = [draw(feature(i)) for i in range(draw(st.integers(2, 5)))]
    qdays = sorted(
        draw(
            st.lists(st.integers(-5, 50), min_size=1, max_size=3, unique=True)
        )
    )
    return pdf, feats, qdays


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=int(__import__("os").environ.get("HYP_EXAMPLES", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(data=case())
def test_chord_executors_commute(spark, data):
    pdf, feats, qdays = data
    facts = spark.createDataFrame(pdf)
    ents = sorted(set(pdf["entity"]))
    rows = [
        (e, pd.Timestamp("2024-01-01") + pd.Timedelta(days=d, hours=i % 3))
        for i, e in enumerate(ents)
        for d in qdays
    ]
    chords = spark.createDataFrame(
        pd.DataFrame(rows, columns=["entity", "query_time"])
    )
    plan = Plan(feats, entity_col="entity", time_col="time", seq_col="seq")
    key = ["entity", "query_time"]
    a = run_plan(facts, plan, chords=chords, strategy="vectorized").toPandas()
    b = run_plan(facts, plan, chords=chords, strategy="cogroup").toPandas()
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) == len(rows)
    for f in feats:
        av = pd.to_numeric(a[f.name], errors="coerce")
        bv = pd.to_numeric(b[f.name], errors="coerce")
        ok = (av.isna() & bv.isna()) | np.isclose(
            av.astype(float), bv.astype(float), atol=1e-9, equal_nan=True
        )
        assert ok.all(), (f, a.loc[~ok, key + [f.name]].head(3), b.loc[~ok, f.name].head(3))


# ------------------------------------------------------------- bin packing


@st.composite
def _bp_corpus(draw):
    n = draw(st.integers(10, 150))
    seq_len = draw(st.sampled_from([8, 16, 32, 64]))
    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    lens = rng.integers(1, seq_len + 1, n)
    return (
        pd.DataFrame(
            {
                "source": [f"s{i}" for i in rng.integers(0, 4, n)],
                "doc_id": [f"d{i:04d}" for i in range(n)],
                "n_tok": lens.astype("int64"),
            }
        ),
        seq_len,
    )


# ten one-token docs over four sources: class packing puts them in
# 2 bins (its class-8 bins mix sources), FFD packs each source alone
# and needs 4 — the shape of the `7 <= 6` failures of the old
# "FFD never uses more bins than class packing" property
_BP_MANY_SOURCES = (
    pd.DataFrame(
        {
            "source": [f"s{i % 4}" for i in range(10)],
            "doc_id": [f"d{i:04d}" for i in range(10)],
            "n_tok": np.ones(10, dtype="int64"),
        }
    ),
    8,
)


@given(data=_bp_corpus())
@example(data=_BP_MANY_SOURCES)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bin_pack_properties(spark, data):
    """For random corpora and capacities, BOTH strategies: every doc
    assigned exactly once, no bin overflows, class bins never exceed
    their class count; FFD is first fit (any two bins of one source
    hold more than seq_len together) and per source never uses more
    bins than class packing of that source alone would."""
    from icicle_spark.operators.packing import (
        bin_fill_stats,
        bin_pack_documents,
    )

    pdf, L = data
    df = spark.createDataFrame(pdf)
    cls_assign = bin_pack_documents(df, length_col="n_tok", seq_len=L)
    ffd_assign = bin_pack_documents(
        df, length_col="n_tok", seq_len=L, strategy="ffd"
    )
    cp = cls_assign.toPandas()
    fp = ffd_assign.toPandas()
    assert sorted(cp.doc_id) == sorted(pdf.doc_id)
    assert sorted(fp.doc_id) == sorted(pdf.doc_id)
    st_c = bin_fill_stats(cls_assign, L).toPandas()
    assert (st_c.fill_tokens <= L).all()
    assert (st_c.n_docs <= st_c.cls).all()
    st_f = bin_fill_stats(ffd_assign, L, segment_col="source").toPandas()
    assert (st_f.fill_tokens <= L).all()
    # class packing numbers each class across every source, so its
    # bins mix sources and its total is no bound on FFD's; per source,
    # a class-c bin holds c docs (the harmonic count below) and FFD,
    # which opens bins class by class, never needs more
    cls = L // pdf.n_tok
    per_source = pdf.assign(cls=cls).groupby(["source", "cls"]).size()
    harmonic = sum(-(-n // c) for (_, c), n in per_source.items())
    assert len(st_f) <= harmonic
    for _, g in st_f.groupby("source"):
        fills = sorted(g.fill_tokens)
        assert len(fills) < 2 or fills[0] + fills[1] > L


# ------------------------------------------------------- fim transform


@given(
    seed=st.integers(0, 50),
    rate=st.floats(0.0, 1.0),
    mode=st.sampled_from(["psm", "spm"]),
    corpus_seed=st.integers(0, 2**31 - 1),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fim_properties(spark, seed, rate, mode, corpus_seed):
    """Length grows by exactly 3 sentinels on transformed rows, the
    non-sentinel multiset is conserved, splits are in-bounds, and
    untransformed rows pass through bit-identically."""
    from icicle_spark.operators.tokens import fim_transform

    rng = np.random.default_rng(corpus_seed)
    rows = [
        (int(i), [int(x) for x in rng.integers(0, 90, rng.integers(0, 9))])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, tokens array<int>")
    src = dict(rows)
    for r in fim_transform(
        df, rate=rate, seed=seed, mode=mode
    ).collect():
        t = src[r["doc_id"]]
        got = list(r["tokens"])
        if r["fim"]:
            assert len(got) == len(t) + 3
            assert 0 <= r["fim_a"] <= r["fim_b"] <= len(t)
            assert sorted(x for x in got if x >= 0) == sorted(t)
            assert sorted(x for x in got if x < 0) == [-103, -102, -101]
        else:
            assert got == t


# ------------------------------------------------------- epoch upsample


@given(
    e_web=st.floats(0.0, 4.0),
    e_books=st.floats(0.0, 4.0),
    seed=st.integers(0, 100),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_epoch_upsample_properties(spark, e_web, e_books, seed):
    """For arbitrary fractional rates: every doc appears exactly
    floor(e) or ceil(e) times, epoch labels are dense 0..n-1, and the
    same (id, seed) always draws the same copies (exact determinism —
    no statistical assertions)."""
    import math

    from pyspark.sql import functions as F

    from icicle_spark.operators.sampling import epoch_upsample

    df = spark.createDataFrame(
        [(f"d{i:03d}", "web" if i % 2 else "books") for i in range(80)],
        "doc_id string, source string",
    )
    rates = {"web": e_web, "books": e_books}
    out = epoch_upsample(df, rates, seed=seed)
    per = {
        (r["source"], r["doc_id"]): (r["n"], list(r["e"]))
        for r in out.groupBy("source", "doc_id")
        .agg(
            F.count("*").alias("n"),
            F.sort_array(F.collect_list("epoch")).alias("e"),
        )
        .collect()
    }
    for (s, _), (n, eps) in per.items():
        e = rates[s]
        assert n in (math.floor(e), math.ceil(e))
        assert eps == list(range(n))
    # exact determinism across partitioning
    a = sorted(map(tuple, out.select("doc_id", "epoch").collect()))
    b = sorted(
        map(
            tuple,
            epoch_upsample(df.repartition(11), rates, seed=seed)
            .select("doc_id", "epoch")
            .collect(),
        )
    )
    assert a == b

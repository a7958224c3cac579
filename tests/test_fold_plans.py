"""Fold-plan engine tests: executor vs native vs pandas oracle.

Modelled on the reference's cross-evaluator commuting tests
(/root/reference/icicle-compiler/test/Icicle/Test/Avalanche/EvalCommutes.hs):
the same plan must agree between the applyInPandas executor, the
native Catalyst compiler, and a slow pandas oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from icicle_spark.plans import Agg, CustomFold, Feature, Plan, Window
from icicle_spark.plans.executor import run_plan
from icicle_spark.plans.native import compile_native
from icicle_spark.sources.fixtures import (
    SNAPSHOT,
    chord_table,
    token_facts,
    token_facts_pdf,
)

SNAP = pd.Timestamp(SNAPSHOT)


@pytest.fixture(scope="module")
def facts(spark):
    df = token_facts(spark, n_rows=2000, n_docs=120)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def facts_pdf():
    return token_facts_pdf(n_rows=2000, n_docs=120)


def oracle_snapshot(pdf: pd.DataFrame, qt: pd.Timestamp) -> pd.DataFrame:
    """Slow per-entity oracle for the standard plan below."""
    rows = []
    for doc, g in pdf.groupby("doc_id"):
        g = g.sort_values(["event_time", "seq"], kind="stable")
        vis = g[g.event_time < qt]
        v = vis.n_tok.astype("float64")
        poisoned = v.isna().any()
        win = vis[vis.event_time >= qt - pd.Timedelta(days=30)]
        wv = win.n_tok.astype("float64")
        rows.append(
            {
                "doc_id": doc,
                "sum_ntok": None if poisoned else float(v.sum()),
                "cnt": None if poisoned else len(vis),
                "mean_ntok": None
                if poisoned
                else (float(v.mean()) if len(v) else None),
                "newest_ntok": None if poisoned else (v.iloc[-1] if len(v) else None),
                "win30_sum": None if wv.isna().any() else float(wv.sum()),
                "sum_skip": float(v.dropna().sum()),
                "cnt_web": None
                if vis[vis.source == "web"].n_tok.isna().any()
                else int((vis.source == "web").sum()),
            }
        )
    return pd.DataFrame(rows).sort_values("doc_id").reset_index(drop=True)


STANDARD = [
    Feature("sum_ntok", Agg.SUM, "n_tok"),
    Feature("cnt", Agg.COUNT, "n_tok"),
    Feature("mean_ntok", Agg.MEAN, "n_tok"),
    Feature("newest_ntok", Agg.NEWEST, "n_tok"),
    Feature("win30_sum", Agg.SUM, "n_tok", window=Window(30)),
    Feature("sum_skip", Agg.SUM, "n_tok", skip_nulls=True),
]


def _plan(where_sql: bool) -> Plan:
    eq = "source = 'web'" if where_sql else "source == 'web'"
    return Plan(
        features=STANDARD + [Feature("cnt_web", Agg.COUNT, "n_tok", where=eq)],
        entity_col="doc_id",
        time_col="event_time",
        seq_col="seq",
    )


def _check(result: pd.DataFrame, oracle: pd.DataFrame):
    result = result.sort_values("doc_id").reset_index(drop=True)
    assert len(result) == len(oracle)
    for c in oracle.columns:
        if c == "doc_id":
            assert (result[c] == oracle[c]).all()
            continue
        a = result[c].astype("float64").to_numpy()
        b = oracle[c].astype("float64").to_numpy()
        assert np.allclose(a, b, equal_nan=True), c


def test_executor_snapshot_vs_oracle(spark, facts, facts_pdf):
    res = run_plan(facts, _plan(False), snapshot=SNAPSHOT).toPandas()
    _check(res, oracle_snapshot(facts_pdf, SNAP))


def test_native_snapshot_vs_oracle(spark, facts, facts_pdf):
    res = compile_native(facts, _plan(True), snapshot=SNAPSHOT).toPandas()
    _check(res, oracle_snapshot(facts_pdf, SNAP))


def test_executor_native_commute_chord(spark, facts):
    """Chord scope: executor == native on every (entity, qtime, label)."""
    chords = chord_table(spark, n_docs=120)
    p_ex = _plan(False)
    p_na = _plan(True)
    ex = (
        run_plan(facts, p_ex, chords=chords)
        .toPandas()
        .sort_values(["doc_id", "query_time", "label"])
        .reset_index(drop=True)
    )
    na = (
        compile_native(facts, p_na, chords=chords)
        .toPandas()
        .sort_values(["doc_id", "query_time", "label"])
        .reset_index(drop=True)
    )
    assert len(ex) == len(na) == 120 * 3
    for c in [f.name for f in p_ex.features]:
        a = ex[c].astype("float64").to_numpy()
        b = na[c].astype("float64").to_numpy()
        assert np.allclose(a, b, equal_nan=True), c


def test_zero_temporal_leakage(spark, facts, facts_pdf):
    """Recompute with facts >= snapshot REMOVED => identical output
    (the leakage property from SURVEY.md §5)."""
    from pyspark.sql import functions as F

    plan = _plan(False)
    full = run_plan(facts, plan, snapshot=SNAPSHOT).toPandas()
    truncated_facts = facts.where(F.col("event_time") < F.lit(SNAPSHOT))
    trunc = run_plan(truncated_facts, plan, snapshot=SNAPSHOT).toPandas()
    # entities with zero visible facts disappear from the truncated
    # input entirely — compare on the intersection
    full = full[full.doc_id.isin(set(trunc.doc_id))]
    _check(
        trunc.sort_values("doc_id").reset_index(drop=True),
        full.sort_values("doc_id")
        .reset_index(drop=True)
        .astype({c: "float64" for c in full.columns if c != "doc_id"}),
    )


def test_custom_fold_and_latest(spark, facts, facts_pdf):
    """latest-N frame + custom vectorized fold + sequential fold."""
    plan = Plan(
        features=[
            Feature("latest5_sum", Agg.SUM, "n_tok", latest=5, skip_nulls=True),
            Feature(
                "tok_range",
                CustomFold(
                    init=None,
                    step=lambda v: float(v.max() - v.min()) if len(v) else None,
                ),
                "n_tok",
                skip_nulls=True,
            ),
            Feature(
                "seq_count_incr",
                CustomFold(
                    init=(None, 0),
                    step_seq=lambda acc, x: (x, acc[1] + (1 if acc[0] is not None and x > acc[0] else 0)),
                    output=lambda acc: acc[1],
                    dtype="bigint",
                ),
                "n_tok",
                skip_nulls=True,
            ),
        ],
        entity_col="doc_id",
        time_col="event_time",
        seq_col="seq",
    )
    res = run_plan(facts, plan, snapshot=SNAPSHOT).toPandas()
    pdf = token_facts_pdf(n_rows=2000, n_docs=120)
    for doc, g in pdf.groupby("doc_id"):
        g = g.sort_values(["event_time", "seq"], kind="stable")
        vis = g[g.event_time < SNAP].n_tok.dropna()
        row = res[res.doc_id == doc].iloc[0]
        exp_latest = float(vis.tail(5).sum())
        assert row.latest5_sum == pytest.approx(exp_latest)
        exp_range = float(vis.max() - vis.min()) if len(vis) else None
        if exp_range is None:
            assert pd.isna(row.tok_range)
        else:
            assert row.tok_range == pytest.approx(exp_range)
        incr = int((np.diff(vis.to_numpy()) > 0).sum()) if len(vis) > 1 else 0
        assert row.seq_count_incr == incr


def test_group_and_distinct(spark, facts, facts_pdf):
    plan = Plan(
        features=[
            Feature(
                "cnt_by_source",
                Agg.COUNT,
                "n_tok",
                group="source",
                skip_nulls=True,
            ),
            Feature("first_per_source_sum", Agg.SUM, "n_tok", distinct="source", skip_nulls=True),
        ],
        entity_col="doc_id",
        time_col="event_time",
        seq_col="seq",
    )
    res = run_plan(facts, plan, snapshot=SNAPSHOT).toPandas()
    pdf = token_facts_pdf(n_rows=2000, n_docs=120)
    for doc, g in pdf.groupby("doc_id"):
        g = g.sort_values(["event_time", "seq"], kind="stable")
        vis = g[g.event_time < SNAP]
        row = res[res.doc_id == doc].iloc[0]
        vis = vis.dropna(subset=["n_tok"])  # skip_nulls drops before grouping
        exp = vis.groupby("source").size().to_dict()
        got = dict(row.cnt_by_source) if row.cnt_by_source is not None else {}
        assert {k: int(v) for k, v in got.items()} == {
            k: int(v) for k, v in exp.items()
        }
        firsts = vis.drop_duplicates("source").n_tok.dropna()
        assert row.first_per_source_sum == pytest.approx(float(firsts.sum()))


def test_fusion_and_cse(spark):
    p1 = Plan([Feature("a", Agg.SUM, "n_tok")], "doc_id", "event_time")
    p2 = Plan([Feature("b", Agg.COUNT, "n_tok"), Feature("a2", Agg.SUM, "n_tok")], "doc_id", "event_time")
    fused = p1.fuse(p2)
    assert [f.name for f in fused.features] == ["a", "b", "a2"]
    condensed = fused.condensed()
    assert [f.name for f in condensed.features] == ["a", "b"]


def _physical(df) -> str:
    """The physical plan with AQE off, so the plan is the one Catalyst
    planned rather than a re-optimized stage graph."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _exchange_keys(df) -> list[tuple[str, ...]]:
    """Hash-partitioning keys (attribute names, ids stripped) of every
    shuffle exchange in the physical plan."""
    import re

    return [
        tuple(re.sub(r"#\d+L?$", "", a.strip()) for a in m.split(","))
        for m in re.findall(
            r"Exchange hashpartitioning\(([^)]*), \d+", _physical(df)
        )
    ]


def _latest_plan(n: int) -> Plan:
    return Plan(
        [
            Feature("s", Agg.SUM, "n_tok", skip_nulls=True),
            Feature("ln", Agg.MEAN, "n_tok", latest=n, skip_nulls=True),
        ],
        entity_col="doc_id", time_col="event_time", seq_col="seq",
    )


def test_latest_frame_plan_limits(spark, facts):
    """A latest-N frame is a grouped-limit window: Spark plans a partial
    WindowGroupLimit below the frame's entity exchange and a final one
    above it, so at most N rows per entity and map partition are
    shuffled and no salt is needed. Spark plans the limit only up to
    its windowGroupLimitThreshold, so a frame past 999 is not native
    and `auto` keeps it on the Arrow executor."""
    from icicle_spark.plans.executor import choose_backend
    from icicle_spark.plans.native import native_supported

    df = compile_native(facts, _latest_plan(3), snapshot=SNAPSHOT)
    phys = _physical(df)
    assert "__salt" not in phys, phys
    # the frame's entity exchange and the spine's
    assert _exchange_keys(df) == [("doc_id",), ("doc_id",)]
    # the printed tree lists a node before its children: the final
    # limit, then the entity exchange, then the partial limit
    frame = phys[phys.index("WindowGroupLimit"):]
    final = frame.index("row_number(), 3, Final")
    exchange = frame.index("Exchange hashpartitioning(doc_id")
    partial = frame.index("row_number(), 3, Partial")
    assert final < exchange < partial, phys
    assert phys.count("WindowGroupLimit") == 2, phys
    assert native_supported(_latest_plan(999))
    assert _physical(compile_native(
        facts, _latest_plan(999), snapshot=SNAPSHOT)).count("WindowGroupLimit") == 2
    assert not native_supported(_latest_plan(1000))
    assert choose_backend(_latest_plan(1000), SNAPSHOT)[0] == "vexec"


def test_single_stage_plan_exchanges(spark, facts):
    """Without latest-N every fold is one aggregate over the facts: one
    scan, one entity exchange and no join. The aggregate is its own
    spine, so an entity whose facts all fall at or after the snapshot
    still gets its row, with empty folds."""
    plan = _plan(True)
    df = compile_native(facts, plan, snapshot=SNAPSHOT)
    phys = _physical(df)
    assert _exchange_keys(df) == [("doc_id",)]
    # the cached facts are the one scan (their own plan prints below it)
    assert phys.count("InMemoryTableScan") == 1, phys
    assert "Join" not in phys, phys
    late = spark.createDataFrame(
        [("late", [1], 5, "web", pd.Timestamp(SNAPSHOT).to_pydatetime(), False, 1)],
        facts.schema,
    )
    row = (
        compile_native(facts.unionByName(late), plan, snapshot=SNAPSHOT)
        .where("doc_id = 'late'").collect()
    )
    assert len(row) == 1
    assert row[0].sum_ntok == 0.0 and row[0].cnt == 0
    assert row[0].mean_ntok is None and row[0].newest_ntok is None


def _jvm_commands(build) -> int:
    """py4j commands ``build()`` sends, memory-release messages (the
    ``m`` command py4j sends when a Python proxy is collected) aside."""
    from py4j import java_gateway

    orig = java_gateway.GatewayClient.send_command
    n = 0

    def counted(self, command, *a, **k):
        nonlocal n
        if not command.startswith("m\n"):
            n += 1
        return orig(self, command, *a, **k)

    java_gateway.GatewayClient.send_command = counted
    try:
        build()
    finally:
        java_gateway.GatewayClient.send_command = orig
    return n


@pytest.mark.parametrize("scope", ["snapshot", "chords"])
def test_compile_native_jvm_round_trips(spark, scope):
    """A fold plan is built as Spark SQL text and handed to the JVM one
    expression at a time: compiling the 7-fold contract plan takes a
    bounded number of py4j round trips (a Column-tree build took
    about 1,370)."""
    from pyspark.sql import functions as F

    from __spark_entry__ import _FOLD_FEATURES

    ev = spark.createDataFrame(
        [("u1", pd.Timestamp("2024-01-01").to_pydatetime(), 1, 2.0)],
        "user_id string, ts timestamp, event_id bigint, value double",
    )
    plan = Plan(_FOLD_FEATURES, entity_col="user_id", time_col="ts",
                seq_col="event_id")
    kw = (
        {"snapshot": SNAPSHOT} if scope == "snapshot"
        else {"chords": ev.groupBy("user_id").agg(F.max("ts").alias("query_time"))}
    )
    compile_native(ev, plan, **kw)  # warm the gateway's class lookups
    assert _jvm_commands(lambda: compile_native(ev, plan, **kw)) <= 250

"""One expression semantics on every backend.

Element strings are Spark SQL everywhere: the native compiler and
stream_fold evaluate them in Catalyst, and every Python executor
(vexec on a snapshot and on chords, cogroup) receives them projected
into JVM columns first. So a comparison against a null string drops
the fact (SQL three-valued logic), tombstoned facts null every fact
column before any expression reads it, chained filter_let binds
resolve in order, and a bare numeric literal is a constant element.
Every expected value below is derived by hand from ``ROWS``.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from icicle_spark.plans import Agg, Feature, Plan, run_plan
from icicle_spark.source_lang import parse_program

SNAP = "2099-01-01 00:00:00"

# entity, time, value, tag, dead (tombstone)
ROWS = [
    ("a", "2020-01-01", 1.0, "a", False),
    ("a", "2020-01-02", 2.0, None, False),
    ("a", "2020-01-03", 3.0, "b", False),
    ("a", "2020-01-04", 4.0, "b", True),
    ("b", "2020-01-01", 10.0, None, False),
    ("b", "2020-01-02", None, "c", False),
    ("b", "2020-01-03", 5.0, "a", True),
    ("c", "2020-01-01", 7.0, "a", False),
]

BINDS = (("b1", "value + 1"), ("b2", "b1 * 2"))

PLAN = Plan(
    [
        # a null tag fails `!=` (pandas `!=` would keep it)
        Feature("s", Agg.SUM, "value", where="tag != 'a'", skip_nulls=True),
        # a literal element counts every fact, tombstones included
        Feature("n", Agg.COUNT, "1", skip_nulls=True),
        Feature("sb", Agg.SUM, "b2", filter_let=BINDS, skip_nulls=True),
        Feature("mb", Agg.MEAN, "b1", filter_let=BINDS, skip_nulls=True),
    ],
    entity_col="entity",
    time_col="time",
    seq_col="seq",
    tombstone_col="dead",
)

EXPECTED = {
    # s: only tag 'b'/'c' facts pass; b's 'c' fact has a null value
    # n: all facts; sb: sum of (value + 1) * 2; mb: mean of value + 1,
    # over the non-tombstoned facts with a value
    "a": {"s": 3.0, "n": 4, "sb": 4.0 + 6.0 + 8.0, "mb": 3.0},
    "b": {"s": 0.0, "n": 3, "sb": 22.0, "mb": 11.0},
    "c": {"s": 0.0, "n": 1, "sb": 16.0, "mb": 8.0},
}


@pytest.fixture(scope="module")
def facts_pdf():
    pdf = pd.DataFrame(ROWS, columns=["entity", "time", "value", "tag", "dead"])
    pdf["time"] = pd.to_datetime(pdf["time"])
    pdf["seq"] = range(len(pdf))
    return pdf


@pytest.fixture(scope="module")
def facts(spark, facts_pdf):
    return spark.createDataFrame(facts_pdf).cache()


def _by_entity(pdf: pd.DataFrame, cols) -> dict:
    out = {}
    for _, r in pdf.iterrows():
        out[r["entity"]] = {
            c: None if r[c] is None or (
                isinstance(r[c], float) and math.isnan(r[c])
            ) else float(r[c])
            for c in cols
        }
    return out


def _assert_expected(got: dict) -> None:
    assert set(got) == set(EXPECTED)
    for ent, want in EXPECTED.items():
        for c, v in want.items():
            assert got[ent][c] == pytest.approx(v), (ent, c, got[ent][c])


@pytest.mark.parametrize("strategy", ["native", "vectorized", "cogroup"])
def test_snapshot_backends_agree(facts, strategy):
    res = run_plan(facts, PLAN, snapshot=SNAP, strategy=strategy).toPandas()
    _assert_expected(_by_entity(res, list(EXPECTED["a"])))


@pytest.mark.parametrize("strategy", ["native", "vectorized", "cogroup"])
def test_chord_backends_agree(spark, facts, strategy):
    chords = spark.createDataFrame(
        pd.DataFrame(
            {"entity": ["a", "b", "c"], "query_time": pd.to_datetime([SNAP] * 3)}
        )
    )
    res = run_plan(facts, PLAN, chords=chords, strategy=strategy).toPandas()
    _assert_expected(_by_entity(res, list(EXPECTED["a"])))


def test_stream_fold_agrees(spark, facts_pdf, tmp_path):
    from icicle_spark.streaming import stream_fold

    src = str(tmp_path / "src")
    # two files, read one per micro-batch: the state crosses batches
    df = spark.createDataFrame(facts_pdf)
    df.where("seq % 2 = 0").coalesce(1).write.parquet(src)
    df.where("seq % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_fold(stream, PLAN)
        .writeStream.format("memory")
        .queryName("expr_semantics_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 2
    final = spark.sql("SELECT * FROM expr_semantics_stream").toPandas()
    _assert_expected(_by_entity(final, list(EXPECTED["a"])))


def test_source_scan_vectorized_matches_cogroup(facts):
    """A `scan` bind exists only inside a frame; the expressions over
    it are the only element expressions evaluated in Python."""
    plan = parse_program(
        {
            "rz": "from facts ~> scan z = sum value ~> latest 3 ~> z",
            "fz": "from facts ~> scan z = sum value ~> filter z > 3 ~> count value",
            "lz": "from facts ~> scan z = count value ~> "
                  "filter let Some w = Some (z * 2) ~> filter w > 2 ~> sum value",
        },
        skip_nulls=True,
        entity_col="entity",
        time_col="time",
        seq_col="seq",
        tombstone_col="dead",
    )["facts"]
    got = {
        s: run_plan(facts, plan, snapshot=SNAP, strategy=s)
        .toPandas()
        .sort_values("entity")
        .reset_index(drop=True)
        for s in ("vectorized", "cogroup")
    }
    pd.testing.assert_frame_equal(got["vectorized"], got["cogroup"])
    assert len(got["cogroup"]) == 3


def test_unresolvable_string_names_the_expression(facts):
    plan = Plan(
        [Feature("x", Agg.SUM, "nosuch + 1", skip_nulls=True)],
        entity_col="entity", time_col="time", seq_col="seq",
    )
    with pytest.raises(ValueError, match="nosuch \\+ 1"):
        run_plan(facts, plan, snapshot=SNAP, strategy="vectorized")


def test_parse_program_accepts_only_sql():
    with pytest.raises(ValueError, match="Spark SQL only"):
        parse_program(["from facts ~> sum value"], dialect="pandas")

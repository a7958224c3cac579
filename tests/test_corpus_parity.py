"""Round-4 golden-corpus parity semantics, pinned on tiny in-memory
facts so regressions surface without replaying the full corpus
(tools/golden_corpus.py is the exhaustive check):

* nested `group a ~> group b` (t02.1) — map of maps, numeric key order
* chained `distinct a ~> distinct b` (t02.1) — SEQUENTIAL nubs, not a
  composite key
* `group g ~> distinct d` (t02.1) — the distinct map is per group key
* per-element error boxing inside `latest N` (t15) — COLLECT keeps
  nulls instead of poisoning the array
* timestamp group keys render as dates at midnight (t06)
* regression aggregates null out on constant arguments (t16 —
  the reference's Welford folds yield an exact zero variance)
* Spark SQL element expressions on the Arrow executors via JVM
  expression projection (t09.1 `length value` / `array fold`)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from icicle_spark.plans import icicle_snapshot, run_plan
from icicle_spark.source_lang import parse_program

SNAP = icicle_snapshot("2017-01-01")


def _plan(q):
    plans = parse_program(
        [q], entity_col="entity", time_col="time",
        seq_col="seq",
    )
    return next(iter(plans.values()))


def _one(df, q, strategy):
    out = run_plan(df, _plan(q), snapshot=SNAP, strategy=strategy)
    row = out.toPandas().set_index("entity").sort_index().iloc[0]
    return row.iloc[0]


@pytest.fixture(scope="module")
def cylon(spark):
    rows = [
        ("foo", "2000-01-01", 1),
        ("foo", "2000-01-03", 2),
        ("foo", "2000-01-03", 3),
        ("foo", "2000-02-07", 4),
        ("foo", "2001-01-02", 5),
        ("foo", "2001-03-04", 6),
    ]
    pdf = pd.DataFrame(rows, columns=["entity", "time", "value"])
    pdf["time"] = pd.to_datetime(pdf["time"])
    pdf["seq"] = np.arange(len(pdf))
    return spark.createDataFrame(pdf).cache()


def test_nested_group_map_of_maps(cylon):
    q = ("from cylon ~> group (year_of time) ~> group (day_of time) "
         "~> count value")
    v = _one(cylon, q, "native")
    assert v == {
        "2000": {"1": 1, "3": 2, "7": 1},
        "2001": {"2": 1, "4": 1},
    }
    # key order is numeric, not lexicographic (Data.Map ordering)
    assert list(v["2000"].keys()) == ["1", "3", "7"]


# ids keep the (dialect, strategy) names these cases had before element
# strings became Spark SQL only
@pytest.mark.parametrize("strategy", ["vectorized", "cogroup"],
                         ids=["pandas-vectorized", "pandas-cogroup"])
def test_chained_distinct_is_sequential(cylon, strategy):
    # distinct year keeps the FIRST fact per year (2 facts); distinct
    # day then nubs those survivors — a composite (year, day) key
    # would keep 5
    q = ("from cylon ~> distinct (year_of time) ~> "
         "distinct (day_of time) ~> count value")
    assert _one(cylon, q, strategy) == 2


# ids keep the (dialect, strategy) names these cases had before element
# strings became Spark SQL only
@pytest.mark.parametrize("strategy", ["vectorized", "cogroup"],
                         ids=["pandas-vectorized", "pandas-cogroup"])
def test_group_then_distinct_scopes_per_key(cylon, strategy):
    # day 3 repeats inside 2000 (nubbed within the year); a GLOBAL
    # distinct day would also drop 2001's facts sharing a day number
    q = ("from cylon ~> group (year_of time) ~> "
         "distinct (day_of time) ~> count value")
    v = _one(cylon, q, strategy)
    assert v == {"2000": 3, "2001": 2}


@pytest.mark.parametrize("strategy", ["vectorized", "cogroup"])
def test_collect_boxes_elements_not_whole_array(spark, strategy):
    rows = [
        ("gonzo", "1989-12-17", "a", False),
        ("gonzo", "1990-01-01", "b", False),
        ("gonzo", "1994-01-01", None, True),
        ("gonzo", "2010-01-01", "c", False),
    ]
    pdf = pd.DataFrame(rows, columns=["entity", "time", "value", "tombstone"])
    pdf["time"] = pd.to_datetime(pdf["time"])
    pdf["seq"] = np.arange(len(pdf))
    df = spark.createDataFrame(pdf)
    plans = parse_program(
        ["from a ~> latest 5 ~> value"], entity_col="entity", time_col="time", seq_col="seq",
        tombstone_col="tombstone",
    )
    out = run_plan(
        df, next(iter(plans.values())), snapshot=SNAP, strategy=strategy
    ).toPandas()
    assert list(out.iloc[0, 1]) == ["a", "b", None, "c"]


def test_timestamp_group_keys_render_as_dates(cylon):
    q = "from cylon ~> group time ~> count value"
    for strategy in ("native", "vectorized", "cogroup"):
        v = _one(cylon, q, strategy)
        assert "2000-01-01" in v, (strategy, v)
        assert "2000-01-01T00:00:00.000000000" not in v


# ids keep the (dialect, strategy) names these cases had before element
# strings became Spark SQL only
@pytest.mark.parametrize(
    "strategy", ["native", "vectorized", "cogroup"],
    ids=["sql-native", "pandas-vectorized", "pandas-cogroup"],
)
def test_gradient_constant_x_is_null(spark, strategy):
    # all facts share one day -> x = days(time)/365 is constant ->
    # variance is EXACTLY zero in the reference's Welford fold ->
    # gradient/correlation are None, never a cancellation-residue
    # ratio
    rows = [("m", "1989-12-17", v) for v in (0, 10, 20)]
    pdf = pd.DataFrame(rows, columns=["entity", "time", "value"])
    pdf["time"] = pd.to_datetime(pdf["time"])
    pdf["seq"] = np.arange(len(pdf))
    df = spark.createDataFrame(pdf)
    for fn in ("gradient", "correlation"):
        q = f"from s ~> {fn} (double value) (double (days time) / 365)"
        v = _one(df, q, strategy)
        assert v is None or (isinstance(v, float) and np.isnan(v)), (fn, v)
    # and the symmetric case: constant y over varying x -> slope 0.0
    rows = [("m", f"1989-12-{d:02d}", 7) for d in (1, 11, 21)]
    pdf = pd.DataFrame(rows, columns=["entity", "time", "value"])
    pdf["time"] = pd.to_datetime(pdf["time"])
    pdf["seq"] = np.arange(len(pdf))
    df = spark.createDataFrame(pdf)
    q = "from s ~> gradient (double value) (double (days time) / 365)"
    assert _one(df, q, strategy) == 0.0


@pytest.mark.parametrize("strategy", ["vectorized", "cogroup"])
def test_sql_dialect_materializes_on_executors(spark, strategy):
    # `length value` over array<string>: the SQL expression is
    # projected as a JVM column before the exchange and the executor
    # folds the bare column
    rows = [
        ("e", "2000-01-01", ["a", "b"]),
        ("e", "2000-01-02", ["c"]),
        ("e", "2000-01-03", ["d", "e", "f"]),
    ]
    pdf = pd.DataFrame(rows, columns=["entity", "time", "value"])
    pdf["time"] = pd.to_datetime(pdf["time"])
    pdf["seq"] = np.arange(len(pdf))
    df = spark.createDataFrame(pdf)
    plans = parse_program(
        ["from a in latest 10 in length value"], entity_col="entity", time_col="time", seq_col="seq",
    )
    out = run_plan(
        df, next(iter(plans.values())), snapshot=SNAP, strategy=strategy
    ).toPandas()
    assert [int(x) for x in out.iloc[0, 1]] == [2, 1, 3]

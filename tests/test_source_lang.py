"""Icicle source-language front-end: REAL reference query strings
(verbatim from the repl corpus scripts) parsed into the IR and
evaluated against the transcribed goldens."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from icicle_spark.plans import Agg, icicle_snapshot, run_plan
from icicle_spark.source_lang import parse_program, parse_query

SNAP = icicle_snapshot("2017-01-01")

SALARY = [
    ("homer", "1989-12-17", 100),
    ("homer", "1990-01-01", 200),
    ("homer", "1994-01-01", 300),
    ("homer", "1999-01-01", 400),
    ("homer", "2010-01-01", 500),
    ("marge", "1989-12-17", 0),
    ("marge", "1989-12-17", 10),
    ("marge", "1989-12-17", 20),
]


@pytest.fixture(scope="module")
def salary(spark):
    pdf = pd.DataFrame(SALARY, columns=["entity", "time", "value"])
    pdf["time"] = pd.to_datetime(pdf["time"])
    pdf["seq"] = np.arange(len(pdf))
    return spark.createDataFrame(pdf).cache()


@pytest.fixture(scope="module")
def injury(spark):
    rows = [
        ("homer", "1989-12-17", "head", 2),
        ("homer", "1990-01-01", "head", 1),
        ("homer", "1994-01-01", "arm", 4),
        ("homer", "1999-01-01", "torso", 3),
        ("homer", "2010-01-01", "torso", 1),
    ]
    pdf = pd.DataFrame(rows, columns=["entity", "time", "location", "severity"])
    pdf["time"] = pd.to_datetime(pdf["time"])
    pdf["seq"] = np.arange(len(pdf))
    return spark.createDataFrame(pdf).cache()


def _run(df, q, strategy, snap=SNAP):
    _, f = parse_query(q, "r")
    plans = parse_program(
        [q], entity_col="entity", time_col="time",
        seq_col="seq",
    )
    plan = next(iter(plans.values()))
    out = run_plan(df, plan, snapshot=snap, strategy=strategy).toPandas()
    return out.set_index("entity").sort_index()


def test_t01_sum_and_filtered_count(salary):
    r = _run(salary, "from salary ~> sum value", "native")
    assert r.loc["homer", "q0"] == 1500 and r.loc["marge", "q0"] == 30
    r = _run(
        salary, "from salary ~> filter value > 10 ~> count value",
        "native",
    )
    assert r.loc["homer", "q0"] == 5 and r.loc["marge", "q0"] == 1


def test_latest_mean_and_count_unit(salary):
    r = _run(salary, "from salary ~> latest 3 ~> mean value", "native")
    assert r.loc["homer", "q0"] == 400.0 and r.loc["marge", "q0"] == 10.0
    r = _run(salary, "from salary ~> count ()", "native")
    assert r.loc["homer", "q0"] == 5 and r.loc["marge", "q0"] == 3


def test_t19_month_window(spark):
    rows = [("homer", f"1970-{m:02d}-01", m) for m in range(1, 13)]
    pdf = pd.DataFrame(rows, columns=["entity", "time", "value"])
    pdf["time"] = pd.to_datetime(pdf["time"])
    pdf["seq"] = np.arange(len(pdf))
    df = spark.createDataFrame(pdf)
    r = _run(
        df, "from salary ~> windowed 3 months ~> sum value",
        "native", snap=icicle_snapshot("1970-12-01"),
    )
    assert r.loc["homer", "q0"] == 10 + 11 + 12
    r = _run(
        df,
        "from salary ~> windowed between 1 months and 3 months ~> sum value",
        "native", snap=icicle_snapshot("1970-12-01"),
    )
    assert r.loc["homer", "q0"] == 10 + 11


def test_t02_group(salary):
    r = _run(
        salary, "from salary ~> group value ~> count value",
        "cogroup",
    )
    assert {k: int(v) for k, v in r.loc["marge", "q0"].items()} == {
        "0": 1, "10": 1, "20": 1,
    }


def test_t04_1_literal_pattern(injury):
    r = _run(
        injury, 'from injury ~> filter let "head" = location ~> sum severity',
        "native",
    )
    assert r.loc["homer", "q0"] == 3


def test_t17_filter_let_latest_array(salary):
    q = ("from salary ~> filter let Some zod = Some (value + 1) "
         "~> latest 3 ~> zod")
    r = _run(salary, q, "vectorized")
    assert list(r.loc["homer", "q0"]) == [301.0, 401.0, 501.0]
    assert list(r.loc["marge", "q0"]) == [1.0, 11.0, 21.0]
    # line 28: the outer frame before the filter
    q2 = ("from salary ~> latest 4 ~> filter let Some zod = "
          "Some (value + 1) ~> latest 3 ~> zod")
    _, f = parse_query(q2, "r")
    assert f.latest_outer == 4 and f.latest == 3
    r2 = _run(salary, q2, "vectorized")
    assert list(r2.loc["homer", "q0"]) == [301.0, 401.0, 501.0]
    # back-to-back latests collapse to the min
    _, f3 = parse_query("from salary ~> latest 4 ~> latest 3 ~> value")
    assert f3.latest == 3 and f3.latest_outer is None


def test_let_substitution_and_max_by(salary):
    r = _run(
        salary, "from salary ~> let x = value * 2 ~> sum x",
        "native",
    )
    assert r.loc["homer", "q0"] == 3000
    r = _run(
        salary, "from salary ~> max_by value value", "native"
    )
    assert r.loc["homer", "q0"] == 500.0


def test_program_fusion(salary):
    plans = parse_program(
        {
            "s": "from salary ~> sum value",
            "c": "from salary ~> count value",
            "sev": "from injury ~> sum severity",
        },
        entity_col="entity", time_col="time", seq_col="seq",
    )
    assert set(plans) == {"salary", "injury"}
    assert [f.name for f in plans["salary"].features] == ["s", "c"]
    out = (
        run_plan(salary, plans["salary"], snapshot=SNAP, strategy="native")
        .toPandas()
        .set_index("entity")
    )
    assert out.loc["homer", "s"] == 1500 and out.loc["homer", "c"] == 5


def test_unsupported_forms_raise():
    for q in [
        "from salary ~> (sum value, count value)",
        "from salary ~> double (sum value) / count value",  # multi-fold
        "from salary ~> now",
        "sum value",
        "from salary ~> frobnicate value ~> sum value",
    ]:
        with pytest.raises(ValueError):
            parse_query(q)
    # tuple outputs compile to a struct postcomp (t01-sanity)
    plan = parse_program(["from salary ~> (sum value, count value)"])
    assert plan["salary"].postcomps[0][1].startswith("named_struct")
    # distinct aggregates are scalars: arithmetic over them is a
    # plain postcomp, not a map postcomp (t03/t07 goldens)
    plan = parse_program(
        ["from salary ~> distinct value ~> sum value / count value"]
    )
    assert len(plan["salary"].hidden) == 2


# -- aggregate expressions / postcomputations (Core postcomps) ---------

# goldens transcribed from the reference repl corpus `expected` files:
# t01-sanity:8,14; t04-lets:5 + 'Aggregate let' + 'Aggregate let
# outside filter'; t06-custom-folds:2,5,14 (tuple fold split into two
# scalar folds — tuples are per-component outputs here)
AGG_EXPR_GOLDENS = {
    "avg": ("from salary ~> double (sum value) / count value",
            300.0, 10.0),
    "avg3": ("from salary ~> latest 3 ~> sum (double value) / count value",
             400.0, 10.0),
    "purelet": (
        "from salary ~> let sx = 13013 ~> sum (value + sx) - "
        "(sx * count value)",
        1500.0, 30.0),
    "agglet": ("from salary ~> let sx = sum value ~> sx * 2",
               3000.0, 60.0),
    # the let's fold is FROZEN before the later filter narrows the
    # stream: reference golden is the tuple (1500, 1400) / (30, 0)
    "frozen_sx": (
        "from salary ~> let sx = sum value ~> filter value > 100 ~> sx",
        1500.0, 30.0),
    "frozen_post": (
        "from salary ~> let sx = sum value ~> filter value > 100 "
        "~> sum value",
        1400.0, 0.0),
    "spread": ("from salary ~> max value - min value", 400.0, 20.0),
}

FOLD_GOLDENS = {
    "roll": (
        "from salary ~> let v = double value ~> fold1 roll = v then "
        "roll * 0.5 + v * 0.5 ~> roll",
        406.25, 12.5),
    "xsum": ("from salary ~> fold xsum = 0 then xsum + value ~> xsum",
             1500.0, 30.0),
    "tuplesum": (
        "from salary ~> fold xcount = 0 then xcount + 1 ~> "
        "fold xsum2 = 0 then xsum2 + value ~> double xsum2 / xcount",
        300.0, 10.0),
}


# ids keep the (strategy, dialect) names these cases had before element
# strings became Spark SQL only
@pytest.mark.parametrize("strategy", ["native", "auto", "cogroup"],
                         ids=["native-sql", "auto-pandas", "cogroup-pandas"])
def test_aggregate_expressions_repl_goldens(salary, strategy):
    qs = {k: q for k, (q, _, _) in AGG_EXPR_GOLDENS.items()}
    if strategy != "native":
        qs.update({k: q for k, (q, _, _) in FOLD_GOLDENS.items()})
    plan = parse_program(
        qs, entity_col="entity", time_col="time",
        seq_col="seq",
    )["salary"]
    out = (
        run_plan(salary, plan, snapshot=SNAP, strategy=strategy)
        .toPandas().set_index("entity").sort_index()
    )
    # hidden folds never leak into the output
    assert not [c for c in out.columns if c.startswith("__")]
    both = {**AGG_EXPR_GOLDENS, **FOLD_GOLDENS}
    for name in qs:
        _, homer, marge = both[name]
        assert out.loc["homer", name] == pytest.approx(homer), name
        assert out.loc["marge", name] == pytest.approx(marge), name


# t09-group-folds goldens: count/sum/max over (group time ~> count),
# max over (group time ~> oldest)
GROUP_FOLD_GOLDENS = {
    "gfc": ("from salary ~> group fold (k, v) = "
            "(group time ~> count value) ~> count v", 5, 1),
    "gfs": ("from salary ~> group fold (k, v) = "
            "(group time ~> count value) ~> sum v", 5, 3),
    "gfm": ("from salary ~> group fold (k, v) = "
            "(group time ~> count value) ~> max v", 1, 3),
}


# ids keep the (strategy, dialect) names these cases had before element
# strings became Spark SQL only
@pytest.mark.parametrize("strategy", ["native", "cogroup"],
                         ids=["native-sql", "cogroup-pandas"])
def test_t09_group_folds_source(salary, strategy):
    qs = {k: q for k, (q, _, _) in GROUP_FOLD_GOLDENS.items()}
    # OLDEST-valued groups compile natively via min_by on the
    # (time, seq) order struct
    qs["gfo"] = ("from salary ~> group fold (k, v) = "
                 "(group time ~> oldest value) ~> max v")
    plan = parse_program(
        qs, skip_nulls=True,
        entity_col="entity", time_col="time", seq_col="seq",
    )["salary"]
    out = (
        run_plan(salary, plan, snapshot=SNAP, strategy=strategy)
        .toPandas().set_index("entity").sort_index()
    )
    assert not [c for c in out.columns if c.startswith("__")]
    for name in GROUP_FOLD_GOLDENS:
        _, h, m = GROUP_FOLD_GOLDENS[name]
        assert out.loc["homer", name] == h, name
        assert out.loc["marge", name] == m, name
    assert out.loc["homer", "gfo"] == 500 and out.loc["marge", "gfo"] == 0


def test_group_fold_argmax_key(salary):
    plan = parse_program(
        {"top": "from salary ~> group fold (k, v) = "
                "(group value ~> count value) ~> max_by v k"},
        skip_nulls=True,
        entity_col="entity", time_col="time", seq_col="seq",
    )["salary"]
    out = (
        run_plan(salary, plan, snapshot=SNAP, strategy="native")
        .toPandas().set_index("entity")
    )
    # homer: every value once -> smallest key "100"; marge: all once
    # -> "0" (string map keys, lexicographic tie-break)
    assert out.loc["homer", "top"] == "100"
    assert out.loc["marge", "top"] == "0"


def test_postcomp_chord_scope(salary, spark):
    chords = spark.createDataFrame(
        pd.DataFrame({
            "entity": ["homer", "homer", "marge"],
            "query_time": pd.to_datetime(
                ["1995-01-02", "2017-01-02", "2017-01-02"]
            ),
        })
    )
    plan = parse_program(
        {"avg": "from salary ~> sum value / count value"},
        entity_col="entity", time_col="time", seq_col="seq",
    )["salary"]
    out = (
        run_plan(salary, plan, chords=chords, strategy="native")
        .toPandas().sort_values(["entity", "query_time"])
    )
    assert list(out["avg"]) == [200.0, 300.0, 10.0]


def test_postcomp_error_channel(spark):
    # a null element poisons BOTH folds of the postcomp -> the
    # postcomp's err is CannotCompute; clean entity stays OK
    pdf = pd.DataFrame({
        "entity": ["a", "a", "b"],
        "time": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-01"]),
        "seq": [0, 1, 2],
        "value": [1.0, None, 5.0],
    })
    df = spark.createDataFrame(pdf)
    plan = parse_program(
        {"avg": "from f ~> sum value / count value"},
        entity_col="entity", time_col="time", seq_col="seq",
    )["f"]
    out = (
        run_plan(df, plan, snapshot="2024-02-01", strategy="native",
                 error_codes=True)
        .toPandas().set_index("entity").sort_index()
    )
    assert list(out.columns) == ["avg", "avg_err"]
    assert np.isnan(out.loc["a", "avg"]) and out.loc["a", "avg_err"] == 3
    assert out.loc["b", "avg"] == 5.0 and out.loc["b", "avg_err"] == 0


DICT_SRC = """
module Default where

import Missing

input injury : {
    action   : Option String
  , location : String
  , severity : Double
  }

input salary : Int

is_head : String -> Bool
is_head l =
  l == "head"

severity_score : Double -> Double -> Possibly Double
severity_score s w =
  let boosted = s * w
   in boosted + 1.0

newest2 : Element a -> Aggregate (Possibly a)
newest2 v =
  latest 1 in fold1 x = v then v in x

phi = 1.618

feature sum_severity =
  from injury
    in sum severity

feature head_damage =
  from injury
    in filter is_head location
    in sum severity

feature scored_damage =
  from injury
    in sum (severity_score severity 2.0)

feature phi_scaled =
  from injury
    in phi

feature latest_sev =
  from injury
    in newest2 severity

feature actioned_damage =
  from injury
    in filter let Some act = action
    in group act
    in sum severity

feature mean_salary =
  from salary
    in sum value / count value

feature worst =
  from injury
    in group fold (k, e) = (group location in sum severity)
    in max_by e k

feature days_loc =
  from injury
    in days_in location time now
"""


def test_parse_dictionary_source_file(spark, tmp_path):
    """Full dictionary.icicle surface (data/example/dictionary.icicle
    style): module/import headers (resolved to sibling files, matched
    case-insensitively), typed inputs (records + Option),
    `in`-separated feature pipelines, custom function + zero-param
    constant inlining."""
    from icicle_spark.source_lang import (
        parse_dictionary_file,
        parse_dictionary_source,
    )

    (tmp_path / "missing.icicle").write_text(
        "module Missing where\n\nmissing : Possibly a\nmissing = 0\n"
    )
    (tmp_path / "dict.icicle").write_text(DICT_SRC)
    d, skipped = parse_dictionary_file(
        str(tmp_path / "dict.icicle"), skip_nulls=True, seq_col="seq",
    )
    assert sorted(d.inputs) == ["injury", "salary"]
    assert sorted(d.outputs) == [
        "actioned_damage", "days_loc", "head_damage", "latest_sev",
        "mean_salary", "phi_scaled", "scored_damage", "sum_severity",
        "worst",
    ]
    # custom functions inline at their call sites (Transform/Inline.hs
    # class): expression bodies (is_head), let/in chains
    # (severity_score), and even CONTEXT-carrying bodies (newest2's
    # latest/fold pipeline becomes a parenthesized subquery tail).
    # Zero-param constants (phi) register as inlinable functions —
    # the reference module system's `missing = get None` shape.
    assert skipped == {}

    inj = pd.DataFrame({
        "entity": ["homer"] * 4 + ["marge"],
        "time": pd.to_datetime([
            "2020-01-01", "2020-02-01", "2020-03-01", "2020-04-01",
            "2020-01-05",
        ]),
        "seq": range(5),
        "action": [None, "fall", "hit", None, "fall"],
        "location": ["head", "head", "arm", "torso", "head"],
        "severity": [2.0, 1.0, 4.0, 3.0, 5.0],
    })
    sal = pd.DataFrame({
        "entity": ["homer"] * 3,
        "time": pd.to_datetime(["2020-01-01"] * 3),
        "seq": range(3),
        "value": [100, 200, 300],
    })
    out = d.run(
        spark,
        frames={
            "injury": spark.createDataFrame(inj),
            "salary": spark.createDataFrame(sal),
        },
        snapshot="2021-01-01",
        # auto: the plan now carries days_in's qt-aware CustomFold,
        # which the native compiler declines
        strategy="auto",
    )
    got = out["injury"].toPandas().set_index("entity").sort_index()
    assert got.loc["homer", "sum_severity"] == 10.0
    # days_in location time now: run-length days per location, the
    # final run closed against the query time (2020 is a leap year:
    # 60 + 31 + 275 = 366)
    assert dict(got.loc["homer", "days_loc"]) == {
        "head": 60, "arm": 31, "torso": 275,
    }
    assert got.loc["homer", "head_damage"] == 3.0
    # severity_score severity 2.0 = severity * 2 + 1, summed over 4
    assert got.loc["homer", "scored_damage"] == 24.0
    # zero-param constant inlined as the aggregate-stage tail
    assert float(got.loc["homer", "phi_scaled"]) == 1.618
    # newest2 = latest 1 ~> fold1 (the prelude's newest shape)
    assert got.loc["homer", "latest_sev"] == 3.0
    assert got.loc["marge", "latest_sev"] == 5.0
    assert dict(got.loc["homer", "actioned_damage"]) == {
        "fall": 1.0, "hit": 4.0,
    }
    assert got.loc["homer", "worst"] == "arm"
    assert got.loc["marge", "worst"] == "head"
    sal_out = out["salary"].toPandas().set_index("entity")
    assert sal_out.loc["homer", "mean_salary"] == 200.0
    # undeclared input -> loud error
    with pytest.raises(ValueError, match="undeclared"):
        parse_dictionary_source(
            "feature x =\n  from ghost\n    in sum value"
        )


def test_postcomp_folds_share_via_cse(salary):
    """`mean value` and `sum value / count value` in one program:
    CSE shares identical hidden folds across outputs and the
    re-emission keeps every requested column."""
    plan = parse_program(
        {
            "m": "from salary ~> mean value",
            "avg": "from salary ~> sum value / count value",
            "s": "from salary ~> sum value",
        },
        entity_col="entity", time_col="time",
        seq_col="seq",
    )["salary"]
    condensed, dups = plan.stripped().cse()
    # the visible `s` fold and avg's hidden sum fold are one fold
    assert dups.get("__avg_0") == "s" or dups.get("s") == "__avg_0"
    out = (
        run_plan(salary, plan, snapshot=SNAP, strategy="native")
        .toPandas().set_index("entity").sort_index()
    )
    assert list(out.columns) == ["m", "s", "avg"]
    assert out.loc["homer", "avg"] == out.loc["homer", "m"] == 300.0


def test_postcomp_chordexec_path(salary, spark):
    """Postcomps finalize identically through the vectorized chord
    executor (strategy auto routes there)."""
    chords = spark.createDataFrame(
        pd.DataFrame({
            "entity": ["homer", "homer", "marge"],
            "query_time": pd.to_datetime(
                ["1995-01-02", "2017-01-02", "2017-01-02"]
            ),
        })
    )
    plan = parse_program(
        {"avg": "from salary ~> sum value / count value"},
        entity_col="entity", time_col="time",
        seq_col="seq",
    )["salary"]
    out = (
        run_plan(salary, plan, chords=chords, strategy="auto")
        .toPandas().sort_values(["entity", "query_time"])
    )
    assert list(out["avg"]) == [200.0, 300.0, 10.0]


# ids keep the (strategy, dialect) names these cases had before element
# strings became Spark SQL only
@pytest.mark.parametrize("strategy", ["native", "cogroup"],
                         ids=["native-sql", "cogroup-pandas"])
def test_t02_group_map_arithmetic(salary, strategy):
    """repl t02 'Throw some constants in for good measure':
    `group time ~> sum (value + 3) * 5` — per-key postcomp via
    transform_values; two-fold arithmetic zips maps."""
    plan = parse_program(
        {
            "gconst": "from salary ~> group time ~> sum (value + 3) * 5",
            "gmean": "from salary ~> group value ~> "
                     "sum value / count value",
        },
        skip_nulls=True,
        entity_col="entity", time_col="time", seq_col="seq",
    )["salary"]
    out = (
        run_plan(salary, plan, snapshot=SNAP, strategy=strategy)
        .toPandas().set_index("entity").sort_index()
    )
    # golden: homer [(1989-12-17, 515) ... (2010-01-01, 2515)],
    # marge [(1989-12-17, 195)]
    assert sorted(out.loc["homer", "gconst"].values()) == [
        515.0, 1015.0, 1515.0, 2015.0, 2515.0,
    ]
    assert list(out.loc["marge", "gconst"].values()) == [195.0]
    assert dict(out.loc["marge", "gmean"]) == {
        "0": 0.0, "10": 10.0, "20": 20.0,
    }
    with pytest.raises(ValueError, match="1-2 map-valued"):
        parse_program(
            ["from salary ~> group value ~> "
             "sum value / count value + mean value"]
        )


def test_two_arg_prelude_aggregates(spark):
    """covariance/correlation/gradient/intercept parsed from source
    lower to pair-masked sum folds + closed-form postcomps and match
    Spark's own covar_samp/corr on both backends; numflips parses as
    a plain aggregate keyword."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    n = 2000
    pdf = pd.DataFrame({
        "entity": [f"e{i}" for i in rng.integers(0, 30, n)],
        "time": np.datetime64("2024-01-01")
        + rng.integers(0, 50 * 86_400, n).astype("timedelta64[s]"),
        "x": rng.normal(10, 4, n).round(3),
        "y": rng.normal(5, 2, n).round(3),
        "seq": np.arange(n, dtype=np.int64),
    })
    pdf["y"] = (pdf["y"] + 0.6 * pdf["x"]).round(3)
    facts = spark.createDataFrame(pdf)
    snap = "2024-03-01"
    qs = {
        "cov": "from f ~> covariance y x",
        "corr": "from f ~> correlation y x",
        "grad": "from f ~> gradient y x",
        "icpt": "from f ~> intercept y x",
        "flips": "from f ~> numflips (x > 10)",
    }
    g = F.covar_samp("y", "x") / F.var_samp("x")
    ref = (
        facts.where(f"time < timestamp '{snap}'").groupBy("entity")
        .agg(
            F.covar_samp("y", "x").alias("cov"),
            F.corr("y", "x").alias("corr"),
            g.alias("grad"),
            (F.avg("y") - g * F.avg("x")).alias("icpt"),
        )
        .toPandas().set_index("entity").sort_index()
    )
    for strat in ("native", "cogroup"):
        plan = parse_program(
            qs, skip_nulls=True,
            entity_col="entity", time_col="time", seq_col="seq",
        )["f"]
        out = (
            run_plan(facts, plan, snapshot=snap, strategy=strat)
            .toPandas().set_index("entity").sort_index()
        )
        for c in ("cov", "corr", "grad", "icpt"):
            assert np.allclose(
                out[c].astype(float), ref[c].astype(float),
                rtol=1e-7, equal_nan=True,
            ), (strat, c)
        assert (out["flips"] >= 0).all()


def test_t16_regression_verbatim(salary):
    """t16-prelude gradient/correlation lines VERBATIM (with `days`
    as days-since-Ivory-epoch, Time.hs:149-165): goldens
    17.53336340594424 / 0.9279829441311143 to fp-accumulation
    tolerance (sum-of-products vs the reference's Welford fold)."""
    plan = parse_program(
        {
            "grad": "from salary ~> gradient (double value) "
                    "(double (days time) / 365)",
            "corr": "from salary ~> correlation (double value) "
                    "(double (days time) / 365)",
        },
        skip_nulls=True,
        entity_col="entity", time_col="time", seq_col="seq",
    )["salary"]
    out = (
        run_plan(salary, plan, snapshot=SNAP, strategy="native")
        .toPandas().set_index("entity")
    )
    assert out.loc["homer", "grad"] == pytest.approx(
        17.53336340594424, rel=1e-9
    )
    assert out.loc["homer", "corr"] == pytest.approx(
        0.9279829441311143, rel=1e-9
    )


def test_review_fixes_string_literals_and_temporality(spark, salary):
    """Code-review regressions: string literals survive every rewrite
    pass; aggregate-stage bindings in element position and contexts
    after `group fold` raise instead of silently misparsing."""
    from icicle_spark.source_lang import (
        parse_dictionary_source,
        parse_query_multi,
    )

    # literal containing a builtin name is never rewritten
    _, feats, _, _ = parse_query_multi(
        'from events ~> filter kind = "log x" ~> count value', "q"
    )
    assert feats[0].where == 'kind = "log x"'
    # literal containing the pipeline arrow / `in` separator
    _, feats, _, _ = parse_query_multi(
        'from events ~> filter note = "a ~> b" ~> count value', "q"
    )
    assert feats[0].where == 'note = "a ~> b"'
    d, skipped = parse_dictionary_source(
        "input clicks : Int\n\nfeature f1 =\n  from clicks\n"
        '    in filter note = "opt in"\n    in sum value\n'
    )
    assert "f1" in d.outputs and not skipped
    # temporality errors are loud
    with pytest.raises(ValueError, match="aggregate-stage binding"):
        parse_query_multi(
            "from s ~> let n = count value ~> sum (value / n)", "q"
        )
    with pytest.raises(ValueError, match="aggregate-stage binding"):
        parse_query_multi(
            "from s ~> fold c = 0 then c + 1 ~> sum (value * c)", "q"
        )
    with pytest.raises(ValueError, match="after `group fold`"):
        parse_query_multi(
            "from s ~> group fold (k, v) = (group t ~> count value) "
            "~> filter value > 100 ~> sum v", "q"
        )
    # the literal-pattern filter still evaluates (masked token path)
    r = _run(
        salary, 'from salary ~> filter let 100 = value ~> count value',
        "native",
    )
    assert r.loc["homer", "q0"] == 1


def test_postcomp_err_covers_own_arithmetic(spark):
    """An entity whose postcomp nulls out of its OWN division (unit
    inits: 0/nullif(0,0)) reports CannotCompute, not OK."""
    pdf = pd.DataFrame({
        "entity": ["a", "b"],
        "time": pd.to_datetime(["2024-01-01", "2024-06-01"]),
        "seq": [0, 1],
        "value": [1.0, 5.0],
    })
    df = spark.createDataFrame(pdf)
    plan = parse_program(
        {"avg": "from f ~> sum value / count value"},
        entity_col="entity", time_col="time",
        seq_col="seq",
    )["f"]
    # snapshot before b's only fact: b has zero visible facts ->
    # sum=0, count=0, avg=null with no poisoned fold
    out = (
        run_plan(df, plan, snapshot="2024-03-01", strategy="native",
                 error_codes=True)
        .toPandas().set_index("entity").sort_index()
    )
    assert out.loc["a", "avg"] == 1.0 and out.loc["a", "avg_err"] == 0
    assert pd.isna(out.loc["b", "avg"]) and out.loc["b", "avg_err"] == 3


# ids keep the (strategy, dialect) names these cases had before element
# strings became Spark SQL only
@pytest.mark.parametrize("strategy", ["native", "cogroup"],
                         ids=["native-sql", "cogroup-pandas"])
def test_t03_distinct_verbatim(salary, injury, strategy):
    """t03-distinct script lines VERBATIM through the parser."""
    plan = parse_program(
        {
            "dv": "from salary ~> distinct value ~> count value",
            "dt": "from salary ~> distinct time ~> count value",
            "dtm": "from salary ~> distinct time ~> mean value",
        },
        skip_nulls=True,
        entity_col="entity", time_col="time", seq_col="seq",
    )["salary"]
    r = (
        run_plan(salary, plan, snapshot=SNAP, strategy=strategy)
        .toPandas().set_index("entity").sort_index()
    )
    assert r.loc["homer", "dv"] == 5 and r.loc["marge", "dv"] == 3
    assert r.loc["homer", "dt"] == 5 and r.loc["marge", "dt"] == 1
    assert r.loc["homer", "dtm"] == 300.0 and r.loc["marge", "dtm"] == 0.0
    plan_i = parse_program(
        {"dl": "from injury ~> distinct location ~> count location"},
        skip_nulls=True,
        entity_col="entity", time_col="time", seq_col="seq",
    )["injury"]
    ri = (
        run_plan(injury, plan_i, snapshot=SNAP, strategy=strategy)
        .toPandas().set_index("entity")
    )
    assert ri.loc["homer", "dl"] == 3


# -- scan binds (Query/Context.hs:33 LetScan; repl t17 + t06.01) -------

@pytest.mark.parametrize("strategy", ["vectorized", "cogroup"])
def test_t17_scan_verbatim(salary, strategy):
    """t17-latest lines 20-23 VERBATIM: every latest/scan arrangement
    of `scan zod = sum value` gives homer [600,1000,1500] and
    marge [0,10,30] (running sums, latest-3 frame)."""
    qs = {
        f"z{i}": q
        for i, q in enumerate([
            "from salary ~> scan zod = sum value ~> latest 3 ~> zod",
            "from salary ~> scan zod = sum value ~> latest 4 ~> "
            "latest 3 ~> zod",
            "from salary ~> latest 10 ~> scan zod = sum value ~> "
            "latest 3 ~> zod",
            "from salary ~> latest 10 ~> scan zod = sum value ~> "
            "latest 4 ~> latest 3 ~> zod",
        ])
    }
    plan = parse_program(
        qs, skip_nulls=True,
        entity_col="entity", time_col="time", seq_col="seq",
    )["salary"]
    r = (
        run_plan(salary, plan, snapshot=SNAP, strategy=strategy)
        .toPandas().set_index("entity").sort_index()
    )
    for c in qs:
        assert list(r.loc["homer", c]) == [600.0, 1000.0, 1500.0]
        assert list(r.loc["marge", c]) == [0.0, 10.0, 30.0]


@pytest.mark.parametrize("strategy", ["vectorized", "cogroup"])
def test_t0601_scan_second_last_verbatim(salary, strategy):
    """t06.01-scan VERBATIM: `scan v = (second_last value)` binds the
    previous element; the first fact's None fails the filter-let
    pattern; grouping `value > comp` counts ascending steps —
    homer {True: 4}, marge {True: 2} (goldens)."""
    qs = {
        "c1": "from salary ~> scan v = (second_last value) ~> filter "
              "let Some comp = v in group value > comp in count ()",
        "c2": "from salary ~> latest 10 ~> scan v = (second_last "
              "value) ~> filter let Some comp = v in group value > "
              "comp in count ()",
    }
    plan = parse_program(
        qs, skip_nulls=True,
        entity_col="entity", time_col="time", seq_col="seq",
    )["salary"]
    r = (
        run_plan(salary, plan, snapshot=SNAP, strategy=strategy)
        .toPandas().set_index("entity").sort_index()
    )
    for c in qs:
        assert dict(r.loc["homer", c]) == {"True": 4}
        assert dict(r.loc["marge", c]) == {"True": 2}


def test_scan_rejects():
    """scan guards: unsupported fold kinds and scan-after-filter
    raise loudly instead of mis-evaluating."""
    with pytest.raises(ValueError, match="scan supports"):
        parse_query("from salary ~> scan z = newest value ~> latest 3 ~> z")
    with pytest.raises(ValueError, match="scan after filter"):
        parse_query(
            "from salary ~> filter value > 0 ~> scan z = sum value "
            "~> latest 3 ~> z"
        )


# -- tuples over group maps + tuple-accumulator folds (t04/t06) --------

@pytest.mark.parametrize("strategy", ["vectorized", "cogroup"])
def test_t04_agg_let_before_and_after_group(salary, strategy):
    """t04-lets line 20 VERBATIM: scalar agg-let broadcasts into every
    group key's struct — marge {0:(30,0), 10:(30,10), 20:(30,20)}."""
    p = parse_program(
        {"g": "from salary ~> let x = sum value ~> group value ~> "
              "let y = sum value ~> (x, y)"},
        skip_nulls=True, entity_col="entity", time_col="time",
        seq_col="seq",
    )["salary"]
    r = (
        run_plan(salary, p, snapshot=SNAP, strategy=strategy)
        .toPandas().set_index("entity")
    )
    m = {k: (v["f1"], v["f2"]) for k, v in r.loc["marge", "g"].items()}
    assert m == {"0": (30.0, 0.0), "10": (30.0, 10.0), "20": (30.0, 20.0)}


def test_t06_group_fold1_tuple(salary):
    """t06-custom-folds line 11 VERBATIM: per-key (newest, oldest) —
    marge's three same-day facts give {1989-12-17: (20, 0)}."""
    p = parse_program(
        {"g": "from salary ~> group time ~> fold1 xnew = value then "
              "value ~> fold1 xold = value then xold ~> (xnew, xold)"},
        skip_nulls=True, entity_col="entity", time_col="time",
        seq_col="seq",
    )["salary"]
    r = (
        run_plan(salary, p, snapshot=SNAP, strategy="cogroup")
        .toPandas().set_index("entity")
    )
    m = {k: (v["f1"], v["f2"]) for k, v in r.loc["marge", "g"].items()}
    assert list(m.values()) == [(20.0, 0.0)]
    hm = {k: (v["f1"], v["f2"]) for k, v in r.loc["homer", "g"].items()}
    assert sorted(v for v in hm.values()) == [
        (100.0, 100.0), (200.0, 200.0), (300.0, 300.0),
        (400.0, 400.0), (500.0, 500.0),
    ]


@pytest.mark.parametrize("strategy", ["vectorized", "cogroup"])
def test_t06_tuple_accumulator_fold(salary, strategy):
    """t06-custom-folds line 14 VERBATIM: `fold (xcount, xsum) = (0,0)
    then (xcount+1, xsum+value)` splits into independent scalar folds
    -> mean 300.0 / 10.0."""
    p = parse_program(
        {"g": "from salary ~> fold (xcount, xsum) = (0, 0) then "
              "(xcount + 1, xsum + value) ~> double xsum / xcount"},
        skip_nulls=True, entity_col="entity", time_col="time",
        seq_col="seq",
    )["salary"]
    r = (
        run_plan(salary, p, snapshot=SNAP, strategy=strategy)
        .toPandas().set_index("entity")
    )
    assert r.loc["homer", "g"] == 300.0 and r.loc["marge", "g"] == 10.0


def test_tuple_fold_cross_component_rejects():
    with pytest.raises(ValueError, match="cross-component"):
        parse_query(
            "from salary ~> fold (a, b) = (0, 0) then (b, a + value) "
            "~> a"
        )


# -- filter after group: zero-count keys (t02:13, t17:8) ---------------

@pytest.mark.parametrize("strategy", ["vectorized", "cogroup"])
def test_t02_post_group_filter_verbatim(salary, strategy):
    """t02-groups line 13 VERBATIM ("Note that this gives us counts of
    zero"): keys establish from the unfiltered stream; the filter
    guards only the fold step."""
    p = parse_program(
        {"g": "from salary ~> group time ~> filter value > 100 ~> "
              "count value"},
        skip_nulls=True, entity_col="entity", time_col="time",
        seq_col="seq",
    )["salary"]
    r = (
        run_plan(salary, p, snapshot=SNAP, strategy=strategy)
        .toPandas().set_index("entity")
    )
    h = {k[:10]: int(v) for k, v in r.loc["homer", "g"].items()}
    assert h == {
        "1989-12-17": 0, "1990-01-01": 1, "1994-01-01": 1,
        "1999-01-01": 1, "2010-01-01": 1,
    }
    assert {k[:10]: int(v) for k, v in r.loc["marge", "g"].items()} == {
        "1989-12-17": 0
    }


@pytest.mark.parametrize("strategy", ["vectorized", "cogroup"])
def test_t17_group_latest_filter_tuple_verbatim(salary, strategy):
    """t17-latest line 8 VERBATIM: scalar agg-let + per-key latest-2
    frame + guarded sum, tupled — homer keys all present with
    (1500, 0|200|...|500), marge (30, 0)."""
    p = parse_program(
        {"g": "from salary ~> let sx = sum value ~> group time ~> "
              "latest 2 ~> filter value > 100 ~> (sx, sum value)"},
        skip_nulls=True, entity_col="entity", time_col="time",
        seq_col="seq",
    )["salary"]
    r = (
        run_plan(salary, p, snapshot=SNAP, strategy=strategy)
        .toPandas().set_index("entity")
    )
    h = {k[:10]: (v["f1"], v["f2"])
         for k, v in sorted(r.loc["homer", "g"].items())}
    assert h == {
        "1989-12-17": (1500.0, 0.0), "1990-01-01": (1500.0, 200.0),
        "1994-01-01": (1500.0, 300.0), "1999-01-01": (1500.0, 400.0),
        "2010-01-01": (1500.0, 500.0),
    }
    assert {k[:10]: (v["f1"], v["f2"])
            for k, v in r.loc["marge", "g"].items()} == {
        "1989-12-17": (30.0, 0.0)
    }


# -- days_in now + group-latest frames (t31, t17:4-5, t70) -------------

@pytest.mark.parametrize("strategy", ["vectorized", "cogroup"])
def test_t31_days_in_now_verbatim(spark, strategy):
    """t31-builtin VERBATIM `from state ~> days_in value time now`:
    run-length days per state, final run closed against the exclusive
    query instant — NY 365 / CA 1461 / OR 365 (golden)."""
    rows = [
        ("homer", "2010-01-01", "NY"), ("homer", "2010-06-01", "OR"),
        ("homer", "2010-09-01", "OR"), ("homer", "2011-01-01", "CA"),
        ("homer", "2012-01-01", "CA"), ("homer", "2013-01-01", "CA"),
        ("homer", "2014-01-01", "CA"), ("homer", "2015-01-01", "OR"),
        ("homer", "2015-06-01", "NY"), ("homer", "2015-09-01", "NY"),
    ]
    pdf = pd.DataFrame(rows, columns=["entity", "time", "value"])
    pdf["time"] = pd.to_datetime(pdf["time"])
    pdf["seq"] = np.arange(len(pdf))
    state = spark.createDataFrame(pdf)
    p = parse_program(
        {"d": "from state ~> days_in value time now"},
        skip_nulls=True, entity_col="entity", time_col="time",
        seq_col="seq",
    )["state"]
    r = (
        run_plan(state, p, snapshot=icicle_snapshot("2015-12-31"),
                 strategy=strategy)
        .toPandas().set_index("entity")
    )
    assert dict(sorted(r.loc["homer", "d"].items())) == {
        "CA": 1461, "NY": 365, "OR": 365,
    }


@pytest.mark.parametrize("strategy", ["vectorized", "cogroup"])
def test_t17_group_latest_frames(salary, strategy):
    """t17-latest lines 4-5: contexts after `group k` frame PER KEY —
    marge's one key collects [10, 20] and sums 30."""
    qs = {
        "a": "from salary ~> group time ~> latest 2 ~> value",
        "s": "from salary ~> group time ~> latest 2 ~> sum value",
    }
    p = parse_program(
        qs, skip_nulls=True, entity_col="entity", time_col="time",
        seq_col="seq",
    )["salary"]
    r = (
        run_plan(salary, p, snapshot=SNAP, strategy=strategy)
        .toPandas().set_index("entity")
    )
    assert {k[:10]: list(v) for k, v in r.loc["marge", "a"].items()} == {
        "1989-12-17": [10.0, 20.0]
    }
    assert {k[:10]: v for k, v in r.loc["marge", "s"].items()} == {
        "1989-12-17": 30.0
    }


# -- custom function inlining (Transform/Inline.hs) --------------------

def test_inline_functions_module_text(spark, salary):
    """parse_program(functions=...) registers `f p = body` module
    declarations and inlines them at call sites — expression bodies,
    let/in chains, nested calls, and grammar-bound names NOT
    overridden (a module re-declaring `sum` keeps the builtin)."""
    from icicle_spark.source_lang import parse_program

    mod = """
module M where

-- the reference prelude's mod shape (prelude.icicle:9-12)
mod2 : Int -> Int -> Possibly Int
mod2 x y =
  x - (trunc (double x / double y) * y)

boost : Double -> Double
boost v =
  let b = v * 2.0
   in b + 1.0

sum v =
  fold broken = 999999 then broken in broken
"""
    p = parse_program(
        {"m": "from salary ~> sum (mod2 (trunc value) 7)",
         "b": "from salary ~> max (boost value)"},
        skip_nulls=True,
        entity_col="entity", time_col="time", seq_col="seq",
        functions=mod,
    )["salary"]
    r = (
        run_plan(salary, p, snapshot=SNAP, strategy="native")
        .toPandas().set_index("entity")
    )
    # homer values 100..500 -> mod 7: 2+4+6+1+3 = 16 (sum is STILL
    # the builtin, not the module's sabotaged redefinition)
    assert r.loc["homer", "m"] == 16.0
    assert r.loc["homer", "b"] == 500 * 2.0 + 1.0


def test_inline_functions_recursion_raises():
    from icicle_spark.source_lang import inline_functions

    with pytest.raises(ValueError, match="converge"):
        inline_functions(
            "from s ~> sum (loop value)",
            {"loop": (["x"], "loop (x + 1)")},
        )


def test_reference_modules_parse_clean():
    """The reference's own module files parse with zero unsupported
    skips: the full prelude (data/libs/prelude.icicle — every
    declaration is either a custom function we register or a
    re-declaration of an engine built-in, consumed silently) and the
    example dictionary tree (data/example/dictionary.icicle: imports
    Missing + Demographics, 15 features incl. generic functions like
    max_group)."""
    import os

    from icicle_spark.source_lang import parse_dictionary_file

    ref = "/root/reference/data"
    if not os.path.isdir(ref):  # pragma: no cover
        import pytest as _pytest

        _pytest.skip("reference tree not present")
    d, skipped = parse_dictionary_file(f"{ref}/libs/prelude.icicle")
    assert skipped == {}
    d, skipped = parse_dictionary_file(
        f"{ref}/example/dictionary.icicle", seq_col="seq"
    )
    # imports pulled in Demographics' inputs and its is_adult feature
    assert {"injury", "age", "salary", "gender"} <= set(d.inputs)
    assert {"is_adult", "sum_severity", "worst_injured",
            "head_damage", "any_head"} <= set(d.outputs)
    # incl. mean_day_of_week: layout-rule multi-binding let block +
    # circular_stats struct projection
    assert skipped == {}
    assert "mean_day_of_week" in d.outputs


def test_collect_module_functions_imports(tmp_path):
    from icicle_spark.source_lang import collect_module_functions

    (tmp_path / "util.icicle").write_text(
        "module Util where\n\ntwice x = x + x\n"
    )
    funcs = collect_module_functions(
        "module M where\n\nimport Util\n\nthree = 3\n", str(tmp_path)
    )
    assert set(funcs) == {"twice", "three"}

"""The user-facing REPL (`python -m icicle_spark.repl`) — the
counterpart of the reference's `icicle repl`
(icicle-compiler/main/repl.hs): session commands, dictionary + PSV
loading, query evaluation, reference-style value rendering, parquet
inputs, :let functions, big-data mode, multi-line blocks."""

from __future__ import annotations

import os

import pytest

from icicle_spark.repl import ReplSession, render_value

# A dictionary and PSV written for these tests (salary, injury and
# gender facts for homer and marge). Every expected row below is
# derived by hand from tests/fixtures/repl/data.psv.
REPL_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "repl")


@pytest.fixture()
def sess(spark):
    s = ReplSession(spark)
    s.handle(f":load {REPL_DIR}/dictionary.icicle")
    s.handle(f":load {REPL_DIR}/data.psv")
    return s


def _rows(out: list[str]) -> list[str]:
    return [l for l in out if "|" in l]


def test_t01_sum(sess):
    # homer 100+200+300+400+500, marge 0+10+20
    out = sess.handle("from salary ~> sum value")
    assert _rows(out) == ["homer|1500", "marge|30"]


def test_tuple_output_renders_parenthesized(sess):
    out = sess.handle("from salary ~> (sum value, count value)")
    assert _rows(out) == ["homer|(1500, 5)", "marge|(30, 3)"]


def test_mean_renders_float(sess):
    out = sess.handle("from salary ~> mean value")
    assert _rows(out) == ["homer|300.0", "marge|10.0"]


def test_group_renders_assoc_list(sess):
    out = sess.handle("from injury ~> group location ~> count severity")
    rows = _rows(out)
    assert len(rows) == 1 and rows[0].startswith("homer|[ (")


def test_filter_string_equality(sess):
    # homer's head injuries: severity 1.0 + 3.5; marge has none
    out = sess.handle('from injury ~> filter location == "head" ~> sum severity')
    assert _rows(out) == ["homer|4.5"]


def test_if_element(sess):
    # homer 300+400+500 (the salaries above 250), marge none
    out = sess.handle("from salary ~> sum (if value > 250 then value else 0)")
    assert _rows(out) == ["homer|1200", "marge|0"]


def test_case_element(sess):
    # only homer's first salary is 100
    out = sess.handle("from salary ~> sum (case value of 100 then 1 ; _ then 0)")
    assert _rows(out) == ["homer|1", "marge|0"]


def test_division_by_zero_is_an_error_value(sess):
    # x / 0 is an error element: newest of it renders `tombstone`;
    # in a sum it poisons homer (100 / 0) but not marge
    # (0/-100 + 10/-90 + 20/-80)
    out = sess.handle("from salary ~> newest (value / 0)")
    assert _rows(out) == ["homer|tombstone", "marge|tombstone"]
    out = sess.handle("from salary ~> sum (value / (value - 100))")
    assert _rows(out) == [
        "homer|tombstone", f"marge|{0 / -100 + 10 / -90 + 20 / -80!r}",
    ]


def test_scan_running_sum(sess):
    # running sums homer 100 300 600 1000 1500, marge 0 10 30
    out = sess.handle("from salary ~> scan z = sum value ~> latest 3 ~> z")
    assert _rows(out) == ["homer|[ 600 , 1000 , 1500 ]", "marge|[ 0 , 10 , 30 ]"]


def test_tombstone_fact_renders_tombstone(sess):
    # marge's newest gender fact is the NA tombstone
    out = sess.handle("from gender ~> newest value")
    assert _rows(out) == ['homer|"male"', "marge|tombstone"]


def test_snapshot_setting_changes_result(sess):
    before = _rows(sess.handle("from salary ~> count value"))
    sess.handle(":set snapshot 1989-01-01")
    after = _rows(sess.handle("from salary ~> count value"))
    assert before != after


def test_let_function_inlines(sess):
    sess.handle(":let double_sum x = sum x * 2")
    out = sess.handle("from salary ~> double_sum value")
    assert _rows(out) == ["homer|3000", "marge|60"]


def test_block_input(sess):
    for line in (":{", "from salary", "~> sum value", ":}"):
        out = sess.handle(line)
    assert _rows(out) == ["homer|1500", "marge|30"]


def test_big_data_mode_rejects_unbounded(sess):
    sess.handle(":set +big-data")
    out = sess.handle("from salary ~> sum value")
    assert any("error" in l for l in out)
    # windowed queries stay fine
    out = sess.handle("from salary ~> windowed 3650 days ~> sum value")
    assert _rows(out)
    sess.handle(":set -big-data")


def test_error_is_reported_not_raised(sess):
    out = sess.handle("from nosuchinput ~> sum value")
    assert any("error" in l for l in out)


def test_parquet_input(spark, sf_dir):
    s = ReplSession(spark, snapshot="2024-07-01")
    s.handle(
        f":load {sf_dir}/events.parquet input=events "
        "entity=user_id time=ts seq=event_id"
    )
    out = s.handle("from events ~> count value")
    rows = _rows(out)
    assert rows and all("|" in r for r in rows)
    # cross-check one entity against a direct Spark count
    import pyspark.sql.functions as F

    ent, cnt = rows[0].split("|")
    real = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(
            (F.col("user_id") == ent)
            & (F.col("ts") < F.lit("2024-07-01").cast("timestamp"))
            & F.col("value").isNotNull()
        )
        .count()
    )
    assert int(cnt) == real


def test_dictionary_listing(sess):
    out = sess.handle(":dictionary")
    assert any(l.startswith("input salary") for l in out)


def test_unknown_command(sess):
    out = sess.handle(":frobnicate")
    assert any("unknown command" in l for l in out)


def test_render_value_forms():
    import numpy as np

    assert render_value(None) == "None"
    assert render_value(float("nan")) == "None"
    assert render_value(True) == "True"
    assert render_value(3) == "3"
    assert render_value(300.0) == "300.0"
    assert render_value("hi") == '"hi"'
    assert render_value([1, 2]) == "[ 1 , 2 ]"
    assert render_value([]) == "[]"
    assert render_value({"f0": 1, "f1": 2.5}) == "(1, 2.5)"
    assert render_value({"a": 1}) == '[ ("a", 1) ]'
    assert render_value(np.int64(7)) == "7"


def test_cli_main_eval(capsys, spark):
    # main() reuses the active session (get_spark returns the running
    # one), so -e flags drive end-to-end through the real entry point
    from icicle_spark.repl import main

    rc = main(
        [
            "--dictionary", f"{REPL_DIR}/dictionary.icicle",
            "--data", f"{REPL_DIR}/data.psv",
            "-e", "from salary ~> sum value",
        ]
    )
    assert rc == 0
    got = capsys.readouterr().out
    assert "homer|1500" in got and "marge|30" in got


def test_example_dictionary_end_to_end(spark):
    """The reference's data/example tree drives end-to-end: the
    dictionary imports two modules (Missing, Demographics), declares
    custom functions (is_head, max_group), and the PSV files carry
    record facts with missing Option fields. Dictionary-declared
    functions bind for typed queries, as in the reference repl."""
    import os

    ex = "/root/reference/data/example"
    if not os.path.isdir(ex):  # pragma: no cover
        import pytest as _pytest

        _pytest.skip("reference tree not present")
    s = ReplSession(spark, snapshot="2017-01-01")
    out = s.handle(f":load {ex}/dictionary.icicle")
    assert any("4 inputs" in l for l in out), out
    s.handle(f":load {ex}/demographics.psv")
    # demographics.psv: homer age 38, marge age 34 (newest value)
    rows = _rows(s.handle("from age ~> newest value"))
    assert rows == [
        "bart|10", "homer|38", "lisa|8", "maggie|2", "marge|34",
    ]
    # a dictionary-declared custom function binds in typed queries
    s.handle(f":load {ex}/demographics-injuries.psv")
    rows = _rows(s.handle("from injury ~> any (is_head location)"))
    assert rows and all(r.split("|")[1] in ("True", "False") for r in rows)
    rows = _rows(s.handle("from injury ~> sum severity"))
    assert rows == ["homer|11.0"]
    # max_group (dictionary-declared GENERIC function whose group-fold
    # binder shadows its params — the inliner's substituted form)
    rows = _rows(s.handle("from injury ~> max_group location (sum severity)"))
    assert rows == ['homer|"arm"']
    # layout-rule multi-binding let + circular_stats struct projection
    # + mod/pi builtins (the dictionary's mean_day_of_week feature)
    rows = _rows(s.handle(
        "from injury ~> let tau = 2 * pi "
        "dow = tau / 7 * double (mod (days time) 7) "
        "m = (circular_stats dow).mean ~> m / tau * 7"
    ))
    assert rows and rows[0].startswith("homer|3.081")
    # boolean || / && lower to Spark SQL OR/AND (|| is CONCAT there)
    rows = _rows(s.handle(
        'from injury ~> filter location == "head" || '
        '(location == "arm" && is_some action) ~> sum severity'
    ))
    assert rows == ["homer|3.0"]

"""Self-tests of the benchmark itself. No Spark: they run in seconds.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path[:0] = [ROOT]

from perfbench import datagen, oracles, run  # noqa: E402
from perfbench.trace import Tracer, parse_duration  # noqa: E402
from perfbench.workloads import FUSED_PROGRAM, FUSED_SNAP, WORKLOADS, Op, _attempt  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bytes(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    from icicle_spark.sources.benchgen import generate

    def make(d: str, seed: int) -> list[bytes]:
        return [_bytes(p) for p in (
            datagen.events(os.path.join(d, "events.parquet"), seed, n_rows=2_000),
            datagen.token_facts(os.path.join(d, "facts.parquet"), seed, 2_000, 100, 0, 30),
            generate(n_rows=2_000, n_docs=100, seed=seed, out_dir=d),
        )]

    a, b = make(str(tmp_path / "a"), 7), make(str(tmp_path / "b"), 7)
    c = make(str(tmp_path / "c"), 8)
    assert a == b
    assert all(x != y for x, y in zip(a, c))


def test_metric_names_match_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    kept = [w["name"] for w in bench["workloads"]]
    assert set(kept) <= set(WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == run.END_TO_END
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert run.per_layer_names() == layer  # every workload reports this set
    for name in set(e2e) | set(layer):
        assert NAME.fullmatch(name) and len(name) <= 64, name


def test_kept_workloads_reach_every_layer():
    """The workloads in BENCHMARK.json between them run the fused
    snapshot, the store round trip and the query mix."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        kept = [w["name"] for w in json.load(fh)["workloads"]]
    reached = set()
    for name in kept:
        wl = WORKLOADS[name](None, None, "unused", 0)
        reached |= {p.name for p in getattr(wl, "parts", [wl])}
    assert reached == {"snapshot_fused", "store_ingest", "query_mix"}


def _facts(tmp_path) -> str:
    from icicle_spark.sources.benchgen import generate

    return generate(n_rows=3_000, n_docs=150, seed=3, out_dir=str(tmp_path))


def test_fold_oracle_catches_a_corrupted_output(tmp_path):
    cols = [*FUSED_PROGRAM, "decay7"]
    want = oracles.fold_oracle([_facts(tmp_path)], FUSED_SNAP, cols)
    assert list(want.columns) == ["doc_id", *cols]
    assert oracles.frames_equal(want.copy(), want, "doc_id") is None
    # shuffled rows are the same output
    assert oracles.frames_equal(want.sample(frac=1, random_state=1), want, "doc_id") is None
    for col, bad in [("sum_ntok", lambda v: v + 1), ("mean_ntok", lambda v: v * 1.001),
                     ("by_source", lambda v: v + ",x=1"), ("decay7", lambda v: v * 1.001)]:
        got = want.copy()
        i = got[col].first_valid_index()
        got.loc[i, col] = bad(got.loc[i, col])
        assert col in (oracles.frames_equal(got, want, "doc_id") or ""), col
    assert "rows" in oracles.frames_equal(want.iloc[1:], want, "doc_id")


def test_query_oracle_catches_a_corrupted_output(tmp_path):
    import duckdb

    import __spark_entry__ as entry
    from tools.check_contract import compare

    path = datagen.events(str(tmp_path / "events.parquet"), 5, n_rows=5_000, n_users=50)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    want = con.execute(entry.oracle_sql()["asof_snapshot_native"]).df()
    con.close()
    assert compare(want.copy(), want) is None
    got = want.copy()
    got.loc[0, "cnt"] += 1
    assert compare(got, want) is not None


def test_map_cells_have_one_spelling():
    assert oracles.canon_map({"web": 2, "code": 1}) == "code=1,web=2"
    assert oracles.canon_map([("web", 2), ("code", 1)]) == "code=1,web=2"
    assert oracles.canon_map(None) == ""


class _Fake:
    """A workload whose second operation raises and third is wrong."""

    name = "fake"

    def cycle(self):
        def boom():
            raise RuntimeError("injected")

        ok = _attempt(Op("ok", facts=10, check=lambda: None), lambda: None)
        bad = _attempt(Op("raises", facts=10, check=lambda: None), boom)
        wrong = _attempt(Op("wrong", facts=10, check=lambda: "col x: 1 != 2"), lambda: None)
        return [ok, bad, wrong]


def test_injected_failure_raises_error_rate_and_run_completes():
    tracer = Tracer(None, "test", enabled=False)
    cycles = run.measure(_Fake(), tracer, seconds=0.0, trace=False)
    res = run.summarize(cycles, setup_s=1.0, trace=False, host={})
    assert res["attempted"] == 3 and res["failed"] == 2
    assert res["correct"] is False
    assert set(res["metrics"]) == set(run.END_TO_END)
    assert res["metrics"]["queries_per_s"]["value"] > 0


def test_traced_run_times_whole_abba_groups():
    cycles = run.measure(_Fake(), Tracer(None, "t", False), seconds=0.0, trace=True)
    assert [c["traced"] for c in cycles] == [False, True, True, False]


def test_check_exception_counts_as_failure():
    class Raises(_Fake):
        def cycle(self):
            return [Op("x", facts=1, check=lambda: 1 / 0)]

    cycles = run.measure(Raises(), Tracer(None, "t", False), seconds=0.0, trace=False)
    assert run.summarize(cycles, 1.0, False, {})["failed"] == 1


def test_parse_duration():
    assert parse_duration("total (min, med, max)\n13.2 s (183 ms, 1 s)") == pytest.approx(13.2)
    assert parse_duration("total\n950 ms (1 ms)") == pytest.approx(0.95)
    assert parse_duration("total\n1.5 m (1 s)") == pytest.approx(90.0)


def test_fails_without_printing_where_the_engine_is_absent(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "snapshot_fused",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""

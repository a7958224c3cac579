"""Unified CLI (`python -m icicle_spark`) — reference command-surface
parity (icicle.hs:33-75 repl/compile/query/check/lsp). Subprocess
tests; check/compile/lsp never start a SparkSession."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "repl")
REFERENCE_REPL = "/root/reference/icicle-compiler/test/cli/repl"

DICT = """
input events : Int
feature total = from events in sum value
feature recent = from events in windowed 7 days in count value
"""

BAD = """
input events : Int
feature nope = from events in definitely not a query
"""


def _run(args, **kw):
    return subprocess.run(
        [sys.executable, "-m", "icicle_spark", *args],
        capture_output=True, text=True, cwd="/root/repo", **kw,
    )


def test_check_ok(tmp_path):
    p = tmp_path / "d.icicle"
    p.write_text(DICT)
    r = _run(["check", str(p)])
    assert r.returncode == 0
    assert "ok: 1 inputs, 2 outputs" in r.stdout
    assert "output total" in r.stdout


def test_check_strict_fails_on_skipped(tmp_path):
    p = tmp_path / "d.icicle"
    p.write_text(BAD)
    r = _run(["check", str(p)])
    assert r.returncode == 0  # skips are reported, not fatal
    assert "SKIPPED" in r.stderr
    r2 = _run(["check", "--strict", str(p)])
    assert r2.returncode == 1


def test_check_missing_file():
    r = _run(["check", "/nonexistent/x.icicle"])
    assert r.returncode == 1
    assert "error:" in r.stderr


def test_compile_dumps_ir(tmp_path):
    p = tmp_path / "d.icicle"
    p.write_text(DICT)
    r = _run(["compile", str(p)])
    assert r.returncode == 0
    assert "2 fused folds -> 2 outputs" in r.stdout
    assert "agg=SUM" in r.stdout
    assert "newer_than_days=7" in r.stdout


def test_lsp_serves_stdio():
    # the full conversation golden lives in test_lsp.py; here: the
    # subcommand exists and exits 1 on abrupt EOF (no shutdown).
    # input="" pins stdin to an empty pipe — inheriting pytest's fd 0
    # (a live tty under -s) would block the server's readline forever
    r = _run(["lsp"], input="")
    assert r.returncode == 1


def test_fixture_dictionary_checks():
    r = _run(["check", os.path.join(FIXTURES, "dictionary.icicle")])
    assert r.returncode == 0
    assert "ok: 3 inputs, 2 outputs" in r.stdout


@pytest.mark.skipif(not os.path.isdir(REFERENCE_REPL), reason="reference tree not present")
def test_reference_dictionary_checks():
    r = _run(["check", os.path.join(REFERENCE_REPL, "dictionary.icicle")])
    assert r.returncode == 0
    assert "5 inputs" in r.stdout

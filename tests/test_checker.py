"""Reference-shaped diagnostics (icicle_spark.checker).

The reference corpus pins three error families; these tests pin our
reproductions verbatim against the goldens:

* t20-lexer/expected:44-63 — ``Unknown variable ea1 at 1:17`` +
  edit-distance-ranked ``Suggested bindings are:`` with signatures
  (Checker/Error.hs:149, :322).
* t20-lexer/expected:68-77 — megaparsec-shaped Parse error on an
  unterminated string.
* t13.1-cases-record/expected:27-41 — Desugar errors ``Missing
  alternative: { a = None, b = Some _ }`` / ``Overlapping pattern:
  { a = None, b = None }`` at the case keyword's position (the
  reference renders the unconstrained hole as a fresh variable
  ``desugar_q-5``; the checker renders ``_``).

Plus unit coverage of the pattern-matrix usefulness algorithm
(Maranget JFP 2007) and a misfire sweep over every verbatim corpus
line (an eval-kind golden line must never draw an unknown-variable
diagnostic).
"""

from __future__ import annotations

import glob
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from icicle_spark.checker import (  # noqa: E402
    SourceError,
    check_case_alternatives,
    check_unknown_variables,
    check_unterminated_string,
    diagnose,
    render_pattern,
)
from icicle_spark.source_lang import parse_query_multi  # noqa: E402

REPL = "/root/reference/icicle-compiler/test/cli/repl"
FIXTURE_REPL = os.path.join(os.path.dirname(__file__), "fixtures", "repl")


def _fail(q):
    try:
        parse_query_multi(q)
    except ValueError as e:
        return e
    raise AssertionError(f"expected rejection: {q}")


# ------------------------------------------------------- t13.1 goldens

T131 = ("from salary in case ({ a = None, b = Some 4 }) of "
        "{ ({ a = Some _ }) then 2; ({ b = None }) then 3%s }")


def test_t131_missing_alternative_verbatim():
    q = T131 % ""
    d = diagnose(q, _fail(q), fields=["value", "time"])
    assert d.kind == "Desugar error"
    assert d.message == "Missing alternative: { a = None, b = Some _ }"
    assert d.loc == (1, 16)  # the reference prints `at 1:16`
    assert "  Missing alternative: { a = None, b = Some _ } at 1:16" \
        in d.render()


def test_t131_overlapping_pattern_verbatim():
    q = T131 % "; ({ a = None, b = None }) then 2"
    d = diagnose(q, _fail(q), fields=["value", "time"])
    assert d.kind == "Desugar error"
    assert d.message == "Overlapping pattern: { a = None, b = None }"
    assert d.loc == (1, 16)


def test_t131_covering_cases_still_parse():
    # the three eval-kind t13.1 lines stay accepted
    for tail in (
        "{ ({ a = Some _ }) then 2; ({ b = b }) then 4 }",
        "{ ({ a = Some a }) then a; ({ b = None }) then 2; "
        "({ a = None }) then 6 }",
        "{ ({ a = Some a }) then a; ({ b = None }) then 2; "
        "({ a = None, b = Some b }) then b }",
    ):
        parse_query_multi(
            "from salary in case ({ a = None, b = Some 4 }) of " + tail
        )


# -------------------------------------------------------- t20 goldens

def test_t20_unknown_variable_verbatim():
    q = "from salary ~> 5ea1"  # lexes `5` then `ea1`, not an exponent
    d = diagnose(q, _fail(q), fields=["value", "time"])
    assert d.kind == "Check error"
    assert d.message == "Unknown variable ea1"
    assert d.loc == (1, 17)
    lines = d.render()
    assert "  Unknown variable ea1 at 1:17" in lines
    assert "  Suggested bindings are:" in lines
    # the golden's suggestion list carries full signatures
    body = "\n".join(lines)
    assert "-> Aggregate (Possibly Double)" in body
    assert len(d.suggestions) == 5  # reference take-5 rule


def test_t20_scientific_literals_not_flagged():
    # t20 golden line: all of these are numbers, not identifiers
    check_unknown_variables(
        "from salary ~> (count value, 1, 2.21, 3e3, 4.44e-4, 0.555)",
        fields=["value", "time"],
    )


def test_t20_unterminated_string_parse_error():
    q = 'from salary ~> mean "unterminated'
    d = diagnose(q, _fail(q), fields=["value", "time"])
    assert d.kind == "Parse error"
    body = "\n".join(d.render())
    assert "unexpected end of input" in body
    assert "expecting '\"'" in body
    # megaparsec frame: offending line + caret
    assert "| from salary ~> mean \"unterminated" in body
    with pytest.raises(SourceError):
        check_unterminated_string(q)
    check_unterminated_string('from salary ~> filter v == "ok" ~> count v')


# --------------------------------------- usefulness algorithm (units)

def _pw():
    return ("pwild",)


def test_bool_universe_complete_and_missing():
    check_case_alternatives([("plit", True), ("plit", False)])
    with pytest.raises(SourceError, match="Missing alternative: False"):
        check_case_alternatives([("plit", True)])


def test_option_universe_nested():
    check_case_alternatives([("pctor", "Some", _pw()), ("pctor", "None", None)])
    with pytest.raises(SourceError, match=re.escape("Missing alternative: Some _")):
        check_case_alternatives([("pctor", "None", None)])
    # nested: Some (Some _) | Some None | None — complete
    check_case_alternatives([
        ("pctor", "Some", ("pctor", "Some", _pw())),
        ("pctor", "Some", ("pctor", "None", None)),
        ("pctor", "None", None),
    ])
    with pytest.raises(
        SourceError, match=re.escape("Missing alternative: Some None")
    ):
        check_case_alternatives([
            ("pctor", "Some", ("pctor", "Some", _pw())),
            ("pctor", "None", None),
        ])


def test_either_universe():
    check_case_alternatives([
        ("pctor", "Left", _pw()), ("pctor", "Right", _pw()),
    ])
    with pytest.raises(
        SourceError, match=re.escape("Missing alternative: Right _")
    ):
        check_case_alternatives([("pctor", "Left", _pw())])


def test_literal_universe_is_open():
    with pytest.raises(SourceError, match="Missing alternative: _"):
        check_case_alternatives([("plit", 1), ("plit", 2)])
    check_case_alternatives([("plit", 1), ("plit", 2), _pw()])
    # a binding variable is a wildcard
    check_case_alternatives([("plit", "a"), ("pvar", "other")])


def test_overlap_detection():
    with pytest.raises(
        SourceError, match=re.escape("Overlapping pattern: 1")
    ):
        check_case_alternatives([_pw(), ("plit", 1)])
    with pytest.raises(
        SourceError, match=re.escape("Overlapping pattern: Some 3")
    ):
        check_case_alternatives([
            ("pctor", "Some", _pw()),
            ("pctor", "Some", ("plit", 3)),
            ("pctor", "None", None),
        ])
    # duplicate literal arm
    with pytest.raises(SourceError, match="Overlapping"):
        check_case_alternatives([("plit", 1), ("plit", 1), _pw()])


def test_record_field_union_expansion():
    # t13.1 semantics: { b = None } reads { a = _, b = None }
    with pytest.raises(SourceError, match=re.escape(
        "Missing alternative: { a = None, b = Some _ }"
    )):
        check_case_alternatives([
            ("precord", [("a", ("pctor", "Some", _pw()))]),
            ("precord", [("b", ("pctor", "None", None))]),
        ])
    check_case_alternatives([
        ("precord", [("a", ("pctor", "Some", _pw()))]),
        ("precord", [("b", ("pvar", "b"))]),
    ])


def test_tuple_patterns():
    check_case_alternatives([
        ("ptuple", [("plit", True), _pw()]),
        ("ptuple", [("plit", False), _pw()]),
    ])
    with pytest.raises(SourceError, match=re.escape(
        "Missing alternative: (False, None)"
    )):
        check_case_alternatives([
            ("ptuple", [("plit", True), _pw()]),
            ("ptuple", [("plit", False), ("pctor", "Some", _pw())]),
        ])


def test_render_pattern_surface_syntax():
    assert render_pattern(("pctor", "Some",
                           ("pctor", "Some", ("plit", 3)))) == "Some (Some 3)"
    assert render_pattern(("precord", [("a", ("pwild",))])) == "{ a = _ }"
    assert render_pattern(("plit", "x")) == '"x"'
    assert render_pattern(("ptuple", [("plit", 1), ("pvar", "v")])) == "(1, v)"


# ------------------------------------------- corpus misfire sweep

_EXTRA_FIELDS = {
    # t70's dictionary is embedded in the zebra binary, not a file
    "t70-zebra": ["action", "admitted", "location", "severity"],
}


def _env_for(d: str):
    fields = {"value", "time"} | set(_EXTRA_FIELDS.get(d, []))
    funcs: set[str] = set()
    for dic in glob.glob(f"{REPL}/{d}/*.icicle") + [
        f"{REPL}/dictionary.icicle"
    ]:
        fields |= set(
            re.findall(r"[A-Za-z_][A-Za-z0-9_]*", open(dic).read())
        )
    with open(f"{REPL}/{d}/script") as f:
        for m in re.finditer(r":let\s+([A-Za-z_][\w']*)", f.read()):
            funcs.add(m.group(1))
    return sorted(fields), sorted(funcs)


def test_no_unknown_variable_misfires_on_corpus():
    """Every eval-kind verbatim corpus line passes the unknown-variable
    check with its directory's dictionary env — the checker can reject
    only what the reference rejects."""
    from corpus_reach import corpus_lines

    misfires = []
    for d, q, kind, _big in corpus_lines():
        fields, funcs = _env_for(d)
        try:
            check_unknown_variables(q, fields=fields, functions=funcs)
        except SourceError as e:
            if kind != "error":
                misfires.append((d, q, e.message))
    assert not misfires, misfires


def test_diagnose_passes_through_unrelated_errors():
    # a query that parses but carries no checker-visible defect keeps
    # its original exception (diagnose returns None)
    assert diagnose(
        "from salary ~> sum value",
        RuntimeError("executor blew up"),
        fields=["value", "time"],
    ) is None


# ---------------------------------------------------- REPL rendering

def _assert_renders_error_blocks(spark, repl_dir):
    from icicle_spark.repl import ReplSession

    s = ReplSession(spark)
    s.handle(f":load {repl_dir}/dictionary.icicle")
    s.handle(f":load {repl_dir}/data.psv")

    out = "\n".join(s.handle("from salary ~> 5ea1"))
    assert "## Check error" in out
    assert "Unknown variable ea1 at 1:17" in out
    assert "Suggested bindings are:" in out

    out = "\n".join(s.handle(
        "from salary in case ({ a = None, b = Some 4 }) of "
        "{ ({ a = Some _ }) then 2; ({ b = None }) then 3 }"
    ))
    assert "## Desugar error" in out
    assert "Missing alternative: { a = None, b = Some _ } at 1:16" in out

    out = "\n".join(s.handle('from salary ~> mean "oops'))
    assert "## Parse error" in out
    assert "expecting '\"'" in out


def test_repl_renders_error_blocks(spark):
    _assert_renders_error_blocks(spark, FIXTURE_REPL)


@pytest.mark.skipif(not os.path.isdir(REPL), reason="reference tree not present")
def test_repl_renders_reference_blocks(spark):
    _assert_renders_error_blocks(spark, REPL)


# --------------------- usefulness vs brute-force enumeration oracle

# A type tree: ("bool",) ("int",) ("opt", T) ("either", T, T)
# ("tup", T, T) ("rec", (("a", T), ("b", T)))
# Enumeration is finite for every tree because the int leaf
# enumerates {1, 2, 3} — patterns only distinguish equality to
# literals drawn from {1, 2}, so a third "fresh" value decides open
# coverage exactly (the finite-model argument).

def _rand_type(rng, depth):
    opts = ["bool", "int"]
    if depth > 0:
        opts += ["opt", "either", "tup", "rec"]
    k = rng.choice(opts)
    if k in ("bool", "int"):
        return (k,)
    if k == "opt":
        return ("opt", _rand_type(rng, depth - 1))
    if k == "either":
        return ("either", _rand_type(rng, depth - 1), _rand_type(rng, depth - 1))
    if k == "tup":
        return ("tup", _rand_type(rng, depth - 1), _rand_type(rng, depth - 1))
    return ("rec", (("a", _rand_type(rng, depth - 1)),
                    ("b", _rand_type(rng, depth - 1))))


def _enum_values(t):
    k = t[0]
    if k == "bool":
        return [True, False]
    if k == "int":
        return [1, 2, 3]
    if k == "opt":
        return [("None",)] + [("Some", v) for v in _enum_values(t[1])]
    if k == "either":
        return ([("Left", v) for v in _enum_values(t[1])]
                + [("Right", v) for v in _enum_values(t[2])])
    if k == "tup":
        return [("T", a, b) for a in _enum_values(t[1])
                for b in _enum_values(t[2])]
    return [("R", dict(zip([n for n, _ in t[1]], combo)))
            for combo in __import__("itertools").product(
                *[_enum_values(ft) for _, ft in t[1]])]


def _rand_pattern(rng, t, depth):
    if rng.random() < 0.25:
        return ("pwild",) if rng.random() < 0.5 else ("pvar", "x")
    k = t[0]
    if k == "bool":
        return ("plit", bool(rng.random() < 0.5))
    if k == "int":
        return ("plit", int(rng.choice([1, 2])))
    if k == "opt":
        if rng.random() < 0.5:
            return ("pctor", "None", None)
        return ("pctor", "Some", _rand_pattern(rng, t[1], depth - 1))
    if k == "either":
        side = rng.random() < 0.5
        return ("pctor", "Left" if side else "Right",
                _rand_pattern(rng, t[1 if side else 2], depth - 1))
    if k == "tup":
        return ("ptuple", [_rand_pattern(rng, t[1], depth - 1),
                           _rand_pattern(rng, t[2], depth - 1)])
    fields = [(n, _rand_pattern(rng, ft, depth - 1)) for n, ft in t[1]]
    # records may omit fields (implicit wildcard — t13.1 semantics)
    keep = [f for f in fields if rng.random() < 0.8]
    return ("precord", keep or fields[:1])


def _matches(v, p):
    k = p[0]
    if k in ("pwild", "pvar"):
        return True
    if k == "plit":
        return v == p[1] and isinstance(v, bool) == isinstance(p[1], bool)
    if k == "pctor":
        if not (isinstance(v, tuple) and v[0] == p[1]):
            return False
        return p[2] is None or _matches(v[1], p[2])
    if k == "ptuple":
        return (isinstance(v, tuple) and v[0] == "T"
                and all(_matches(sv, sp)
                        for sv, sp in zip(v[1:], p[1])))
    if k == "precord":
        return (isinstance(v, tuple) and v[0] == "R"
                and all(_matches(v[1][n], sp) for n, sp in p[1]))
    raise AssertionError(p)


def test_usefulness_matches_bruteforce_enumeration():
    """The pattern-matrix algorithm agrees with exhaustive value
    enumeration on 400 random (type, alternatives) cases: an
    alternative is flagged overlapping iff it matches no value the
    earlier rows miss, the set is flagged non-exhaustive iff some
    value escapes every row, and the produced witness really is an
    uncovered value's pattern."""
    import random

    from icicle_spark.checker import _useful

    rng = random.Random(2024)
    for case in range(400):
        t = _rand_type(rng, depth=2)
        values = _enum_values(t)
        n_alts = rng.randint(1, 4)
        pats = [_rand_pattern(rng, t, 2) for _ in range(n_alts)]

        # per-row overlap oracle
        for i in range(1, len(pats)):
            fresh = [v for v in values
                     if _matches(v, pats[i])
                     and not any(_matches(v, q) for q in pats[:i])]
            got = _useful([[q] for q in pats[:i]], [pats[i]])
            assert (got is None) == (not fresh), (
                case, t, pats[:i + 1], fresh[:3], got)

        # exhaustiveness oracle + witness validity
        uncovered = [v for v in values
                     if not any(_matches(v, q) for q in pats)]
        w = _useful([[q] for q in pats], [("pwild",)])
        assert (w is None) == (not uncovered), (case, t, pats, uncovered[:3], w)
        if w is not None:
            hit = [v for v in uncovered if _matches(v, w[0])]
            assert hit, (case, t, pats, w, uncovered[:3])

"""Execute the reference REPL corpus END-TO-END and verify outputs.

`tools/corpus_reach.py` proves every verbatim corpus line CLASSIFIES
correctly (parses when the reference evaluates, raises when it
rejects). This tool goes the rest of the way for the evaluated lines:
replay each script against the reference's own PSV data and
dictionaries — tracking `:set snapshot`, `:set max-map-size`,
`:set +big-data`, `:load`, and `:let` state exactly as the repl does
(test/cli/repl/run seeds snapshot 2017-01-01 + dictionary.icicle +
data.psv) — run the parsed plan through `run_plan`, and compare the
result to the golden `Core evaluation` block in `expected`.

Comparison is semantic, not textual:

* floats by isclose (Haskell `show` and Python repr both print
  shortest-roundtrip, but accumulation order may differ by 1 ulp);
* the reference prints flat N-tuples LEFT-NESTED (`((a, b), c)`);
  the engine lowers them to one flat struct — tuples are flattened
  on both sides before comparison;
* maps print as sorted assoc lists / `{ k -> v }`; engine map cells
  are sorted by key with Haskell's Ord (Nothing < Just);
* records print as `[ (field, value) ]` assoc lists; engine structs
  with real field names normalize the same way (tuple structs are
  the engine's `fN` fields);
* `Some x` ≡ the engine's unwrapped value, `None` ≡ null; a bare
  `tombstone` golden (the reference prints the tombstone of the
  NEWEST fact) ≡ null here — the engine surfaces tombstone-valued
  outputs as null plus the Error64 audit channel
  (plans/errors.py), pinned separately in tests/test_errors.py.

Queries whose golden kind is `Error` are re-checked to RAISE (same
contract as corpus_reach). Anything the runner cannot align or decode
is a loud SKIP with a reason — never a silent pass.

Usage: python tools/golden_corpus.py [-v] [--dir tNN-name]
Exit 1 on any MISMATCH or crash; skips are reported, not fatal.
"""

from __future__ import annotations

import argparse
import datetime as dt
import glob
import json
import math
import os
import re
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPL = "/root/reference/icicle-compiler/test/cli/repl"
_MARKER = re.compile(r"(Core evaluation|C evaluation|Error)\n-+\n")

NONE = object()   # golden `None` / engine null
TOMB = object()   # golden bare `tombstone`


# ---------------------------------------------------------------- script walk


def script_events(script: str):
    """Yield the repl session's events in order:
    ('query', text) | ('set', text) | ('load', path) | ('let', text)."""
    block: list[str] | None = None
    with open(script) as f:
        for raw in f:
            line = raw.strip()
            if line == ":{":
                block = []
                continue
            if line == ":}":
                if block is not None:
                    yield ("query", " ".join(block))
                block = None
                continue
            if block is not None:
                if line and not line.startswith("--"):
                    block.append(line)
            elif line.startswith(":set "):
                yield ("set", line[5:].strip())
            elif line.startswith(":load "):
                yield ("load", line[6:].strip())
            elif line.startswith(":let "):
                yield ("let", line[5:].strip())
            elif line.startswith("from "):
                yield ("query", line)


# ------------------------------------------------------------- golden blocks


def golden_blocks(expected_path: str) -> list[tuple[str, str]]:
    """[(kind, body)] per query, in order — 'eval' bodies are the
    `entity|value` rows of the Core evaluation block; a C evaluation
    block immediately following a Core one belongs to the same query
    and is dropped (both printed when +c-eval is on)."""
    with open(expected_path) as f:
        text = f.read()
    out: list[tuple[str, str]] = []
    prev = None
    for m in _MARKER.finditer(text):
        kind = m.group(1)
        if kind == "C evaluation" and prev == "Core evaluation":
            prev = None
            continue
        body = text[m.end():]
        if body.startswith("\n"):
            body = body[1:]  # the blank line after the dashes
        body = body.split("\n\n")[0]
        out.append(("error" if kind == "Error" else "eval", body))
        prev = kind
    return out


def parse_golden_rows(body: str) -> dict[str, str] | None:
    """entity -> value-text; continuation lines (leading whitespace)
    join onto the previous row. None when a line doesn't look like
    repl eval output (e.g. an IR dump section leaked in)."""
    rows: dict[str, str] = {}
    last = None
    for line in body.split("\n"):
        if not line.strip():
            continue
        if line[0].isspace():
            if last is None:
                return None
            rows[last] += " " + line.strip()
            continue
        if "|" not in line:
            return None
        ent, val = line.split("|", 1)
        if not re.fullmatch(r"[\w.-]+", ent):
            return None
        rows[ent] = val.strip()
        last = ent
    return rows


# ------------------------------------------------------------- golden values

_TOKEN = re.compile(
    r"""\s*(
        "(?:\\.|[^"\\])*"            |  # string
        \d{4}-\d{2}-\d{2}            |  # date
        -?\d+\.\d+(?:e-?\d+)?        |  # float
        -?\d+                        |  # int
        [A-Za-z_][\w']*              |  # ident / ctor
        ->                           |
        [()\[\]{},]
    )""",
    re.X,
)


def _tokens(s: str) -> list[str]:
    out, i = [], 0
    while i < len(s):
        m = _TOKEN.match(s, i)
        if not m:
            raise ValueError(f"cannot tokenize golden value at: {s[i:]!r}")
        out.append(m.group(1))
        i = m.end()
        if s[i:].strip() == "":
            break
    return out


def parse_golden_value(s: str):
    """Golden value text -> normalized comparable form (see module
    docstring for the equivalences)."""
    s = s.strip()
    if s == "":
        return ""
    toks = _tokens(s)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def value():
        t = take()
        if t == "(":
            items = [value()]
            while peek() == ",":
                take()
                items.append(value())
            assert take() == ")"
            if len(items) == 1:
                return items[0]
            return _tuple(items)
        if t == "[":
            items = []
            while peek() != "]":
                items.append(value())
                if peek() == ",":
                    take()
            take()
            return ("L", items)
        if t == "{":
            items = []
            while peek() != "}":
                k = value()
                assert take() == "->"
                v = value()
                items.append(_tuple([k, v]))
                if peek() == ",":
                    take()
            take()
            return ("L", items)
        if t.startswith('"'):
            return json.loads(t.replace("\\'", "'"))
        if re.fullmatch(r"\d{4}-\d{2}-\d{2}", t):
            return dt.date.fromisoformat(t)
        if re.fullmatch(r"-?\d+\.\d+(e-?\d+)?", t):
            return float(t)
        if re.fullmatch(r"-?\d+", t):
            return int(t)
        if t == "None":
            return NONE
        if t == "Some":
            return value()
        if t == "True":
            return True
        if t == "False":
            return False
        if t == "tombstone":
            return TOMB
        return t  # bare ident: record field name

    v = value()
    if pos != len(toks):
        raise ValueError(f"trailing golden tokens: {toks[pos:]}")
    return v


def _tuple(items: list):
    """Tuple normal form: flatten nested tuples (the reference prints
    flat N-tuples left-nested; the engine emits one flat struct)."""
    flat: list = []
    for it in items:
        if isinstance(it, tuple) and len(it) == 2 and it[0] == "T":
            flat.extend(it[1])
        else:
            flat.append(it)
    return ("T", flat)


# ------------------------------------------------------------- engine values


def _sort_key(v):
    """Haskell Ord for map keys: Nothing < Just, then the value."""
    if v is NONE or v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, v)
    if isinstance(v, (int, float)):
        return (1, v)
    if isinstance(v, (dt.date, dt.datetime)):
        return (1, str(v))
    return (1, str(v))


def norm_engine(v):
    import numpy as np

    if v is None:
        return NONE
    if isinstance(v, float) and math.isnan(v):
        return NONE
    if isinstance(v, np.generic):
        return norm_engine(v.item())
    if isinstance(v, pd.Timestamp):
        if v is pd.NaT:
            return NONE
        d = v.to_pydatetime()
        return d.date() if (d.hour, d.minute, d.second) == (0, 0, 0) else d
    if isinstance(v, (dt.datetime,)):
        return v.date() if (v.hour, v.minute, v.second) == (0, 0, 0) else v
    if isinstance(v, dt.date):
        return v
    if isinstance(v, dict):
        # Arrow toPandas renders BOTH struct and map cells as dicts.
        # Tuple structs carry the engine's fN field names -> flatten
        # as a tuple; anything else is a record or a map -> assoc
        # list. No re-sorting: engine maps hold Data.Map key order by
        # contract (functions/maps.py), records hold field order.
        keys = list(v.keys())
        if keys and all(
            isinstance(k, str) and re.fullmatch(r"f\d+", k) for k in keys
        ):
            return _tuple([norm_engine(x) for x in v.values()])
        return ("L", [_tuple([norm_engine(k), norm_engine(x)]) for k, x in v.items()])
    if isinstance(v, np.ndarray):
        return ("L", [norm_engine(x) for x in v.tolist()])
    if isinstance(v, (list,)):
        return ("L", [norm_engine(x) for x in v])
    if hasattr(v, "asDict"):  # pyspark Row (struct cell)
        d = v.asDict()
        if all(re.fullmatch(r"f\d+", k) for k in d):
            return _tuple([norm_engine(x) for x in d.values()])
        # record: the reference renders real-field structs as
        # [ (field, value) ] assoc lists
        return ("L", [_tuple([k, norm_engine(x)]) for k, x in d.items()])
    if isinstance(v, tuple):
        return _tuple([norm_engine(x) for x in v])
    return v


def _golden_str(g) -> str | None:
    """The engine's string rendering of a group key (map keys are
    string-typed by engine convention — map<string,...> columns)."""
    if isinstance(g, bool):
        return str(g)
    if isinstance(g, int):
        return str(g)
    if isinstance(g, float):
        return repr(g)
    if isinstance(g, dt.date):
        return g.isoformat()
    if isinstance(g, str):
        return g
    return None


def values_match(g, e) -> bool:
    import decimal

    if isinstance(e, decimal.Decimal):
        e = float(e)
    if g is TOMB:
        return e is NONE
    if g is NONE or e is NONE:
        return g is e
    if isinstance(e, str) and not isinstance(g, str):
        return _golden_str(g) == e  # stringified group key
    if isinstance(g, bool) or isinstance(e, bool):
        return g == e
    if isinstance(g, (int, float)) and isinstance(e, (int, float)):
        return math.isclose(g, e, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(g, tuple) and isinstance(e, tuple):
        if g[0] != e[0] or len(g[1]) != len(e[1]):
            return False
        return all(values_match(a, b) for a, b in zip(g[1], e[1]))
    return g == e


# --------------------------------------------------------------- facts build
#
# PSV ingestion is shared with the user-facing REPL
# (icicle_spark/repl.py) — the corpus replays through the same
# decode + facts builder the `icicle-spark repl` CLI uses, so a
# golden match certifies the user surface, not a test-only path.

from icicle_spark.repl import load_typed_facts as build_facts  # noqa: E402


# --------------------------------------------------------------------- runner


class ReplState:
    def __init__(self):
        self.snapshot = "2017-01-01"
        self.dict_path = f"{REPL}/dictionary.icicle"
        self.psv_path = f"{REPL}/data.psv"
        self.big_data = False
        self.max_map_size: int | None = None
        self.lets: list[str] = []

    def apply_set(self, args: str):
        m = re.match(r"snapshot\s+(\S+)", args)
        if m:
            self.snapshot = m.group(1)
        if "+big-data" in args:
            self.big_data = True
        if "-big-data" in args:
            self.big_data = False
        m = re.match(r"max-map-size\s+(\d+)", args)
        if m:
            self.max_map_size = int(m.group(1))


def run_script(spark, script: str, verbose: bool = False,
               strategy: str = "auto"):
    """Replay one script dir; returns (verified, rejected, mismatches,
    skips) where mismatches/skips are [(query, reason)]."""
    import dataclasses

    from icicle_spark.plans import icicle_snapshot, run_plan
    from icicle_spark.source_lang import (
        _collect_functions,
        _top_level_blocks,
        parse_dictionary_source,
        parse_program,
    )

    d = os.path.dirname(script)
    goldens = golden_blocks(os.path.join(d, "expected"))
    n_queries = sum(1 for ev, _ in script_events(script) if ev == "query")
    if len(goldens) != n_queries:
        return 0, 0, [], [("<script>", f"golden misalignment: {len(goldens)} blocks vs {n_queries} queries")]

    state = ReplState()
    for ev, arg in script_events(script):
        if ev == "load" and not arg.endswith(
            (".psv", ".icicle", ".zbin", ".zbin3")
        ):
            n_eval = sum(1 for k, _ in goldens if k == "eval")
            return 0, 0, [], [
                ("<script>", f"unknown input format {arg!r} — "
                             f"{n_eval} queries out of scope")
            ]
    verified = rejected = 0
    mismatches: list[tuple[str, str]] = []
    skips: list[tuple[str, str]] = []
    dictionaries: dict[str, object] = {}
    facts_cache: dict[tuple, object] = {}
    qi = 0
    for ev, arg in script_events(script):
        if ev == "set":
            state.apply_set(arg)
            continue
        if ev == "load":
            path = os.path.join(os.path.dirname(REPL), "..", "..", arg)
            path = os.path.normpath(path)
            if arg.endswith(".icicle"):
                state.dict_path = path
            elif arg.endswith((".zbin", ".zbin3")):
                # zebra binary store: schema IS the dictionary (t70)
                state.dict_path = path
                state.psv_path = path
            else:
                state.psv_path = path
            continue
        if ev == "let":
            state.lets.append(arg)
            continue

        q = arg
        kind, body = goldens[qi]
        qi += 1
        try:
            if state.dict_path not in dictionaries:
                if state.dict_path.endswith((".zbin", ".zbin3")):
                    from icicle_spark.sources.zebra_binary import (
                        read_zbin_schema,
                        zebra_dictionary,
                    )

                    dic = zebra_dictionary(
                        read_zbin_schema(state.dict_path)
                    )
                else:
                    with open(state.dict_path) as f:
                        dic, _skipped = parse_dictionary_source(
                            f.read(), seq_col="seq"
                        )
                dictionaries[state.dict_path] = dic
            dic = dictionaries[state.dict_path]
            funcs = _collect_functions(_top_level_blocks("\n".join(state.lets)))

            if kind == "error":
                from icicle_spark.source_lang import (
                    inline_functions,
                    parse_query_multi,
                )

                try:
                    qq = inline_functions(q, funcs) if funcs else q
                    parse_query_multi(qq, big_data=state.big_data)
                except ValueError:
                    rejected += 1
                else:
                    mismatches.append((q, "ACCEPTED a query the reference rejects"))
                continue

            golden_rows = parse_golden_rows(body)
            if golden_rows is None:
                skips.append((q, "golden block not entity|value rows"))
                continue
            # fallback ladder (the repl's): native takes what it
            # compiles, auto routes the rest to the Arrow executors,
            # per-entity cogroup catches shapes they decline. An
            # explicit native run has no fallback.
            configs = [strategy] if strategy == "native" else list(
                dict.fromkeys([strategy, "native", "auto", "cogroup"])
            )
            out = None
            first_err: Exception | None = None
            for run_strategy in configs:
                try:
                    plans = parse_program(
                        [q], seq_col="seq",
                        tombstone_col="tombstone",
                        functions=funcs or None,
                    )
                    (inp, plan), = plans.items()
                    if state.max_map_size is not None:
                        plan = dataclasses.replace(
                            plan, max_group_size=state.max_map_size
                        )
                    key = (state.dict_path, state.psv_path, inp)
                    if key not in facts_cache:
                        if state.psv_path.endswith((".zbin", ".zbin3")):
                            from icicle_spark.sources.zebra_binary import (
                                load_zebra_facts,
                            )

                            facts = load_zebra_facts(
                                spark, state.psv_path, inp
                            )
                        else:
                            facts = build_facts(
                                spark, dic, inp, state.psv_path
                            )
                        facts_cache[key] = facts.cache()
                    facts = facts_cache[key]
                    out = run_plan(
                        facts, plan,
                        snapshot=icicle_snapshot(state.snapshot),
                        strategy=run_strategy,
                    ).toPandas()
                    break
                except Exception as exc:  # noqa: BLE001
                    if first_err is None:
                        first_err = exc
            if out is None:
                raise first_err
            got = {
                str(r["entity"]): norm_engine(r["q0"])
                for _, r in out.iterrows()
            }
            want = {
                e: parse_golden_value(v) for e, v in golden_rows.items()
            }
            if set(got) != set(want):
                mismatches.append(
                    (q, f"entities {sorted(got)} vs golden {sorted(want)}")
                )
                continue
            bad = [
                e for e in want if not values_match(want[e], got[e])
            ]
            if bad:
                e0 = bad[0]
                mismatches.append(
                    (q, f"{e0}: golden {want[e0]!r} != engine {got[e0]!r}")
                )
            else:
                verified += 1
                if verbose:
                    print(f"  OK {q}")
        except Exception as exc:  # noqa: BLE001 — loud skip, never silent
            skips.append((q, f"{type(exc).__name__}: {exc}"))
    return verified, rejected, mismatches, skips


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-v", "--verbose", action="store_true")
    ap.add_argument("--dir", default=None)
    ap.add_argument("--strategy", default="auto",
                    help="auto|cogroup|vectorized|native")
    args = ap.parse_args()

    from icicle_spark.session import get_spark

    spark = get_spark(app_name="golden_corpus", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    tot_v = tot_r = 0
    all_mm: list = []
    all_sk: list = []
    for script in sorted(glob.glob(f"{REPL}/*/script")):
        name = os.path.basename(os.path.dirname(script))
        if args.dir and name != args.dir:
            continue
        v, r, mm, sk = run_script(spark, script, args.verbose, args.strategy)
        tot_v += v
        tot_r += r
        all_mm.extend((name, q, why) for q, why in mm)
        all_sk.extend((name, q, why) for q, why in sk)
        flag = " <-- MISMATCH" if mm else ""
        print(f"{name:32s} ok {v:3d}  reject {r:2d}  skip {len(sk):2d}{flag}")
    print(
        f"\nTOTAL verified {tot_v}  reject-verified {tot_r}  "
        f"mismatches {len(all_mm)}  skips {len(all_sk)}"
    )
    if args.verbose or all_mm:
        for name, q, why in all_mm:
            print(f"MISMATCH [{name}] {q}\n    {why}")
    if args.verbose:
        for name, q, why in all_sk:
            print(f"skip [{name}] {q}\n    {why}")
    return 1 if all_mm else 0


if __name__ == "__main__":
    raise SystemExit(main())

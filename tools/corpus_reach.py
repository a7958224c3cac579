"""Measure source-grammar reach against the reference REPL corpus.

Extracts every verbatim query from
/root/reference/icicle-compiler/test/cli/repl/*/script — single
`from ...` lines AND multi-line `:{ ... :}` blocks (joined) — and
aligns each with its golden block in the sibling `expected` file
(blocks appear in query order: `Core evaluation` / `C evaluation`
for evaluated queries, `Error` for queries the reference REJECTS).

A line PASSES when parse_query_multi accepts a query the reference
evaluates, or raises ValueError on a query the reference rejects
(t08 recursive fold types, t20 lexer errors, t40 type errors are
real grammar tests too — accepting them would be a false positive).

Usage: python tools/corpus_reach.py [-v] [--dir tNN-name]
"""

from __future__ import annotations

import argparse
import glob
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from icicle_spark.source_lang import parse_query_multi  # noqa: E402

REPL = "/root/reference/icicle-compiler/test/cli/repl"

_MARKER = re.compile(r"(Core evaluation|C evaluation|Error)\n-+")


def script_queries(script: str) -> list[str]:
    """Every query in a repl script, in order: bare `from ...` lines
    plus `:{ ... :}` blocks joined into one line."""
    out: list[str] = []
    block: list[str] | None = None
    with open(script) as f:
        for raw in f:
            line = raw.strip()
            if line == ":{":
                block = []
                continue
            if line == ":}":
                if block is not None:
                    out.append(" ".join(block))
                block = None
                continue
            if block is not None:
                if line and not line.startswith("--"):
                    block.append(line)
            elif line.startswith("from "):
                out.append(line)
    return out


def golden_kinds(expected: str, n_queries: int) -> list[str] | None:
    """The golden block kind ('eval' | 'error') for each query, by
    walking the expected transcript's markers in order. A
    `C evaluation` immediately following a `Core evaluation` belongs
    to the same query (scripts that enable both print two blocks).
    Returns None when the markers don't align with the query count."""
    kinds: list[str] = []
    prev = None
    for m in _MARKER.finditer(expected):
        k = m.group(1)
        if k == "C evaluation" and prev == "Core evaluation":
            prev = None  # second block of the same query
            continue
        kinds.append("error" if k == "Error" else "eval")
        prev = k
    return kinds if len(kinds) == n_queries else None


def corpus_lines(only_dir: str | None = None):
    """Yield (dir_name, query, golden_kind, big_data) triples."""
    for script in sorted(glob.glob(f"{REPL}/*/script")):
        d = os.path.basename(os.path.dirname(script))
        if only_dir and d != only_dir:
            continue
        with open(script) as f:
            big_data = ":set +big-data" in f.read()
        queries = script_queries(script)
        with open(os.path.join(os.path.dirname(script), "expected")) as f:
            kinds = golden_kinds(f.read(), len(queries))
        if kinds is None:  # misaligned: assume all evaluate (loud note)
            print(f"WARNING: {d} golden markers misaligned", file=sys.stderr)
            kinds = ["eval"] * len(queries)
        yield from ((d, q, k, big_data) for q, k in zip(queries, kinds))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-v", "--verbose", action="store_true")
    ap.add_argument("--dir", default=None)
    args = ap.parse_args()

    total = ok = 0
    by_dir: dict[str, list[int]] = {}
    fails: list[tuple[str, str, str]] = []
    for d, line, kind, big_data in corpus_lines(args.dir):
        total += 1
        by_dir.setdefault(d, [0, 0])[1] += 1
        err: str | None = None
        try:
            parse_query_multi(line, name="q", big_data=big_data)
            if kind == "error":
                err = "ACCEPTED a query the reference REJECTS"
        except ValueError as e:
            if kind != "error":
                err = str(e)
        except Exception as e:  # parser crash = bug, not a skip
            err = f"CRASH {type(e).__name__}: {e}"
        if err is None:
            ok += 1
            by_dir[d][0] += 1
        else:
            fails.append((d, line, err))

    for d in sorted(by_dir):
        o, t = by_dir[d]
        mark = "" if o == t else "  <--"
        print(f"{d:32s} {o:3d}/{t:3d}{mark}")
    print(f"\nTOTAL {ok}/{total}")
    if args.verbose:
        print()
        for d, line, err in fails:
            print(f"[{d}] {line}\n    !! {err}")
    crash = [f for f in fails if f[2].startswith("CRASH")]
    if crash:
        print(f"\n{len(crash)} CRASHES (non-ValueError)")
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

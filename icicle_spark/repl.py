"""Interactive / scripted REPL over the icicle_spark engine — the
Spark-first counterpart of the reference's ``icicle repl``
(icicle-compiler/main/repl.hs, icicle-compiler/src/Icicle/Repl/*.hs).
Load a declared dictionary and PSV facts, set the snapshot date,
define helper functions with ``:let``, then type Icicle source
queries and read ``entity|value`` rows back — the same session shape
as the reference's ``test/cli/repl/*/script`` files.
``tools/golden_corpus.py`` replays those scripts through this
module's PSV ingestion (``load_typed_facts``) and the same executor
ladder, so the golden corpus certifies the user-facing surface.

Commands (Repl/Command.hs surface, minus the C-evaluator toggles
that have no Spark counterpart):

    :load FILE.icicle            declared dictionary (source format)
    :load FILE.psv               entity|attribute|value|time facts
    :load FILE.zbin              zebra binary fact store (schema IS
                                 the dictionary, as in reference t70)
    :load FILE.parquet input=N entity=C time=C [seq=C] [tombstone=C]
                                 columnar facts registered as input N
    :set snapshot YYYY-MM-DD     exclusive snapshot date
    :set max-map-size N          bounded group/map state
    :set +big-data / -big-data   reject unbounded queries (repl t40)
    :set strategy S              auto|native|vectorized|cogroup
    :let f x = e                 define a function (prelude syntax)
    :dictionary                  show loaded inputs/outputs
    :{  ...  :}                  multi-line query block
    :help   :quit

Anything else starting with ``from`` is an Icicle source query; it
parses through ``source_lang.parse_program`` (with every ``:let``
function inlined) and runs through ``run_plan`` against the loaded
facts, falling back across executor strategies exactly like the
golden-corpus runner so the widest grammar evaluates.

PSV ingestion here is driver-side and keeps file order as the ``seq``
tie-breaker — REPL-scale by design, like the reference repl itself.
For cluster-scale ingestion use ``Dictionary.load_psv`` (distributed)
or parquet/Iceberg fact tables.
"""

from __future__ import annotations

import dataclasses
import datetime as _dt
import json
import math
import re
import sys
from typing import Any

import pandas as pd

__all__ = [
    "ReplSession",
    "decode_psv_value",
    "load_typed_facts",
    "render_value",
    "main",
]


# ------------------------------------------------------------ PSV facts


def decode_psv_value(v, dtype) -> object:
    """PSV/JSON value -> a Python object acceptable to
    ``createDataFrame`` under ``dtype`` (recursive for struct/array
    encodings — reference Encoding.hs:176-210 valueOfJSON)."""
    from pyspark.sql import types as T

    if v is None:
        return None
    if isinstance(dtype, T.StructType):
        obj = json.loads(v.rstrip('"')) if isinstance(v, str) else v
        return {
            f.name: decode_psv_value(obj.get(f.name), f.dataType)
            for f in dtype.fields
        }
    if isinstance(dtype, T.ArrayType):
        obj = json.loads(v.rstrip('"')) if isinstance(v, str) else v
        return [decode_psv_value(x, dtype.elementType) for x in obj]
    if isinstance(dtype, (T.IntegerType, T.LongType)):
        return int(v)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(v)
    if isinstance(dtype, T.BooleanType):
        return str(v).lower() == "true"
    if isinstance(dtype, (T.DateType, T.TimestampType)):
        return pd.Timestamp(v).to_pydatetime()
    return str(v)


def load_typed_facts(spark, dictionary, input_name: str, psv_path: str):
    """Typed facts for one input from an entity|attr|value|time PSV,
    with ``seq`` = file order (the repl's ingestion order — ties on
    time resolve by it, Data.hs:131-143 parseFact). Struct values
    tolerate the reference corpus's stray trailing quote (``{...}"``),
    as the reference's own parser does."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    inp = dictionary.inputs[input_name]
    vfields = inp.value_fields()
    rows = []
    with open(psv_path, encoding="utf-8") as f:
        for i, raw in enumerate(f):
            line = raw.rstrip("\n")
            if not line:
                continue
            parts = line.split("|")
            ent, attr = parts[0], parts[1]
            time = parts[-1]
            value = "|".join(parts[2:-1])
            if attr != input_name:
                continue
            tomb = value in (inp.tombstones or {"NA"})
            if len(vfields) == 1 and not isinstance(
                vfields[0].dataType, T.StructType
            ):
                vals = {
                    vfields[0].name: None
                    if tomb
                    else decode_psv_value(value, vfields[0].dataType)
                }
            elif tomb:
                vals = {fld.name: None for fld in vfields}
            else:
                obj = json.loads(value.rstrip('"'))
                vals = {
                    fld.name: decode_psv_value(
                        obj.get(fld.name), fld.dataType
                    )
                    for fld in vfields
                }
            rows.append(
                {
                    "entity": ent,
                    "time": pd.Timestamp(time).to_pydatetime(),
                    **vals,
                    "tombstone": tomb,
                    "seq": i,
                }
            )
    schema = T.StructType(
        [
            T.StructField("entity", T.StringType()),
            T.StructField("time", T.TimestampType()),
            *[T.StructField(fld.name, fld.dataType) for fld in vfields],
            T.StructField("tombstone", T.BooleanType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    if len(vfields) > 1:
        # record inputs implicitly bind `fields` = the whole value
        # record (Query/Environment.hs:109 — repl t16 `newest
        # fields`); field order is the record's Data.Map (name) order
        df = df.withColumn(
            "fields",
            F.when(
                ~F.col("tombstone"),
                F.struct(
                    *[
                        F.col(f.name)
                        for f in sorted(vfields, key=lambda x: x.name)
                    ]
                ),
            ),
        )
    return df


# ------------------------------------------------------------ rendering


def render_value(v) -> str:
    """Engine output cell -> the reference repl's `show` rendering:
    tuples ``(a, b)`` (engine tuple structs carry fN field names),
    maps/records as ``[ (k, v) ]`` assoc lists in the engine's
    Data.Map key order, quoted strings, shortest-roundtrip floats,
    dates bare ISO. Missing values print ``None`` (options surface
    unwrapped; tombstone outputs are null + the Error64 channel)."""
    import numpy as np

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "None"
    if v is pd.NaT:
        return "None"
    if isinstance(v, np.generic):
        return render_value(v.item())
    if isinstance(v, bool):
        return "True" if v else "False"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return render_value(v.to_pydatetime())
    if isinstance(v, _dt.datetime):
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, str):
        return json.dumps(v)
    if isinstance(v, np.ndarray):
        return render_value(v.tolist())
    if isinstance(v, (list, tuple)) and not hasattr(v, "asDict"):
        if not len(v):
            return "[]"
        return "[ " + " , ".join(render_value(x) for x in v) + " ]"
    if isinstance(v, dict):
        keys = list(v.keys())
        if keys and all(
            isinstance(k, str) and re.fullmatch(r"f\d+", k) for k in keys
        ):
            return _tuple_str([render_value(x) for x in v.values()])
        if not v:
            return "[]"
        return (
            "[ "
            + " , ".join(
                f"({render_key(k)}, {render_value(x)})"
                for k, x in v.items()
            )
            + " ]"
        )
    if hasattr(v, "asDict"):  # pyspark Row (struct cell)
        d = v.asDict()
        if all(re.fullmatch(r"f\d+", k) for k in d):
            return _tuple_str([render_value(x) for x in d.values()])
        if not d:
            return "[]"
        return (
            "[ "
            + " , ".join(
                f"({render_key(k)}, {render_value(x)})" for k, x in d.items()
            )
            + " ]"
        )
    return str(v)


def _tuple_str(parts: list[str]) -> str:
    """N-tuples print as LEFT-NESTED pairs, the reference's tuple
    association (t07 golden `((100.0, 20.0), 1500)` for a flat
    3-tuple output; the engine's struct value is flat f1..fN)."""
    if len(parts) <= 2:
        return "(" + ", ".join(parts) + ")"
    s = f"({parts[0]}, {parts[1]})"
    for x in parts[2:]:
        s = f"({s}, {x})"
    return s


def render_key(k) -> str:
    """Map keys print in their ORIGINAL type's show form (the engine
    stringifies map keys for the map<string,_> convention, but the
    reference prints `(100, 1)` and `(1989-12-17, 1)` — numbers and
    dates bare, only real strings quoted)."""
    if isinstance(k, str):
        if re.fullmatch(r"-?\d+(\.\d+)?", k):
            return k
        if re.fullmatch(r"\d{4}-\d{2}-\d{2}( \d{2}:\d{2}:\d{2})?", k):
            return k
        if k in ("True", "False"):
            return k
        return json.dumps(k)
    return render_value(k)


def _is_integral_type(dtype_str: str) -> bool:
    """True when the Spark dtype string holds no fractional leaf —
    every numeric inside is int-family, so a float64 cell coming off
    the nullable-Arrow path prints without the `.0`."""
    return bool(dtype_str) and not re.search(
        r"double|float|decimal", dtype_str
    )


def _intify(v):
    """Recursively turn integral floats back into ints (containers
    included) — the nullable pandas representation of int columns."""
    import numpy as np

    if isinstance(v, float) and not math.isnan(v) and v.is_integer():
        return int(v)
    if isinstance(v, np.floating):
        return _intify(float(v))
    if isinstance(v, dict):
        return {k: _intify(x) for k, x in v.items()}
    if isinstance(v, np.ndarray):
        return [_intify(x) for x in v.tolist()]
    if isinstance(v, list):
        return [_intify(x) for x in v]
    return v


# ------------------------------------------------------------- session


_HELP = """\
:load FILE.icicle|FILE.psv|FILE.zbin   dictionary / PSV / zebra facts
:load F.parquet input=N entity=C time=C [seq=C] [tombstone=C]
:set snapshot DATE | max-map-size N | +big-data | -big-data
:set strategy auto|native|vectorized|cogroup
:let f x = expr                   define a function
:dictionary                       show inputs and outputs
:{ ... :}                         multi-line query block
:help  :quit
from INPUT ~> CONTEXTS ~> AGG     evaluate a query"""


class ReplSession:
    """One repl session: dictionary + facts + settings + functions.

    ``handle(line) -> list[str]`` feeds one input line and returns
    the lines to print. ``eof`` is signalled by ``:quit`` returning
    None in ``done``.
    """

    #: executor fallback ladder after the session's strategy —
    #: native takes what it compiles, auto routes the rest to the
    #: Arrow executors, per-entity cogroup catches declined shapes
    #: (same ladder tools/golden_corpus.py verifies against goldens)
    _LADDER = ["native", "auto", "cogroup"]

    def __init__(self, spark, snapshot: str = "2017-01-01"):
        self.spark = spark
        self.snapshot = snapshot
        self.big_data = False
        self.max_map_size: int | None = None
        self.strategy = "auto"
        self.dictionary = None
        self.dict_path: str | None = None
        self.psv_path: str | None = None
        self.lets: list[str] = []
        self.dict_funcs: dict = {}
        self.frames: dict[str, Any] = {}  # input name -> facts DF
        self._facts_cache: dict[tuple, Any] = {}
        self._block: list[str] | None = None
        self.done = False

    # -- commands ------------------------------------------------------

    def handle(self, line: str) -> list[str]:
        s = line.strip()
        if self._block is not None:
            if s == ":}":
                q, self._block = " ".join(self._block), None
                return self._query(q)
            if s and not s.startswith("--"):
                self._block.append(s)
            return []
        if not s or s.startswith("--"):
            return []
        if s == ":{":
            self._block = []
            return []
        if s in (":quit", ":q", ":exit"):
            self.done = True
            return []
        if s in (":help", ":h", "help"):
            return _HELP.splitlines()
        if s == ":dictionary":
            return self._show_dictionary()
        if s.startswith(":set "):
            return self._set(s[5:].strip())
        if s.startswith(":load "):
            return self._load(s[6:].strip())
        if s.startswith(":let "):
            self.lets.append(s[5:].strip())
            return [f"Added let: {s[5:].strip().split('=')[0].strip()}"]
        if s.startswith(":"):
            return [f"unknown command {s.split()[0]!r} — :help lists them"]
        return self._query(s)

    def _set(self, args: str) -> list[str]:
        m = re.match(r"snapshot\s+(\S+)", args)
        if m:
            self.snapshot = m.group(1)
            return [f"Snapshot mode, date {self.snapshot} (exclusive)."]
        if "+big-data" in args:
            self.big_data = True
            return ["Big-data mode on: unbounded queries are rejected."]
        if "-big-data" in args:
            self.big_data = False
            return ["Big-data mode off."]
        m = re.match(r"max-map-size\s+(\d+)", args)
        if m:
            self.max_map_size = int(m.group(1))
            return [f"Max map size {self.max_map_size}."]
        m = re.match(r"strategy\s+(\w+)", args)
        if m:
            self.strategy = m.group(1)
            return [f"Executor strategy {self.strategy}."]
        return [f"unknown :set {args!r}"]

    def _load(self, arg: str) -> list[str]:
        from icicle_spark.source_lang import parse_dictionary_file

        parts = arg.split()
        path, opts = parts[0], dict(p.split("=", 1) for p in parts[1:])
        if path.endswith(".icicle"):
            import os

            from icicle_spark.source_lang import collect_module_functions

            dic, skipped = parse_dictionary_file(path, seq_col="seq")
            self.dictionary, self.dict_path = dic, path
            # the module's function declarations (incl. imports) bind
            # for typed queries, as in the reference repl
            with open(path, encoding="utf-8") as f:
                self.dict_funcs = collect_module_functions(
                    f.read(), os.path.dirname(os.path.abspath(path))
                )
            self._facts_cache.clear()
            out = [
                f"Loaded dictionary: {len(dic.inputs)} inputs, "
                f"{len(dic.outputs)} outputs."
            ]
            out += [f"  skipped {n}: {why}" for n, why in skipped.items()]
            return out
        if path.endswith(".psv"):
            self.psv_path = path
            self._facts_cache.clear()
            return [f"Selected psv file as input: {path}"]
        if path.endswith((".zbin", ".zbin3")):
            # zebra binary fact store: the store's schema IS the
            # dictionary (reference repl t70: "Loaded dictionary with
            # 1 inputs" after :load sample.zbin)
            from icicle_spark.sources.zebra_binary import (
                read_zbin_schema,
                zebra_dictionary,
            )

            self.dictionary = zebra_dictionary(read_zbin_schema(path))
            self.dict_path = path
            self.dict_funcs = {}
            self.psv_path = path
            self._facts_cache.clear()
            return [
                f"Loaded dictionary with "
                f"{len(self.dictionary.inputs)} inputs.",
                f"Selected zebra binary file as input: {path}",
            ]
        if path.endswith((".parquet", ".pq")) or "input" in opts:
            name = opts.get("input")
            if not name or "entity" not in opts or "time" not in opts:
                return [
                    ":load parquet needs input=NAME entity=COL time=COL "
                    "[seq=COL] [tombstone=COL]"
                ]
            df = self.spark.read.parquet(path)
            self.frames[name] = (
                df,
                opts["entity"],
                opts["time"],
                opts.get("seq"),
                opts.get("tombstone"),
            )
            return [f"Registered parquet input {name!r} ({path})"]
        return [f"don't know how to load {path!r}"]

    def _show_dictionary(self) -> list[str]:
        out = []
        if self.dictionary is not None:
            for n, inp in self.dictionary.inputs.items():
                cols = ", ".join(
                    f"{f.name}:{f.dataType.simpleString()}"
                    for f in inp.value_fields()
                )
                out.append(f"input {n} ({cols})")
            for oname in self.dictionary.outputs:
                out.append(f"output {oname}")
        for n in self.frames:
            out.append(f"input {n} (parquet)")
        return out or ["no dictionary loaded"]

    # -- queries -------------------------------------------------------

    def _known_fields(self) -> list[str]:
        """Every column a loaded input could put in scope (`value`,
        `time`, struct field names) — the Check-error environment."""
        fields = {"value", "time"}
        if self.dictionary is not None:
            for inp in self.dictionary.inputs.values():
                fields.update(f.name for f in inp.struct().fields)
        return sorted(fields)

    def _facts_for(self, input_name: str):
        """(facts, entity_col, time_col, seq_col, tombstone_col)."""
        if input_name in self.frames:
            return self.frames[input_name]
        if self.dictionary is None or input_name not in self.dictionary.inputs:
            raise ValueError(
                f"unknown input {input_name!r} — :load a dictionary or "
                "a parquet input first"
            )
        if self.psv_path is None:
            raise ValueError("no facts loaded — :load FILE.psv first")
        key = (self.dict_path, self.psv_path, input_name)
        if key not in self._facts_cache:
            if self.psv_path.endswith((".zbin", ".zbin3")):
                from icicle_spark.sources.zebra_binary import (
                    load_zebra_facts,
                )

                df = load_zebra_facts(self.spark, self.psv_path, input_name)
            else:
                df = load_typed_facts(
                    self.spark, self.dictionary, input_name, self.psv_path
                )
            self._facts_cache[key] = df.cache()
        return (self._facts_cache[key], "entity", "time", "seq", "tombstone")

    def run_query(self, q: str) -> pd.DataFrame:
        """Parse + evaluate one source query; returns the result as
        pandas (entity + one column per output)."""
        return self._run(q)[0]

    def _run(self, q: str) -> tuple[pd.DataFrame, dict[str, str]]:
        """(pandas result, {column: spark dtype string}) — the dtype
        map drives integral rendering (the Arrow executors surface
        int folds as nullable float64; the DECLARED Spark type says
        whether `1500` or `1500.0` is the faithful print)."""
        from icicle_spark.plans import icicle_snapshot, run_plan
        from icicle_spark.source_lang import (
            _collect_functions,
            _top_level_blocks,
            inline_functions,
            parse_program,
            parse_query_multi,
        )

        funcs = dict(self.dict_funcs)
        funcs.update(_collect_functions(_top_level_blocks("\n".join(self.lets))))
        if self.big_data:
            # big-data mode rejects unbounded state up front (repl
            # t40: `:set +big-data` — mk_feature raises without a
            # window/latest bound); raise before the executor ladder
            qq = inline_functions(q, funcs) if funcs else q
            parse_query_multi(qq, big_data=True)
        configs = [self.strategy] + [
            c for c in self._LADDER if c != self.strategy
        ]
        first_err: Exception | None = None
        for run_strategy in configs:
            try:
                m = re.match(r"from\s+(\w+)", q)
                inp_name = m.group(1) if m else ""
                facts, ecol, tcol, scol, tombcol = self._facts_for(inp_name)
                plans = parse_program(
                    [q],
                    entity_col=ecol,
                    time_col=tcol,
                    seq_col=scol,
                    tombstone_col=tombcol,
                    functions=funcs or None,
                )
                (_, plan), = plans.items()
                if self.max_map_size is not None:
                    plan = dataclasses.replace(
                        plan, max_group_size=self.max_map_size
                    )
                # the Error64 channel distinguishes error nulls from
                # Option Nones — the reference repl prints the former
                # as `tombstone` (t03/t15 goldens); not every plan
                # shape supports the error pass, so fall back
                for err in (True, False):
                    try:
                        res = run_plan(
                            facts,
                            plan,
                            snapshot=icicle_snapshot(self.snapshot),
                            strategy=run_strategy,
                            error_codes=err,
                        )
                        return res.toPandas(), dict(res.dtypes)
                    except Exception:  # noqa: BLE001 — retry w/o errs
                        if not err:
                            raise
            except Exception as exc:  # noqa: BLE001 — ladder, loud at end
                if first_err is None:
                    first_err = exc
        raise first_err

    def _query(self, q: str) -> list[str]:
        try:
            out, dtypes = self._run(q)
        except Exception as exc:  # noqa: BLE001 — repl reports, not dies
            from icicle_spark.checker import diagnose
            from icicle_spark.source_lang import (
                _collect_functions,
                _top_level_blocks,
            )

            funcs = dict(self.dict_funcs)
            funcs.update(
                _collect_functions(_top_level_blocks("\n".join(self.lets)))
            )
            diag = diagnose(
                q, exc,
                fields=self._known_fields(),
                functions=list(funcs),
            )
            if diag is not None:
                return diag.render()
            return [f"error: {exc}"]
        ecol = out.columns[0]
        vcols = [
            c for c in out.columns
            if c != ecol and not (c.endswith("_err") and c[:-4] in out.columns)
        ]
        lines = ["Spark evaluation", "----------------", ""]

        def _cell(row, c):
            v = row[c]
            err = row.get(f"{c}_err")
            if err is not None and not pd.isna(err) and int(err) in (1, 3):
                # ERR_TOMBSTONE / ERR_CANNOT_COMPUTE: the reference
                # repl shows error values as `tombstone` (t03:50)
                if v is None or (not hasattr(v, "__len__") and pd.isna(v)):
                    return "tombstone"
            dt = dtypes.get(c, "")
            if _is_integral_type(dt):
                v = _intify(v)
            if dt.startswith("array<struct") and v is not None and (
                hasattr(v, "__len__")
            ):
                # per-element error boxing inside `latest N` (t15
                # golden): a null STRUCT element can only be an error
                # value — Options never wrap tuples in the corpus
                # grammar — so it prints `tombstone` in place
                items = [
                    "tombstone" if x is None else render_value(x)
                    for x in (v.tolist() if hasattr(v, "tolist") else v)
                ]
                return "[ " + " , ".join(items) + " ]" if items else "[]"
            if dt.startswith("struct<") and isinstance(v, dict) and not all(
                re.fullmatch(r"f\d+", k) for k in v
            ):
                # RECORD cell (t16 `newest fields`): field names print
                # bare, in the record's Data.Map order — unlike map
                # keys, which render in their key type's show form
                return (
                    "[ "
                    + " , ".join(
                        f"({k}, {render_value(x)})" for k, x in v.items()
                    )
                    + " ]"
                )
            return render_value(v)

        for _, row in out.sort_values(ecol).iterrows():
            vals = ", ".join(_cell(row, c) for c in vcols)
            if len(vcols) > 1:
                vals = f"({vals})"
            lines.append(f"{row[ecol]}|{vals}")
        lines.append("")
        return lines


# ----------------------------------------------------------------- CLI


def main(argv: list[str] | None = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(
        prog="icicle-spark-repl", description=__doc__.split("\n\n")[0]
    )
    ap.add_argument("script", nargs="?", help="script file to replay")
    ap.add_argument(
        "-e", "--eval", action="append", default=[],
        help="evaluate one line (repeatable; runs after --script)",
    )
    ap.add_argument("--dictionary", help=".icicle dictionary to preload")
    ap.add_argument("--data", help=".psv fact file to preload")
    ap.add_argument("--snapshot", default="2017-01-01")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    from icicle_spark import get_spark

    spark = get_spark(app_name="icicle_spark_repl", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sess = ReplSession(spark, snapshot=args.snapshot)
    if args.dictionary:
        print("\n".join(sess.handle(f":load {args.dictionary}")))
    if args.data:
        print("\n".join(sess.handle(f":load {args.data}")))

    def feed(line: str) -> None:
        for out in sess.handle(line):
            print(out)

    if args.script:
        with open(args.script) as f:
            for line in f:
                feed(line)
    for line in args.eval:
        feed(line)
    if not args.script and not args.eval:
        print("icicle_spark repl — :help for commands, :quit to leave")
        while not sess.done:
            try:
                line = input("λ ")
            except EOFError:
                break
            feed(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())

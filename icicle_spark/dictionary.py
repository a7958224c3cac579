"""Declared dictionary — the engine's validated feature registry.

The reference drives everything from a dictionary: declared inputs
(name, encoding, InputKey, tombstone markers) plus named output
queries over them
(icicle-source/src/Icicle/Dictionary/Data.hs:61-81,
icicle-compiler/test/cli/repl/dictionary.icicle:1-11), validated
before compilation (icicle-compiler/src/Icicle/Command/Compile.hs:
127-175). This module is the Spark reading of that entry point:

* :class:`DictionaryInput` — input name, Spark ``StructType`` (the
  encoding), the entity/time/seq key columns, an optional ``key``
  (InputKey: consecutive-duplicate facts nubbed at load, reference
  Query/Query.hs InputKey) and an optional tombstone column.
* :class:`DictionaryOutput` — output name, the input it reads, and
  its :class:`~icicle_spark.plans.Feature` list.
* :class:`Dictionary` — the registry. Construction validates shape
  (unique names, outputs reference declared inputs, feature names
  collide nowhere per input — outputs over one input are FUSED into
  a single plan, reference Core/Program/Fusion.hs:46-67);
  :meth:`Dictionary.load` validates a DataFrame against the declared
  encoding; :meth:`Dictionary.run` evaluates every output in one
  pass per input.

At 100 TB the dictionary is pure metadata: validation reads only the
DataFrame schema (no data pass except the optional InputKey nub,
which is one window over the entity timeline), and fusion means each
input is scanned once no matter how many outputs read it.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from icicle_spark.plans.ir import Feature, Plan


def _as_struct(schema: T.StructType | str) -> T.StructType:
    if isinstance(schema, T.StructType):
        return schema
    parsed = T.StructType.fromDDL(schema)
    return parsed


@dataclass(frozen=True)
class DictionaryInput:
    """One declared input (Data.hs:68-74: inputId, inputEncoding,
    inputTombstones, inputKey)."""

    name: str
    schema: T.StructType | str           # the encoding (DDL string ok)
    entity_col: str = "entity"
    time_col: str = "time"
    seq_col: str | None = None
    key: str | None = None               # InputKey column: nub
                                         # consecutive same-key facts
    tombstone_col: str | None = None
    tombstones: frozenset[str] = frozenset()
                                         # PSV value texts meaning
                                         # Tombstone (Data.hs:71
                                         # inputTombstones, checked
                                         # BEFORE decoding —
                                         # Encoding.hs:176-179)

    def struct(self) -> T.StructType:
        return _as_struct(self.schema)

    def value_fields(self) -> list[T.StructField]:
        """The declared VALUE encoding: every field that is not a key
        column (entity/time/seq/tombstone)."""
        keys = {self.entity_col, self.time_col, self.seq_col,
                self.tombstone_col}
        return [f for f in self.struct().fields if f.name not in keys]


@dataclass(frozen=True)
class DictionaryOutput:
    """One named output query over a declared input (Data.hs:76-81).

    Built either from IR Features or from an Icicle query STRING
    (``query="from salary ~> sum value"`` — parsed via
    :mod:`icicle_spark.source_lang`; the `from` input must match
    ``input``)."""

    name: str
    input: str
    features: tuple[Feature, ...]
    postcomps: tuple = ()   # ((name, sql_expr), ...) over the folds
    hidden: tuple = ()      # fold names not emitted (postcomp inputs)

    def __init__(
        self,
        name: str,
        input: str,  # noqa: A002
        features=None,
        query: str | None = None,
        skip_nulls: bool = False,
        postcomps=(),
        hidden=(),
    ) -> None:
        if (features is None) == (query is None):
            raise ValueError("exactly one of features / query required")
        if query is not None:
            from icicle_spark.source_lang import parse_query_multi

            qinput, feats, postcomps, hidden = parse_query_multi(
                query, name, skip_nulls=skip_nulls
            )
            if qinput != input:
                raise ValueError(
                    f"output {name!r} reads {qinput!r} in its query but "
                    f"is declared over {input!r}"
                )
            features = tuple(feats)
        object.__setattr__(self, "name", name)
        object.__setattr__(self, "input", input)
        object.__setattr__(self, "features", tuple(features))
        object.__setattr__(self, "postcomps", tuple(postcomps))
        object.__setattr__(self, "hidden", tuple(hidden))


class Dictionary:
    """Validated registry of inputs + outputs; the dictionary-driven
    entry point (Command/Compile.hs:127-175)."""

    def __init__(
        self,
        inputs: list[DictionaryInput],
        outputs: list[DictionaryOutput],
    ) -> None:
        self.inputs: dict[str, DictionaryInput] = {}
        for i in inputs:
            if i.name in self.inputs:
                raise ValueError(f"duplicate input {i.name!r}")
            struct = i.struct()
            names = set(struct.fieldNames())
            for col, what in [
                (i.entity_col, "entity_col"),
                (i.time_col, "time_col"),
                (i.seq_col, "seq_col"),
                (i.key, "key"),
                (i.tombstone_col, "tombstone_col"),
            ]:
                if col is not None and col not in names:
                    raise ValueError(
                        f"input {i.name!r}: {what} {col!r} is not in the "
                        "declared encoding"
                    )
            self.inputs[i.name] = i
        self.outputs: dict[str, DictionaryOutput] = {}
        for o in outputs:
            if o.name in self.outputs:
                raise ValueError(f"duplicate output {o.name!r}")
            if o.input not in self.inputs:
                raise ValueError(
                    f"output {o.name!r} reads undeclared input {o.input!r}"
                )
            self.outputs[o.name] = o
        # outputs over one input fuse into a single plan: building it
        # here surfaces feature-name collisions (and every other Plan
        # validation) at registry-construction time, not run time
        self._plans = {
            name: self._build_plan(name) for name in self.inputs
        }

    # -- plans ---------------------------------------------------------

    def _build_plan(self, input_name: str) -> Plan | None:
        inp = self.inputs[input_name]
        feats: list[Feature] = []
        posts: list[tuple] = []
        hidden: list[str] = []
        for o in self.outputs.values():
            if o.input == input_name:
                feats.extend(o.features)
                posts.extend(o.postcomps)
                hidden.extend(o.hidden)
        if not feats:
            return None
        return Plan(
            feats,
            entity_col=inp.entity_col,
            time_col=inp.time_col,
            seq_col=inp.seq_col,
            tombstone_col=inp.tombstone_col,
            postcomps=tuple(posts),
            hidden=tuple(hidden),
        )

    def plan_for(self, input_name: str) -> Plan:
        """The fused plan of every output reading ``input_name``."""
        if input_name not in self.inputs:
            raise KeyError(input_name)
        plan = self._plans[input_name]
        if plan is None:
            raise ValueError(f"no outputs declared over {input_name!r}")
        return plan

    # -- load ----------------------------------------------------------

    def load(
        self,
        spark: SparkSession,
        name: str,
        path: str | None = None,
        df: DataFrame | None = None,
    ) -> DataFrame:
        """Read (or accept) an input's facts and validate them against
        the declared encoding: every declared field must be present
        with the declared type (extra columns pass through). Applies
        the InputKey nub when the input declares a key."""
        if name not in self.inputs:
            raise KeyError(name)
        inp = self.inputs[name]
        if (path is None) == (df is None):
            raise ValueError("exactly one of path / df required")
        if df is None:
            df = spark.read.parquet(path)
        have = {f.name: f.dataType for f in df.schema.fields}
        for f in inp.struct().fields:
            if f.name not in have:
                raise ValueError(
                    f"input {name!r}: declared column {f.name!r} missing "
                    f"from the data (has {sorted(have)})"
                )
            if have[f.name] != f.dataType:
                raise ValueError(
                    f"input {name!r}: column {f.name!r} is "
                    f"{have[f.name].simpleString()}, declared "
                    f"{f.dataType.simpleString()}"
                )
        if inp.key is not None:
            from icicle_spark.operators.folds_ext import nub_by_key

            df = nub_by_key(
                df, inp.key, inp.entity_col, inp.time_col, inp.seq_col
            )
        return df

    def load_psv(
        self, spark: SparkSession, name: str, path: str
    ) -> DataFrame:
        """Typed PSV fact ingestion — the reference's ``parseFact``
        (Dictionary/Data.hs:131-143 + Encoding.hs:176-210):
        ``entity|attribute|value|time`` rows are filtered to this
        input's attribute, the tombstone marker set is checked BEFORE
        decoding, then the value text parses per the declared
        encoding — primitives by (ANSI) cast, so a malformed value is
        a loud DecodeError-equivalent, booleans case-insensitively,
        multi-field (struct) encodings from JSON. Output carries the
        declared column layout plus a boolean tombstone column."""
        if name not in self.inputs:
            raise KeyError(name)
        inp = self.inputs[name]
        from icicle_spark.sources.io import read_psv_facts

        raw = read_psv_facts(spark, path).where(F.col("attribute") == name)
        tomb = (
            F.col("value").isin(*sorted(inp.tombstones))
            if inp.tombstones
            else F.lit(False)
        )
        vfields = inp.value_fields()
        if len(vfields) == 1 and not isinstance(
            vfields[0].dataType, T.StructType
        ):
            f0 = vfields[0]
            vals = [
                F.when(~tomb, F.col("value").cast(f0.dataType)).alias(f0.name)
            ]
        else:
            # struct encoding: the PSV value is JSON (reference
            # Encoding.hs:204-210 valueOfJSON)
            # loud DecodeError parity with the primitive path's ANSI
            # cast: PERMISSIVE from_json turns malformed JSON into an
            # all-null struct silently — FAILFAST raises instead
            # (tombstoned rows parse null input, which never fails)
            js = F.from_json(
                F.when(~tomb, F.col("value")),
                T.StructType(vfields),
                {"mode": "FAILFAST"},
            )
            vals = [js[f.name].alias(f.name) for f in vfields]
        tcol = F.col("time").cast(
            dict((f.name, f.dataType) for f in inp.struct().fields)[
                inp.time_col
            ]
        )
        out = raw.select(
            F.col("entity").alias(inp.entity_col),
            tcol.alias(inp.time_col),
            *vals,
            tomb.alias(inp.tombstone_col or "tombstone"),
        )
        if len(vfields) > 1:
            # record inputs implicitly bind `fields` = the whole value
            # record (reference Query/Environment.hs:109 mkFeatureContext
            # — repl t16 `newest fields`); fields sort by name, the
            # record's Data.Map order. Tombstones null the record.
            out = out.withColumn(
                "fields",
                F.when(~F.col(inp.tombstone_col or "tombstone"),
                       F.struct(*[
                           F.col(f.name)
                           for f in sorted(vfields, key=lambda x: x.name)
                       ])),
            )
        if inp.key is not None:
            from icicle_spark.operators.folds_ext import nub_by_key

            out = nub_by_key(out, inp.key, inp.entity_col, inp.time_col)
        return out

    # -- run -----------------------------------------------------------

    def run(
        self,
        spark: SparkSession,
        paths: Mapping[str, str] | None = None,
        frames: Mapping[str, DataFrame] | None = None,
        snapshot: Any | None = None,
        chords: DataFrame | None = None,
        strategy: str = "auto",
        error_codes: bool = False,
    ) -> dict[str, DataFrame]:
        """Evaluate every declared output: one fused pass per input
        (inputs with no outputs are skipped). Returns
        ``{input_name: DataFrame}`` where each frame carries the
        feature columns of every output over that input."""
        from icicle_spark.plans import run_plan

        out: dict[str, DataFrame] = {}
        for name, plan in self._plans.items():
            if plan is None:
                continue
            facts = self.load(
                spark,
                name,
                path=(paths or {}).get(name),
                df=(frames or {}).get(name),
            )
            out[name] = run_plan(
                facts,
                plan,
                snapshot=snapshot,
                chords=chords,
                strategy=strategy,
                error_codes=error_codes,
            )
        return out

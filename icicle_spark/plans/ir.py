"""Fold-plan IR — the engine's logical program.

Mirrors the *shape* of the reference's Core programs (a set of
streaming folds over one time-sorted input, fused into a single pass:
/root/reference/icicle-core/src/Icicle/Core/Program/Program.hs:25-45,
Fusion.hs:37-81) without porting any of its machinery.  A ``Plan`` is
a list of ``Feature``s over one fact table; every feature is

    [element expr] -> [filter] -> [window / latest frame] -> [fold]

exactly the context pipeline of an Icicle query
(/root/reference/icicle-source/src/Icicle/Source/Query/Context.hs:25-37).

Element expressions have ONE dialect: a string is Spark SQL (``==``
and ``=`` both read as equality), a callable is a vectorized pandas
function (``pdf -> Series``). The native compiler evaluates strings in
Catalyst; before any Python executor runs, ``plans.executor.
project_exprs`` evaluates them JVM-side into columns, so the
executors only ever read fact, projected, bind and scan columns.

Two compilers consume this IR:

* ``plans.native``   — pure DataFrame ops (Catalyst / whole-stage
  codegen); used when every fold is expressible as a built-in Spark
  aggregate.  This is the 100 TB fast path.
* ``plans.executor`` — ONE vectorized ``applyInPandas`` pass per input
  evaluating ALL features (query fusion) at arbitrary per-entity query
  times (snapshot or chord), with numpy slice reduction per
  (entity, query_time) stencil — the analogue of the reference's fused
  C kernels (/root/reference/icicle-compiler/src/Icicle/Runtime/Evaluator.hs:425-521).
"""

from __future__ import annotations

import enum
import math
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd


class Agg(enum.Enum):
    """Built-in folds. Each is a plain streaming fold in the reference
    prelude (/root/reference/icicle-source/data/libs/prelude.icicle)."""

    SUM = "sum"
    COUNT = "count"
    MEAN = "mean"            # prelude.icicle:140-154 (Welford)
    MIN = "min"
    MAX = "max"
    VARIANCE = "variance"    # prelude.icicle:195-210 (sample variance)
    SD = "sd"
    NEWEST = "newest"        # prelude.icicle:21-24 (last value)
    OLDEST = "oldest"        # prelude.icicle:26-29 (first value)
    ANY = "any"              # prelude.icicle:104-106
    ALL = "all"              # prelude.icicle:108-110
    COUNT_DISTINCT = "count_distinct"
    DISTINCT_VALUES = "distinct_values"  # prelude.icicle:98-100 (sorted keys)
    NUMFLIPS = "numflips"    # prelude.icicle:261-272 (state changes)
    COLLECT = "collect"      # value list in time order (bounded by frame)
    MAX_BY = "max_by"        # prelude.icicle:172-181
    MIN_BY = "min_by"        # prelude.icicle:184-191
    DECAYED_SUM = "decayed_sum"  # engine extension: recency-weighted
                             # sum v*2^(-(qtime-t)/half_life) — the
                             # training-pipeline fold Icicle lacks;
                             # prefix-computable at any query time via
                             # e^(-l*qt) * cumsum(v * e^(l*t))


@dataclass(frozen=True)
class CustomFold:
    """User fold: ``fold x = init then step`` (reference
    Context.hs:32-33).  ``step`` folds the *whole visible slice* and
    must be vectorized (numpy in, scalar out) — the Spark-idiomatic
    reading of an Icicle fold, which is sequential only because C is.

    For genuinely order-dependent state give ``step_seq`` (python
    scalar fold, applied per element) instead of ``step``.
    """

    init: Any
    step: Callable[[np.ndarray], Any] | None = None          # vectorized slice -> value
    step_seq: Callable[[Any, Any], Any] | None = None        # (acc, x) -> acc
    output: Callable[[Any], Any] | None = None               # final extract
    output_qt: Callable[[Any, Any], Any] | None = None       # (state, query_time)
                                                             # -> value; for folds
                                                             # whose OUTPUT stage
                                                             # references `now`
                                                             # (prelude days_in).
                                                             # Wins over `output`.
    dtype: str = "double"
    bind: str | None = None       # SOURCE metadata (fold x = i then s):
    init_src: str | None = None   # lets resolve_dtypes type the fold
    step_src: str | None = None   # via a Spark-SQL analysis probe of
                                  # step[bind := (init)] — int folds
                                  # print `1500`, not `1500.0`


@dataclass(frozen=True)
class Window:
    """Time-before window relative to the query time (reference
    ToCore/ToCore.hs:123-167; inclusive edges per
    icicle-data/src/Icicle/Data/Time.hs:288-292):

        newer_than=B, older_than=A  =>  qtime - B <= t <= qtime - A

    (and always t < qtime — the as-of rule, Stencil.hs:111-113).
    unit is 'days', 'weeks' or 'months'; month arithmetic is
    calendar-clipped like the reference's minusMonths
    (Time.hs:317-323) and Spark's add_months.
    """

    newer_than_days: int
    older_than_days: int = 0
    unit: str = "days"

    def __post_init__(self) -> None:
        if self.unit not in ("days", "weeks", "months"):
            raise ValueError(f"bad window unit {self.unit}")

    def edge(self, qt: "pd.Timestamp", amount: int) -> "pd.Timestamp":
        """qtime minus `amount` units (pandas side)."""
        if self.unit == "months":
            return qt - pd.DateOffset(months=amount)
        mult = 7 if self.unit == "weeks" else 1
        return qt - pd.Timedelta(days=amount * mult)

    def sql_interval(self, amount: int) -> str:
        if self.unit == "months":
            return f"INTERVAL {amount} MONTHS"
        mult = 7 if self.unit == "weeks" else 1
        return f"INTERVAL {amount * mult} DAYS"


def icicle_snapshot(date_str: str) -> str:
    """Icicle's `:set snapshot DATE` means the EXCLUSIVE instant
    midnight-after-DATE (reference Time.hs:235-237
    exclusiveSnapshotTime): facts dated ON the snapshot day are
    visible under the strict `<` rule."""
    ts = pd.Timestamp(date_str)
    if ts != ts.normalize():
        raise ValueError("icicle_snapshot expects a date, not a timestamp")
    return str(ts + pd.Timedelta(days=1))


ExprLike = str | Callable[[pd.DataFrame], pd.Series]


@dataclass(frozen=True)
class Feature:
    """One output column of the plan."""

    name: str
    agg: Agg | CustomFold
    expr: ExprLike = "value"          # element expression over fact columns
    where: ExprLike | None = None     # element filter (Context.hs:30)
    window: Window | None = None      # days-before window (Context.hs:26)
    latest: int | None = None         # last-N-facts frame (Context.hs:27)
    latest_outer: int | None = None   # OUTER latest frame applied
                                      # BEFORE where/filter_let/skip_nulls
                                      # drops — Icicle contexts compose in
                                      # any order (Query.hs:59-63), and
                                      # `latest A ~> filter p ~> latest B`
                                      # (repl t17-latest:28-29) is not the
                                      # same program as filter-then-latest:
                                      # the filter sees only the last A
                                      # facts. Evaluated by the fold
                                      # executors (native/chord-prefix
                                      # route to the cogroup fallback).
    by: ExprLike | None = None        # key expr for MAX_BY/MIN_BY
    group: ExprLike | None = None     # `group k ~>` — output map k->agg (Context.hs:28)
    distinct: ExprLike | list | None = None
                                      # `distinct k ~>` — first fact per
                                      # key (Context.hs:29). A LIST means
                                      # chained distincts (t02.1
                                      # `distinct a ~> distinct b`):
                                      # sequential nubs, each over the
                                      # previous stage's survivors.
    distinct_in_group: bool = False   # `group k ~> distinct d` (t02.1):
                                      # contexts after group run INSIDE
                                      # each group, so the distinct map
                                      # is per group key — dedup on the
                                      # (group, distinct) pair.
    skip_nulls: bool = False          # False = Icicle Possibly semantics:
                                      # a null (error/tombstone) in the visible
                                      # slice poisons the aggregate
    dtype: str | None = None          # spark type of output (default by agg)
    half_life_days: float | None = None  # DECAYED_SUM only: weight
                                      # halves every this-many days
                                      # before the query time
    filter_let: tuple[tuple[str, ExprLike], ...] | None = None
                                      # `filter let Some b = e` (Context.hs:31,
                                      # ToCore/Fold.hs:289-305): drop facts
                                      # where e is null OR tombstoned (the
                                      # pattern fails), and bind b to the
                                      # unwrapped value for this feature's
                                      # expr/where/by/group/distinct. Binds
                                      # apply sequentially (later binds may
                                      # reference earlier ones) and BEFORE
                                      # where/window/latest, matching the
                                      # context pipeline order. Bind names
                                      # must not shadow fact columns.
    post_group_filter: ExprLike | None = None
                                      # filter AFTER `group k` (repl
                                      # t02-groups:11-13 "counts of
                                      # zero"; ToCore/Fold.hs:275-285):
                                      # keys are established by the
                                      # UNFILTERED visible stream; the
                                      # predicate guards only the fold
                                      # step, so fully-filtered keys
                                      # emit the fold's init (count 0,
                                      # sum 0, ...; None for value
                                      # folds). Evaluated by the fold
                                      # executors; native declines.
    group_latest: int | None = None   # `group k ~> latest N`: last N
                                      # facts PER KEY (contexts after
                                      # group run inside each group —
                                      # t17-latest:4-8), unlike
                                      # Feature.latest's per-entity
                                      # frame.
    pg_before_latest: bool = False    # `group k ~> filter p ~> latest
                                      # N` (zebra test_map): the
                                      # post-group filter narrows each
                                      # key's stream BEFORE the
                                      # per-key frame (default order
                                      # is frame-then-filter, t17).
                                      # Keys still establish from
                                      # every visible fact.
    scans: tuple[tuple[str, Agg, str], ...] | None = None
                                      # `scan b = agg e` element binds
                                      # (Query/Context.hs:33, repl
                                      # t06.01/t17): b is the INCLUSIVE
                                      # running value of the fold over the
                                      # stream at the scan's context
                                      # position — after window /
                                      # latest_outer framing, BEFORE
                                      # where/filter_let narrowing — in
                                      # (time, seq) order. Each entry is
                                      # (bind_name, Agg, element_expr);
                                      # supported: SUM COUNT MIN MAX MEAN.
                                      # A null element leaves a null
                                      # running value at that row, and the
                                      # Possibly rules at the aggregate
                                      # stage poison from there. An
                                      # expression over a scan bind exists
                                      # only inside a frame, so it must be
                                      # a callable. Evaluated by the
                                      # vectorized executor; native/chord/
                                      # resume decline loudly.


@dataclass
class Plan:
    """A fused set of features over one fact table.

    entity_col / time_col name the fact table's key columns;
    tombstone_col (optional) marks deletion facts
    (/root/reference/icicle-data/src/Icicle/Data/Fact.hs:68-79).
    """

    features: list[Feature]
    entity_col: str = "entity"
    time_col: str = "time"
    seq_col: str | None = None        # tiebreaker for equal times — the
                                      # store's ingestion order invariant
                                      # (reference README.md:132-135)
    tombstone_col: str | None = None
    max_group_size: int = 1_048_576   # maxMapSize analogue
                                      # (Core/Program/Program.hs:32)
    postcomps: tuple = ()             # ((name, spark_sql_expr), ...) —
                                      # postcomputations over the FOLD
                                      # OUTPUT columns, evaluated on the
                                      # result frame after aggregation
                                      # (reference Core programs carry
                                      # exactly this stage:
                                      # Core/Program/Program.hs:33-36
                                      # `postcomps`, ToCore/ToCore.hs
                                      # aggregate-expression lowering).
                                      # They run on the small output
                                      # frame, never inside an executor.
    hidden: tuple = ()                # fold names NOT emitted: internal
                                      # inputs of postcomps (the
                                      # reference's fresh names for agg
                                      # subterms, ToCore fresh binds)

    def __post_init__(self) -> None:
        names = [f.name for f in self.features]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate feature names: {names}")
        self.postcomps = tuple((str(n), str(e)) for n, e in self.postcomps)
        self.hidden = tuple(self.hidden)
        pnames = [n for n, _ in self.postcomps]
        clash = (set(pnames) & set(names)) or (
            {n for n in pnames if pnames.count(n) > 1}
        )
        if clash:
            raise ValueError(f"postcomp name collides: {sorted(clash)}")
        missing = set(self.hidden) - set(names)
        if missing:
            raise ValueError(f"hidden names are not folds: {sorted(missing)}")
        for f in self.features:
            if f.agg is Agg.DECAYED_SUM:
                hl = f.half_life_days
                if (
                    hl is None
                    or not isinstance(hl, (int, float))
                    or isinstance(hl, bool)
                    or not math.isfinite(float(hl))
                    or float(hl) <= 0.0
                ):
                    raise ValueError(
                        f"feature {f.name}: DECAYED_SUM requires a finite "
                        f"half_life_days > 0, got {hl!r}"
                    )
                if f.group is not None or f.distinct is not None:
                    # per-key decayed sums are not implemented in any
                    # backend (executor._feature_value returns the scalar
                    # before the group branch; vexec has no pandas agg) —
                    # reject up front instead of crashing at Arrow time
                    raise ValueError(
                        f"feature {f.name}: DECAYED_SUM does not support "
                        "group/distinct"
                    )
        # filter_let bind consistency: a bind name must mean ONE thing
        # across the plan (the native compiler materializes binds as
        # shared physical columns) and never shadow a key column.
        seen_binds: dict[str, Any] = {}
        keycols = {self.entity_col, self.time_col, self.seq_col,
                   self.tombstone_col}
        for f in self.features:
            for b, e in (f.filter_let or ()):
                if b in keycols:
                    raise ValueError(
                        f"feature {f.name}: filter_let bind {b!r} shadows "
                        "a plan key column"
                    )
                canon = e if isinstance(e, str) else id(e)
                if b in seen_binds and seen_binds[b] != canon:
                    raise ValueError(
                        f"filter_let bind {b!r} is defined with different "
                        "expressions in different features"
                    )
                seen_binds[b] = canon

    def fuse(self, other: "Plan") -> "Plan":
        """Query fusion: concatenate feature sets over the same input
        (reference Core/Program/Fusion.hs:46-67 — disjoint names,
        shared input)."""
        if (self.entity_col, self.time_col) != (other.entity_col, other.time_col):
            raise ValueError("cannot fuse plans over different inputs")
        return Plan(
            features=self.features + other.features,
            entity_col=self.entity_col,
            time_col=self.time_col,
            seq_col=self.seq_col or other.seq_col,
            tombstone_col=self.tombstone_col or other.tombstone_col,
            max_group_size=min(self.max_group_size, other.max_group_size),
            postcomps=self.postcomps + other.postcomps,
            hidden=self.hidden + other.hidden,
        )

    def stripped(self) -> "Plan":
        """The same folds without postcomps/hidden — what the fold
        backends evaluate (postcomputation is applied on their output
        by run_plan / compile_native)."""
        if not self.postcomps and not self.hidden:
            return self
        return Plan(
            self.features,
            entity_col=self.entity_col,
            time_col=self.time_col,
            seq_col=self.seq_col,
            tombstone_col=self.tombstone_col,
            max_group_size=self.max_group_size,
        )

    def output_names(self) -> list[str]:
        """Emitted columns: non-hidden folds (plan order), then
        postcomputations (declaration order)."""
        hid = set(self.hidden)
        return [f.name for f in self.features if f.name not in hid] + [
            n for n, _ in self.postcomps
        ]

    def condensed(self) -> "Plan":
        """CSE: drop structurally identical duplicate folds, keep the
        first name (reference Core/Program/Condense.hs:25-66)."""
        return self.cse()[0]

    def cse(self) -> tuple["Plan", dict[str, str]]:
        """CSE with the alias map: the deduped plan plus
        {duplicate_name: kept_name} so callers can re-emit every
        requested output column (the reference shares the fold but
        keeps both returns, Condense.hs:25-66)."""
        seen: dict[tuple, str] = {}
        kept: list[Feature] = []
        dups: dict[str, str] = {}
        for f in self.features:
            key = (
                f.agg if isinstance(f.agg, Agg) else id(f.agg),
                f.expr if isinstance(f.expr, str) else id(f.expr),
                f.where if isinstance(f.where, str) else id(f.where),
                f.window,
                f.latest,
                f.by if isinstance(f.by, str) else id(f.by),
                f.group if isinstance(f.group, str) else id(f.group),
                f.distinct if isinstance(f.distinct, str) else id(f.distinct),
                f.skip_nulls,
                f.half_life_days,
                f.latest_outer,
                tuple(
                    (b, e if isinstance(e, str) else id(e))
                    for b, e in f.filter_let
                )
                if f.filter_let
                else None,
                f.scans,
                f.post_group_filter
                if isinstance(f.post_group_filter, str)
                else id(f.post_group_filter)
                if f.post_group_filter is not None
                else None,
                f.group_latest,
                f.pg_before_latest,
            )
            if key not in seen:
                seen[key] = f.name
                kept.append(f)
            else:
                dups[f.name] = seen[key]
        return (
            Plan(
                kept,
                entity_col=self.entity_col,
                time_col=self.time_col,
                seq_col=self.seq_col,
                tombstone_col=self.tombstone_col,
                max_group_size=self.max_group_size,
                postcomps=self.postcomps,
                hidden=tuple(h for h in self.hidden if h not in dups),
            ),
            dups,
        )


_AGG_DTYPE = {
    Agg.SUM: "double",
    Agg.COUNT: "bigint",
    Agg.MEAN: "double",
    Agg.MIN: "double",
    Agg.MAX: "double",
    Agg.VARIANCE: "double",
    Agg.SD: "double",
    Agg.NEWEST: "double",
    Agg.OLDEST: "double",
    Agg.ANY: "boolean",
    Agg.ALL: "boolean",
    Agg.COUNT_DISTINCT: "bigint",
    Agg.DISTINCT_VALUES: "array<string>",
    Agg.NUMFLIPS: "bigint",
    Agg.COLLECT: "array<double>",
    Agg.MAX_BY: "double",
    Agg.MIN_BY: "double",
    Agg.DECAYED_SUM: "double",
}


def feature_dtype(f: Feature) -> str:
    if f.dtype:
        return f.dtype
    if isinstance(f.agg, CustomFold):
        if f.group is not None:
            return f"map<string,{f.agg.dtype}>"
        return f.agg.dtype
    base = _AGG_DTYPE[f.agg]
    if f.group is not None:
        return f"map<string,{base}>"
    return base


_SHAPE_PRESERVING = {
    Agg.NEWEST, Agg.OLDEST, Agg.MIN, Agg.MAX,
    Agg.MAX_BY, Agg.MIN_BY, Agg.COLLECT,
}

_NUMERICISH = ("tinyint", "smallint", "int", "bigint",
               "float", "double", "decimal")


_INT_FAMILY = ("tinyint", "smallint", "int", "bigint", "long")


def resolve_dtypes(plan: Plan, facts) -> Plan:
    """Fill unset output dtypes from the facts schema:

    * shape-preserving aggregates (newest/oldest/min/max/max_by/
      min_by/collect) over a bare input column return the element
      unchanged, so a struct/string/array/timestamp input column must
      type the executor's Arrow output schema (repl t16 `newest
      fields` over a struct input) — and an INT column stays int,
      the reference's typing (Int folds are Int, not Double; the
      repl prints `1500`, not `1500.0`);
    * SUM over an int-typed expression is bigint for the same
      reason (postcomps over the fold then inherit integer typing —
      `sum x * 2` stays integral, `sum x / count x` divides to
      double, both as the reference's checker types them).

    Expressions that aren't bare columns resolve through a
    driver-side analysis probe (`facts.select(expr)`); one that does
    not resolve keeps the double default."""
    import dataclasses as _dc

    types = {fld.name: fld.dataType.simpleString()
             for fld in facts.schema.fields}

    # gather every expression needing a probe, analyze them in ONE
    # select (each facts.select is a full driver-side analysis pass,
    # ~15-50 ms — per-expression probing measurably inflated plan
    # compile time on wide plans); a failing batch falls back to
    # per-expression so one unresolvable string doesn't untype the
    # rest
    from pyspark.sql import functions as F

    def _fold_probe(cf) -> str | None:
        # source fold typing: analyze step[bind := (init)] — Spark's
        # type coercion IS the reference checker's numeric typing
        # (`fold x = 0 then x + value` over Int stays Int); exprlang
        # constructs SQL can't analyze keep the widened double
        if not (cf.step_src and cf.bind and cf.init_src):
            return None
        if cf.dtype != "double":
            return None  # map/struct/bool states typed at compile
        return substitute_binds(cf.step_src, {cf.bind: cf.init_src})

    def _bind_sub(e: str, f) -> str | None:
        # filter_let binds aren't columns either: `filter let Some
        # zod = Some (value + 1) ~> latest 3 ~> zod` collects Int
        # elements (t17 prints `[ 301 , ... ]`)
        if not all(isinstance(be, str) for _, be in f.filter_let or ()):
            return None
        # latest bind first: a later bind may read an earlier one
        return substitute_binds(e, dict(reversed(f.filter_let or ())))

    def _scan_sub(e: str, scans) -> str | None:
        # scan binds aren't columns: substitute a TYPE-equivalent SQL
        # fragment for each (`scan z = sum value ~> latest 3 ~> z`
        # collects running Int sums — t17 prints `[ 600 , 1000 ... ]`)
        for name, agg, sexpr in scans or ():
            if not isinstance(sexpr, str):
                return None
            if agg is Agg.SUM:
                rep = f"(({sexpr}) + ({sexpr}))"
            elif agg is Agg.COUNT:
                rep = "CAST(1 AS BIGINT)"
            elif agg is Agg.MEAN:
                rep = f"CAST(({sexpr}) AS DOUBLE)"
            else:  # min/max/second_last: element-shaped
                rep = f"({sexpr})"
            e = substitute_binds(e, {name: rep})
        return e

    want: list[str] = []
    for f in plan.features:
        s = None
        if f.dtype is not None:
            continue
        if isinstance(f.agg, CustomFold):
            s = _fold_probe(f.agg)
        elif (
            f.agg in _SHAPE_PRESERVING or f.agg is Agg.SUM
        ) and isinstance(f.expr, str):
            s = f.expr.strip()
            if f.scans:
                s = _scan_sub(s, f.scans)
            if s is not None and f.filter_let:
                s = _bind_sub(s, f)
            if s is not None and not f.scans and not f.filter_let and (
                s in types
            ):
                s = None
        if s is not None and s not in want:
            want.append(s)
    probed: dict[str, str | None] = {}
    if want:
        try:
            sch = facts.select(
                *[F.expr(s).alias(f"__p{i}") for i, s in enumerate(want)]
            ).schema
            probed = {
                s: fld.dataType.simpleString()
                for s, fld in zip(want, sch.fields)
            }
        except Exception:  # noqa: BLE001 — some expr not Spark SQL
            for s in want:
                try:
                    probed[s] = (
                        facts.select(F.expr(s))
                        .schema[0].dataType.simpleString()
                    )
                except Exception:  # noqa: BLE001 — unresolvable
                    probed[s] = None

    def expr_type(e, scans=None) -> str | None:
        if not isinstance(e, str):
            # exprlang callable: static numeric inference over its AST
            # (the reference checker's Num typing for the arithmetic
            # fragment) — covers the scan-bound callables SQL can't
            # probe; a scan bind types like its running fold
            ast = getattr(e, "__icicle_ast__", None)
            if ast is not None:
                from icicle_spark.exprlang import infer_numeric

                env = dict(types)
                for name, agg, sexpr in scans or ():
                    env[name] = (
                        "bigint" if agg is Agg.COUNT
                        else "double" if agg is Agg.MEAN
                        else expr_type(sexpr) or "double"
                    )
                t = infer_numeric(ast, env)
                return {"int": "bigint", "double": "double"}.get(t)
            return None
        s = e.strip()
        return types.get(s) or probed.get(s)

    feats, changed = [], False
    for f in plan.features:
        if f.dtype is not None:
            feats.append(f)
            continue
        if isinstance(f.agg, CustomFold):
            s = _fold_probe(f.agg)
            t = probed.get(s) if s else None
            if t is None and f.agg.step_src and f.agg.bind and (
                f.agg.init_src and f.agg.dtype == "double"
            ):
                # non-SQL fold body (constructor states, case
                # patterns): static exprlang inference — `fold p =
                # Left 0 then case ...` is an Int fold (t13 prints 0)
                try:
                    from icicle_spark import exprlang as X

                    i_ast = X.parse(f.agg.init_src)
                    s_ast = X.parse(f.agg.step_src)
                    it = X.infer_numeric(i_ast, types)
                    st = X.infer_numeric(
                        s_ast, {**types, f.agg.bind: it}
                    ) if it is not None else None
                    if it == st == "int":
                        t = "bigint"
                except Exception:  # noqa: BLE001 — stay double
                    t = None
            if t is not None and t.startswith(_INT_FAMILY):
                f = _dc.replace(
                    f, agg=_dc.replace(f.agg, dtype="bigint")
                )
                changed = True
            feats.append(f)
            continue
        t = None
        probe_expr = f.expr
        if isinstance(f.expr, str) and (f.scans or f.filter_let):
            probe_expr = f.expr.strip()
            if f.scans:
                probe_expr = _scan_sub(probe_expr, f.scans)
            if probe_expr is not None and f.filter_let:
                probe_expr = _bind_sub(probe_expr, f)
        if f.agg in _SHAPE_PRESERVING:
            t = expr_type(probe_expr, f.scans)
            if t is not None and t.startswith(_NUMERICISH) and not (
                t.startswith(_INT_FAMILY)
            ):
                t = None  # float input: the double default is right
            elif t is not None and f.agg is Agg.COLLECT:
                t = f"array<{t}>"
        elif f.agg is Agg.SUM:
            t = expr_type(probe_expr, f.scans)
            t = "bigint" if t is not None and t.startswith(_INT_FAMILY) else None
        if t is not None:
            if f.group is not None:
                t = f"map<string,{t}>"
            f = _dc.replace(f, dtype=t)
            changed = True
        feats.append(f)
    return _dc.replace(plan, features=feats) if changed else plan


NOW_TOKEN = "__icicle_now"


def apply_postcomps(df, plan: Plan, now_sql: str | None = None):
    """Evaluate a plan's postcomputations over the aggregated result
    frame and drop hidden folds (reference Core evaluator runs
    postcomps after the fold loop: Core/Eval/Program.hs postcomps
    stage).  `df` must contain every fold output column; key/lead
    columns pass through in front.

    ``now_sql`` resolves the source language's ``now`` — the query
    time (the EXCLUSIVE snapshot instant, or the chord row's
    query_time; Time.hs:235-237 + repl t31 golden ``box (Right now)``
    prints the day after the snapshot date). A SQL fragment: a
    timestamp literal for snapshots, the ``query_time`` column name
    for chords. Postcomps that reference ``now`` with no resolution
    available fail loudly rather than leaking the placeholder."""
    if not plan.postcomps and not plan.hidden:
        return df
    from pyspark.sql import functions as F

    for name, e in plan.postcomps:
        if NOW_TOKEN in e:
            if now_sql is None:
                raise ValueError(
                    f"postcomp {name!r} references `now` but this "
                    "evaluation path has no query time to substitute"
                )
            e = e.replace(NOW_TOKEN, f"({now_sql})")
        df = df.withColumn(name, F.expr(e))
    names = set(n for f in plan.features for n in (f.name,)) | {
        n for n, _ in plan.postcomps
    }
    lead = [c for c in df.columns if c not in names]
    return df.select(*lead, *plan.output_names())


def substitute_binds(e: str, binds: dict[str, str]) -> str:
    """Replace each bind name in the Spark SQL string ``e`` by its
    parenthesized expression (whole words, outside quote-adjacent
    text)."""
    import re

    for b, be in binds.items():
        e = re.sub(rf"(?<![\w']){re.escape(b)}(?![\w'])", f"({be})", e)
    return e


def eval_expr(expr: ExprLike, pdf: pd.DataFrame) -> pd.Series:
    """An element expression over a pandas block: a callable, or the
    name of a column of the block (a fact, projected, bind or scan
    column — ``project_exprs`` has already evaluated every Spark SQL
    string JVM-side)."""
    if callable(expr):
        return expr(pdf)
    if expr in pdf.columns:
        return pdf[expr]
    raise ValueError(
        f"element expression {expr!r} is not a column of the block; "
        "strings are Spark SQL and must be projected before a Python "
        "executor runs (plans.executor.project_exprs)"
    )


def apply_scans(f: "Feature", fr: pd.DataFrame) -> pd.DataFrame:
    """Add the feature's `scan` bind columns to a SINGLE-ENTITY,
    time-ordered frame: each bind is the inclusive running fold of its
    element expression (Query/Context.hs:33 LetScan). Values are
    float64 to match the vectorized executor's cumulative kernels."""
    if not f.scans:
        return fr
    fr = fr.copy()
    n = len(fr)
    for sname, sagg, sexpr in f.scans:
        sv = eval_expr(sexpr, fr)
        if sagg is Agg.SUM:
            run = sv.cumsum()
        elif sagg is Agg.COUNT:
            run = pd.Series(np.arange(1, n + 1), index=fr.index)
        elif sagg is Agg.MIN:
            run = sv.cummin()
        elif sagg is Agg.MAX:
            run = sv.cummax()
        elif sagg is Agg.MEAN:
            run = sv.cumsum() / np.arange(1, n + 1)
        elif sagg == "second_last":
            run = sv.shift(1)  # previous element (t06.01 :let)
        else:
            raise ValueError(f"scan does not support aggregate {sagg!r}")
        fr[sname] = run.astype("float64") if n else run
    return fr


def apply_filter_let(
    f: Feature, pdf: pd.DataFrame
) -> tuple[pd.DataFrame, "np.ndarray | None"]:
    """Pandas-side `filter let Some b = e`: extend a fact block with
    the feature's binds and return ``(frame, keep_mask)`` where
    keep_mask marks facts whose every bind matched ``Some`` (non-null).
    Returns ``(pdf, None)`` when the feature has no binds."""
    if not f.filter_let:
        return pdf, None
    pdf = pdf.copy()
    mask = np.ones(len(pdf), dtype=bool)
    for b, e in f.filter_let:
        if b in pdf.columns:
            raise ValueError(f"filter_let bind {b!r} shadows a fact column")
        s = eval_expr(e, pdf)
        pdf[b] = s
        mask &= s.notna().to_numpy()
    return pdf, mask

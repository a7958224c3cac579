"""The Catalyst fold table: one partial state, merge and finalize per
fold, shared by every Catalyst path that aggregates.

A Core fold in the reference is an init/step/output triple whose
accumulator can be persisted and resumed (the reference's
doc/internals/core.md:129-148). Here each ``Agg``,
and the latest-N frame, is written once as

* ``state(f, plan, cond, qt)`` — an aggregate over fact rows giving
  the partial accumulator of the ``cond`` rows, as a struct;
* ``merge(f, c)`` — an aggregate over a column of states giving one
  state of the same layout;
* ``finalize(f, st)`` — the feature value of a state, Possibly poison
  included. A null state (no rows at all) finalizes to the fold's
  empty value, ``EMPTY`` (reference Core/Eval/Stream.hs:76-99).

Everything here is Spark SQL text: arguments (``cond``, ``qt``, the
element and state columns) and results are SQL strings, and lambdas
are SQL lambdas (``x -> ...``). A caller hands each finished string to
the JVM once (``F.expr`` or ``selectExpr``); building the same
expression as a tree of ``Column`` objects costs one py4j round trip
per node. Every identifier is backtick-quoted by ``ident``; element
strings are Spark SQL already and are embedded as ``(expr)``.

Its consumers: native's fold aggregate (``state`` per key), native's
latest-N frames (``state`` per key over the top N rows of a
grouped-limit window), ``resume.fold_states`` (``state`` per entity:
the checkpoint), ``resume.resume_plan`` (the checkpoint rows
unioned with the increment's states, then ``merge``) and
``streaming.stream_fold`` (``state`` per entity in a streaming
aggregate; Spark merges the micro-batches' buffers in its state
store). Each finalizes last.

States (p: a null element was seen, the Possibly poison):

    SUM, DECAYED_SUM (s, p)   COUNT (c, p)    MEAN (s, c, p)
    MIN/MAX (m, p)            ANY/ALL (b, p)  NEWEST/OLDEST (k, v, p)
    VARIANCE/SD (n, mean, m2, p)       # Chan's pairwise merge
    NUMFLIPS (first, last, k, p)       # merged in time order
    latest-N (arr)                     # poison read off the frame

(time, seq) orders every pick. NEWEST/OLDEST keep it as the flat key
``k`` (``_order_key``) next to the value ``v``, so their buffers stay
mutable; ``first``, ``last`` and the frame's elements are (t, q, v)
structs (NUMFLIPS rows arrive sorted by their helper window, so a
sort aggregate over them sorts nothing more). A DECAYED_SUM state is the
weighted sum as at its own query time; ``rebase`` moves it to a later
one. NUMFLIPS states need the ``__prev_<name>`` column (the previous
visible value in stream order) on the rows they aggregate.
"""

from __future__ import annotations

import math
from typing import Any

from icicle_spark.plans.ir import Agg, Feature, Plan

# empty-fold values; every other fold is null over no facts
EMPTY: dict[Agg, Any] = {
    Agg.SUM: 0.0, Agg.DECAYED_SUM: 0.0, Agg.COUNT: 0, Agg.ANY: False,
    Agg.ALL: True, Agg.NUMFLIPS: 0,
}

_SCALAR = {
    Agg.SUM, Agg.COUNT, Agg.MEAN, Agg.MIN, Agg.MAX, Agg.NEWEST, Agg.OLDEST,
    Agg.ANY, Agg.ALL, Agg.VARIANCE, Agg.SD, Agg.NUMFLIPS, Agg.DECAYED_SUM,
}
# folds a latest-N frame finalizes (the frame itself is the state)
_FRAME = _SCALAR - {Agg.DECAYED_SUM} | {
    Agg.COUNT_DISTINCT, Agg.DISTINCT_VALUES, Agg.MAX_BY, Agg.MIN_BY,
}


def has_state(f: Feature) -> bool:
    """Whether the table folds ``f`` (group/distinct contexts aside)."""
    return isinstance(f.agg, Agg) and f.agg in (
        _FRAME if f.latest is not None else _SCALAR
    )


def ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def lit(v: bool | float) -> str:
    """A Python bool or float as a typed SQL literal (floats are
    DOUBLE, as ``F.lit`` makes them; ``0.0`` alone would be a decimal)."""
    if isinstance(v, bool):
        return "true" if v else "false"
    return f"{v!r}D"


def _lam(f: Feature) -> float:
    return math.log(2.0) / (float(f.half_life_days) * 86_400.0)


def _seconds(later: str, earlier: str) -> str:
    return (
        f"CAST(unix_micros(CAST({later} AS TIMESTAMP))"
        f" - unix_micros(CAST({earlier} AS TIMESTAMP)) AS DOUBLE) / 1000000D"
    )


def _order_key(plan: Plan) -> str:
    """Stream order (time, seq) as one scalar: the time in microseconds,
    or with a seq column t_us * 10^20 + seq as a decimal(38, 0). A pick
    by a scalar key keeps every aggregation buffer mutable, so Spark
    plans a hash aggregate (a struct buffer forces a sort aggregate)."""
    t_us = f"unix_micros(CAST({ident(plan.time_col)} AS TIMESTAMP))"
    if not plan.seq_col:
        return t_us
    return (
        f"CAST({t_us} AS DECIMAL(38,0)) * CAST(1e20 AS DECIMAL(38,0))"
        f" + CAST({ident(plan.seq_col)} AS DECIMAL(38,0))"
    )


def _tqv(plan: Plan, v: str, **more: str) -> str:
    q = ident(plan.seq_col) if plan.seq_col else "CAST(0 AS BIGINT)"
    return _struct(t=ident(plan.time_col), q=q, v=v, **more)


def _tail(arr: str, n: int) -> str:
    """Last n elements of an array (safe when it is shorter)."""
    return f"slice({arr}, greatest(size({arr}) - {n - 1}, 1), {n})"


def _struct(**fields: str) -> str:
    return "named_struct(" + ", ".join(
        f"'{k}', {v}" for k, v in fields.items()
    ) + ")"


def state(
    f: Feature, plan: Plan, cond: str, qt: str,
    x: str | None = None, merge_key: bool = True,
) -> str:
    """Partial accumulator of ``f`` over the ``cond`` rows. ``x`` is
    the element (default: ``f.expr``). ``merge_key=False`` leaves out
    the NEWEST/OLDEST order key ``k``, which only ``merge`` reads: for
    a state that is finalized as it is."""
    x = f"({f.expr})" if x is None else x
    if f.latest is not None:
        keep = f"({cond}) AND {x} IS NOT NULL" if f.skip_nulls else cond
        row = _tqv(plan, x, **({} if f.by is None else {"b": f"({f.by})"}))
        arr = f"array_sort(collect_list(CASE WHEN {keep} THEN {row} END))"
        return _struct(arr=_tail(arr, f.latest))
    seen = f"({cond}) AND {x} IS NOT NULL"
    xv = f"CASE WHEN {seen} THEN {x} END"
    p = (
        "false" if f.skip_nulls
        else f"coalesce(bool_or(({cond}) AND {x} IS NULL), false)"
    )
    agg = f.agg
    if agg is Agg.SUM:
        fields = {"s": f"sum({xv})"}
    elif agg is Agg.DECAYED_SUM:
        w = f"exp({lit(-_lam(f))} * ({_seconds(qt, ident(plan.time_col))}))"
        fields = {"s": f"sum(CAST({xv} AS DOUBLE) * {w})"}
    elif agg is Agg.COUNT:
        fields = {"c": f"count({xv})"}
    elif agg is Agg.MEAN:
        fields = {"s": f"sum({xv})", "c": f"count({xv})"}
    elif agg in (Agg.MIN, Agg.MAX):
        fields = {"m": f"{'min' if agg is Agg.MIN else 'max'}({xv})"}
    elif agg in (Agg.ANY, Agg.ALL):
        pick = "bool_or" if agg is Agg.ANY else "bool_and"
        fields = {"b": f"{pick}(CAST({xv} AS BOOLEAN))"}
    elif agg in (Agg.NEWEST, Agg.OLDEST):
        fields = _pick(agg, x, f"CASE WHEN {seen} THEN {_order_key(plan)} END")
        if not merge_key:
            del fields["k"]
    elif agg in (Agg.VARIANCE, Agg.SD):
        xd = f"CAST({xv} AS DOUBLE)"
        fields = {
            "n": f"count({xd})", "mean": f"avg({xd})",
            "m2": f"var_pop({xd}) * count({xd})",
        }
    elif agg is Agg.NUMFLIPS:
        prev = ident(f"__prev_{f.name}")
        flip = (
            f"CASE WHEN ({cond}) AND {prev} IS NOT NULL AND {x} != {prev}"
            " THEN 1 ELSE 0 END"
        )
        tqv = f"CASE WHEN {seen} THEN {_tqv(plan, x)} END"
        fields = {
            "first": f"min({tqv})", "last": f"max({tqv})",
            "k": f"CAST(sum({flip}) AS BIGINT)",
        }
    else:  # pragma: no cover — has_state gates every caller
        raise ValueError(f"no fold state for {agg}")
    return _struct(**fields, p=p)


def _pick(agg: Agg, v: str, key: str) -> dict[str, str]:
    """NEWEST/OLDEST state fields: the extreme order key and the value
    at it."""
    ext, by = ("max", "max_by") if agg is Agg.NEWEST else ("min", "min_by")
    return {"k": f"{ext}({key})", "v": f"{by}({v}, {key})"}


def _fold(states: str, step: str) -> str:
    """Left fold of a non-empty array of states with the SQL lambda
    ``step`` over ``__a`` and ``__b``; null on an empty array."""
    return (
        f"aggregate(slice({states}, 2, size({states})),"
        f" try_element_at({states}, 1), (__a, __b) -> {step})"
    )


def _pick_nonempty(both: str, field: str) -> str:
    return (
        f"CASE WHEN __b.n = 0 THEN __a.{field} WHEN __a.n = 0"
        f" THEN __b.{field} ELSE {both} END"
    )


# Chan's pairwise update of (n, mean, m2), as Spark's own
# CentralMomentAgg merges partial buffers
_CHAN = _struct(
    n="__a.n + __b.n",
    mean=_pick_nonempty(
        "__a.mean + (__b.mean - __a.mean) * (__b.n / (__a.n + __b.n))", "mean"
    ),
    m2=_pick_nonempty(
        "__a.m2 + __b.m2 + (__b.mean - __a.mean) * (__b.mean - __a.mean)"
        " * __a.n * (__b.n / (__a.n + __b.n))",
        "m2",
    ),
    p="__a.p OR __b.p",
)

# concatenate two time-ordered NUMFLIPS partials: a flip at the seam
# when a's last value differs from b's first
_FLIPS = _struct(
    first="coalesce(__a.`first`, __b.`first`)",
    last="coalesce(__b.`last`, __a.`last`)",
    k="__a.k + __b.k"
    " + CASE WHEN __a.`last`.v != __b.`first`.v THEN 1 ELSE 0 END",
    p="__a.p OR __b.p",
)


def merge(f: Feature, c: str) -> str:
    """Aggregate a column of ``f``'s states into one state."""
    if f.latest is not None:
        arr = f"array_sort(flatten(collect_list({c}.arr)))"
        return _struct(arr=_tail(arr, f.latest))
    agg = f.agg
    if agg in (Agg.VARIANCE, Agg.SD):
        return _fold(f"collect_list({c})", _CHAN)
    if agg is Agg.NUMFLIPS:
        # partials are time-disjoint: order them by their first fact
        return _fold(f"array_sort(collect_list({c}))", _FLIPS)
    if agg in (Agg.SUM, Agg.DECAYED_SUM):
        fields = {"s": f"sum({c}.s)"}
    elif agg is Agg.COUNT:
        fields = {"c": f"sum({c}.c)"}
    elif agg is Agg.MEAN:
        fields = {"s": f"sum({c}.s)", "c": f"sum({c}.c)"}
    elif agg in (Agg.MIN, Agg.MAX):
        fields = {"m": f"{'min' if agg is Agg.MIN else 'max'}({c}.m)"}
    elif agg in (Agg.ANY, Agg.ALL):
        pick = "bool_or" if agg is Agg.ANY else "bool_and"
        fields = {"b": f"{pick}({c}.b)"}
    elif agg in (Agg.NEWEST, Agg.OLDEST):
        fields = _pick(agg, f"{c}.v", f"{c}.k")
    else:  # pragma: no cover
        raise ValueError(f"no fold state for {agg}")
    return _struct(**fields, p=f"coalesce(bool_or({c}.p), false)")


def rebase(f: Feature, st: str, at: str, qt: str) -> str:
    """Move a state computed as at ``at`` to the later query time
    ``qt``: a decayed sum decays by e^(-lam * (qt - at)); every other
    state is time-free."""
    if f.agg is not Agg.DECAYED_SUM or f.latest is not None:
        return st
    decay = f"exp({lit(-_lam(f))} * ({_seconds(qt, at)}))"
    return _struct(s=f"{st}.s * {decay}", p=f"{st}.p")


def finalize(f: Feature, st: str) -> str:
    """The value of ``f`` from its state (null state: the empty fold)."""
    if f.latest is not None:
        return _finalize_frame(f, f"{st}.arr")
    agg = f.agg
    if agg in (Agg.SUM, Agg.DECAYED_SUM, Agg.ANY, Agg.ALL):
        field = "s" if agg in (Agg.SUM, Agg.DECAYED_SUM) else "b"
        out = f"coalesce({st}.{field}, {lit(EMPTY[agg])})"
    elif agg in (Agg.COUNT, Agg.NUMFLIPS):
        field = "c" if agg is Agg.COUNT else "k"
        out = f"coalesce({st}.{field}, CAST({EMPTY[agg]} AS BIGINT))"
    elif agg is Agg.MEAN:
        out = f"CASE WHEN {st}.c > 0 THEN {st}.s / {st}.c END"
    elif agg in (Agg.MIN, Agg.MAX):
        out = f"{st}.m"
    elif agg in (Agg.NEWEST, Agg.OLDEST):
        out = f"{st}.v"
    elif agg in (Agg.VARIANCE, Agg.SD):
        var = f"CASE WHEN {st}.n > 1 THEN {st}.m2 / ({st}.n - 1) END"
        out = f"sqrt({var})" if agg is Agg.SD else var
    else:  # pragma: no cover
        raise ValueError(f"no fold state for {agg}")
    if not f.skip_nulls:
        out = f"CASE WHEN coalesce({st}.p, false) THEN NULL ELSE {out} END"
    return out


def _finalize_frame(f: Feature, arr: str) -> str:
    """Fold a latest-N frame (oldest first) into the feature value; in
    Possibly mode a null element inside the frame poisons it."""
    arr = f"coalesce({arr}, array())"
    vs = f"transform({arr}, __e -> __e.v)"
    n = f"size({arr})"
    dsum = f"aggregate({vs}, 0.0D, (__s, __v) -> __s + CAST(__v AS DOUBLE))"
    agg = f.agg
    if agg is Agg.SUM:
        out = f"coalesce({dsum}, 0.0D)"
    elif agg is Agg.COUNT:
        out = f"CAST(size(filter({vs}, __v -> __v IS NOT NULL)) AS BIGINT)"
    elif agg is Agg.MEAN:
        out = f"CASE WHEN {n} > 0 THEN {dsum} / {n} END"
    elif agg in (Agg.MIN, Agg.MAX):
        out = f"{'array_min' if agg is Agg.MIN else 'array_max'}({vs})"
    elif agg in (Agg.NEWEST, Agg.OLDEST):
        at = -1 if agg is Agg.NEWEST else 1
        out = f"CASE WHEN {n} > 0 THEN element_at({arr}, {at}).v END"
    elif agg in (Agg.VARIANCE, Agg.SD):
        # two passes over at most N values: the mean, then squared
        # deviations from it (no cancellation at large offsets)
        d = f"(CAST(__w AS DOUBLE) - {dsum} / {n})"
        m2 = f"aggregate({vs}, 0.0D, (__m, __w) -> __m + {d} * {d})"
        var = f"CASE WHEN {n} > 1 THEN {m2} / ({n} - 1) END"
        out = f"sqrt({var})" if agg is Agg.SD else var
    elif agg in (Agg.ANY, Agg.ALL):
        test = "exists" if agg is Agg.ANY else "forall"
        out = (
            f"coalesce({test}({vs}, __v -> CAST(__v AS BOOLEAN)),"
            f" {lit(EMPTY[agg])})"
        )
    elif agg is Agg.COUNT_DISTINCT:
        out = (
            f"CAST(size(array_distinct(filter({vs}, __v -> __v IS NOT NULL)))"
            " AS BIGINT)"
        )
    elif agg is Agg.DISTINCT_VALUES:
        out = (
            f"array_sort(array_distinct("
            f"transform({vs}, __v -> CAST(__v AS STRING))))"
        )
    elif agg in (Agg.MAX_BY, Agg.MIN_BY):
        ext = "array_max" if agg is Agg.MAX_BY else "array_min"
        target = f"{ext}(transform({arr}, __y -> __y.b))"
        out = f"try_element_at(filter({arr}, __x -> __x.b = {target}), 1).v"
    elif agg is Agg.NUMFLIPS:
        step = (
            "named_struct('prev', CAST(__v AS STRING), 'k',"
            " CASE WHEN __c.prev IS NOT NULL AND CAST(__v AS STRING) != __c.prev"
            " THEN __c.k + 1 ELSE __c.k END)"
        )
        out = (
            f"CAST(aggregate({vs}, named_struct('prev', CAST(NULL AS STRING),"
            f" 'k', 0), (__c, __v) -> {step}).k AS BIGINT)"
        )
    else:  # pragma: no cover
        raise ValueError(f"latest does not fold {agg}")
    if not f.skip_nulls:
        out = f"CASE WHEN exists({vs}, __v -> __v IS NULL) THEN NULL ELSE {out} END"
    return out

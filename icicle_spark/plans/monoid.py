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

Its consumers: native's single-stage aggregate (``state`` per key),
native's salted two-stage aggregate (``state`` per (key, salt), then
``merge`` per key), ``resume.fold_states`` (``state`` per entity: the
checkpoint) and ``resume.resume_plan`` (the checkpoint rows unioned
with the increment's states, then ``merge``). Each finalizes last.

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
from typing import Any, Callable

from pyspark.sql import Column, functions as F

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


def _lam(f: Feature) -> float:
    return math.log(2.0) / (float(f.half_life_days) * 86_400.0)


def _seconds(later: Column, earlier: Column) -> Column:
    return (
        F.unix_micros(later.cast("timestamp"))
        - F.unix_micros(earlier.cast("timestamp"))
    ).cast("double") / F.lit(1e6)


def _order_key(plan: Plan) -> Column:
    """Stream order (time, seq) as one scalar: the time in microseconds,
    or with a seq column t_us * 10^20 + seq as a decimal(38, 0). A pick
    by a scalar key keeps every aggregation buffer mutable, so Spark
    plans a hash aggregate (a struct buffer forces a sort aggregate)."""
    t_us = F.unix_micros(F.col(plan.time_col).cast("timestamp"))
    if not plan.seq_col:
        return t_us
    return t_us.cast("decimal(38,0)") * F.expr(
        "CAST(1e20 AS DECIMAL(38,0))"
    ) + F.col(plan.seq_col).cast("decimal(38,0)")


def _tqv(plan: Plan, v: Column) -> Column:
    q = F.col(plan.seq_col) if plan.seq_col else F.lit(0).cast("bigint")
    return F.struct(
        F.col(plan.time_col).alias("t"), q.alias("q"), v.alias("v")
    )


def _tail(arr: Column, n: int) -> Column:
    """Last n elements of an array (safe when it is shorter)."""
    return F.slice(arr, F.greatest(F.size(arr) - (n - 1), F.lit(1)), n)


def state(
    f: Feature, plan: Plan, cond: Column, qt: Column,
    x: Column | None = None, merge_key: bool = True,
) -> Column:
    """Partial accumulator of ``f`` over the ``cond`` rows. ``x`` is
    the element column (default: ``f.expr``). ``merge_key=False`` leaves
    out the NEWEST/OLDEST order key ``k``, which only ``merge`` reads:
    for a state that is finalized as it is."""
    x = F.expr(f.expr) if x is None else x
    if f.latest is not None:
        keep = cond & x.isNotNull() if f.skip_nulls else cond
        row = _tqv(plan, x)
        if f.by is not None:
            row = row.withField("b", F.expr(f.by))
        arr = _tail(F.array_sort(F.collect_list(F.when(keep, row))), f.latest)
        return F.struct(arr.alias("arr"))
    seen = cond & x.isNotNull()
    xv = F.when(seen, x)
    p = (
        F.lit(False) if f.skip_nulls
        else F.coalesce(F.bool_or(cond & x.isNull()), F.lit(False))
    )
    agg = f.agg
    if agg is Agg.SUM:
        fields = [F.sum(xv).alias("s")]
    elif agg is Agg.DECAYED_SUM:
        w = F.exp(-F.lit(_lam(f)) * _seconds(qt, F.col(plan.time_col)))
        fields = [F.sum(xv.cast("double") * w).alias("s")]
    elif agg is Agg.COUNT:
        fields = [F.count(xv).alias("c")]
    elif agg is Agg.MEAN:
        fields = [F.sum(xv).alias("s"), F.count(xv).alias("c")]
    elif agg in (Agg.MIN, Agg.MAX):
        fields = [(F.min if agg is Agg.MIN else F.max)(xv).alias("m")]
    elif agg in (Agg.ANY, Agg.ALL):
        pick = F.bool_or if agg is Agg.ANY else F.bool_and
        fields = [pick(xv.cast("boolean")).alias("b")]
    elif agg in (Agg.NEWEST, Agg.OLDEST):
        key = F.when(seen, _order_key(plan))
        k, v = _pick(agg, x, key)
        fields = [k, v] if merge_key else [v]
    elif agg in (Agg.VARIANCE, Agg.SD):
        xd = xv.cast("double")
        fields = [
            F.count(xd).alias("n"), F.avg(xd).alias("mean"),
            (F.var_pop(xd) * F.count(xd)).alias("m2"),
        ]
    elif agg is Agg.NUMFLIPS:
        prev = F.col(f"__prev_{f.name}")
        flip = F.when(cond & prev.isNotNull() & (x != prev), 1).otherwise(0)
        tqv = F.when(seen, _tqv(plan, x))
        fields = [
            F.min(tqv).alias("first"), F.max(tqv).alias("last"),
            F.sum(flip).cast("bigint").alias("k"),
        ]
    else:  # pragma: no cover — has_state gates every caller
        raise ValueError(f"no fold state for {agg}")
    return F.struct(*fields, p.alias("p"))


def _pick(agg: Agg, v: Column, key: Column) -> list[Column]:
    """NEWEST/OLDEST state fields: the extreme order key and the value
    at it."""
    ext, by = (F.max, F.max_by) if agg is Agg.NEWEST else (F.min, F.min_by)
    return [ext(key).alias("k"), by(v, key).alias("v")]


def _fold(states: Column, step: Callable[[Column, Column], Column]) -> Column:
    """Left fold of a non-empty array of states with ``step``; null on
    an empty array."""
    return F.aggregate(
        F.slice(states, 2, F.size(states)),
        F.try_element_at(states, F.lit(1)),
        step,
    )


def _chan(a: Column, b: Column) -> Column:
    """Chan's pairwise update of (n, mean, m2), as Spark's own
    CentralMomentAgg merges partial buffers."""
    n = a["n"] + b["n"]
    d = b["mean"] - a["mean"]
    w = b["n"] / n

    def pick(both: Column, field: str) -> Column:
        return (
            F.when(b["n"] == 0, a[field]).when(a["n"] == 0, b[field])
            .otherwise(both)
        )

    return F.struct(
        n.alias("n"),
        pick(a["mean"] + d * w, "mean").alias("mean"),
        pick(a["m2"] + b["m2"] + d * d * a["n"] * w, "m2").alias("m2"),
        (a["p"] | b["p"]).alias("p"),
    )


def _flips(a: Column, b: Column) -> Column:
    """Concatenate two time-ordered NUMFLIPS partials: a flip at the
    seam when a's last value differs from b's first."""
    seam = F.when(a["last"]["v"] != b["first"]["v"], 1).otherwise(0)
    return F.struct(
        F.coalesce(a["first"], b["first"]).alias("first"),
        F.coalesce(b["last"], a["last"]).alias("last"),
        (a["k"] + b["k"] + seam).alias("k"),
        (a["p"] | b["p"]).alias("p"),
    )


def merge(f: Feature, c: Column) -> Column:
    """Aggregate a column of ``f``'s states into one state."""
    if f.latest is not None:
        arr = F.array_sort(F.flatten(F.collect_list(c["arr"])))
        return F.struct(_tail(arr, f.latest).alias("arr"))
    agg = f.agg
    if agg in (Agg.VARIANCE, Agg.SD):
        return _fold(F.collect_list(c), _chan)
    if agg is Agg.NUMFLIPS:
        # partials are time-disjoint: order them by their first fact
        return _fold(F.array_sort(F.collect_list(c)), _flips)
    if agg in (Agg.SUM, Agg.DECAYED_SUM):
        fields = [F.sum(c["s"]).alias("s")]
    elif agg is Agg.COUNT:
        fields = [F.sum(c["c"]).alias("c")]
    elif agg is Agg.MEAN:
        fields = [F.sum(c["s"]).alias("s"), F.sum(c["c"]).alias("c")]
    elif agg in (Agg.MIN, Agg.MAX):
        fields = [(F.min if agg is Agg.MIN else F.max)(c["m"]).alias("m")]
    elif agg in (Agg.ANY, Agg.ALL):
        pick = F.bool_or if agg is Agg.ANY else F.bool_and
        fields = [pick(c["b"]).alias("b")]
    elif agg in (Agg.NEWEST, Agg.OLDEST):
        fields = _pick(agg, c["v"], c["k"])
    else:  # pragma: no cover
        raise ValueError(f"no fold state for {agg}")
    p = F.coalesce(F.bool_or(c["p"]), F.lit(False))
    return F.struct(*fields, p.alias("p"))


def rebase(f: Feature, st: Column, at: Column, qt: Column) -> Column:
    """Move a state computed as at ``at`` to the later query time
    ``qt``: a decayed sum decays by e^(-lam * (qt - at)); every other
    state is time-free."""
    if f.agg is not Agg.DECAYED_SUM or f.latest is not None:
        return st
    decay = F.exp(-F.lit(_lam(f)) * _seconds(qt, at))
    return st.withField("s", st["s"] * decay)


def finalize(f: Feature, st: Column) -> Column:
    """The value of ``f`` from its state (null state: the empty fold)."""
    if f.latest is not None:
        return _finalize_frame(f, st["arr"])
    agg = f.agg
    if agg in (Agg.SUM, Agg.DECAYED_SUM):
        out = F.coalesce(st["s"], F.lit(EMPTY[agg]))
    elif agg is Agg.COUNT:
        out = F.coalesce(st["c"], F.lit(EMPTY[agg]).cast("bigint"))
    elif agg is Agg.MEAN:
        out = F.when(st["c"] > 0, st["s"] / st["c"])
    elif agg in (Agg.MIN, Agg.MAX):
        out = st["m"]
    elif agg in (Agg.NEWEST, Agg.OLDEST):
        out = st["v"]
    elif agg in (Agg.ANY, Agg.ALL):
        out = F.coalesce(st["b"], F.lit(EMPTY[agg]))
    elif agg in (Agg.VARIANCE, Agg.SD):
        var = F.when(st["n"] > 1, st["m2"] / (st["n"] - 1))
        out = F.sqrt(var) if agg is Agg.SD else var
    elif agg is Agg.NUMFLIPS:
        out = F.coalesce(st["k"], F.lit(EMPTY[agg]).cast("bigint"))
    else:  # pragma: no cover
        raise ValueError(f"no fold state for {agg}")
    if not f.skip_nulls:
        out = F.when(F.coalesce(st["p"], F.lit(False)), F.lit(None)).otherwise(out)
    return out


def _finalize_frame(f: Feature, arr: Column) -> Column:
    """Fold a latest-N frame (oldest first) into the feature value; in
    Possibly mode a null element inside the frame poisons it."""
    arr = F.coalesce(arr, F.array())
    vs = F.transform(arr, lambda x: x["v"])
    n = F.size(arr)
    dsum = F.aggregate(vs, F.lit(0.0), lambda a, v: a + v.cast("double"))
    agg = f.agg
    if agg is Agg.SUM:
        out = F.coalesce(dsum, F.lit(0.0))
    elif agg is Agg.COUNT:
        out = F.size(F.filter(vs, lambda v: v.isNotNull())).cast("bigint")
    elif agg is Agg.MEAN:
        out = F.when(n > 0, dsum / n)
    elif agg in (Agg.MIN, Agg.MAX):
        out = (F.array_min if agg is Agg.MIN else F.array_max)(vs)
    elif agg is Agg.NEWEST:
        out = F.when(n > 0, F.element_at(arr, -1)["v"])
    elif agg is Agg.OLDEST:
        out = F.when(n > 0, F.element_at(arr, 1)["v"])
    elif agg in (Agg.VARIANCE, Agg.SD):
        # two passes over at most N values: the mean, then squared
        # deviations from it (no cancellation at large offsets)
        mean = dsum / n
        m2 = F.aggregate(
            vs, F.lit(0.0),
            lambda a, v: a + (v.cast("double") - mean) * (v.cast("double") - mean),
        )
        var = F.when(n > 1, m2 / (n - 1))
        out = F.sqrt(var) if agg is Agg.SD else var
    elif agg in (Agg.ANY, Agg.ALL):
        test = F.exists if agg is Agg.ANY else F.forall
        out = F.coalesce(test(vs, lambda v: v.cast("boolean")), F.lit(EMPTY[agg]))
    elif agg is Agg.COUNT_DISTINCT:
        out = F.size(
            F.array_distinct(F.filter(vs, lambda v: v.isNotNull()))
        ).cast("bigint")
    elif agg is Agg.DISTINCT_VALUES:
        out = F.array_sort(
            F.array_distinct(F.transform(vs, lambda v: v.cast("string")))
        )
    elif agg in (Agg.MAX_BY, Agg.MIN_BY):
        bs = F.transform(arr, lambda x: x["b"])
        target = F.array_max(bs) if agg is Agg.MAX_BY else F.array_min(bs)
        out = F.try_element_at(
            F.filter(arr, lambda x: x["b"] == target), F.lit(1)
        )["v"]
    elif agg is Agg.NUMFLIPS:
        pair = F.aggregate(
            vs,
            F.struct(F.lit(None).cast("string").alias("prev"), F.lit(0).alias("k")),
            lambda acc, v: F.struct(
                v.cast("string").alias("prev"),
                F.when(
                    acc["prev"].isNotNull() & (v.cast("string") != acc["prev"]),
                    acc["k"] + 1,
                ).otherwise(acc["k"]).alias("k"),
            ),
        )
        out = pair["k"].cast("bigint")
    else:  # pragma: no cover
        raise ValueError(f"latest does not fold {agg}")
    if not f.skip_nulls:
        out = F.when(F.exists(vs, lambda v: v.isNull()), F.lit(None)).otherwise(out)
    return out

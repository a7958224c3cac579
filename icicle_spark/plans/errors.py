"""Error64 code vectors — the reference's per-output error channel.

The reference never collapses "no value" into one null: every output
carries an Error64 beside it
(icicle-compiler/src/Icicle/Runtime/Data/Primitive.hs:212-233,
IO.hs:181-196 — the per-fact ``inputTombstone`` vector feeds it):

====  =============  ====================================================
code  name           meaning here
====  =============  ====================================================
0     NotAnError     value computed normally (fold inits included)
1     Tombstone      a visible TOMBSTONED fact poisoned the fold
                     (only reachable with ``skip_nulls=False``)
2     Fold1NoValue   a fold1-seeded aggregate saw zero elements
                     (newest/oldest/mean/min/max/…, CustomFold(init=None))
3     CannotCompute  a visible null element that is NOT a tombstone —
                     i.e. a Possibly computation error (safe_div by 0,
                     log of a negative, …) — poisoned the fold
====  =============  ====================================================

``error_codes`` is a standalone Catalyst pass: one groupBy over the
visible facts with conditional aggregates per feature (map-side
combine, no Python), emitting ``<name>_err: int`` per entity (or per
entity x query_time under chords). ``run_plan(..., error_codes=True)``
joins it onto the feature output. Keeping it a separate pass keeps the
value compilers simple and costs one extra scan ONLY when auditing is
requested.

Expression strings must be Spark-SQL syntax (same contract as
plans.native).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from icicle_spark.plans.ir import Agg, CustomFold, Feature, Plan
from icicle_spark.plans.monoid import ident
from icicle_spark.plans.native import (
    _order_cols,
    _visibility,
    _with_binds,
    snapshot_sql,
)

ERR_OK = 0
ERR_TOMBSTONE = 1
ERR_FOLD1_NO_VALUE = 2
ERR_CANNOT_COMPUTE = 3

# aggregates with no unit/init value: empty stream => Fold1NoValue
# (sum/count/any/all/numflips/count_distinct/decayed_sum fold from a
# unit init instead — reference Core/Eval/Stream.hs empty-fold path)
_FOLD1_AGGS = {
    Agg.NEWEST, Agg.OLDEST, Agg.MEAN, Agg.MIN, Agg.MAX,
    Agg.VARIANCE, Agg.SD, Agg.MAX_BY, Agg.MIN_BY,
}


def _is_fold1(f: Feature) -> bool:
    if isinstance(f.agg, CustomFold):
        return f.agg.init is None
    return f.agg in _FOLD1_AGGS


def _expr(f: Feature) -> Column:
    if not isinstance(f.expr, str):
        raise ValueError(
            f"feature {f.name}: error_codes needs a Spark-SQL expr string"
        )
    return F.expr(f.expr)


def _overflow(f: Feature, frame: Column, bound: int) -> Column | None:
    """maxMapSize overflow probe (reference Melt bounds, repl t03/t60.1
    `:set max-map-size`): the bounded-state fold errors when its
    Data.Map exceeds the bound, and the value backends surface that as
    a null — which must read CannotCompute, not OK ("codes explain
    every null"). Exact for `group k` and the first `distinct k`
    stage; group-scoped distinct bounds are per key and stay
    unflagged here (the value backends still null them)."""
    key = None
    if f.group is not None and not f.distinct:
        key = f.group
    elif f.distinct is not None and f.group is None:
        key = f.distinct[0] if isinstance(f.distinct, list) else f.distinct
    if key is None or not isinstance(key, str):
        return None
    return (
        F.count_distinct(F.when(frame, F.expr(key))) > F.lit(bound)
    )


def _err_col(
    f: Feature, tomb: Column, frame: Column, bound: int | None = None
) -> Column:
    """Error64 for one feature from conditional aggregates over its
    visible (and latest-N-framed) elements."""
    ex = _expr(f)
    over = _overflow(f, frame, bound) if bound is not None else None
    if f.group is not None or f.distinct is not None:
        # whole-map Possibly semantics: a null KEY poisons too
        # (chained distincts carry a LIST of keys — any null poisons)
        kexprs = (
            [f.group] if f.group is not None
            else f.distinct if isinstance(f.distinct, list)
            else [f.distinct]
        )
        null_elem = ex.isNull()
        for ke in kexprs:
            null_elem = null_elem | F.expr(ke).isNull()
    else:
        null_elem = ex.isNull()
    if f.skip_nulls:
        # nulls (tombstones AND possibly-errors) are dropped before the
        # fold sees them — only the empty-stream case remains. Count
        # tombstoned facts as dropped even when their RAW expr value is
        # non-null: the value backends null every non-key column on a
        # tombstoned fact before skip_nulls applies, so an
        # all-tombstone frame yields a null fold1 value and must carry
        # ERR_FOLD1_NO_VALUE ("codes explain every null").
        n_vis = F.sum(F.when(frame & ~null_elem & ~tomb, 1).otherwise(0))
        out0 = F.lit(ERR_OK)
        if _is_fold1(f):
            out0 = F.when(
                F.coalesce(n_vis, F.lit(0)) == 0, F.lit(ERR_FOLD1_NO_VALUE)
            ).otherwise(F.lit(ERR_OK))
        if over is not None:
            out0 = F.when(over, F.lit(ERR_CANNOT_COMPUTE)).otherwise(out0)
        return out0
    tomb_any = F.max(F.when(frame & tomb, 1).otherwise(0))
    err_any = F.max(F.when(frame & ~tomb & null_elem, 1).otherwise(0))
    n_vis = F.sum(F.when(frame, 1).otherwise(0))
    out = F.when(
        over if over is not None else F.lit(False),
        F.lit(ERR_CANNOT_COMPUTE),
    )
    out = (
        out.when(F.coalesce(tomb_any, F.lit(0)) == 1, F.lit(ERR_TOMBSTONE))
        .when(F.coalesce(err_any, F.lit(0)) == 1, F.lit(ERR_CANNOT_COMPUTE))
    )
    if _is_fold1(f):
        out = out.when(
            F.coalesce(n_vis, F.lit(0)) == 0, F.lit(ERR_FOLD1_NO_VALUE)
        )
    return out.otherwise(F.lit(ERR_OK))


def error_codes(
    facts: DataFrame,
    plan: Plan,
    snapshot: Any | None = None,
    chords: DataFrame | None = None,
) -> DataFrame:
    """Per-feature Error64 codes: one row per entity (snapshot) or per
    chord row, columns ``<name>_err`` (int, see module table).

    Single Catalyst aggregation pass; latest-N features with
    ``skip_nulls=False`` additionally rank their frame with one window
    (poison only counts inside the last-N buffer, matching the value
    backends)."""
    if (snapshot is None) == (chords is None):
        raise ValueError("exactly one of snapshot / chords required")
    ecol, tcol = plan.entity_col, plan.time_col

    if plan.tombstone_col is not None and plan.tombstone_col in facts.columns:
        tomb = F.coalesce(F.col(plan.tombstone_col).cast("boolean"), F.lit(False))
    else:
        tomb = F.lit(False)

    if snapshot is not None:
        qt = snapshot_sql(snapshot)
        keys = [ecol]
        base = facts.where(F.col(tcol) < F.expr(qt))
        spine = facts.select(ecol).distinct()
    else:
        qt = ident("query_time")
        keys = [ecol, "query_time"] + (
            ["label"] if "label" in chords.columns else []
        )
        # one row per DISTINCT chord: run_plan joins these codes onto
        # its own rows, so a duplicated chord row must not match twice
        spine = chords.select(*keys).distinct()
        base = facts.join(spine, on=ecol, how="inner").where(
            F.col(tcol) < F.col(qt)
        )

    # tombstoned facts are null ELEMENTS for the value backends; for
    # error attribution we need the pre-nulling expr, so evaluate expr
    # nulls only on non-tombstoned facts (tomb handled separately)
    # filter_let binds: errors reads RAW facts (no tombstone nulling),
    # so materialize the binds here and drop tombstoned facts from the
    # frame explicitly — in the value backends the pattern fails on
    # them because their binds were nulled first.
    base = _with_binds(base, plan)
    aggs = []
    for f in plan.features:
        frame = F.expr(_visibility(f, qt, tcol))
        if f.filter_let is not None:
            frame = frame & ~tomb
        if f.latest_outer is not None:
            # outer latest frame truncates BEFORE the filter stage
            # (latest A ~> filter ~> ...): rank over the PRE-filter
            # visibility, then conjoin — the outer buffer can empty a
            # stream that has older matching elements.
            vis_only = F.expr(_visibility(f, qt, tcol, include_filters=False))
            w_out = (
                W.partitionBy(*keys)
                .orderBy(*_order_cols(plan))
                .rowsBetween(W.currentRow, W.unboundedFollowing)
            )
            rank_o = F.sum(F.when(vis_only, 1).otherwise(0)).over(w_out)
            base = base.withColumn(
                f"__eor_{f.name}", vis_only & (rank_o <= f.latest_outer)
            )
            frame = F.col(f"__eor_{f.name}") & frame
        if f.latest is not None and not f.skip_nulls:
            # poison counts only inside the last-N buffer
            w_fwd = (
                W.partitionBy(*keys)
                .orderBy(*_order_cols(plan))
                .rowsBetween(W.currentRow, W.unboundedFollowing)
            )
            rank = F.sum(F.when(frame, 1).otherwise(0)).over(w_fwd)
            base = base.withColumn(f"__efr_{f.name}", frame & (rank <= f.latest))
            frame = F.col(f"__efr_{f.name}")
        bound = (
            plan.max_group_size
            if plan.max_group_size < 1_048_576
            else None
        )
        aggs.append(
            _err_col(f, tomb, frame, bound).alias(f"{f.name}_err")
        )
    agged = base.groupBy(*keys).agg(*aggs)
    out = spine.join(agged, on=keys, how="left")
    # entities/chords with zero visible facts never reach the agg:
    # empty stream => Fold1NoValue for fold1 aggregates, OK otherwise
    for f in plan.features:
        empty = F.lit(ERR_FOLD1_NO_VALUE if _is_fold1(f) else ERR_OK)
        out = out.withColumn(
            f"{f.name}_err",
            F.coalesce(F.col(f"{f.name}_err"), empty).cast("int"),
        )
    if not plan.postcomps and not plan.hidden:
        return out.select(*keys, *[f"{f.name}_err" for f in plan.features])
    # postcomputation error: a postcomp is poisoned iff any fold it
    # reads is (the reference's Possibly applicative over the postcomp
    # let-chain) — greatest() picks the worst referenced code. Hidden
    # folds' own codes are inputs only, not outputs.
    import re as _re

    fold_names = [f.name for f in plan.features]
    codes: dict[str, Column] = {n: F.col(f"{n}_err") for n in fold_names}
    for name, e in plan.postcomps:
        refs = [n for n in list(codes) if _re.search(rf"\b{_re.escape(n)}\b", e)]
        col = (
            F.greatest(*[codes[n] for n in refs]) if len(refs) > 1
            else codes[refs[0]] if refs else F.lit(ERR_OK)
        )
        codes[name] = col
        out = out.withColumn(f"{name}_err", col.cast("int"))
    hid = set(plan.hidden)
    emit = [n for n in fold_names if n not in hid] + [
        n for n, _ in plan.postcomps
    ]
    return out.select(*keys, *[f"{n}_err" for n in emit])

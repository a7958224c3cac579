"""Native plan compiler — pure DataFrame ops, no Python anywhere.

Compiles a fold ``Plan`` into a single-scan Catalyst pipeline. Every
fold the table in ``plans.monoid`` covers is a partial state per key,
finalized in the last projection; the feature set is split by
execution need:

* table folds — ONE aggregate of states per key (entity[,
  query_time]): one entity exchange, Spark's own partial aggregation
  before it. At a snapshot this aggregate reads every fact
  (visibility is inside each fold's condition) and is itself the
  spine: one row per entity, no distinct and no join.
* latest-N frames — a grouped-limit window per keep condition: the
  visible facts the frame keeps, ranked newest first per key by
  ``row_number()``, ``__rn <= N``, then the frame's table state per
  key. Spark plans that filter as a partial ``WindowGroupLimit``
  before the key exchange and a final one after it: at most N rows
  per key and map partition cross the shuffle, so a hot entity's task
  sorts a few rows per map partition, not its whole history, and
  needs no salt. (An unlimited window-rank frame, whose one task
  sorts and frames every fact of the hot entity, did not finish in 10
  minutes on the skewed 8M-row bench.) Spark plans no grouped limit
  past ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000), so
  longer frames are refused.
* aggregates outside the table (count_distinct, distinct_values,
  max_by/min_by) — direct conditional aggregation per key.
* numflips — prev-value helper column over an entity-time window,
  then its table state (bounded cost: one sorted exchange; avoid
  mixing with extreme skew, or use the Arrow executor).
* group maps and distinct folds — per-(key, group key) table folds,
  then one map or aggregate per key.

The latest-N, numflips, group and distinct paths read only the
visible facts and left-join onto the spine. A chord table is the
spine in chord scope; the facts join its distinct keys.

Plans are built as Spark SQL text (``plans.monoid``): each aggregate
column and each projection goes to the JVM as one string (``F.expr``
or ``selectExpr``). A ``Column``-tree build costs a py4j round trip
per node — about 1,370 for a 7-fold plan, against about 60 here.

Fusion: N table folds read the input ONCE (the analogue of the
reference's Core fusion,
/root/reference/icicle-core/src/Icicle/Core/Program/Fusion.hs:37-81).

Scale: the visible-range filter pushes to the parquet/Iceberg scan
(partition pruning on time) on every path but the snapshot spine;
chord tables join with no broadcast hint (AQE picks the join from
their measured size); exchanges carry constant-size states, at most N fact rows per
key and map partition for a latest-N frame, and raw fact rows only
for the numflips helper window.
Plans the compiler can't express (custom folds, scan binds, outer
latest frames, callables) raise; run_plan sends them to the Python
executors.
"""

from __future__ import annotations

import calendar
import datetime
import time
from typing import Any

from pyspark.sql import Column, DataFrame, functions as F

from icicle_spark.plans import monoid
from icicle_spark.plans.monoid import ident
from icicle_spark.plans.ir import (
    Agg,
    Feature,
    Plan,
    apply_postcomps,
    feature_dtype,
)

_NATIVE_AGGS = {
    Agg.SUM, Agg.COUNT, Agg.MEAN, Agg.MIN, Agg.MAX, Agg.VARIANCE, Agg.SD,
    Agg.NEWEST, Agg.OLDEST, Agg.ANY, Agg.ALL, Agg.COUNT_DISTINCT,
    Agg.DISTINCT_VALUES, Agg.MAX_BY, Agg.MIN_BY, Agg.NUMFLIPS,
    Agg.DECAYED_SUM,
}

# `group k ~> agg` compiles to groupBy(entity, k) + map_from_entries —
# pure Catalyst, two exchanges, no Python (the 100 TB path for maps)
_GROUP_NATIVE_AGGS = {
    Agg.SUM, Agg.COUNT, Agg.MEAN, Agg.MIN, Agg.MAX, Agg.ANY, Agg.ALL,
    Agg.VARIANCE, Agg.SD, Agg.NEWEST, Agg.OLDEST,
}

# `distinct k ~> agg` compiles to a first-per-(entity,k) rank + agg
_DISTINCT_NATIVE_AGGS = {
    Agg.SUM, Agg.COUNT, Agg.MEAN, Agg.MIN, Agg.MAX, Agg.ANY, Agg.ALL,
    Agg.COUNT_DISTINCT, Agg.NEWEST, Agg.OLDEST,
}


# Spark plans a rank filter as a grouped limit (``WindowGroupLimit``)
# only up to spark.sql.optimizer.windowGroupLimitThreshold (default
# 1000); a longer frame would be one unbounded window per entity
_MAX_LATEST = 999


def _feature_native(f: Feature) -> bool:
    if not isinstance(f.agg, Agg) or not isinstance(f.expr, str):
        return False
    if f.latest is not None and f.latest > _MAX_LATEST:
        return False
    if f.latest_outer is not None:
        # pre-filter latest frames would need a second rank stage;
        # the fold executors evaluate them instead
        return False
    if f.scans:
        # running-fold element binds need per-row cumulative state;
        # the vectorized executor evaluates them
        return False
    if f.where is not None and not isinstance(f.where, str):
        return False
    if f.filter_let is not None and not all(
        isinstance(e, str) for _, e in f.filter_let
    ):
        return False
    if f.by is not None and not isinstance(f.by, str):
        return False
    if f.group is not None:
        if f.post_group_filter is not None and not (
            isinstance(f.post_group_filter, str) and f.skip_nulls
        ):
            # Possibly-mode post-group filters need row-level poison
            # interplay with the guard — the fold executors handle it
            return False
        if f.group_latest is not None and not f.skip_nulls:
            return False
        if f.pg_before_latest:
            # filter-then-frame per key: the fold executors compose
            # the guard and the frame in stream order
            return False
        return (
            isinstance(f.group, str)
            and f.agg in _GROUP_NATIVE_AGGS
            and f.distinct is None
            and f.latest is None
        )
    if f.agg is Agg.DECAYED_SUM and (
        f.half_life_days is None or f.latest is not None
    ):
        return False
    if f.distinct is not None:
        return (
            isinstance(f.distinct, str)
            and f.agg in _DISTINCT_NATIVE_AGGS
            and f.latest is None
        )
    return f.agg in _NATIVE_AGGS


def native_supported(plan: Plan) -> bool:
    return all(_feature_native(f) for f in plan.features)


def snapshot_sql(snapshot: Any) -> str:
    """The snapshot instant as a SQL timestamp, the same value
    ``F.lit(snapshot).cast("timestamp")`` gives: a string is cast in
    the session time zone, a date is its midnight there, and a
    ``datetime`` (``pd.Timestamp`` included) is the instant py4j sends
    for it (naive values read as the driver's local time)."""
    if snapshot is None:
        return "CAST(NULL AS TIMESTAMP)"
    if isinstance(snapshot, datetime.datetime):
        secs = (
            calendar.timegm(snapshot.utctimetuple()) if snapshot.tzinfo
            else time.mktime(snapshot.timetuple())
        )
        return f"timestamp_micros({int(secs) * 1_000_000 + snapshot.microsecond})"
    if isinstance(snapshot, datetime.date):
        return f"CAST(DATE '{snapshot.isoformat()}' AS TIMESTAMP)"
    if isinstance(snapshot, str):
        text = snapshot.replace("\\", "\\\\").replace("'", "\\'")
        return f"CAST('{text}' AS TIMESTAMP)"
    raise TypeError(f"snapshot must be a str, date or datetime: {snapshot!r}")


def named(sql: str, name: str) -> Column:
    """One SQL expression, aliased, as a Column: a single JVM call."""
    return F.expr(f"{sql} AS {ident(name)}")


def _key_str(base: DataFrame, kexpr: str) -> str:
    """Group-key expression as a STRING map key, matching the Python
    executors' str() casing: Spark casts booleans to 'true'/'false'
    while str(numpy.bool_) is 'True'/'False' — a silent cross-backend
    map-key divergence for `group (value > 0)`-style keys."""
    from pyspark.sql.types import BooleanType, DateType, TimestampNTZType, TimestampType

    k = f"({kexpr})"
    dtype = base.selectExpr(f"{k} AS __k").schema[0].dataType
    if isinstance(dtype, BooleanType):
        return f"CASE WHEN {k} THEN 'True' WHEN NOT {k} THEN 'False' END"
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        # maporder.key_str parity: midnight times render as dates
        return (
            f"CASE WHEN date_trunc('DAY', {k}) = {k}"
            f" THEN date_format({k}, 'yyyy-MM-dd')"
            f" ELSE date_format({k}, 'yyyy-MM-dd HH:mm:ss') END"
        )
    if isinstance(dtype, DateType):
        return f"date_format({k}, 'yyyy-MM-dd')"
    return f"CAST({k} AS STRING)"


def _order_cols(plan: Plan) -> list[str]:
    cols = [ident(plan.time_col)]
    if plan.seq_col:
        cols.append(ident(plan.seq_col))
    return cols


def _agg_col(f: Feature, cond: str, tcol: str) -> str:
    """The folds outside the table (``monoid``): one conditional
    aggregate each, finished in place."""
    x = f"CASE WHEN {cond} THEN ({f.expr}) END"
    agg = f.agg
    if agg is Agg.COUNT_DISTINCT:
        out = f"count(DISTINCT {x})"
    elif agg is Agg.DISTINCT_VALUES:
        out = f"sort_array(collect_set(CAST({x} AS STRING)))"
    elif agg in (Agg.MAX_BY, Agg.MIN_BY):
        # ties on the key keep the FIRST fact in stream order, like the
        # reference's strict-compare fold (prelude.icicle:172-191):
        # composite key (by, ±time) makes earliest win either way.
        t_us = f"unix_micros(CAST({ident(tcol)} AS TIMESTAMP))"
        pick, t = ("min_by", t_us) if agg is Agg.MIN_BY else ("max_by", f"-{t_us}")
        key = f"named_struct('b', ({f.by}), 't', {t})"
        out = f"{pick}({x}, CASE WHEN {cond} THEN {key} END)"
    else:  # pragma: no cover
        raise ValueError(f"not native: {agg}")
    if not f.skip_nulls:
        # Possibly semantics: a null (error/tombstone) element in the
        # final visible slice poisons the aggregate.
        poison = f"max(CASE WHEN {cond} AND ({f.expr}) IS NULL THEN 1 ELSE 0 END)"
        out = f"CASE WHEN {poison} = 1 THEN NULL ELSE {out} END"
    return out


def prepare_facts(facts: DataFrame, plan: Plan) -> DataFrame:
    """The shared Catalyst-side fact preamble: ``null_tombstoned``,
    then materialize filter_let binds (which therefore bind null on
    tombstoned facts, failing the Some pattern). Used by
    compile_native AND the resumable-fold paths so both see identical
    element semantics."""
    return _with_binds(null_tombstoned(facts, plan), plan)


def null_tombstoned(facts: DataFrame, plan: Plan) -> DataFrame:
    """Null every non-key column on tombstoned facts: they contribute
    null elements (error values, doc/design/tombstones.md:56-73) to
    every expression read over them, on every backend."""
    ecol, tcol = plan.entity_col, plan.time_col
    if plan.tombstone_col is None or plan.tombstone_col not in facts.columns:
        return facts
    tb = f"coalesce(CAST({ident(plan.tombstone_col)} AS BOOLEAN), false)"
    keep = {ecol, tcol, plan.tombstone_col, plan.seq_col}
    return facts.selectExpr(*[
        ident(c) if c in keep
        else f"CASE WHEN NOT {tb} THEN {ident(c)} END AS {ident(c)}"
        for c in facts.columns
    ])


def _with_binds(facts: DataFrame, plan: Plan) -> DataFrame:
    """Materialize every filter_let bind as a physical column (one
    projection each — Catalyst folds them into the scan stage; a bind
    may read an earlier one). Must run AFTER tombstone nulling so
    tombstoned facts bind to null and the Some-pattern drops them."""
    added: set[str] = set()
    for f in plan.features:
        for b, e in (f.filter_let or ()):
            if b in added:
                continue  # plan validation pinned one expr per name
            if b in facts.columns:
                raise ValueError(
                    f"filter_let bind {b!r} shadows a fact column"
                )
            facts = facts.selectExpr("*", f"({e}) AS {ident(b)}")
            added.add(b)
    return facts


def _visibility(
    f: Feature, qt: str, tcol: str, include_filters: bool = True
) -> str:
    """Per-feature visibility condition. ``include_filters=False``
    stops after the time/window stage — the pre-filter frame an outer
    latest buffer truncates (Feature.latest_outer)."""
    t = ident(tcol)
    conds = [f"{t} < {qt}"]  # strict: zero temporal leakage
    if f.window is not None:
        conds.append(
            f"{t} >= {qt} - {f.window.sql_interval(f.window.newer_than_days)}"
        )
        if f.window.older_than_days:
            conds.append(
                f"{t} <= {qt} - "
                f"{f.window.sql_interval(f.window.older_than_days)}"
            )
    if include_filters:
        conds += _filters(f)
    return " AND ".join(conds)


def _filters(f: Feature) -> list[str]:
    """The feature's filter stage, no time bound: its filter_let
    patterns and its ``where``. ``_visibility`` adds the time bound
    and window; a stream folds these alone."""
    # `filter let Some b = e`: the pattern fails on null binds. Bind
    # columns are materialized on the facts AFTER tombstone nulling
    # (prepare_facts; errors handles raw-tombstone cases), so a
    # tombstoned fact's bind is null and drops here too.
    conds = [f"{ident(b)} IS NOT NULL" for b, _ in f.filter_let or ()]
    if f.where is not None:
        conds.append(f"coalesce(CAST(({f.where}) AS BOOLEAN), false)")
    return conds


# empty values of the folds outside the table (``_agg_col``)
_DIRECT_EMPTY = {
    Agg.COUNT_DISTINCT: "0",
    Agg.DISTINCT_VALUES: "CAST(array() AS array<string>)",
}


def _over(parts: list[str], order: str, frame: str = "") -> str:
    return f"OVER (PARTITION BY {', '.join(parts)} ORDER BY {order}{frame})"


def _prev_values(
    df: DataFrame, plan: Plan, feats: list[Feature], vis, keys: list[str]
) -> DataFrame:
    """``__prev_<name>``: each NUMFLIPS feature's previous visible
    value in (time, seq) order per key — the column its fold state
    counts flips against. ``vis(f)`` is the feature's visibility."""
    if not feats:
        return df
    over = _over(
        [*map(ident, keys)], ", ".join(_order_cols(plan)),
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING",
    )
    return df.selectExpr("*", *[
        f"last(CASE WHEN {vis(f)} THEN ({f.expr}) END, true) {over}"
        f" AS {ident(f'__prev_{f.name}')}"
        for f in feats
    ])


def _st(f: Feature) -> str:
    return f"__st_{f.name}"


def _frame_order(f: Feature, plan: Plan) -> str:
    """Newest first by the frame's own sort key: the (t, q, v[, b])
    struct ``monoid.state`` sorts the frame by, descending (DESC puts
    nulls last, the exact reverse of the struct's ascending order), so
    rows tied on (time, seq) keep the same ones on every path."""
    cols = [*_order_cols(plan), f"({f.expr})"]
    if f.by is not None:
        cols.append(f"({f.by})")
    return ", ".join(f"{c} DESC" for c in cols)


def _latest_frames(
    base: DataFrame, plan: Plan, feats: list[Feature], qt: str, keys: list[str]
) -> list[DataFrame]:
    """Latest-N frames as grouped-limit windows, one per (keep
    condition, frame order): the visible facts the frame keeps, ranked
    newest first per key, the top N, then their table states per key.
    One frame serves every feature that keeps the same rows in the
    same order, each reading its own N off the rank."""
    frames: dict[tuple[str, str], list[Feature]] = {}
    for f in feats:
        keep = _visibility(f, qt, plan.time_col)
        if f.skip_nulls:
            keep = f"{keep} AND ({f.expr}) IS NOT NULL"
        frames.setdefault((keep, _frame_order(f, plan)), []).append(f)
    out = []
    for (keep, order), batch in frames.items():
        rn = f"row_number() {_over([*map(ident, keys)], order)} AS __rn"
        top = base.where(keep).selectExpr("*", rn).where(
            f"__rn <= {max(f.latest for f in batch)}"
        )
        out.append(top.groupBy(*keys).agg(*[
            named(monoid.state(f, plan, f"__rn <= {f.latest}", qt), _st(f))
            for f in batch
        ]))
    return out


def _group_fold(f: Feature, plan: Plan, cond: str, qt: str, gv: str) -> str:
    """One key's fold value inside a group map: the table's fold over
    the key's rows, values read as double (count/mean/any/all keep
    their own input)."""
    if f.agg not in (Agg.COUNT, Agg.MEAN, Agg.ANY, Agg.ALL):
        gv = f"CAST({gv} AS DOUBLE)"
    return monoid.finalize(
        f, monoid.state(f, plan, cond, qt, gv, merge_key=False)
    )


def _entry_map(present: str, v: str) -> str:
    """Per-entity map of the per-key rows whose ``present`` holds.
    Data.Map iteration order (plans/maporder.py): entries sort by the
    TYPED key ``__gkr`` before the map is assembled — `group fold
    (k, v)` postcomps and rendered maps then iterate exactly as the
    reference's Data.Map accumulator does."""
    row = f"named_struct('r', __gkr, 'k', __gk, 'v', {v})"
    return (
        "map_from_entries(transform(array_sort(collect_list("
        f"CASE WHEN {present} THEN {row} END)),"
        " __e -> named_struct('key', __e.k, 'value', __e.v)))"
    )


def _compile_scoped(
    spine: DataFrame | None,
    rows: DataFrame,
    base: DataFrame,
    plan: Plan,
    qt: str,
    keys: list[str],
) -> DataFrame:
    """Shared snapshot/chord compilation after visibility is set up.
    Table folds become per-key states: one aggregate over ``rows``,
    finalized in the last projection; the rest are direct aggregates,
    latest-N frames and numflips (window helpers), groups and
    distincts over the visible ``base``, left-joined by key.
    ``spine=None`` makes that fold aggregate the spine: run over every
    fact (visibility sits inside each condition), it has one row per
    entity."""
    tcol = plan.time_col
    kcols = [ident(k) for k in keys]
    order = ", ".join(_order_cols(plan))

    def vis(f: Feature) -> str:
        return _visibility(f, qt, tcol)

    group_feats = [f for f in plan.features if f.group is not None]
    dist_feats = [
        f for f in plan.features if f.distinct is not None and f.group is None
    ]
    scalar_feats = [
        f for f in plan.features if f.group is None and f.distinct is None
    ]
    latest_feats = [f for f in scalar_feats if f.latest is not None]
    flip_feats = [
        f for f in scalar_feats
        if f.agg is Agg.NUMFLIPS and f.latest is None
    ]
    folds = [
        f for f in scalar_feats
        if f.latest is None and f.agg is not Agg.NUMFLIPS and monoid.has_state(f)
    ]
    direct_feats = [
        f for f in scalar_feats if f.latest is None and not monoid.has_state(f)
    ]
    # the last projection's expression per output column (default:
    # the joined column of that name)
    final: dict[str, str] = {}
    out = spine
    if spine is None or folds or direct_feats:
        agged = rows.groupBy(*keys).agg(
            # the visible rows: 0 when an entity has facts, none visible
            named(f"count_if({ident(tcol)} < {qt})", "__n"),
            *[
                named(monoid.state(f, plan, vis(f), qt, merge_key=False), _st(f))
                for f in folds
            ],
            *[named(_agg_col(f, vis(f), tcol), f.name) for f in direct_feats],
        )
        out = agged if spine is None else out.join(agged, on=keys, how="left")
        for f in direct_feats:
            if f.agg in _DIRECT_EMPTY:
                # no visible facts at all: the fold's empty value (a
                # poisoned null, from a present row, stays null)
                final[f.name] = (
                    f"CASE WHEN coalesce(__n, 0) = 0 THEN {_DIRECT_EMPTY[f.agg]}"
                    f" ELSE {ident(f.name)} END"
                )
    for lat in _latest_frames(base, plan, latest_feats, qt, keys):
        out = out.join(lat, on=keys, how="left")
    if flip_feats:
        fbase = _prev_values(base, plan, flip_feats, vis, keys)
        agged = fbase.groupBy(*keys).agg(
            *[named(monoid.state(f, plan, vis(f), qt), _st(f)) for f in flip_feats]
        )
        out = out.join(agged, on=keys, how="left")
    # FUSE group features that share (group key, window, where,
    # filter_let) under plain skip_nulls semantics: one per-(entity,
    # key) aggregate and one map assembly evaluate ALL of them, where
    # the per-feature loop below would run the whole two-exchange
    # pipeline once per feature (guide §1.2/§2.4 — the group_fold
    # queries carry 2+ features over one key; measured ~2x on the
    # grouped family). Null elements ride through as nulls instead of
    # being pre-filtered: every _GROUP_NATIVE_AGGS aggregate skips
    # nulls (NEWEST/OLDEST via a nulled order key), and a key's map
    # slot materializes only when that feature saw a non-null element
    # (__n > 0) — exactly the key set the filtered single-feature
    # plan produces.
    fusable: dict[tuple, list[Feature]] = {}
    fused_feats: list[Feature] = []
    for f in group_feats:
        if (
            f.skip_nulls
            and f.post_group_filter is None
            and f.group_latest is None
        ):
            sig = (f.group, repr(f.window), f.where, repr(f.filter_let))
            fusable.setdefault(sig, []).append(f)
    for sig, batch in fusable.items():
        if len(batch) < 2:
            continue
        fused_feats.extend(batch)
        f0 = batch[0]
        gk = _key_str(base, f0.group)
        grows = base.where(f"{vis(f0)} AND ({f0.group}) IS NOT NULL").selectExpr(
            *kcols,
            f"{gk} AS __gk",
            f"({f0.group}) AS __gkr",
            *[f"({f.expr}) AS __gv{i}" for i, f in enumerate(batch)],
            *_order_cols(plan),
        )
        per_aggs: list[Column] = [F.expr("min(__gkr) AS __gkr")]
        for i, f in enumerate(batch):
            per_aggs.append(
                F.expr(f"{_group_fold(f, plan, 'true', qt, f'__gv{i}')} AS __v{i}")
            )
            per_aggs.append(F.expr(f"count(__gv{i}) AS __n{i}"))
        per_key = grows.groupBy(*keys, "__gk").agg(*per_aggs)
        m = per_key.groupBy(*keys).agg(*[
            named(_entry_map(f"__n{i} > 0", f"__v{i}"), f.name)
            for i, f in enumerate(batch)
        ])
        out = out.join(m, on=keys, how="left")
        for f in batch:
            val = f"coalesce({ident(f.name)}, CAST(map() AS {feature_dtype(f)}))"
            final[f.name] = (
                f"CASE WHEN size({val}) <= {plan.max_group_size} THEN {val} END"
            )
    for f in group_feats:
        if f in fused_feats:
            continue
        # map-of-accumulators as TWO Catalyst exchanges: partial aggs
        # per (entity, key) with map-side combine, then collect the
        # finished entries into a map per entity. Rows are pre-filtered
        # by this feature's full visibility so absent keys never
        # surface with init values (executor parity).
        ex, gexpr = f"({f.expr})", f"({f.group})"
        gk = _key_str(base, f.group)
        pgf = f.post_group_filter
        # skip_nulls (enforced by the support gate) drops null values
        # AND null group keys, like the Arrow executors
        ok = f"{ex} IS NOT NULL AND {gexpr} IS NOT NULL"
        if f.skip_nulls and pgf is not None:
            # post-group filter (t02-groups:11-13, ToCore/Fold.hs:
            # 275-285): every visible fact ESTABLISHES its key — only
            # the fold step is guarded, so fully-filtered keys emit
            # the fold's init. A null element still establishes but
            # never reaches the guarded step (skip_nulls).
            grows = base.where(f"{vis(f)} AND {gexpr} IS NOT NULL").selectExpr(
                *kcols, f"{gk} AS __gk", f"{gexpr} AS __gkr", f"{ex} AS __gv",
                f"coalesce(CAST(({pgf}) AS BOOLEAN), false) AND {ex} IS NOT NULL"
                " AS __pgok",
                "0 AS __gp", *_order_cols(plan),
            )
        elif f.skip_nulls:
            # skip_nulls: null elements / null keys silently drop
            grows = base.where(f"{vis(f)} AND {ok}").selectExpr(
                *kcols, f"{gk} AS __gk", f"{gexpr} AS __gkr", f"{ex} AS __gv",
                "true AS __pgok", "0 AS __gp", *_order_cols(plan),
            )
        else:
            # Possibly semantics: ANY visible null element or null
            # key poisons the WHOLE map (executor parity, t03.1) —
            # keep the row as a poison marker instead of dropping it
            grows = base.where(vis(f)).selectExpr(
                *kcols,
                f"CASE WHEN {ok} THEN {gk} END AS __gk",
                f"CASE WHEN {ok} THEN {gexpr} END AS __gkr",
                f"CASE WHEN {ok} THEN {ex} END AS __gv",
                "true AS __pgok",
                f"CASE WHEN {ok} THEN 0 ELSE 1 END AS __gp",
                *_order_cols(plan),
            )
        if f.group_latest is not None:
            # `group k ~> latest N`: frame the last N facts PER KEY
            # (t17-latest:4-8) before the guarded fold. The rank
            # window partitions on the same (keys, __gk) the per-key
            # aggregate groups on, so Catalyst reuses one exchange.
            desc = ", ".join(f"{c} DESC" for c in _order_cols(plan))
            grows = (
                grows.selectExpr(
                    "*", f"row_number() {_over([*kcols, '__gk'], desc)} AS __rn"
                )
                .where(f"__rn <= {f.group_latest}")
                .drop("__rn")
            )
        # a guarded-out row (post-group filter) still establishes its
        # key; a fully-guarded key's slot holds the fold's empty value
        # (executor _EMPTY parity: the t02 'counts of zero')
        per_key = grows.groupBy(*keys, "__gk").agg(
            F.expr(f"{_group_fold(f, plan, '__pgok', qt, '__gv')} AS __v"),
            F.expr("max(__gp) AS __gp"),
            F.expr("min(__gkr) AS __gkr"),
        )
        poison = ident(f"__poison_{f.name}")
        m = per_key.groupBy(*keys).agg(
            named(_entry_map("__gk IS NOT NULL", "__v"), f.name),
            F.expr(f"max(__gp) AS {poison}"),
        )
        out = out.join(m, on=keys, how="left")
        val = f"coalesce({ident(f.name)}, CAST(map() AS {feature_dtype(f)}))"
        # maxMapSize analogue: overflow -> error value (null);
        # Possibly poison -> null map
        final[f.name] = (
            f"CASE WHEN size({val}) <= {plan.max_group_size}"
            f" AND coalesce({poison}, 0) = 0 THEN {val} END"
        )
    for f in dist_feats:
        # `distinct k`: first fact per (entity, key) in stream order
        # (ToCore/Fold.hs:477-559), then a plain aggregate over those
        # firsts — one rank exchange + one agg exchange.
        dk = f"({f.distinct})"
        # skip_nulls drops null elements before the firsts pass; in
        # Possibly mode they stay — a null FIRST poisons via _agg_col
        cond = f"{vis(f)} AND {dk} IS NOT NULL"
        if f.skip_nulls:
            cond += f" AND ({f.expr}) IS NOT NULL"
        firsts = (
            base.where(cond)
            .selectExpr("*", f"row_number() {_over([*kcols, dk], order)} AS __rn")
            .where("__rn = 1")
        )
        marker, dv = ident(f"__nd_{f.name}"), ident(f"__dv_{f.name}")
        if monoid.has_state(f):
            val = monoid.state(f, plan, "true", qt, merge_key=False)
        else:
            val = _agg_col(f, "true", tcol)
        agged = firsts.groupBy(*keys).agg(
            F.expr(f"count(1) AS {marker}"), F.expr(f"{val} AS {dv}")
        )
        out = out.join(agged, on=keys, how="left")
        if monoid.has_state(f):
            val = monoid.finalize(f, dv)
        else:
            val = f"CASE WHEN {marker} IS NULL THEN {_DIRECT_EMPTY[f.agg]} ELSE {dv} END"
        # bounded distinct state (maxMapSize, t03 ':set max-map-size'):
        # more distinct keys than the bound -> error value (null)
        val = f"CASE WHEN coalesce({marker}, 0) <= {plan.max_group_size} THEN {val} END"
        if not f.skip_nulls:
            # a null distinct KEY anywhere visible poisons the whole
            # fold (Possibly key, t03.1 — executor parity)
            kp = ident(f"__kp_{f.name}")
            pois = base.where(f"{vis(f)} AND {dk} IS NULL").groupBy(*keys).agg(
                F.expr(f"1 AS {kp}")
            )
            out = out.join(pois, on=keys, how="left")
            val = f"CASE WHEN {kp} IS NULL THEN {val} END"
        final[f.name] = val
    folded = {f.name for f in scalar_feats if f not in direct_feats}
    return out.selectExpr(*kcols, *[
        f"{monoid.finalize(f, ident(_st(f)))} AS {ident(f.name)}"
        if f.name in folded
        else f"{final.get(f.name, ident(f.name))} AS {ident(f.name)}"
        for f in plan.features
    ])


def compile_native(
    facts: DataFrame,
    plan: Plan,
    snapshot: Any | None = None,
    chords: DataFrame | None = None,
) -> DataFrame:
    """Compile and return the result DataFrame (lazy).

    The chord table joins with no broadcast hint: AQE broadcasts a
    small one from its measured size, and one at data scale (say one
    chord per entity at 10^12 rows) shuffle-joins, with skew-join
    splitting spreading a hot entity across tasks.
    """
    if (snapshot is None) == (chords is None):
        raise ValueError("exactly one of snapshot / chords required")
    if not native_supported(plan):
        raise ValueError("plan not native-compilable; use plans.executor")
    from icicle_spark.plans.ir import resolve_dtypes

    # idempotent when run_plan already resolved: keeps direct
    # compile_native callers on the same output typing (int folds
    # stay integral) as every run_plan strategy
    plan = resolve_dtypes(plan, facts)
    full = plan
    plan, _dups = plan.stripped().cse()
    ecol, tcol = plan.entity_col, plan.time_col

    facts = prepare_facts(facts, plan)

    def _finalize(out: DataFrame) -> DataFrame:
        # re-emit CSE-shared fold columns, then run the postcomp stage
        # (Core/Program/Program.hs:33-36) on the aggregated frame
        if _dups:
            out = out.selectExpr("*", *[
                f"{ident(kept)} AS {ident(dup)}" for dup, kept in _dups.items()
            ])
        now_sql = (
            f"TIMESTAMP '{snapshot}'"
            if snapshot is not None
            else "query_time"
        )
        return apply_postcomps(out, full, now_sql=now_sql)

    if snapshot is not None:
        qt = snapshot_sql(snapshot)
        # the visible range pre-filters the paths beside the fold
        # aggregate -> parquet pushdown / partition pruning; windows
        # re-check inside. The fold aggregate itself reads every fact
        # and is the spine (entities with no visible facts included).
        base = facts.where(f"{ident(tcol)} < {qt}")
        return _finalize(_compile_scoped(None, facts, base, plan, qt, [ecol]))

    qt = ident("query_time")
    keys = [ecol, "query_time"] + (["label"] if "label" in chords.columns else [])
    # facts meet each DISTINCT chord once (a duplicated chord row would
    # count its facts twice); the full chord table is the spine, so
    # every chord row still gets its output row. Spark drops the
    # distinct when the chord table is already unique on the keys.
    rhs = chords.select(*keys).distinct()
    base = facts.join(rhs, on=ecol, how="inner").where(
        f"{ident(tcol)} < {qt}"
    )
    return _finalize(_compile_scoped(chords, base, base, plan, qt, keys))

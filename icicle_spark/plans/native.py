"""Native plan compiler — pure DataFrame ops, no Python anywhere.

Compiles a fold ``Plan`` into a single-scan Catalyst pipeline. Every
fold the table in ``plans.monoid`` covers is a partial state per key,
finalized after the spine join; the feature set is split by
execution need:

* table folds without latest-N — ONE aggregate of states per key
  (entity[, query_time]): one entity exchange, Spark's own partial
  aggregation before it.
* table folds + latest-N — ONE scan, two-stage salted aggregation:
  stage 1 computes constant-size states per (key, salt-of-seq);
  stage 2 merges them per key. Skew-immune: a hot entity holding 30%
  of all rows spreads over ``_SALT_BUCKETS`` tasks. latest-N rides
  along because top-N-by-(time,seq) is a monoid (local tail in stage
  1, merged tail in stage 2). Measured alternative: a window-rank
  implementation of latest-N did not finish in 10 minutes on the
  skewed 8M-row bench (one task owns the hot entity's frame); the
  salted path takes seconds.
* aggregates outside the table (count_distinct, distinct_values,
  max_by/min_by) — direct conditional aggregation per key.
* numflips — prev-value helper column over an entity-time window,
  then its table state (bounded cost: one sorted exchange; avoid
  mixing with extreme skew, or use the Arrow executor).
* group maps and distinct folds — per-(key, group key) table folds,
  then one map or aggregate per key.

Fusion: N features still read the input ONCE (the analogue of the
reference's Core fusion,
/root/reference/icicle-core/src/Icicle/Core/Program/Fusion.hs:37-81).

Scale: snapshot filters push to the parquet/Iceberg scan (partition
pruning on time); chord tables join by shuffle unless the caller asks
for a broadcast (``broadcast_chords``: explicit ``native`` does,
``auto`` does not); exchanges carry only constant-size states, never
raw fact rows, except the latest-N and numflips helper windows.
Plans the compiler can't express (custom folds, scan binds, outer
latest frames, callables) raise; run_plan sends them to the Python
executors.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from icicle_spark.plans import monoid
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


def _feature_native(f: Feature) -> bool:
    if not isinstance(f.agg, Agg) or not isinstance(f.expr, str):
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


def _key_str(base: DataFrame, kexpr: str) -> Column:
    """Group-key expression as a STRING map key, matching the Python
    executors' str() casing: Spark casts booleans to 'true'/'false'
    while str(numpy.bool_) is 'True'/'False' — a silent cross-backend
    map-key divergence for `group (value > 0)`-style keys."""
    k = F.expr(kexpr)
    from pyspark.sql.types import BooleanType, DateType, TimestampNTZType, TimestampType

    dtype = base.select(k.alias("__k")).schema[0].dataType
    if isinstance(dtype, BooleanType):
        return F.when(k, F.lit("True")).when(~k, F.lit("False"))
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        # maporder.key_str parity: midnight times render as dates
        return F.when(
            F.date_trunc("DAY", k) == k, F.date_format(k, "yyyy-MM-dd")
        ).otherwise(F.date_format(k, "yyyy-MM-dd HH:mm:ss"))
    if isinstance(dtype, DateType):
        return F.date_format(k, "yyyy-MM-dd")
    return k.cast("string")


def _order_cols(plan: Plan) -> list[Column]:
    cols = [F.col(plan.time_col)]
    if plan.seq_col:
        cols.append(F.col(plan.seq_col))
    return cols


def _agg_col(f: Feature, cond: Column, tcol: str) -> Column:
    """The folds outside the table (``monoid``): one conditional
    aggregate each, finished in place."""
    x = F.when(cond, F.expr(f.expr))
    agg = f.agg
    if agg is Agg.COUNT_DISTINCT:
        out = F.count_distinct(x)
    elif agg is Agg.DISTINCT_VALUES:
        out = F.sort_array(F.collect_set(x.cast("string")))
    elif agg in (Agg.MAX_BY, Agg.MIN_BY):
        # ties on the key keep the FIRST fact in stream order, like the
        # reference's strict-compare fold (prelude.icicle:172-191):
        # composite key (by, ±time) makes earliest win either way.
        t_us = F.unix_micros(F.col(tcol).cast("timestamp"))
        if agg is Agg.MIN_BY:
            key = F.struct(F.expr(f.by).alias("b"), t_us.alias("t"))
            out = F.min_by(x, F.when(cond, key))
        else:
            key = F.struct(F.expr(f.by).alias("b"), (-t_us).alias("t"))
            out = F.max_by(x, F.when(cond, key))
    else:  # pragma: no cover
        raise ValueError(f"not native: {agg}")
    if not f.skip_nulls:
        # Possibly semantics: a null (error/tombstone) element in the
        # final visible slice poisons the aggregate.
        poison = F.max(F.when(cond & F.expr(f.expr).isNull(), 1).otherwise(0))
        out = F.when(poison == 1, F.lit(None)).otherwise(out)
    return out.alias(f.name)


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
    tb = F.coalesce(F.col(plan.tombstone_col).cast("boolean"), F.lit(False))
    keep = {ecol, tcol, plan.tombstone_col, plan.seq_col}
    return facts.select(
        *[
            F.when(~tb, F.col(c)).otherwise(F.lit(None)).alias(c)
            if c not in keep
            else F.col(c)
            for c in facts.columns
        ]
    )


def _with_binds(facts: DataFrame, plan: Plan) -> DataFrame:
    """Materialize every filter_let bind as a physical column (one
    projection — Catalyst folds it into the scan stage). Must run
    AFTER tombstone nulling so tombstoned facts bind to null and the
    Some-pattern drops them."""
    added: set[str] = set()
    for f in plan.features:
        for b, e in (f.filter_let or ()):
            if b in added:
                continue  # plan validation pinned one expr per name
            if b in facts.columns:
                raise ValueError(
                    f"filter_let bind {b!r} shadows a fact column"
                )
            facts = facts.withColumn(b, F.expr(e))
            added.add(b)
    return facts


def _visibility(
    f: Feature, qt: Column, tcol: str, include_filters: bool = True
) -> Column:
    """Per-feature visibility condition. ``include_filters=False``
    stops after the time/window stage — the pre-filter frame an outer
    latest buffer truncates (Feature.latest_outer)."""
    cond = F.col(tcol) < qt  # strict: zero temporal leakage
    if f.window is not None:
        cond &= F.col(tcol) >= qt - F.expr(
            f.window.sql_interval(f.window.newer_than_days)
        )
        if f.window.older_than_days:
            cond &= F.col(tcol) <= qt - F.expr(
                f.window.sql_interval(f.window.older_than_days)
            )
    if not include_filters:
        return cond
    if f.filter_let is not None:
        # `filter let Some b = e`: the pattern fails on null binds.
        # Bind columns are materialized on the facts AFTER tombstone
        # nulling (compile_native / errors handle raw-tombstone cases),
        # so a tombstoned fact's bind is null and drops here too.
        for b, _ in f.filter_let:
            cond &= F.col(b).isNotNull()
    if f.where is not None:
        cond &= F.coalesce(F.expr(f.where).cast("boolean"), F.lit(False))
    return cond


# empty values of the folds outside the table (``_agg_col``)
_DIRECT_EMPTY = {
    Agg.COUNT_DISTINCT: lambda: F.lit(0),
    Agg.DISTINCT_VALUES: lambda: F.array().cast("array<string>"),
}


def _prev_values(
    df: DataFrame, plan: Plan, feats: list[Feature], vis, keys: list[str]
) -> DataFrame:
    """``__prev_<name>``: each NUMFLIPS feature's previous visible
    value in (time, seq) order per key — the column its fold state
    counts flips against. ``vis(f)`` is the feature's visibility."""
    w = (
        W.partitionBy(*keys)
        .orderBy(*_order_cols(plan))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    for f in feats:
        df = df.withColumn(
            f"__prev_{f.name}",
            F.last(F.when(vis(f), F.expr(f.expr)), ignorenulls=True).over(w),
        )
    return df


_SALT_BUCKETS = 64


def _st(f: Feature) -> str:
    return f"__st_{f.name}"


def _two_stage(
    base: DataFrame,
    plan: Plan,
    folds: list[Feature],
    latest_feats: list[Feature],
    qt: Column,
    keys: list[str],
) -> DataFrame:
    """ONE scan for all table folds + latest features: stage 1 states
    per (key, salt-of-seq), stage 2 merges them per key. The exchange
    carries only constant-size states — skew-immune and single-pass
    over the input (the multi-subtree alternative re-scans the table
    once per feature family, 3-6x the I/O at 100 TB)."""
    tcol = plan.time_col
    scol = plan.seq_col or tcol
    # salt MATERIALIZES as a column: the rank window partitions and
    # the stage-1 groupBy then share one attribute, so Catalyst
    # satisfies the aggregate's distribution with the window's
    # exchange instead of re-shuffling all rows a second time (pinned
    # by test_fold_plans' exchange tests)
    base = base.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(scol)), F.lit(_SALT_BUCKETS))
    )
    salt = F.col("__salt")
    # Rank stage: a salted exchange + Tungsten sort, then an O(n)
    # running conditional count from the NEWEST row backwards =
    # rank-from-end among each feature's own cond rows. Each stage-1
    # frame then collects at most N structs per (key, salt) — object
    # churn is bounded, unlike collecting the whole bucket (measured
    # 85% of the fused pass) or an unbounded-following window frame
    # (did not finish on the hot entity).
    w_desc = (
        W.partitionBy(*[F.col(k) for k in keys], salt)
        .orderBy(F.desc(tcol), F.desc(scol))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    conds = {f.name: _visibility(f, qt, tcol) for f in folds}
    for f in latest_feats:
        cond = _visibility(f, qt, tcol)
        if f.skip_nulls:
            cond = cond & F.expr(f.expr).isNotNull()
        rk = f"__rk_{f.name}"
        base = base.withColumn(rk, F.sum(F.when(cond, 1).otherwise(0)).over(w_desc))
        conds[f.name] = cond & (F.col(rk) <= f.latest)
    feats = folds + latest_feats
    s1 = base.groupBy(*[F.col(k) for k in keys], salt).agg(
        *[monoid.state(f, plan, conds[f.name], qt).alias(_st(f)) for f in feats]
    )
    return s1.groupBy(*keys).agg(
        *[monoid.merge(f, F.col(_st(f))).alias(_st(f)) for f in feats]
    )


def _group_fold(
    f: Feature, plan: Plan, cond: Column, qt: Column, gv: Column
) -> Column:
    """One key's fold value inside a group map: the table's fold over
    the key's rows, values read as double (count/mean/any/all keep
    their own input)."""
    if f.agg not in (Agg.COUNT, Agg.MEAN, Agg.ANY, Agg.ALL):
        gv = gv.cast("double")
    return monoid.finalize(
        f, monoid.state(f, plan, cond, qt, gv, merge_key=False)
    )


def _compile_scoped(
    spine: DataFrame,
    base: DataFrame,
    plan: Plan,
    qt: Column,
    keys: list[str],
) -> DataFrame:
    """Shared snapshot/chord compilation after visibility is set up:
    table folds become per-key states (one aggregate, or the salted
    two stages when a latest-N frame rides along), finalized after
    the spine join; the rest are direct aggregates, numflips (window
    helpers), groups and distincts."""
    tcol = plan.time_col

    def vis(f: Feature) -> Column:
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
    out = spine
    single = [] if latest_feats else folds
    if latest_feats:
        lat = _two_stage(base, plan, folds, latest_feats, qt, keys)
        out = out.join(lat, on=keys, how="left")
    if single or direct_feats:
        agged = base.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                monoid.state(f, plan, vis(f), qt, merge_key=False).alias(_st(f))
                for f in single
            ],
            *[_agg_col(f, vis(f), tcol) for f in direct_feats],
        )
        out = out.join(agged, on=keys, how="left")
        for f in direct_feats:
            if f.agg in _DIRECT_EMPTY:
                # no visible facts at all: the fold's empty value (a
                # poisoned null, from a present row, stays null)
                out = out.withColumn(
                    f.name,
                    F.when(F.col("__n").isNull(), _DIRECT_EMPTY[f.agg]())
                    .otherwise(F.col(f.name)),
                )
        out = out.drop("__n")
    if flip_feats:
        fbase = _prev_values(base, plan, flip_feats, vis, keys)
        agged = fbase.groupBy(*keys).agg(
            *[monoid.state(f, plan, vis(f), qt).alias(_st(f)) for f in flip_feats]
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
        rows = base.where(
            _visibility(f0, qt, tcol) & F.expr(f0.group).isNotNull()
        ).select(
            *[F.col(k) for k in keys],
            gk.alias("__gk"),
            F.expr(f0.group).alias("__gkr"),
            *[F.expr(f.expr).alias(f"__gv{i}") for i, f in enumerate(batch)],
            *_order_cols(plan),
        )
        per_aggs: list[Column] = []
        for i, f in enumerate(batch):
            gv = F.col(f"__gv{i}")
            per_aggs.append(
                _group_fold(f, plan, F.lit(True), qt, gv).alias(f"__v{i}")
            )
            per_aggs.append(F.count(gv).alias(f"__n{i}"))
        per_key = rows.groupBy(*keys, "__gk").agg(
            F.min("__gkr").alias("__gkr"), *per_aggs
        )
        map_aggs = [
            F.map_from_entries(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col(f"__n{i}") > 0,
                                F.struct(
                                    F.col("__gkr").alias("r"),
                                    F.col("__gk").alias("k"),
                                    F.col(f"__v{i}").alias("v"),
                                ),
                            )
                        )
                    ),
                    lambda e: F.struct(
                        e["k"].alias("key"), e["v"].alias("value")
                    ),
                )
            ).alias(f.name)
            for i, f in enumerate(batch)
        ]
        m = per_key.groupBy(*keys).agg(*map_aggs)
        out = out.join(m, on=keys, how="left")
        for f in batch:
            val = F.coalesce(
                F.col(f.name), F.expr("map()").cast(feature_dtype(f))
            )
            out = out.withColumn(
                f.name,
                F.when(F.size(val) <= F.lit(plan.max_group_size), val),
            )
    for f in group_feats:
        if f in fused_feats:
            continue
        # map-of-accumulators as TWO Catalyst exchanges: partial aggs
        # per (entity, key) with map-side combine, then collect the
        # finished entries into a map per entity. Rows are pre-filtered
        # by this feature's full visibility so absent keys never
        # surface with init values (executor parity).
        ex = F.expr(f.expr)
        gk = _key_str(base, f.group)
        pgf = f.post_group_filter
        # skip_nulls (enforced by the support gate) drops null values
        # AND null group keys, like the Arrow executors
        ok = ex.isNotNull() & F.expr(f.group).isNotNull()
        if f.skip_nulls and pgf is not None:
            # post-group filter (t02-groups:11-13, ToCore/Fold.hs:
            # 275-285): every visible fact ESTABLISHES its key — only
            # the fold step is guarded, so fully-filtered keys emit
            # the fold's init. A null element still establishes but
            # never reaches the guarded step (skip_nulls).
            rows = base.where(
                _visibility(f, qt, tcol) & F.expr(f.group).isNotNull()
            ).select(
                *[F.col(k) for k in keys],
                gk.alias("__gk"),
                F.expr(f.group).alias("__gkr"),
                ex.alias("__gv"),
                (
                    F.coalesce(F.expr(pgf).cast("boolean"), F.lit(False))
                    & ex.isNotNull()
                ).alias("__pgok"),
                F.lit(0).alias("__gp"),
                *_order_cols(plan),
            )
        elif f.skip_nulls:
            # skip_nulls: null elements / null keys silently drop
            rows = base.where(_visibility(f, qt, tcol) & ok).select(
                *[F.col(k) for k in keys],
                gk.alias("__gk"),
                F.expr(f.group).alias("__gkr"),
                ex.alias("__gv"),
                F.lit(True).alias("__pgok"),
                F.lit(0).alias("__gp"),
                *_order_cols(plan),
            )
        else:
            # Possibly semantics: ANY visible null element or null
            # key poisons the WHOLE map (executor parity, t03.1) —
            # keep the row as a poison marker instead of dropping it
            rows = base.where(_visibility(f, qt, tcol)).select(
                *[F.col(k) for k in keys],
                F.when(ok, gk).alias("__gk"),
                F.when(ok, F.expr(f.group)).alias("__gkr"),
                F.when(ok, ex).alias("__gv"),
                F.lit(True).alias("__pgok"),
                F.when(ok, 0).otherwise(1).alias("__gp"),
                *_order_cols(plan),
            )
        if f.group_latest is not None:
            # `group k ~> latest N`: frame the last N facts PER KEY
            # (t17-latest:4-8) before the guarded fold. The rank
            # window partitions on the same (keys, __gk) the per-key
            # aggregate groups on, so Catalyst reuses one exchange.
            wgl = W.partitionBy(
                *[F.col(k) for k in keys], F.col("__gk")
            ).orderBy(*[c.desc() for c in _order_cols(plan)])
            rows = (
                rows.withColumn("__rn", F.row_number().over(wgl))
                .where(F.col("__rn") <= F.lit(f.group_latest))
                .drop("__rn")
            )
        # a guarded-out row (post-group filter) still establishes its
        # key; a fully-guarded key's slot holds the fold's empty value
        # (executor _EMPTY parity: the t02 'counts of zero')
        per_key = rows.groupBy(*keys, "__gk").agg(
            _group_fold(f, plan, F.col("__pgok"), qt, F.col("__gv")).alias("__v"),
            F.max("__gp").alias("__gp"),
            F.min("__gkr").alias("__gkr"),
        )
        # Data.Map iteration order (plans/maporder.py): sort entries
        # by the TYPED key before assembling the map — `group fold
        # (k, v)` postcomps and rendered maps then iterate exactly as
        # the reference's Data.Map accumulator does
        m = per_key.groupBy(*keys).agg(
            F.map_from_entries(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__gk").isNotNull(),
                                F.struct(
                                    F.col("__gkr").alias("r"),
                                    F.col("__gk").alias("k"),
                                    F.col("__v").alias("v"),
                                ),
                            )
                        )
                    ),
                    lambda e: F.struct(e["k"].alias("key"), e["v"].alias("value")),
                )
            ).alias(f.name),
            F.max("__gp").alias(f"__poison_{f.name}"),
        )
        out = out.join(m, on=keys, how="left")
        val = F.coalesce(
            F.col(f.name), F.expr("map()").cast(feature_dtype(f))
        )
        # maxMapSize analogue: overflow -> error value (null);
        # Possibly poison -> null map
        out = out.withColumn(
            f.name,
            F.when(
                (F.size(val) <= F.lit(plan.max_group_size))
                & (F.coalesce(F.col(f"__poison_{f.name}"), F.lit(0)) == 0),
                val,
            ),
        ).drop(f"__poison_{f.name}")
    for f in dist_feats:
        # `distinct k`: first fact per (entity, key) in stream order
        # (ToCore/Fold.hs:477-559), then a plain aggregate over those
        # firsts — one rank exchange + one agg exchange.
        ex = F.expr(f.expr)
        vis = _visibility(f, qt, tcol)
        key_ok = F.expr(f.distinct).isNotNull()
        # skip_nulls drops null elements before the firsts pass; in
        # Possibly mode they stay — a null FIRST poisons via _agg_col
        cond = vis & key_ok & (ex.isNotNull() if f.skip_nulls
                               else F.lit(True))
        w = W.partitionBy(
            *[F.col(k) for k in keys], F.expr(f.distinct)
        ).orderBy(*_order_cols(plan))
        firsts = (
            base.where(cond)
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
        )
        marker = f"__nd_{f.name}"
        if monoid.has_state(f):
            val = monoid.state(f, plan, F.lit(True), qt, merge_key=False)
        else:
            val = _agg_col(f, F.lit(True), tcol)
        agged = firsts.groupBy(*keys).agg(
            F.count(F.lit(1)).alias(marker), val.alias("__dv")
        )
        out = out.join(agged, on=keys, how="left")
        if monoid.has_state(f):
            val = monoid.finalize(f, F.col("__dv"))
        else:
            val = F.when(
                F.col(marker).isNull(), _DIRECT_EMPTY[f.agg]()
            ).otherwise(F.col("__dv"))
        # bounded distinct state (maxMapSize, t03 ':set max-map-size'):
        # more distinct keys than the bound -> error value (null)
        out = out.withColumn(
            f.name,
            F.when(
                F.coalesce(F.col(marker), F.lit(0))
                <= F.lit(plan.max_group_size),
                val,
            ),
        ).drop(marker, "__dv")
        if not f.skip_nulls:
            # a null distinct KEY anywhere visible poisons the whole
            # fold (Possibly key, t03.1 — executor parity)
            kp = f"__kp_{f.name}"
            pois = base.where(vis & ~key_ok).groupBy(*keys).agg(
                F.lit(1).alias(kp)
            )
            out = out.join(pois, on=keys, how="left").withColumn(
                f.name,
                F.when(F.col(kp).isNull(), F.col(f.name)),
            ).drop(kp)
    folded = {f.name for f in scalar_feats if f not in direct_feats}
    return out.select(
        *keys,
        *[
            monoid.finalize(f, F.col(_st(f))).alias(f.name)
            if f.name in folded else F.col(f.name)
            for f in plan.features
        ],
    )


def compile_native(
    facts: DataFrame,
    plan: Plan,
    snapshot: Any | None = None,
    chords: DataFrame | None = None,
    broadcast_chords: bool = True,
) -> DataFrame:
    """Compile and return the result DataFrame (lazy).

    ``broadcast_chords=False`` joins the chord table with a shuffle
    join instead of a broadcast — required when the chord table is
    itself at data scale (e.g. one chord per entity at 10^12 rows);
    AQE's skew-join splitting then spreads a hot entity's join across
    tasks, and the downstream two-stage aggregation is salted anyway.
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
        for dup, kept in _dups.items():
            out = out.withColumn(dup, F.col(kept))
        now_sql = (
            f"TIMESTAMP '{snapshot}'"
            if snapshot is not None
            else "query_time"
        )
        return apply_postcomps(out, full, now_sql=now_sql)

    if snapshot is not None:
        qt = F.lit(snapshot).cast("timestamp")
        # pre-filter to the visible range -> parquet pushdown /
        # partition pruning; per-feature windows re-check inside.
        base = facts.where(F.col(tcol) < qt)
        spine = facts.select(ecol).distinct()
        return _finalize(_compile_scoped(spine, base, plan, qt, [ecol]))

    qt = F.col("query_time")
    keys = [ecol, "query_time"] + (["label"] if "label" in chords.columns else [])
    rhs = F.broadcast(chords) if broadcast_chords else chords
    base = facts.join(rhs, on=ecol, how="inner").where(
        F.col(tcol) < qt
    )
    return _finalize(_compile_scoped(chords, base, plan, qt, keys))

"""Partition-level vectorized snapshot executor.

The per-group ``applyInPandas`` executor (plans.executor) pays a fixed
Arrow+pandas cost per ENTITY, which dominates when entities are small
(millions of 50-row entities — the common shape of a token fact
store). This executor instead works per PARTITION:

    repartition(entity) -> sortWithinPartitions(entity, time, seq)
    -> mapInPandas(batch fn)

and inside each Arrow batch evaluates ALL features for ALL entities
with pandas groupby / numpy segment operations — zero per-entity
Python in the built-in-agg path. Entities are contiguous in the
sorted partition; a carry buffer stitches entities that span Arrow
batch boundaries.

Semantics are identical to plans.executor (cross-checked by
tests/test_fold_plans.py): strict ``time < snapshot`` visibility,
Possibly poisoning or skip_nulls, windows with inclusive lower edge,
latest-N after filtering, group/distinct keys, empty-entity init
values.
"""

from __future__ import annotations

from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from icicle_spark.plans.ir import (
    Agg,
    CustomFold,
    Feature,
    Plan,
    apply_filter_let,
    eval_expr,
    feature_dtype,
)

_PANDAS_AGG = {
    Agg.SUM: "sum",
    Agg.COUNT: "count",
    Agg.MEAN: "mean",
    Agg.MIN: "min",
    Agg.MAX: "max",
    Agg.VARIANCE: "var",
    Agg.SD: "std",
    Agg.NEWEST: "last",
    Agg.OLDEST: "first",
    Agg.COUNT_DISTINCT: "nunique",
}

_FILL: dict[Agg, Any] = {
    Agg.DECAYED_SUM: 0.0,
    Agg.SUM: 0.0,
    Agg.COUNT: 0,
    Agg.ANY: False,
    Agg.ALL: True,
    Agg.COUNT_DISTINCT: 0,
    Agg.NUMFLIPS: 0,
}


def _feature_series(
    f: Feature,
    base: pd.DataFrame,
    seg: np.ndarray,
    vis: np.ndarray,
    n_seg: int,
    tns: np.ndarray,
    qt_ns: int,
    max_group: int,
) -> pd.Series:
    """Per-entity results (indexed 0..n_seg-1) for one feature."""
    mask = vis
    if f.window is not None:
        qt_ts = pd.Timestamp(qt_ns)
        lo = f.window.edge(qt_ts, f.window.newer_than_days).value
        mask = mask & (tns >= lo)
        if f.window.older_than_days:
            hi = f.window.edge(qt_ts, f.window.older_than_days).value
            mask = mask & (tns <= hi)
    if f.latest_outer is not None:
        # outer latest frame (t17-latest:28): restrict to the last A
        # VISIBLE facts per entity BEFORE the filter stage
        vidx = np.flatnonzero(mask)
        if len(vidx):
            keep = (
                pd.DataFrame({"i": vidx, "seg": seg[vidx]})
                .groupby("seg", sort=False)
                .tail(f.latest_outer)["i"]
                .to_numpy()
            )
            m2 = np.zeros(len(mask), dtype=bool)
            m2[keep] = True
            mask = m2
    if f.scans:
        # `scan b = agg e` (Context.hs:33, repl t17/t06.01): inclusive
        # running fold over the stream AT THE SCAN'S POSITION — the
        # currently-framed visible rows, before filter_let/where
        # narrowing. Rows outside the frame get null bind values.
        base = base.copy()
        vidx = np.flatnonzero(mask)
        segv = pd.Series(seg[vidx])
        for sname, sagg, sexpr in f.scans:
            sv = eval_expr(sexpr, base).iloc[vidx].reset_index(drop=True)
            g = sv.groupby(segv, sort=False)
            if sagg is Agg.SUM:
                run = g.cumsum()
            elif sagg is Agg.COUNT:
                run = g.cumcount() + 1
            elif sagg is Agg.MIN:
                run = g.cummin()
            elif sagg is Agg.MAX:
                run = g.cummax()
            elif sagg is Agg.MEAN:
                run = g.cumsum() / (g.cumcount() + 1)
            elif sagg == "second_last":
                run = g.shift(1)  # previous element (t06.01 :let)
            else:
                raise ValueError(
                    f"scan does not support aggregate {sagg!r}"
                )
            col = np.full(len(base), np.nan)
            col[vidx] = run.to_numpy().astype("float64")
            base[sname] = col
    # `filter let Some b = e`: bind columns visible to this feature's
    # exprs; null binds fail the pattern. project_exprs nulled the
    # fact columns of tombstoned facts, so they bind null and drop too.
    base, bmask = apply_filter_let(f, base)
    if bmask is not None:
        mask = mask & bmask
    vals = eval_expr(f.expr, base)
    if f.where is not None:
        w = eval_expr(f.where, base)
        mask = mask & w.fillna(False).to_numpy().astype(bool)

    pg = None
    if f.post_group_filter is not None:
        # post-group filter (t02-groups:11-13): keys establish from
        # the UNFILTERED stream; pg guards only the fold step
        pg = (
            eval_expr(f.post_group_filter, base)
            .fillna(False).to_numpy().astype(bool)
        )

    poison = None
    if f.skip_nulls:
        if pg is None:
            mask = mask & ~vals.isna().to_numpy()
        else:
            # a null element never reaches the guarded fold step, but
            # its key still establishes
            pg = pg & ~vals.isna().to_numpy()

    idx = np.flatnonzero(mask)
    sub = pd.DataFrame(
        {"seg": seg[idx], "v": vals.to_numpy()[idx]}
    )
    if pg is not None:
        sub["pg"] = pg[idx]
    if f.agg is Agg.DECAYED_SUM:
        sub["t"] = tns[idx]
    if f.by is not None:
        sub["by"] = eval_expr(f.by, base).to_numpy()[idx]
    key_poison = None
    key_null = np.zeros(len(sub), dtype=bool)
    if f.group is not None:
        gk_raw = eval_expr(f.group, base)
        key_null |= gk_raw.isna().to_numpy()[idx]
        from icicle_spark.plans.maporder import key_str_series

        sub["gk"] = key_str_series(gk_raw).to_numpy()[idx]
        sub["gkr"] = gk_raw.to_numpy()[idx]  # typed key: map sort order
    dks = (
        f.distinct if isinstance(f.distinct, list) else [f.distinct]
    ) if f.distinct is not None else []
    for di, dexpr in enumerate(dks):
        dk_raw = eval_expr(dexpr, base)
        key_null |= dk_raw.isna().to_numpy()[idx]
        arr = dk_raw.to_numpy()[idx]
        if arr.dtype == object:
            # array-valued keys (t30.2 `distinct value` over
            # array<string>) are unhashable for drop_duplicates:
            # coerce to tuples
            sub[f"dk{di}"] = pd.Series(
                [
                    tuple(x.tolist()) if isinstance(x, np.ndarray)
                    else tuple(x) if isinstance(x, list) else x
                    for x in arr
                ],
                index=sub.index, dtype=object,
            )
        else:
            sub[f"dk{di}"] = arr
    if key_null.any():
        # null group/distinct KEY (a Possibly key, e.g. a tombstoned
        # struct — reference t03.1-distinct-tomb): poisons under
        # Possibly semantics, drops like an element filter under
        # skip_nulls.
        if f.skip_nulls:
            sub = sub[~key_null]
        else:
            key_poison = (
                np.bincount(sub["seg"].to_numpy()[key_null], minlength=n_seg) > 0
            )
    dist_over = None
    scoped = f.distinct_in_group and f.group is not None
    for di in range(len(dks)):
        # chained distincts (t02.1) run SEQUENTIALLY — each stage
        # nubs the previous stage's survivors with its own bounded
        # Data.Map (maxMapSize, t03 ':set max-map-size': more
        # distinct keys than the bound -> error value). `group k ~>
        # distinct d` scopes the distinct map PER GROUP KEY.
        keys_d = ["seg", "gk", f"dk{di}"] if scoped else ["seg", f"dk{di}"]
        sub = sub.drop_duplicates(keys_d, keep="first")
        if scoped:
            cnt = sub.groupby(["seg", "gk"], sort=False).size()
            bad = cnt[cnt > max_group].index.get_level_values(0)
            if len(bad):
                over = np.zeros(n_seg, dtype=bool)
                over[np.asarray(bad, dtype=int)] = True
                dist_over = over if dist_over is None else (dist_over | over)
        else:
            sz = np.bincount(sub["seg"].to_numpy(), minlength=n_seg)
            if (sz > max_group).any():
                over = sz > max_group
                dist_over = over if dist_over is None else (dist_over | over)
    if f.group_latest is not None and f.group is not None:
        # `group k ~> latest N`: the frame is PER KEY (contexts after
        # group run inside each group — t17-latest:4-8)
        if f.pg_before_latest and "pg" in sub.columns:
            # filter-then-frame (zebra test_map): the post-group
            # filter narrows each key's stream BEFORE the frame. Keys
            # still establish from every visible fact, so guarded-out
            # rows stay in sub (they never feed the fold).
            keep = (
                sub[sub["pg"]]
                .groupby(["seg", "gk"], sort=False)
                .tail(f.group_latest)
            )
            sub = pd.concat([keep, sub[~sub["pg"]]]).sort_index()
        else:
            sub = sub.groupby(["seg", "gk"], sort=False).tail(f.group_latest)
    if f.latest is not None:
        sub = sub.groupby("seg", sort=False).tail(f.latest)
    if not f.skip_nulls:
        # Possibly semantics: any null element in the FINAL visible
        # slice (after window/filter/distinct/latest) poisons this
        # entity's aggregate — same order as plans.executor. COLLECT
        # is exempt: inside `latest N` each element boxes its OWN
        # error (ReifyPossibility.hs — t15 per-element `tombstone`
        # golden), so nulls stay in place.
        if f.agg is Agg.COLLECT:
            # grouped or not — null group KEYS still poison (t03.1),
            # null elements box per-element (t70 group ~> latest)
            poison = key_poison
        else:
            nn = pd.isna(sub["v"]).to_numpy()
            if pg is not None:
                # a guarded-out null never reaches the fold: no poison
                nn = nn & sub["pg"].to_numpy()
            poison = np.bincount(
                sub["seg"].to_numpy()[nn], minlength=n_seg
            ) > 0
            if key_poison is not None:
                poison = poison | key_poison

    agg = f.agg
    if f.group is not None:
        res = _grouped_map(f, sub, n_seg, max_group)
    elif isinstance(agg, CustomFold):
        res = _custom(
            f, sub, n_seg, qt=pd.Timestamp(qt_ns), max_group=max_group
        )
    elif agg in _PANDAS_AGG:
        g = sub.groupby("seg", sort=False)["v"]
        res = getattr(g, _PANDAS_AGG[agg])()
        if agg is Agg.COUNT:
            res = res.astype("int64")
        elif agg in (Agg.SUM, Agg.MEAN, Agg.VARIANCE, Agg.SD) and len(res):
            res = res.astype("float64")
    elif agg is Agg.DECAYED_SUM:
        lam = np.log(2.0) / (f.half_life_days * 86_400.0)
        age_s = (qt_ns - sub["t"].to_numpy().astype("float64")) / 1e9
        w = sub["v"].to_numpy().astype("float64") * np.exp(-lam * age_s)
        res = pd.Series(w).groupby(sub["seg"].to_numpy(), sort=False).sum()
        res.index.name = "seg"
    elif agg in (Agg.ANY, Agg.ALL):
        g = sub.assign(v=sub["v"].astype(bool)).groupby("seg", sort=False)["v"]
        res = g.any() if agg is Agg.ANY else g.all()
    elif agg is Agg.NUMFLIPS:
        same_seg = sub["seg"].to_numpy()[1:] == sub["seg"].to_numpy()[:-1]
        flip = (sub["v"].to_numpy()[1:] != sub["v"].to_numpy()[:-1]) & same_seg
        res = pd.Series(
            np.bincount(sub["seg"].to_numpy()[1:][flip], minlength=n_seg)
        )
        res.index.name = "seg"
        res = res[res.index.isin(sub["seg"].unique())]
    elif agg is Agg.DISTINCT_VALUES:
        res = (
            sub.assign(v=sub["v"].astype(str))
            .drop_duplicates(["seg", "v"])
            .groupby("seg", sort=False)["v"]
            .agg(lambda s: sorted(s))
        )
    elif agg is Agg.COLLECT:
        res = sub.groupby("seg", sort=False)["v"].agg(list)
    elif agg in (Agg.MAX_BY, Agg.MIN_BY):
        g = sub.groupby("seg", sort=False)["by"]
        pos = g.idxmax() if agg is Agg.MAX_BY else g.idxmin()
        res = sub.loc[pos.to_numpy()].set_index("seg")["v"]
    else:  # pragma: no cover
        raise ValueError(f"unsupported agg {agg}")

    out = res.reindex(range(n_seg))
    fill = (
        None
        if isinstance(agg, CustomFold) or f.group is not None
        else _FILL.get(agg)
    )
    if fill is not None:
        out = out.fillna(fill)
        if isinstance(fill, bool):
            out = out.astype(bool)
        elif isinstance(fill, int):
            out = out.astype("int64")
    if agg in (Agg.DISTINCT_VALUES, Agg.COLLECT) and f.group is None:
        # empty visible slice -> empty LIST (fold init; zebra golden
        # `latest_four = []` for an entity whose every fact filtered
        # out) — executor._EMPTY parity
        out = out.apply(lambda x: x if isinstance(x, list) else [])
    if f.group is not None:
        # empty visible slice -> empty map (cogroup executor parity);
        # a NaN float would break Arrow's map conversion. Explicit
        # None (maxMapSize overflow) stays None.
        out = out.apply(lambda x: x if isinstance(x, dict) or x is None else {})
    if dist_over is not None:
        poison = dist_over if poison is None else (poison | dist_over)
    if poison is not None and poison.any():
        out = out.astype(object).where(~pd.Series(poison, index=out.index), None)
    dt = feature_dtype(f)
    if dt.startswith(("array<", "map<", "struct<")) or dt == "string":
        # empty visible slice surfaces as None, not float NaN — a NaN
        # in a non-scalar column breaks the Arrow conversion
        out = out.astype(object)
        out = out.where(out.notna(), None)
    return out


def _grouped_map(f: Feature, sub: pd.DataFrame, n_seg: int, max_group: int):
    """`group k ~> agg` — map column built from a (seg, key) agg."""
    agg = f.agg
    if isinstance(agg, CustomFold):
        raise ValueError("custom folds inside `group` use the cogroup executor")
    # typed key per (seg, stringified key) — BEFORE the post-group
    # filter drops rows (guarded-out keys still hold map slots)
    raw_of = {
        (s, k): r
        for s, k, r in zip(sub["seg"], sub["gk"], sub["gkr"])
    }
    keys_index = None
    if "pg" in sub.columns:
        # post-group filter: every (seg, key) in sub establishes a
        # slot; only pg rows feed the fold — empty slots get the
        # fold's init (t02 'counts of zero')
        keys_index = (
            sub.groupby(["seg", "gk"], sort=False).size().index
        )
        sub = sub[sub["pg"]]
    g = sub.groupby(["seg", "gk"], sort=False)["v"]
    if agg in _PANDAS_AGG:
        per_key = getattr(g, _PANDAS_AGG[agg])()
    elif agg is Agg.ANY:
        per_key = g.any()
    elif agg is Agg.ALL:
        per_key = g.all()
    elif agg is Agg.COLLECT:
        # map key -> value list in stream order (`group k ~> latest N
        # ~> elem`, t17-latest:4)
        per_key = g.agg(list)
    else:
        raise ValueError(f"group does not support {agg}")
    if keys_index is not None:
        per_key = per_key.reindex(keys_index)
        fill = _FILL.get(agg)
        if fill is not None:
            per_key = per_key.fillna(fill)
        elif agg in (Agg.COLLECT, Agg.DISTINCT_VALUES):
            # list-valued folds: the init over an empty guarded slice
            # is the empty LIST (zebra test_map golden `["arm",[]]`),
            # and fillna can't take a list
            per_key = per_key.apply(
                lambda v: v if isinstance(v, list) else []
            )
        else:
            per_key = per_key.astype(object).where(per_key.notna(), None)
    if agg is Agg.COUNT:
        per_key = per_key.astype("int64")
    from icicle_spark.plans.maporder import _ord_key

    entries: dict[int, dict] = {}
    for (s, k), v in per_key.items():
        entries.setdefault(s, {})[k] = v
    maps: dict[int, dict | None] = {}
    for s, m in entries.items():
        if len(m) > max_group:
            maps[s] = None  # maxMapSize overflow -> error value
            continue
        # Data.Map iteration order by the TYPED key (maporder)
        try:
            order = sorted(m, key=lambda k: _ord_key(raw_of[(s, k)]))
        except TypeError:
            order = sorted(m)  # incomparable raws: stringified order
        maps[s] = {k: m[k] for k in order}
    res = pd.Series(maps)
    res.index.name = "seg"
    return res


_OVERFLOW = object()  # maxMapSize overflow marker (distinct from
                      # "no facts", which the empty-state fill covers)


def _custom(
    f: Feature, sub: pd.DataFrame, n_seg: int, qt: Any = None,
    max_group: int | None = None,
) -> pd.Series:
    cf: CustomFold = f.agg  # type: ignore[assignment]

    def _fin(state):
        if cf.output_qt is not None:
            r = cf.output_qt(state, qt)
        else:
            r = cf.output(state) if cf.output else state
        if (
            max_group is not None
            and isinstance(r, dict)
            and len(r) > max_group
        ):
            return _OVERFLOW  # bounded map state -> error value
        return r

    segs = sub["seg"].to_numpy()
    vals = sub["v"].to_numpy()
    bounds = np.flatnonzero(np.diff(segs)) + 1
    out: dict[int, Any] = {}
    for part_seg, part_vals in zip(np.split(segs, bounds), np.split(vals, bounds)):
        if len(part_seg) == 0:
            continue
        if cf.step is not None:
            state = cf.step(part_vals) if len(part_vals) else cf.init
        else:
            state = cf.init
            for x in part_vals:
                state = cf.step_seq(state, x)
        out[int(part_seg[0])] = _fin(state)
    empty = _fin(cf.init) if (cf.output or cf.output_qt) else (
        cf.step(np.array([])) if cf.step is not None else cf.init
    )
    res = pd.Series(out, dtype=object)
    res.index.name = "seg"
    full = res.reindex(range(n_seg))
    full = full.where(full.notna() | pd.isna(empty), empty)
    if any(v is _OVERFLOW for v in out.values()):
        full = full.map(lambda v: None if v is _OVERFLOW else v)
    return full


def _process_chunk(
    plan: Plan, pdf: pd.DataFrame, qt: pd.Timestamp,
    time_is_us: bool = False,
) -> pd.DataFrame:
    ecol = plan.entity_col
    ent, uniques = pd.factorize(pdf[ecol], sort=False)
    n_seg = len(uniques)
    if time_is_us:
        # the exchange shipped unix_micros int64 (see
        # run_snapshot_vectorized) — no Arrow-timestamp -> pandas
        # datetime64 materialization to undo
        tns = pdf[plan.time_col].to_numpy() * 1000
    else:
        tns = (
            pdf[plan.time_col].to_numpy()
            .astype("datetime64[ns]").view("int64")
        )
    qt_ns = int(np.datetime64(qt, "ns").view("int64"))
    vis = tns < qt_ns
    data = {ecol: uniques}
    for f in plan.features:
        data[f.name] = _feature_series(
            f, pdf, ent, vis, n_seg, tns, qt_ns, plan.max_group_size
        ).to_numpy()
    return pd.DataFrame(data)


def _expr_blob(plan: Plan) -> str | None:
    """Every string expression of the plan joined, or None when any
    expression is a callable (opaque — no pruning possible)."""
    exprs: list[str] = []
    for f in plan.features:
        dl = f.distinct if isinstance(f.distinct, list) else [f.distinct]
        for e in (f.expr, f.where, f.by, f.group, f.post_group_filter, *dl):
            if e is None:
                continue
            if not isinstance(e, str):
                return None
            exprs.append(e)
        for _, e in (f.filter_let or ()):
            if not isinstance(e, str):
                return None
            exprs.append(e)
        for _, _, e in (f.scans or ()):
            if not isinstance(e, str):
                return None
            exprs.append(e)
    return "\n".join(exprs)


def _blob_references(blob: str, col: str) -> bool:
    import re

    return re.search(rf"\b{re.escape(col)}\b", blob) is not None


def referenced_columns(plan: Plan, columns: list[str]) -> list[str] | None:
    """Fact columns the plan's expressions actually reference (plus
    the key columns), or None when any expression is a callable.

    mapInPandas is opaque to Catalyst, so column pruning must happen
    here: every unreferenced column otherwise rides the entity shuffle
    AND the JVM->Python Arrow transfer (measured ~25% of the fused
    flagship's Arrow cost for one spare int64 + one spare string at
    8M rows)."""
    blob = _expr_blob(plan)
    if blob is None:
        return None
    keep = {plan.entity_col, plan.time_col}
    if plan.seq_col:
        keep.add(plan.seq_col)
    return [c for c in columns if c in keep or _blob_references(blob, c)]


def run_snapshot_vectorized(
    facts: DataFrame,
    plan: Plan,
    snapshot: Any,
    partitions: int | None = None,
    assume_arranged: bool = False,
) -> DataFrame:
    """One vectorized pass per partition (see module docstring).

    ``assume_arranged=True`` skips the entity exchange AND the
    partition sort — the single biggest cost of this executor
    (measured 4.6 s of the 6.9 s fused flagship at 8M rows) — for
    facts whose STORAGE already guarantees the invariant: every
    entity's facts in one partition, contiguous, time(+seq)-sorted.
    ``sources.io.write_fact_store`` / ``read_fact_store`` maintain
    exactly that layout (the reference's store holds the same
    invariant: entity-major, ingestion-ordered — README.md:132-141).
    The batch function still VERIFIES contiguity within each
    partition (an entity reappearing after another — in the same
    Arrow chunk or a later one — raises), so a violated contract
    fails loudly instead of returning partial folds. The one
    violation it CANNOT see is an entity split across two
    *partitions*: each partition folds its slice independently and
    the output carries duplicate entity rows. Stores written by
    ``write_fact_store`` never do that; guard hand-supplied input
    yourself (e.g. assert ``groupBy(entity).count()`` parity) before
    passing ``assume_arranged=True``."""
    plan = plan.condensed()
    ecol, tcol = plan.entity_col, plan.time_col
    qt = pd.Timestamp(snapshot)
    entity_type = dict(facts.dtypes)[ecol]
    schema = ", ".join(
        [f"`{ecol}` {entity_type}"]
        + [f"`{f.name}` {feature_dtype(f)}" for f in plan.features]
    )
    n_part = partitions or facts.sparkSession.conf.get("spark.sql.shuffle.partitions")
    # NOTE: no JVM-side `time < qt` pre-filter here — the output spine
    # is EVERY entity in the fact stream (native compiles the same
    # spine), so an entity whose facts are all at/after the snapshot
    # still emits its fold-init row; a scan filter would drop it.
    needed = referenced_columns(plan, facts.columns)
    if needed is not None:
        facts = facts.select(*needed)  # prune BEFORE the shuffle
    blob = _expr_blob(plan)
    time_is_us = blob is not None and not _blob_references(blob, tcol)
    if time_is_us:
        # no expression reads the time COLUMN (only the fold kernels
        # read time VALUES): ship it as unix_micros int64. Same 8
        # bytes on the wire, but the executor skips the Arrow
        # timestamp -> pandas datetime64[ns] materialization on every
        # batch (session tz is pinned UTC, so micros*1000 IS the
        # naive ns basis the kernels compare against).
        facts = facts.withColumn(
            tcol, F.unix_micros(F.col(tcol).cast("timestamp"))
        )
    if assume_arranged:
        arranged = facts
        if (
            plan.seq_col
            and plan.seq_col in arranged.columns
            and blob is not None
            and not _blob_references(blob, plan.seq_col)
        ):
            # the store's sort already encoded the tiebreaker into row
            # order; the Python side never reads it — drop it from the
            # Arrow transfer (one int64 column is ~60 MB at 8M rows)
            arranged = arranged.drop(plan.seq_col)

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            carry: pd.DataFrame | None = None
            finished: set = set()  # entities already folded + emitted
            for pdf in batches:
                if carry is not None and len(carry):
                    pdf = pd.concat([carry, pdf], ignore_index=True)
                if len(pdf) == 0:
                    continue
                ent = pdf[ecol].to_numpy()
                codes, uniq = pd.factorize(ent, sort=False)
                # contiguity guard: factorize assigns codes by first
                # occurrence, so contiguous entities <=> nondecreasing
                # codes. Cheap (O(n)), and the only thing standing
                # between a violated assume_arranged contract and
                # silently split folds.
                if len(codes) > 1 and bool(np.any(np.diff(codes) < 0)):
                    raise ValueError(
                        "facts are not entity-contiguous within the "
                        "partition; re-run without assume_arranged or "
                        "rebuild the fact store with write_fact_store"
                    )
                # cross-chunk guard: an entity whose fold was already
                # emitted from an earlier Arrow batch must not recur
                # (the carried trailing entity is never in `finished`)
                if finished and not finished.isdisjoint(uniq.tolist()):
                    raise ValueError(
                        "entity recurs in a later Arrow batch of the "
                        "partition; facts are not entity-contiguous — "
                        "re-run without assume_arranged or rebuild "
                        "the fact store with write_fact_store"
                    )
                # hold back the (possibly incomplete) trailing entity
                last = ent[-1]
                if ent[0] == last:
                    carry = pdf
                    continue
                nz = np.flatnonzero(ent != last)
                cut = int(nz[-1] + 1)
                carry = pdf.iloc[cut:]
                # nondecreasing codes => uniq[-1] is the carried entity
                finished.update(uniq[:-1].tolist())
                yield _process_chunk(plan, pdf.iloc[:cut], qt, time_is_us)
            if carry is not None and len(carry):
                yield _process_chunk(plan, carry, qt, time_is_us)

        return arranged.mapInPandas(fn, schema)

    # shuffled path: hash-exchange WITHOUT the JVM sort — the executor
    # buffers its partition and orders it with one stable numpy
    # lexsort instead. The JVM partition sort was the single most
    # expensive stage of this plan (measured 6.14 s -> 5.18 s no-op
    # floor at 8M rows x 32 cores, seq shipped); a 250k-row lexsort
    # costs ~20 ms. Peak memory is one partition in pandas — the same
    # envelope applyInPandas already imposes, governed by
    # spark.sql.shuffle.partitions / maxPartitionBytes at scale.
    arranged = facts.repartition(int(n_part), ecol)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [b for b in batches if len(b)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        codes, _ = pd.factorize(pdf[ecol], sort=False)
        t = pdf[tcol].to_numpy()
        if not time_is_us:
            t = t.astype("datetime64[ns]").view("int64")
        keys = (
            (pdf[plan.seq_col].to_numpy(), t, codes)
            if plan.seq_col and plan.seq_col in pdf.columns
            else (t, codes)
        )
        order = np.lexsort(keys)  # stable; last key (entity) primary
        pdf = pdf.iloc[order].reset_index(drop=True)
        yield _process_chunk(plan, pdf, qt, time_is_us)

    return arranged.mapInPandas(fn, schema)

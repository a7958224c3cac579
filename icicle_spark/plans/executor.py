"""Fused as-of fold executor — ONE ``applyInPandas`` pass per input.

This is the engine's analogue of the reference's fused query kernels
(/root/reference/icicle-compiler/src/Icicle/Runtime/Evaluator.hs:425-521):
facts are shuffled once by entity, sorted by time within the group, and
ALL features of the plan are evaluated at every query time with numpy
slice reductions over the visible prefix (the "stencil",
/root/reference/icicle-compiler/src/Icicle/Runtime/Stencil.hs:111-134):

* snapshot scope — one literal query time for all entities
* chord scope    — per-entity (query_time, label) rows, as-of join

Visibility is STRICTLY ``time < query_time`` (zero temporal leakage,
Stencil.hs:111-113); windows add ``time >= qtime - N days`` (inclusive
lower edge, icicle-data/src/Icicle/Data/Time.hs:288-292).

Scale notes (designed for 10^12 rows / 1000 executors):

* one shuffle total, keyed by entity; AQE coalesces post-shuffle
  partitions.  An entity is never split across partitions — the same
  invariant the reference holds (README.md:139-141) — so arbitrary
  sequential folds stay correct without cross-partition state merge.
* per entity the pass is O(n_facts + n_qtimes * slice) with all
  element expressions evaluated once, vectorized, then sliced per
  query time via ``np.searchsorted`` on the sorted time axis.
* no collect(); no per-row Python. Arrow batches in and out.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from icicle_spark.plans.chordexec import run_chords_vectorized, supports_chords
from icicle_spark.plans.ir import (
    Agg,
    CustomFold,
    Feature,
    Plan,
    apply_filter_let,
    apply_scans,
    eval_expr,
    feature_dtype,
    resolve_dtypes,
    substitute_binds,
)
from icicle_spark.plans.native import (
    compile_native,
    native_supported,
    null_tombstoned,
)
from icicle_spark.plans.vexec import run_snapshot_vectorized

_EMPTY: dict[Agg, Any] = {
    Agg.SUM: 0.0,
    Agg.COUNT: 0,
    Agg.ANY: False,
    Agg.ALL: True,
    Agg.COUNT_DISTINCT: 0,
    Agg.DISTINCT_VALUES: [],
    Agg.COLLECT: [],
    Agg.NUMFLIPS: 0,
}


def _reduce_slice(
    f: Feature, vals: np.ndarray, by: np.ndarray | None, qt: Any = None
) -> Any:
    """Reduce the visible, filtered element slice to the fold result.

    ``vals`` is already filtered; Possibly semantics (a null element
    poisons the aggregate unless skip_nulls) are applied here —
    matching error propagation through reified Sum Error a
    (/root/reference/icicle-source/src/Icicle/Source/Transform/ReifyPossibility.hs).
    """
    isna = pd.isna(vals)
    if f.skip_nulls:
        vals = vals[~isna]
        if by is not None:
            by = by[~isna]
    elif f.agg is Agg.COLLECT:
        # inside `latest N` every element boxes its OWN error
        # (ReifyPossibility.hs lowers latest of Possibly a to
        # Array (Sum Error a) — repl t15 `latest 5 ~> (value,
        # tombstone)` golden renders per-element `tombstone` rows):
        # keep nulls in place, no whole-array poison
        return [None if isna[i] else v for i, v in enumerate(vals)]
    elif isna.any():
        return None
    agg = f.agg
    if isinstance(agg, CustomFold):
        if len(vals) == 0:
            state = agg.init
        elif agg.step is not None:
            state = agg.step(vals)
        else:
            state = agg.init
            for x in vals:
                state = agg.step_seq(state, x)
        if agg.output_qt is not None:
            return agg.output_qt(state, qt)
        return agg.output(state) if agg.output else state
    n = len(vals)
    if n == 0:
        return _EMPTY.get(agg)  # None for value-typed folds (fold1 path)
    if agg is Agg.SUM:
        return float(np.sum(vals.astype("float64")))
    if agg is Agg.DECAYED_SUM:  # pragma: no cover - handled upstream
        raise ValueError("decayed_sum requires times/qt context")
    if agg is Agg.COUNT:
        return int(n)
    if agg is Agg.MEAN:
        return float(np.mean(vals.astype("float64")))
    if agg is Agg.MIN:
        return vals.min()
    if agg is Agg.MAX:
        return vals.max()
    if agg is Agg.VARIANCE:
        if n < 2:
            return None
        return float(np.var(vals.astype("float64"), ddof=1))
    if agg is Agg.SD:
        if n < 2:
            return None
        return float(np.std(vals.astype("float64"), ddof=1))
    if agg is Agg.NEWEST:
        return vals[-1]
    if agg is Agg.OLDEST:
        return vals[0]
    if agg is Agg.ANY:
        return bool(np.any(vals))
    if agg is Agg.ALL:
        return bool(np.all(vals))
    if agg is Agg.COUNT_DISTINCT:
        return int(pd.unique(vals).size)
    if agg is Agg.DISTINCT_VALUES:
        return sorted(str(x) for x in pd.unique(vals))
    if agg is Agg.NUMFLIPS:
        return int(np.sum(vals[1:] != vals[:-1]))
    if agg is Agg.COLLECT:
        return list(vals)
    if agg is Agg.MAX_BY or agg is Agg.MIN_BY:
        # null keys can't win (np.argmax would return the FIRST NaN
        # position — garbage); nanarg* skips them and keeps the first
        # occurrence on ties, matching vexec's idxmax/idxmin
        b = pd.to_numeric(pd.Series(by), errors="coerce").to_numpy(
            dtype="float64"
        )
        if np.isnan(b).all():
            return None
        i = int(np.nanargmax(b)) if agg is Agg.MAX_BY else int(np.nanargmin(b))
        return vals[i]
    raise ValueError(f"unknown agg {agg}")


def _hashable_key(k):
    """A dedup-dict form of a distinct/group key value (array-valued
    keys are unhashable as-is)."""
    if isinstance(k, np.ndarray):
        return tuple(k.tolist())
    if isinstance(k, list):
        return tuple(k)
    return k


def _feature_value(
    f: Feature,
    lo: int,
    hi: int,
    vals: np.ndarray,
    mask: np.ndarray | None,
    by: np.ndarray | None,
    gkey: np.ndarray | None,
    dkey: np.ndarray | None,
    max_group: int,
    times: np.ndarray | None = None,
    qt: Any | None = None,
    pg: np.ndarray | None = None,
) -> Any:
    """Evaluate one feature over the visible index range [lo, hi)."""
    idx = np.arange(lo, hi)
    if f.latest_outer is not None:
        # outer latest frame: the filter stage sees ONLY the last A
        # visible facts (`latest A ~> filter p ~> ...`, t17-latest:28)
        idx = idx[-f.latest_outer:]
    if mask is not None:
        idx = idx[mask[idx]]
    if f.skip_nulls and len(idx):
        # skip_nulls acts like an element filter: nulls are dropped
        # BEFORE the latest-N buffer / distinct pass sees them.
        if pg is None:
            idx = idx[~pd.isna(vals[idx])]
        else:
            # post-group filter: a null element never reaches the
            # guarded fold step, but its key still establishes
            pg = pg.copy()
            pg[idx[pd.isna(vals[idx]).astype(bool)]] = False
    dkeys = dkey if isinstance(dkey, list) else (
        [dkey] if dkey is not None else []
    )
    if gkey is not None and len(idx):
        # null group KEY (Possibly key, e.g. tombstoned struct —
        # t03.1-distinct-tomb): poison, or drop under skip_nulls —
        # matching plans.vexec.
        kn = pd.isna(gkey[idx])
        if kn.any():
            if not f.skip_nulls:
                return None
            idx = idx[~kn]
    for dk in dkeys:
        # `distinct k` — keep FIRST fact per key in stream order
        # (reference ToCore/Fold.hs:477-559: Map k Unit + lookup
        # guard). Chained distincts (t02.1) run sequentially, each
        # over the previous stage's survivors, each with its OWN
        # bounded Data.Map — so a stage's key nulls are judged only
        # on the substream that reaches it.
        if len(idx) == 0:
            break
        kn = pd.isna(dk[idx])
        if kn.any():
            if not f.skip_nulls:
                return None
            idx = idx[~kn]
        sel = dk[idx]
        scoped = f.distinct_in_group and gkey is not None
        if scoped or sel.dtype == object:
            # slow path: per-group scoping (`group k ~> distinct d`,
            # t02.1 — the distinct map is PER GROUP KEY) and/or
            # array-valued keys (t30.2 `distinct value` over
            # array<string>, unhashable for np.unique): dedup via
            # tuple-coerced dict keys, order preserved. The bounded
            # Data.Map (maxMapSize) is per distinct state — per
            # group key when scoped.
            gsel = gkey[idx] if scoped else None
            seen: set = set()
            keep: list[int] = []
            per_group: dict = {}
            for i, k in enumerate(sel):
                kk = _hashable_key(k)
                full = (_hashable_key(gsel[i]), kk) if scoped else kk
                if full not in seen:
                    seen.add(full)
                    keep.append(i)
                    if scoped:
                        g = full[0]
                        per_group[g] = per_group.get(g, 0) + 1
                        if per_group[g] > max_group:
                            return None
            first_pos = np.asarray(keep, dtype=np.intp)
            if not scoped and len(first_pos) > max_group:
                return None
        else:
            _, first_pos = np.unique(sel, return_index=True)
            first_pos = np.sort(first_pos)
            if len(first_pos) > max_group:
                # the reference's distinct state is a bounded Data.Map
                # (maxMapSize): overflow -> error value (t03-distinct
                # ':set max-map-size 2' golden: homer|tombstone)
                return None
        idx = idx[first_pos]
    if f.latest is not None:
        idx = idx[-f.latest:]  # circular buffer: last N facts
    if f.agg is Agg.DECAYED_SUM:
        v = vals[idx]
        na = pd.isna(v)
        if f.skip_nulls:
            v, sel = v[~na], idx[~na]
        elif na.any():
            return None
        else:
            sel = idx
        lam = np.log(2.0) / (float(f.half_life_days) * 86_400.0)
        age_s = (
            np.asarray(qt, dtype="datetime64[ns]").view("int64")
            - times[sel].astype("datetime64[ns]").view("int64")
        ).astype("float64") / 1e9
        return float(np.sum(v.astype("float64") * np.exp(-lam * age_s)))
    v = vals[idx]
    b = by[idx] if by is not None else None
    if gkey is not None:
        # `group k ~> agg` — map from key to sub-aggregate
        # (reference ToCore/Fold.hs:413-475, map of accumulators).
        # Possibly semantics poison the WHOLE map when any visible
        # element value is null (t03.1: homer|tombstone), matching
        # vexec's row-level poison.
        vis_null = pd.isna(v)
        if pg is not None:
            # a guarded-out null never reaches the fold: no poison
            vis_null = vis_null & pg[idx]
        # COLLECT is exempt: `group k ~> latest N ~> elem` boxes each
        # element's error individually (ReifyPossibility.hs — the t70
        # golden renders homer|{ "arm" -> [ None, None ], ... })
        if (
            not f.skip_nulls
            and f.agg is not Agg.COLLECT
            and vis_null.any()
        ):
            return None
        keys = gkey[idx]
        out: dict[str, Any] = {}
        from icicle_spark.plans.maporder import hask_sorted

        # Data.Map iteration order (maporder.hask_sorted): the
        # reference's group accumulator is a Data.Map, so rendered
        # maps and (k, v) folds see ascending TYPED keys
        for k in hask_sorted(pd.unique(keys)):
            sel = np.flatnonzero(keys == k)
            if pg is not None and f.pg_before_latest:
                # filter-then-frame (zebra test_map): the guard
                # narrows the key's stream BEFORE the frame
                sel = sel[pg[idx[sel]]]
            if f.group_latest is not None:
                # `group k ~> latest N`: frame per key (t17-latest:4-8)
                sel = sel[-f.group_latest:]
            if pg is not None and not f.pg_before_latest:
                # key established by every visible fact; the fold
                # step is guarded (t02 'counts of zero')
                sel = sel[pg[idx[sel]]]
            from icicle_spark.plans.maporder import bound_map, key_str

            out[key_str(k)] = bound_map(
                _reduce_slice(
                    f, v[sel], b[sel] if b is not None else None, qt=qt
                ),
                max_group,
            )
            if len(out) > max_group:
                return None  # maxMapSize overflow -> error value
        return out
    from icicle_spark.plans.maporder import bound_map

    return bound_map(_reduce_slice(f, v, b, qt=qt), max_group)


def _prep_feature(f: Feature, pdf: pd.DataFrame) -> dict[str, np.ndarray | None]:
    """Per-feature arrays over one entity's ordered fact frame (fact
    columns already nulled on tombstoned facts by ``project_exprs``)."""
    # `filter let Some b = e`: bind columns for this feature's
    # exprs; facts with a null bind fail the pattern and drop.
    fpdf, bmask = apply_filter_let(f, pdf)
    vals = eval_expr(f.expr, fpdf).to_numpy()
    mask = bmask
    if f.where is not None:
        w = eval_expr(f.where, fpdf).fillna(False).to_numpy().astype(bool)
        mask = w if mask is None else (mask & w)
    return {
        "vals": vals,
        "mask": mask,
        "by": eval_expr(f.by, fpdf).to_numpy() if f.by is not None else None,
        "gkey": eval_expr(f.group, fpdf).to_numpy() if f.group is not None else None,
        "dkey": (
            [eval_expr(d, fpdf).to_numpy() for d in f.distinct]
            if isinstance(f.distinct, list)
            else eval_expr(f.distinct, fpdf).to_numpy()
        ) if f.distinct is not None else None,
        "pg": (
            eval_expr(f.post_group_filter, fpdf)
            .fillna(False).to_numpy().astype(bool)
            if f.post_group_filter is not None
            else None
        ),
    }


def _run_entity(
    plan: Plan,
    pdf: pd.DataFrame,
    qtimes: np.ndarray,
    exprs: dict[str, tuple],
) -> list[list[Any]]:
    """Evaluate all features at all query times for one entity."""
    if plan.seq_col is not None and plan.seq_col in pdf.columns:
        order = np.lexsort(
            (pdf[plan.seq_col].to_numpy(), pdf[plan.time_col].to_numpy())
        )
    else:
        order = np.argsort(pdf[plan.time_col].to_numpy(), kind="stable")
    pdf = pdf.iloc[order]
    times = pdf[plan.time_col].to_numpy()
    cols: dict[str, dict[str, np.ndarray | None]] = {}
    for f in plan.features:
        if f.scans:
            continue  # prepared per query time (frame-dependent binds)
        cols[f.name] = _prep_feature(f, pdf)
    rows = []
    for qt in qtimes:
        hi_asof = int(np.searchsorted(times, qt, side="left"))  # strict <
        row = []
        for f in plan.features:
            lo, hi = 0, hi_asof
            if f.window is not None:
                qt_ts = pd.Timestamp(qt)
                w_lo = np.datetime64(f.window.edge(qt_ts, f.window.newer_than_days))
                lo = int(np.searchsorted(times, w_lo, side="left"))
                if f.window.older_than_days:
                    w_hi = np.datetime64(
                        f.window.edge(qt_ts, f.window.older_than_days)
                    )
                    hi = min(hi, int(np.searchsorted(times, w_hi, side="right")))
            if f.scans:
                # scan binds are running folds over THIS query time's
                # frame: frame first (latest_outer applied here),
                # compute the cumulative columns, then the normal
                # filter/agg machinery over the framed slice.
                import dataclasses as _dc

                idx = np.arange(lo, hi)
                if f.latest_outer is not None:
                    idx = idx[-f.latest_outer:]
                fr = apply_scans(f, pdf.iloc[idx].reset_index(drop=True))
                f2 = _dc.replace(f, latest_outer=None, scans=None)
                c2 = _prep_feature(f2, fr)
                row.append(
                    _feature_value(
                        f2, 0, len(fr), c2["vals"], c2["mask"], c2["by"],
                        c2["gkey"], c2["dkey"], plan.max_group_size,
                        times=times[idx], qt=qt, pg=c2["pg"],
                    )
                )
                continue
            c = cols[f.name]
            row.append(
                _feature_value(
                    f, lo, hi, c["vals"], c["mask"], c["by"],
                    c["gkey"], c["dkey"], plan.max_group_size,
                    times=times, qt=qt, pg=c["pg"],
                )
            )
        rows.append(row)
    return rows


def _out_schema(
    plan: Plan, entity_type: str, chord: bool, label_type: str | None
) -> str:
    parts = [f"`{plan.entity_col}` {entity_type}"]
    if chord:
        parts.append("`query_time` timestamp")
    if label_type:
        # the chord table's own label type: labels pass through as-is
        parts.append(f"`label` {label_type}")
    for f in plan.features:
        parts.append(f"`{f.name}` {feature_dtype(f)}")
    return ", ".join(parts)


def _normalize_time(t: Any) -> np.datetime64:
    if isinstance(t, np.datetime64):
        return t
    if isinstance(t, str):
        return np.datetime64(pd.Timestamp(t))
    if isinstance(t, (_dt.datetime, _dt.date, pd.Timestamp)):
        return np.datetime64(pd.Timestamp(t))
    return np.datetime64(t)


def choose_backend(
    plan: Plan,
    snapshot: Any | None = None,
    chords: DataFrame | None = None,
    strategy: str = "auto",
    assume_arranged: bool = False,
) -> tuple[str, str]:
    """The backend ``run_plan`` runs ``plan`` on, and why.

    Returns (backend, reason); backend is one of 'native' (Catalyst
    compiler), 'vexec' (Arrow snapshot executor), 'chordexec' (Arrow
    chord executor) or 'cogroup' (per-entity applyInPandas). 'auto'
    goes native exactly when the compiler takes the plan — no Python
    worker at all. Otherwise it routes by scope, as the explicit
    'vectorized' strategy does, with cogroup for what chordexec cannot
    fold. An arranged store stays on vexec, which reads its layout in
    place: native would re-read the source, a Python merge-on-read
    scan for a store that is not compacted."""
    if strategy not in ("auto", "native", "vectorized", "cogroup"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if assume_arranged:
        # only the vectorized snapshot executor consumes the arranged
        # layout; refusing beats silently reshuffling
        if snapshot is None or strategy not in ("auto", "vectorized"):
            raise ValueError(
                "assume_arranged requires snapshot scope with "
                "strategy='auto'/'vectorized'"
            )
        return "vexec", "assume_arranged: vexec reads the arranged layout"
    if strategy in ("native", "cogroup"):
        return strategy, f"strategy={strategy!r}"
    if strategy == "auto" and native_supported(plan):
        return "native", "native_supported"
    why = "not native_supported" if strategy == "auto" else "strategy='vectorized'"
    if snapshot is not None:
        return "vexec", f"{why}: snapshot on vexec"
    if supports_chords(plan):
        return "chordexec", f"{why}: prefix-decomposable chords on chordexec"
    if strategy == "vectorized":
        raise ValueError(
            "plan has folds outside the prefix-decomposable set; "
            "use strategy='cogroup' for chords"
        )
    return "cogroup", f"{why}: chords not prefix-decomposable, cogroup"


def project_exprs(facts: DataFrame, plan: Plan):
    """The one step between a plan and every Python executor. Null
    every non-key fact column on tombstoned facts (the
    ``native.prepare_facts`` rule), then evaluate each Spark SQL
    element string JVM-side as a ``__sx*`` column and rewrite the plan
    to read it by name: the executors see only fact, projected, bind
    and scan columns, and callables. A string that names a fact
    column, or a bind of its own feature, stays a name; an expression
    over ``filter_let`` binds reads them by textual substitution of
    their (earlier-bind-substituted) expressions. All strings are
    analysed in one select; one that does not resolve raises, naming
    it. Returns (facts, plan)."""
    import dataclasses as _dc

    from pyspark.sql import functions as F

    facts = null_tombstoned(facts, plan)
    fact_cols = set(facts.columns)
    cols: dict[str, str] = {}  # Spark SQL -> projected column
    source: dict[str, str] = {}  # Spark SQL -> the string as written

    def proj(e, binds: dict[str, str], names: set[str]):
        if not isinstance(e, str):
            return e
        if e.strip() in fact_cols | names:
            return e.strip()
        sql = substitute_binds(e.strip(), binds)
        source.setdefault(sql, e)
        return cols.setdefault(sql, f"__sx{len(cols)}")

    feats = []
    for f in plan.features:
        scans = {n for n, _, _ in f.scans or ()}
        binds: dict[str, str] = {}
        fl = []
        for b, e in f.filter_let or ():
            fl.append((b, proj(e, binds, scans | set(binds))))
            if isinstance(e, str):
                binds[b] = substitute_binds(e.strip(), binds)
        names = scans | {b for b, _ in f.filter_let or ()}
        rep: dict[str, Any] = {
            fld: proj(getattr(f, fld), binds, names)
            for fld in ("expr", "where", "by", "group", "post_group_filter")
        }
        if isinstance(f.distinct, list):
            rep["distinct"] = [proj(d, binds, names) for d in f.distinct]
        else:
            rep["distinct"] = proj(f.distinct, binds, names)
        if f.filter_let:
            rep["filter_let"] = tuple(fl)
        if f.scans:
            rep["scans"] = tuple(
                (n, a, proj(e, {}, set())) for n, a, e in f.scans
            )
        feats.append(_dc.replace(f, **rep))
    if not cols:
        return facts, plan
    try:
        facts = facts.select(
            "*", *[F.expr(s).alias(n) for s, n in cols.items()]
        )
    except Exception:
        for sql in cols:
            try:
                facts.select(F.expr(sql))
            except Exception as exc:
                raise ValueError(
                    f"element expression {source[sql]!r} is not Spark SQL "
                    f"over the facts: {exc}"
                ) from None
        raise
    return facts, _dc.replace(plan, features=feats)


def run_plan(
    facts: DataFrame,
    plan: Plan,
    snapshot: Any | None = None,
    chords: DataFrame | None = None,
    strategy: str = "auto",
    error_codes: bool = False,
    assume_arranged: bool = False,
) -> DataFrame:
    """Evaluate a fused plan at a snapshot time or a chord table.

    snapshot: literal query time — one output row per entity.
    chords:   DataFrame (entity, query_time[, label]) — one output row
              per chord row (reference Runtime/Stencil.hs:121-134).
    strategy: 'auto' (``choose_backend``: the native Catalyst compiler
              when it takes the plan; else the vectorized executors
              by scope, and per-entity cogroup for chords they cannot
              fold),
              'vectorized' (vexec for snapshots, chordexec for
              chords), 'cogroup' (per-entity applyInPandas), or
              'native' (Catalyst compiler — requires a native-supported
              plan; the 100 TB fast path).

    Element strings are Spark SQL on every strategy: the non-native
    ones run ``project_exprs`` first, so the same string means the
    same thing (nulls included) whichever backend runs it.

    No strategy hints a broadcast of the chord table: AQE broadcasts
    a small one from its measured size and shuffle-joins a large one
    (BENCH.md "chord routing trade-off").
    """
    if (snapshot is None) == (chords is None):
        raise ValueError("exactly one of snapshot / chords required")
    if error_codes:
        # Error64 channel (reference Primitive.hs:212-233): join the
        # standalone audit pass's <name>_err columns onto the output.
        # Requires Spark-SQL expr strings (plans.errors contract).
        from icicle_spark.plans.errors import error_codes as _error_codes

        res = run_plan(
            facts, plan, snapshot=snapshot, chords=chords, strategy=strategy,
            assume_arranged=assume_arranged,
        )
        errs = _error_codes(facts, plan, snapshot=snapshot, chords=chords)
        if snapshot is not None:
            keys = [plan.entity_col]
        else:
            keys = [plan.entity_col, "query_time"] + (
                ["label"] if "label" in chords.columns else []
            )
        joined = res.join(errs, on=keys, how="left")
        # a postcomp may null OUT OF ITS OWN ARITHMETIC (null-safe
        # division on unit-init folds: 0/nullif(0,0)); the referenced
        # folds all report OK then — upgrade to CannotCompute so
        # codes still explain every null (Primitive.hs:212-233)
        from pyspark.sql import functions as _F

        from icicle_spark.plans.errors import ERR_CANNOT_COMPUTE

        for name, _e in plan.postcomps:
            joined = joined.withColumn(
                f"{name}_err",
                _F.when(
                    _F.col(name).isNull()
                    & (_F.col(f"{name}_err") == 0),
                    _F.lit(ERR_CANNOT_COMPUTE),
                ).otherwise(_F.col(f"{name}_err")),
            )
        return joined
    # CSE up front, re-aliasing duplicate outputs at the end: the
    # reference shares the fold but keeps every named return
    # (Condense.hs:25-66) — dropping a duplicate's COLUMN would be a
    # silent output change.
    requested = [f.name for f in plan.features]
    backend, _ = choose_backend(
        plan, snapshot, chords, strategy, assume_arranged
    )
    if backend != "native":
        facts, plan = project_exprs(facts, plan)
    plan = resolve_dtypes(plan, facts)
    full = plan
    plan, _dups = plan.stripped().cse()

    def _realias(out: DataFrame) -> DataFrame:
        from pyspark.sql import functions as _F

        # declared-dtype cast FIRST (before dup re-emit and the
        # postcomp stage): resolve_dtypes types int folds integral —
        # the Arrow executors already emit the declared schema, and
        # casting here brings the Catalyst paths (native sums build as
        # `coalesce(sum(x), 0.0)` = double; native chord prefixes cast
        # double at source) to the same reference typing, so postcomps
        # like `sum x * 2` stay integral on every strategy.
        cur = dict(out.dtypes)
        for _f in full.features:
            want = _f.dtype
            if want and cur.get(_f.name) not in (None, want):
                out = out.withColumn(_f.name, _F.col(_f.name).cast(want))
        if not _dups and not full.postcomps and not full.hidden:
            return out

        from icicle_spark.plans.ir import apply_postcomps

        for dup, kept in _dups.items():
            out = out.withColumn(dup, _F.col(kept))
        if full.postcomps or full.hidden:
            # postcomputation stage (Core/Program/Program.hs:33-36):
            # evaluate over the fold outputs, drop hidden folds.
            # `now` = the exclusive snapshot instant / chord query_time
            now_sql = (
                f"TIMESTAMP '{snapshot}'"
                if snapshot is not None
                else "query_time"
            )
            return apply_postcomps(out, full, now_sql=now_sql)
        lead = [c for c in out.columns if c not in requested]
        return out.select(*lead, *requested)

    if backend == "native":
        return _realias(compile_native(facts, plan, snapshot=snapshot, chords=chords))
    if backend == "vexec":
        return _realias(
            run_snapshot_vectorized(
                facts, plan, snapshot, assume_arranged=assume_arranged
            )
        )
    if backend == "chordexec":
        return _realias(run_chords_vectorized(facts, plan, chords))
    plan = plan.condensed()
    ecol, tcol = plan.entity_col, plan.time_col
    entity_type = dict(facts.dtypes)[ecol]
    exprs: dict[str, tuple] = {}

    if snapshot is not None:
        qt = _normalize_time(snapshot)
        schema = _out_schema(plan, entity_type, chord=False, label_type=None)

        def fn_snap(pdf: pd.DataFrame) -> pd.DataFrame:
            entity = pdf[ecol].iloc[0]
            rows = _run_entity(plan, pdf, np.array([qt]), exprs)
            return pd.DataFrame(
                [[entity, *r] for r in rows],
                columns=[ecol, *[f.name for f in plan.features]],
            )

        return _realias(facts.groupBy(ecol).applyInPandas(fn_snap, schema))

    label_type = dict(chords.dtypes).get("label")
    has_label = label_type is not None
    schema = _out_schema(plan, entity_type, chord=True, label_type=label_type)

    def fn_chord(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(right) == 0:
            return pd.DataFrame(
                columns=[ecol, "query_time"]
                + (["label"] if has_label else [])
                + [f.name for f in plan.features]
            )
        entity = right[ecol].iloc[0]
        qts = right["query_time"].to_numpy()
        labels = right["label"].to_numpy() if has_label else None
        if len(left) == 0:
            left = pd.DataFrame({c: pd.Series(dtype=t) for c, t in left.dtypes.items()})
        rows = _run_entity(plan, left, qts, exprs)
        out = []
        for i, r in enumerate(rows):
            head = [entity, pd.Timestamp(qts[i])]
            if has_label:
                head.append(labels[i])
            out.append(head + r)
        return pd.DataFrame(
            out,
            columns=[ecol, "query_time"]
            + (["label"] if has_label else [])
            + [f.name for f in plan.features],
        )

    # fresh attributes on the chord side: a chord table derived from
    # the facts (entities cross-joined with times) otherwise shares
    # the facts' entity attribute and the cogroup cannot resolve it
    chords = chords.toDF(*chords.columns)
    return _realias(
        facts.groupBy(ecol)
        .cogroup(chords.groupBy(ecol))
        .applyInPandas(fn_chord, schema)
    )

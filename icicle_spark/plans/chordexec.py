"""Vectorized chord (multi-query-time as-of) executor.

The cogroup executor (plans/executor.py) calls Python once per entity
— correct for any plan, but at millions of entities the per-group
overhead dominates. This module evaluates a chord scope the way a
sort-merge as-of join would at cluster scale:

1. Facts and chord rows are tagged and UNIONED, co-partitioned by
   entity (one shuffle), and sorted by (entity, time, kind) with
   chord rows ordering BEFORE facts of equal time — that ordering IS
   the strict `<` visibility rule (reference
   icicle-compiler/src/Icicle/Runtime/Stencil.hs:111-124: facts
   strictly before the query time).
2. One ``mapInPandas`` pass computes, per Arrow chunk, a merged rank:
   each chord row's insertion position among the entity's facts
   (#facts before it = its as-of prefix length — the reference's
   "stencil prefix length", Runtime/Evaluator.hs:486-512).
3. Every feature is evaluated from per-feature COMPACTED PREFIX
   ARRAYS (cumulative sum/count/true/null, last/first-valid index,
   grouped cummin/cummax), so each (chord, feature) is O(1) lookups —
   no per-entity Python, no per-chord slicing.

Supported: SUM COUNT MEAN VARIANCE SD NEWEST OLDEST ANY ALL, each
with where-filters, days/weeks/months windows, and latest-N frames
(windowed MIN/MAX and the map/list-shaped folds fall back to the
cogroup executor — ``supports_chords`` reports this).
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

_PREFIX_AGGS = {
    Agg.SUM,
    Agg.COUNT,
    Agg.MEAN,
    Agg.VARIANCE,
    Agg.SD,
    Agg.NEWEST,
    Agg.OLDEST,
    Agg.ANY,
    Agg.ALL,
    Agg.MIN,
    Agg.MAX,
    Agg.DECAYED_SUM,
    # flips between ADJACENT compacted rows are a plain cumsum; any
    # frame [lo, hi) is contiguous in compacted rows, so
    # flips = flip_cum[hi] - flip_cum[lo+1] (the lo-th row's flip
    # compares against a row outside the frame and is excluded)
    Agg.NUMFLIPS,
    # O(frame)-sliced (not prefix) but still chunk-vectorized arrays +
    # O(1) frame lookup — strictly cheaper than the per-entity cogroup
    # fallback, which pays the same O(frame) plus pandas overhead:
    Agg.COUNT_DISTINCT,
    Agg.DISTINCT_VALUES,
    Agg.COLLECT,
    Agg.MAX_BY,
    Agg.MIN_BY,
}

_NUMERIC_AGGS = {Agg.SUM, Agg.MEAN, Agg.VARIANCE, Agg.SD, Agg.MIN, Agg.MAX}


def supports_chords(plan: Plan) -> bool:
    """True if every feature is evaluable from prefix arrays."""
    for f in plan.features:
        if f.latest_outer is not None:
            # the prefix layout compacts where-failing rows up-front,
            # but an OUTER latest frame must see pre-filter facts —
            # route to the cogroup executor
            return False
        if f.scans:
            # scan binds need per-row running values over the raw
            # frame — route to the cogroup executor
            return False
        if isinstance(f.agg, CustomFold) and f.agg.output_qt is not None:
            # qt-referencing outputs need the per-chord query time
            # wired into the prefix finalizer — cogroup handles it
            return False
        if isinstance(f.agg, CustomFold):
            # evaluated per frame over the compacted value slice —
            # O(frame), same cost argument as the sliced aggregates
            if f.group is not None or f.distinct is not None:
                return False
            continue
        if not isinstance(f.agg, Agg) or f.agg not in _PREFIX_AGGS:
            return False
        if f.group is not None or f.distinct is not None:
            return False
        # MIN/MAX under a moving lower edge (window / latest-N) uses an
        # O(frame) slice instead of the entity-prefix cummin/cummax —
        # see _eval_chord
        if f.agg is Agg.DECAYED_SUM and f.half_life_days is None:
            return False
    return True


class _FeatureArrays:
    """Compacted prefix arrays for one feature over one chunk's facts,
    entity-contiguous. Compaction keeps where-passing rows; with
    ``skip_nulls`` nulls are ALSO dropped here — they act like an
    element filter BEFORE the latest-N buffer (same rule as the
    cogroup/vexec executors). With ``skip_nulls=False`` nulls stay in
    the frame and ``null_cum`` drives Possibly poisoning, so every
    value actually read is valid."""

    __slots__ = (
        "times", "pass_cum", "vals", "cum", "cumsq",
        "true_cum", "null_cum", "cmin", "cmax", "codes",
        "dcum", "lam", "dera_w", "dseg", "dseg_start", "flip_cum",
        "fvals", "byvals",
    )

    def __init__(self, f: Feature, facts: pd.DataFrame, codes: np.ndarray,
                 tns: np.ndarray) -> None:
        n = len(facts)
        # `filter let Some b = e`: binds visible to this feature's
        # exprs; null binds (tombstoned facts bind null) fail the
        # pattern and drop.
        facts, bmask = apply_filter_let(f, facts) if n else (facts, None)
        vals = eval_expr(f.expr, facts).to_numpy() if n else np.empty(0)
        if f.where is not None and n:
            ok = eval_expr(f.where, facts)
            ok = ok.fillna(False).to_numpy().astype(bool)
        else:
            ok = np.ones(n, dtype=bool)
        if bmask is not None:
            ok &= bmask
        null_all = pd.isna(pd.Series(vals)).to_numpy() if n else np.zeros(0, bool)
        if f.skip_nulls:
            ok = ok & ~null_all
        # pass_cum maps a global fact prefix length -> compacted length
        self.pass_cum = np.concatenate([[0], np.cumsum(ok, dtype=np.int64)])
        self.times = tns[ok]
        self.codes = codes[ok]
        v = vals[ok]
        null = null_all[ok]
        self.null_cum = np.concatenate([[0], np.cumsum(null, dtype=np.int64)])
        self.vals = v  # original (object-safe) values for NEWEST/OLDEST
        if f.agg in (Agg.MAX_BY, Agg.MIN_BY):
            self.byvals = pd.to_numeric(
                pd.Series(eval_expr(f.by, facts).to_numpy()[ok]),
                errors="coerce",
            ).to_numpy(dtype="float64")
        else:
            self.byvals = None
        if f.agg is Agg.NUMFLIPS:
            sv = np.asarray(v, dtype=object)
            flip = np.zeros(len(sv), dtype=bool)
            if len(sv) > 1:
                same_ent = self.codes[1:] == self.codes[:-1]
                neq = (sv[1:] != sv[:-1]).astype(bool)
                flip[1:] = same_ent & neq
            self.flip_cum = np.concatenate(
                [[0], np.cumsum(flip, dtype=np.int64)]
            )
        else:
            self.flip_cum = None
        if f.agg in (Agg.ANY, Agg.ALL):
            truth = np.zeros(len(v), dtype=bool)
            nn = ~null
            if nn.any():
                truth[nn] = np.asarray(v[nn]).astype(bool)
            self.true_cum = np.concatenate([[0], np.cumsum(truth, dtype=np.int64)])
            self.cum = self.cumsq = self.dcum = None
        else:
            self.true_cum = None
            try:
                fvals = pd.to_numeric(pd.Series(v), errors="coerce").to_numpy(
                    dtype="float64"
                )
            except (TypeError, ValueError):
                fvals = np.full(len(v), np.nan)
            z = np.where(np.isnan(fvals), 0.0, fvals)
            if f.agg in (Agg.VARIANCE, Agg.SD) and len(v):
                # variance is shift-invariant: sums of each entity's
                # values minus its first value stay small, so
                # s2 - s*s/n does not cancel at a large offset
                first = pd.Series(fvals).groupby(self.codes).transform("first")
                z = np.where(np.isnan(fvals), 0.0, fvals - first.to_numpy())
            self.cum = np.concatenate([[0.0], np.cumsum(z)])
            self.cumsq = np.concatenate([[0.0], np.cumsum(z * z)])
            if f.agg is Agg.DECAYED_SUM:
                # sum v*2^(-(qt-t)/hl) via era-segmented prefix sums.
                # A single anchor at the chunk's newest fact underflows
                # for facts ≳1075 half-lives older than it — wrong when
                # the chord's qt is near those old facts. Instead bucket
                # time into fixed eras of width W = 600/lam seconds and
                # anchor each row's weight at its era END, so exponents
                # stay in [-600, 0]; _eval_chord re-anchors each era at
                # qt and stops once an era's multiplier underflows
                # (those facts are < 1e-300 of the result in exact math
                # too). At most ~3 eras are live per evaluation.
                self.lam = np.log(2.0) / (float(f.half_life_days) * 86_400.0)
                self.dera_w = 600.0 / self.lam
                t_s = self.times.astype("float64") / 1e9
                seg = np.floor(t_s / self.dera_w).astype(np.int64)
                z2 = z * np.exp(self.lam * (t_s - (seg + 1) * self.dera_w))
                self.dcum = np.concatenate([[0.0], np.cumsum(z2)])
                self.dseg = seg
                if len(seg):
                    # first compacted index of each (entity, era) run
                    change = np.ones(len(seg), dtype=bool)
                    change[1:] = (seg[1:] != seg[:-1]) | (
                        self.codes[1:] != self.codes[:-1]
                    )
                    self.dseg_start = np.flatnonzero(change)[
                        np.cumsum(change) - 1
                    ]
                else:
                    self.dseg_start = np.zeros(0, dtype=np.int64)
            else:
                self.dcum = None
            if f.agg in (Agg.MIN, Agg.MAX, Agg.COLLECT):
                # windowed / latest frames slice fvals directly
                self.fvals = fvals
            else:
                self.fvals = None
            if f.agg in (Agg.MIN, Agg.MAX) and len(v):
                g = pd.Series(fvals).groupby(self.codes)
                self.cmin = g.cummin().to_numpy()
                self.cmax = g.cummax().to_numpy()
                return
        self.cmin = self.cmax = None


def _eval_chord(
    f: Feature, fa: _FeatureArrays, start: int, hi: int, qt: pd.Timestamp
) -> Any:
    """Feature value for frame over compacted rows [lo, hi) where lo
    starts at the entity's compacted start, adjusted for window and
    latest-N."""
    lo = start
    if f.window is not None and hi > lo:
        w_lo = np.datetime64(f.window.edge(qt, f.window.newer_than_days), "ns")
        lo = int(
            np.searchsorted(fa.times[start:hi], w_lo.view("int64"), side="left")
        ) + start
        if f.window.older_than_days:
            w_hi = np.datetime64(f.window.edge(qt, f.window.older_than_days), "ns")
            hi = min(
                hi,
                int(
                    np.searchsorted(
                        fa.times[start:hi], w_hi.view("int64"), side="right"
                    )
                )
                + start,
            )
    if f.latest is not None:
        lo = max(lo, hi - f.latest)
    if hi <= lo:
        return _fill(f)
    if not f.skip_nulls and fa.null_cum[hi] - fa.null_cum[lo] > 0:
        return None  # Possibly semantics: a null in the slice poisons
    # past the poison gate every row in [lo, hi) holds a valid value
    # (skip_nulls compaction dropped nulls; otherwise they poisoned)
    nvalid = hi - lo
    agg = f.agg
    if isinstance(agg, CustomFold):
        # same contract as the cogroup executor: step over the whole
        # compacted slice (vectorized) or step_seq per element
        vals = np.asarray(fa.vals[lo:hi])
        if agg.step is not None:
            state = agg.step(vals)
        else:
            state = agg.init
            for x in vals:
                state = agg.step_seq(state, x)
        return agg.output(state) if agg.output else state
    if agg is Agg.COUNT:
        return nvalid
    if agg is Agg.NUMFLIPS:
        return int(fa.flip_cum[hi] - fa.flip_cum[lo + 1])
    if agg is Agg.SUM:
        return float(fa.cum[hi] - fa.cum[lo])
    if agg is Agg.DECAYED_SUM:
        # walk era runs newest→oldest; stop when an era's re-anchor
        # multiplier underflows (every older era underflows harder)
        qt_s = qt.value / 1e9
        total = 0.0
        e = hi
        while e > lo:
            i = e - 1
            b = max(int(fa.dseg_start[i]), lo)
            anchor = (float(fa.dseg[i]) + 1.0) * fa.dera_w
            mult = np.exp(-fa.lam * (qt_s - anchor))
            if mult == 0.0:
                break
            total += mult * (fa.dcum[e] - fa.dcum[b])
            e = b
        return float(total)
    if agg is Agg.MEAN:
        return float((fa.cum[hi] - fa.cum[lo]) / nvalid)
    if agg in (Agg.VARIANCE, Agg.SD):
        if nvalid < 2:
            return None
        s = fa.cum[hi] - fa.cum[lo]
        s2 = fa.cumsq[hi] - fa.cumsq[lo]
        var = max((s2 - s * s / nvalid) / (nvalid - 1), 0.0)
        return float(var) if agg is Agg.VARIANCE else float(np.sqrt(var))
    if agg is Agg.ANY:
        return bool(fa.true_cum[hi] - fa.true_cum[lo] > 0)
    if agg is Agg.ALL:
        return bool(fa.true_cum[hi] - fa.true_cum[lo] == nvalid)
    if agg is Agg.NEWEST:
        return fa.vals[hi - 1]
    if agg is Agg.OLDEST:
        return fa.vals[lo]
    if agg is Agg.MIN or agg is Agg.MAX:
        if lo == start:
            # frame starts at the entity's first compacted row: the
            # per-entity cummin/cummax prefix answers in O(1)
            arrp = fa.cmin if agg is Agg.MIN else fa.cmax
            return float(arrp[hi - 1])
        sl = fa.fvals[lo:hi]
        return float(np.min(sl)) if agg is Agg.MIN else float(np.max(sl))
    if agg is Agg.COUNT_DISTINCT:
        return int(pd.unique(fa.vals[lo:hi]).size)
    if agg is Agg.DISTINCT_VALUES:
        return sorted(str(x) for x in pd.unique(fa.vals[lo:hi]))
    if agg is Agg.COLLECT:
        return [float(x) for x in fa.fvals[lo:hi]]
    if agg is Agg.MAX_BY or agg is Agg.MIN_BY:
        # nanarg* keep the FIRST occurrence on ties — the reference's
        # first-wins strict-compare fold — and skip null keys like the
        # other executors' idxmax/idxmin
        b = fa.byvals[lo:hi]
        if np.isnan(b).all():
            return None
        i = int(np.nanargmax(b)) if agg is Agg.MAX_BY else int(np.nanargmin(b))
        return fa.vals[lo + i]
    raise AssertionError(f"unreachable agg {agg}")  # pragma: no cover


def _fill(f: Feature) -> Any:
    if isinstance(f.agg, CustomFold):
        # empty stream: the fold never steps — output of the init
        a = f.agg
        return a.output(a.init) if a.output else a.init
    if f.agg is Agg.DISTINCT_VALUES or f.agg is Agg.COLLECT:
        return []
    return {
        Agg.SUM: 0.0, Agg.COUNT: 0, Agg.ANY: False, Agg.ALL: True,
        Agg.DECAYED_SUM: 0.0, Agg.NUMFLIPS: 0, Agg.COUNT_DISTINCT: 0,
    }.get(f.agg)


def _process(plan: Plan, pdf: pd.DataFrame, has_label: bool) -> pd.DataFrame:
    ecol, tcol = plan.entity_col, plan.time_col
    codes, _ = pd.factorize(pdf[ecol], sort=False)
    tns = pdf[tcol].to_numpy().astype("datetime64[ns]").view("int64")
    is_fact = pdf["__kind"].to_numpy() == 1
    seq = (
        pdf[plan.seq_col].fillna(-1).to_numpy()
        if plan.seq_col and plan.seq_col in pdf.columns
        else np.zeros(len(pdf))
    )
    order = np.lexsort((seq, is_fact, tns, codes))
    codes_s, tns_s, fact_s = codes[order], tns[order], is_fact[order]
    pdf_s = pdf.iloc[order]
    # merged rank: #facts strictly before each merged position
    fact_prefix = np.concatenate([[0], np.cumsum(fact_s, dtype=np.int64)])
    chord_pos = np.flatnonzero(~fact_s)
    chord_hi_global = fact_prefix[chord_pos]  # facts before the chord row

    facts = pdf_s[fact_s]
    fcodes = codes_s[fact_s]
    ftns = tns_s[fact_s]
    # entity -> first fact index (fcodes is sorted: codes was the
    # primary lexsort key)
    ent_codes_sorted = np.unique(codes)
    fact_start = np.searchsorted(fcodes, ent_codes_sorted, side="left")
    start_of = dict(zip(ent_codes_sorted.tolist(), fact_start.tolist()))

    arrays = [_FeatureArrays(f, facts, fcodes, ftns) for f in plan.features]
    chords_pdf = pdf_s[~fact_s]
    c_codes = codes_s[~fact_s]
    qts = chords_pdf[tcol].to_numpy()
    out: dict[str, list] = {f.name: [] for f in plan.features}
    for f, fa in zip(plan.features, arrays):
        col = out[f.name]
        for i in range(len(chords_pdf)):
            e = int(c_codes[i])
            g_start = start_of[e]
            g_hi = int(chord_hi_global[i])
            # compacted frame for this feature
            lo_c = int(fa.pass_cum[g_start])
            hi_c = int(fa.pass_cum[g_hi])
            col.append(
                _eval_chord(f, fa, lo_c, hi_c, pd.Timestamp(qts[i]))
            )
    data = {ecol: chords_pdf[ecol].to_numpy(), "query_time": qts}
    if has_label:
        data["label"] = chords_pdf["label"].to_numpy()
    for f in plan.features:
        # list-valued features must stay object dtype even for an
        # EMPTY chunk: pd.DataFrame([]) infers float64, which Arrow
        # cannot convert to list<...>
        if feature_dtype(f).startswith("array"):
            data[f.name] = pd.Series(out[f.name], dtype=object)
        else:
            data[f.name] = out[f.name]
    return pd.DataFrame(data)


def run_chords_vectorized(
    facts: DataFrame,
    plan: Plan,
    chords: DataFrame,
    partitions: int | None = None,
) -> DataFrame:
    """Chord-scope evaluation via tagged-union co-partitioning + one
    vectorized pass (see module docstring). Requires
    ``supports_chords(plan)``."""
    plan = plan.condensed()
    ecol, tcol = plan.entity_col, plan.time_col
    label_type = dict(chords.dtypes).get("label")
    has_label = label_type is not None
    entity_type = dict(facts.dtypes)[ecol]

    # prune unreferenced fact columns BEFORE the union+shuffle: the
    # tagged rows otherwise carry every spare column through the
    # exchange and the Arrow transfer (mapInPandas is opaque to
    # Catalyst, so this pruning cannot happen automatically)
    from icicle_spark.plans.vexec import _blob_references, _expr_blob, referenced_columns

    needed = referenced_columns(plan, facts.columns)
    if needed is not None:
        facts = facts.select(*needed)

    fact_cols = facts.columns
    f_tagged = facts.withColumn("__kind", F.lit(1)).withColumn(
        "label", F.lit(None).cast(label_type)
    ) if has_label else facts.withColumn("__kind", F.lit(1))
    c_sel = [
        F.col(ecol),
        F.col("query_time").alias(tcol),
        F.lit(0).alias("__kind"),
    ] + ([F.col("label")] if has_label else [])
    c_tagged = chords.select(*c_sel)
    for c in fact_cols:
        if c not in (ecol, tcol):
            c_tagged = c_tagged.withColumn(
                c, F.lit(None).cast(dict(facts.dtypes)[c])
            )
    all_cols = [ecol, tcol, "__kind"] + (
        ["label"] if has_label else []
    ) + [c for c in fact_cols if c not in (ecol, tcol)]
    merged = f_tagged.select(*all_cols).unionByName(c_tagged.select(*all_cols))

    n_part = partitions or facts.sparkSession.conf.get("spark.sql.shuffle.partitions")
    sort_cols = [ecol, tcol, "__kind"] + (
        [plan.seq_col] if plan.seq_col and plan.seq_col in fact_cols else []
    )
    arranged = merged.repartition(int(n_part), ecol).sortWithinPartitions(*sort_cols)
    blob = _expr_blob(plan)
    if (
        plan.seq_col
        and plan.seq_col in fact_cols
        and blob is not None
        and not _blob_references(blob, plan.seq_col)
    ):
        # row order already encodes the tiebreaker after the JVM sort
        arranged = arranged.drop(plan.seq_col)

    schema = ", ".join(
        [f"`{ecol}` {entity_type}", "query_time timestamp"]
        + ([f"label {label_type}"] if has_label else [])
        + [f"`{f.name}` {feature_dtype(f)}" for f in plan.features]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            ent = pdf[ecol].to_numpy()
            last = ent[-1]
            if ent[0] == last:
                carry = pdf
                continue
            cut = int(np.searchsorted(ent, last, side="left"))
            carry = pdf.iloc[cut:]
            body = pdf.iloc[:cut]
            if len(body):
                yield _process(plan, body, has_label)
        if carry is not None and len(carry):
            yield _process(plan, carry, has_label)

    return arranged.mapInPandas(fn, schema)

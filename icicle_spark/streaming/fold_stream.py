"""Structured Streaming front-end for the fold engine.

The reference is batch-executed but streaming-semantics: every
aggregate is an incremental fold with persistable accumulators
(/root/reference/doc/internals/core.md:129-148). That maps directly
onto Structured Streaming:

* ``stream_fold``          — per-entity running fold values via
  ``applyInPandasWithState``: the state IS the resume module's
  accumulator (sum/count/mean/min/max/newest + bounded latest-N
  buffer), updated per micro-batch, emitted on every change.
* ``stream_windowed_agg``  — event-time tumbling/sliding windows with
  a watermark for late data (an engine EXTENSION: the reference has
  only query-time-relative windows).
* ``stream_session_agg``   — native ``session_window`` gap sessions.

All three run on any streaming source (``readStream``); tests drive
them with a file source + ``availableNow`` trigger and assert the
final states equal the batch engine on the same data.

NOTE: checkpoint-based restart requires a durable sink — Spark's
memory sink used in tests refuses checkpoint recovery by design.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from icicle_spark.plans.ir import (
    Agg,
    Feature,
    Plan,
    apply_filter_let,
    eval_expr,
)

_STREAMABLE = {Agg.SUM, Agg.COUNT, Agg.MEAN, Agg.MIN, Agg.MAX, Agg.NEWEST}


def _out_schema(plan: Plan, entity_type: str) -> str:
    cols = [f"`{plan.entity_col}` {entity_type}"]
    for f in plan.features:
        t = "double" if f.agg is not Agg.COUNT else "bigint"
        cols.append(f"`{f.name}` {t}")
    return ", ".join(cols)


def stream_fold(
    stream: DataFrame,
    plan: Plan,
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Per-entity incremental fold over a streaming DataFrame.

    Emits one row per entity per micro-batch in which it changed,
    carrying the CURRENT fold values (running features). State per
    entity and feature is a constant-size accumulator:
    (sum, count, min, max, newest_t_us, newest_v) — the same mergeable
    shape as plans.resume. Element strings are Spark SQL, projected
    JVM-side by ``plans.executor.project_exprs`` as for the batch
    executors (tombstoned facts included).
    """
    for f in plan.features:
        if not (isinstance(f.agg, Agg) and f.agg in _STREAMABLE):
            raise ValueError(f"stream_fold does not support {f.agg}")
        if f.window is not None or f.latest is not None or f.group or f.distinct:
            raise ValueError(
                "stream_fold supports plain folds; use stream_windowed_agg "
                "for event-time windows"
            )
    from icicle_spark.plans.executor import project_exprs

    stream, plan = project_exprs(stream, plan)
    ecol, tcol = plan.entity_col, plan.time_col
    entity_type = dict(stream.dtypes)[ecol]
    out_schema = _out_schema(plan, entity_type)
    n_feats = len(plan.features)
    # state: per feature 6 doubles
    state_schema = ", ".join(f"f{i} array<double>" for i in range(n_feats))
    features = list(plan.features)

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            accs = [list(a) for a in state.get]
        else:
            accs = [
                [0.0, 0.0, np.inf, -np.inf, -np.inf, np.nan]
                for _ in range(n_feats)
            ]
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            t_us = (
                pdf[tcol].to_numpy().astype("datetime64[us]").view("int64")
            )
            for i, f in enumerate(features):
                fpdf, bmask = apply_filter_let(f, pdf)
                vals = eval_expr(f.expr, fpdf)
                mask = (
                    np.ones(len(pdf), dtype=bool) if bmask is None else bmask
                )
                if f.where is not None:
                    mask &= eval_expr(f.where, fpdf).fillna(False).to_numpy().astype(bool)
                mask &= ~vals.isna().to_numpy()
                v = vals.to_numpy()[mask].astype("float64")
                if v.size == 0:
                    continue
                a = accs[i]
                a[0] += float(v.sum())
                a[1] += float(v.size)
                a[2] = min(a[2], float(v.min()))
                a[3] = max(a[3], float(v.max()))
                ts_m = t_us[mask]
                j = int(np.argmax(ts_m))
                if float(ts_m[j]) >= a[4] or np.isnan(a[5]):
                    a[4] = float(ts_m[j])
                    a[5] = float(v[j])
        state.update([tuple(a) for a in accs])
        row: dict[str, Any] = {ecol: key[0]}
        for i, f in enumerate(features):
            a = accs[i]
            agg = f.agg
            if agg is Agg.SUM:
                row[f.name] = a[0]
            elif agg is Agg.COUNT:
                row[f.name] = int(a[1])
            elif agg is Agg.MEAN:
                row[f.name] = a[0] / a[1] if a[1] else None
            elif agg is Agg.MIN:
                row[f.name] = a[2] if a[1] else None
            elif agg is Agg.MAX:
                row[f.name] = a[3] if a[1] else None
            elif agg is Agg.NEWEST:
                row[f.name] = None if np.isnan(a[5]) else a[5]
        yield pd.DataFrame([row])

    out = stream.groupBy(ecol).applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        getattr(GroupStateTimeout, timeout),
    )
    # postcomputation stage (Core/Program/Program.hs:33-36): plain
    # column expressions over the emitted fold values — they compose
    # with the streaming frame exactly as with the batch result
    from icicle_spark.plans.ir import apply_postcomps

    return apply_postcomps(out, plan)


def stream_windowed_agg(
    stream: DataFrame,
    entity_col: str,
    time_col: str,
    value_col: str,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Event-time windowed aggregation with late-data watermark."""
    win = (
        F.window(F.col(time_col), window, slide)
        if slide
        else F.window(F.col(time_col), window)
    )
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(F.col(entity_col), win.alias("win"))
        .agg(
            F.sum(value_col).alias("sum_val"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            entity_col,
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "sum_val",
            "cnt",
        )
    )


def stream_session_agg(
    stream: DataFrame,
    entity_col: str,
    time_col: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based session aggregation (native session_window)."""
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(F.col(entity_col), F.session_window(F.col(time_col), gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            entity_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def stream_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    time_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming exact dedup: keep only the FIRST arrival of each
    normalized content key (operators.dedup.exact_key — literally the
    same Column expression the batch ``exact_dedup`` groups on, so a
    corpus ingested via the stream and one ingested in batch agree on
    which rows are exact duplicates; text.doc_fingerprint keeps
    apostrophes/accents and would disagree on "don't" vs "don t").

    With ``time_col`` + ``watermark`` this uses
    ``dropDuplicatesWithinWatermark``: fingerprint state ages out past
    the watermark — the only state-bounded form over an unbounded
    stream (an exact-dedup guarantee then only holds within the
    watermark horizon, which is what a training-data ingest pipeline
    typically wants). Without a watermark, ``dropDuplicates`` keeps
    ALL fingerprints in state — exact forever, but state grows with
    the distinct corpus; use for bounded replays only.
    """
    from icicle_spark.operators.dedup import exact_key

    fp = stream.withColumn("__fp", exact_key(F.col(text_col)))
    if watermark is not None:
        if time_col is None:
            raise ValueError("watermark requires time_col")
        out = fp.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
            ["__fp"]
        )
    else:
        out = fp.dropDuplicates(["__fp"])
    return out.drop("__fp")

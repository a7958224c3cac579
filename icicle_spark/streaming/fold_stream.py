"""Structured Streaming front-end for the fold engine.

The reference is batch-executed but streaming-semantics: every
aggregate is an incremental fold with persistable accumulators
(/root/reference/doc/internals/core.md:129-148). That maps directly
onto Structured Streaming:

* ``stream_fold``          — per-entity running fold values as ONE
  streaming aggregate of the Catalyst fold table's states
  (``plans.monoid``, the same state, merge and finalize native and
  resume use): Spark keeps each entity's state in its state store,
  merges every micro-batch's partial states into it, and finalizes
  the changed entities. No Python worker runs.
* ``stream_windowed_agg``  — event-time tumbling/sliding windows with
  a watermark for late data (an engine EXTENSION: the reference has
  only query-time-relative windows).
* ``stream_session_agg``   — native ``session_window`` gap sessions.

All three run on any streaming source (``readStream``); tests drive
them with a file source + ``availableNow`` trigger and
``maxFilesPerTrigger=1`` (so state crosses micro-batches) and assert
the final states equal the batch engine on the same data.

NOTE: checkpoint-based restart requires a durable sink — Spark's
memory sink used in tests refuses checkpoint recovery by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from icicle_spark.plans import monoid
from icicle_spark.plans.ir import (
    Agg,
    Feature,
    Plan,
    apply_postcomps,
    resolve_dtypes,
)
from icicle_spark.plans.monoid import ident
from icicle_spark.plans.native import (
    _feature_native,
    _filters,
    _st,
    named,
    prepare_facts,
)


def _streams(f: Feature) -> bool:
    """A plain table fold: no window, latest-N frame, group or
    distinct, and not NUMFLIPS (its helper is a row window, which a
    stream cannot run) or DECAYED_SUM (it decays to a query time)."""
    return (
        _feature_native(f)
        and monoid.has_state(f)
        and f.window is None and f.latest is None
        and f.group is None and f.distinct is None
        and f.agg not in (Agg.NUMFLIPS, Agg.DECAYED_SUM)
    )


def stream_fold(stream: DataFrame, plan: Plan) -> DataFrame:
    """Per-entity incremental fold over a streaming DataFrame.

    One row per entity carrying the CURRENT fold values (running
    features): every changed entity in ``update`` output mode, every
    entity in ``complete`` mode. Each feature is one table state per
    entity (``monoid.state`` under the feature's filters, no time
    bound), finalized and cast to the batch output type, then the
    postcomp stage runs, so the values, nulls (``skip_nulls=False``
    poisons) and dtypes are ``run_plan``'s over the facts seen so far.
    A feature that is not a plain table fold (``_streams``) raises.
    """
    for f in plan.features:
        if not _streams(f):
            raise ValueError(
                f"stream_fold cannot stream feature {f.name!r} ({f.agg}): "
                "only plain table folds stream; use stream_windowed_agg "
                "for event-time windows"
            )
    plan = resolve_dtypes(plan, stream)
    # no query time: the refused DECAYED_SUM is the only state reading it
    qt = "CAST(NULL AS TIMESTAMP)"

    def value(f: Feature) -> str:
        v = monoid.finalize(f, ident(_st(f)))
        return f"CAST({v} AS {f.dtype})" if f.dtype else v

    out = (
        prepare_facts(stream, plan)
        .groupBy(plan.entity_col)
        .agg(*[
            named(
                monoid.state(
                    f, plan, " AND ".join(_filters(f)) or "true", qt,
                    merge_key=False,
                ),
                _st(f),
            )
            for f in plan.features
        ])
        .selectExpr(ident(plan.entity_col), *[
            f"{value(f)} AS {ident(f.name)}" for f in plan.features
        ])
    )
    # postcomputation stage (Core/Program/Program.hs:33-36): plain
    # column expressions over the emitted fold values — they compose
    # with the streaming frame exactly as with the batch result
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

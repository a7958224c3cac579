"""Checkpointed fold states and incremental resume ("Bubblegum").

The reference saves every fold's accumulator at snapshot time and
resumes with only the facts that arrived since
(/root/reference/doc/internals/core.md:129-148, Avalanche
load_resumable/save_resumable in doc/design/pipeline.md:117-126).
Spark-native equivalent:

    states = fold_states(facts, plan, as_of=T0)     # state table
    states.write.parquet(ckpt)                      # checkpoint
    ...
    out = resume_plan(new_facts, plan,              # facts in [T0,T1)
                      spark.read.parquet(ckpt), snapshot=T1)

``resume_plan(facts[T0:T1], plan, states@T0, T1)`` returns exactly
``run_plan(facts[:T1], plan, snapshot=T1)`` while reading ONLY the
incremental slice — the property tests assert this equivalence.

Each feature's checkpoint column ``__f_<name>`` is its partial state
from the Catalyst fold table (``plans.monoid``: state, merge and
finalize per fold, the same ones native's aggregates use), next to
``__ck_time``. Resuming unions the checkpoint rows with the
increment's states as one more partial, then merges and finalizes
them. A checkpoint whose state layout does not match the table's
(say, written by an older version, or for another plan) is refused
by a schema check; re-run ``fold_states`` to rebuild it.

Windowed features carry no state: a days-before window at query time
T1 only needs facts >= T1 - N days, which live inside the incremental
slice whenever the checkpoint cadence is shorter than the window
(``required_history`` tells the caller how far back to read).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, functions as F

from icicle_spark.plans import monoid
from icicle_spark.plans.ir import Agg, Feature, Plan, apply_postcomps
from icicle_spark.plans.monoid import ident
from icicle_spark.plans.native import (
    _feature_native,
    _prev_values,
    _visibility,
    named,
    prepare_facts,
    snapshot_sql,
)


def resumable(plan: Plan) -> bool:
    """Every feature has a table state (and compiles natively)."""
    return all(
        f.group is None
        and f.distinct is None
        and _feature_native(f)
        and monoid.has_state(f)
        for f in plan.features
    )


def required_history(plan: Plan) -> int | None:
    """Days of raw history the incremental read must include before
    the checkpoint time, for the plan's windowed features (which are
    recomputed, not resumed). None = no window features."""
    days = [
        f.window.newer_than_days for f in plan.features if f.window is not None
    ]
    return max(days) if days else None


def _flips(feats: list[Feature]) -> list[Feature]:
    return [f for f in feats if f.agg is Agg.NUMFLIPS and f.latest is None]


def fold_states(facts: DataFrame, plan: Plan, as_of: Any) -> DataFrame:
    """Per-entity fold states over facts strictly before ``as_of`` —
    the checkpoint table (entity, __f_<name> structs, __ck_time)."""
    if not resumable(plan):
        raise ValueError("plan not resumable")
    plan = plan.condensed()
    ecol, tcol = plan.entity_col, plan.time_col
    qt = snapshot_sql(as_of)

    def vis(f: Feature) -> str:
        return _visibility(f, qt, tcol)

    # same element semantics as compile_native: tombstones null every
    # non-key column (so they poison / drop), filter_let binds
    # materialize (so the Some pattern fails on null binds)
    base = prepare_facts(facts, plan).where(f"{ident(tcol)} < {qt}")
    # windowed features carry no state: resume recomputes them from
    # the increment (see required_history)
    stateful = [f for f in plan.features if f.window is None]
    if not stateful:  # all-windowed plan: checkpoint is just the entity set
        return base.select(ecol).distinct().withColumn("__ck_time", F.expr(qt))
    base = _prev_values(base, plan, _flips(stateful), vis, [ecol])
    return base.groupBy(ecol).agg(
        *[named(monoid.state(f, plan, vis(f), qt), f"__f_{f.name}") for f in stateful],
        named(qt, "__ck_time"),
    )


def _check_layout(states: DataFrame, inc: DataFrame, feats: list[Feature]) -> None:
    """Each checkpoint state must have the table's layout (schema only,
    no Spark job)."""
    have = {fl.name: fl.dataType for fl in states.schema.fields}
    for f in feats:
        col = f"__f_{f.name}"
        want = inc.schema[col].dataType.simpleString()
        got = have.get(col)
        if got is None:
            raise ValueError(
                f"checkpoint has no state for feature {f.name!r}; "
                "re-run fold_states to rebuild it"
            )
        if got.simpleString() != want:
            raise ValueError(
                f"checkpoint state for feature {f.name!r} is "
                f"{got.simpleString()}, the fold table's is {want}; "
                "re-run fold_states to rebuild it"
            )


def resume_plan(
    new_facts: DataFrame,
    plan: Plan,
    states: DataFrame,
    snapshot: Any,
) -> DataFrame:
    """Finish the plan at ``snapshot`` from a checkpoint plus only the
    facts with time >= checkpoint (minus window lookback).

    ``new_facts`` must contain at least every fact in
    [checkpoint_time - required_history(plan) days, snapshot).
    Equivalent to run_plan over the full history (property-tested).
    """
    if not resumable(plan):
        raise ValueError("plan not resumable")
    full = plan
    plan, _dups = plan.stripped().cse()
    ecol, tcol = plan.entity_col, plan.time_col
    qt = snapshot_sql(snapshot)
    stateful = [f for f in plan.features if f.window is None]
    cols = {f.name: f"__f_{f.name}" for f in plan.features}
    ck = states.select(F.max("__ck_time")).first()[0]
    ckt = snapshot_sql(ck)
    t = ident(tcol)

    def vis(f: Feature) -> str:
        # resumed folds read only facts from the checkpoint on; windowed
        # ones read their whole window (required_history)
        cond = _visibility(f, qt, tcol)
        return f"{cond} AND {t} >= {ckt}" if f.window is None else cond

    # a row filter the scan can push down: the increment, plus the
    # windows' lookback before the checkpoint
    hist = required_history(plan)
    lo = ckt if hist is None else f"{ckt} - INTERVAL {hist} DAYS"
    inc = prepare_facts(new_facts, plan).where(f"{t} >= {lo} AND {t} < {qt}")
    inc = _prev_values(inc, plan, _flips(plan.features), vis, [ecol])
    inc_states = inc.groupBy(ecol).agg(*[
        named(monoid.state(f, plan, vis(f), qt), cols[f.name])
        for f in plan.features
    ])
    _check_layout(states, inc_states, stateful)
    ck_states = states.selectExpr(
        ident(ecol),
        *[
            f"{monoid.rebase(f, ident(cols[f.name]), '__ck_time', qt)}"
            f" AS {ident(cols[f.name])}"
            for f in stateful
        ],
    )
    out = (
        ck_states.unionByName(inc_states, allowMissingColumns=True)
        .groupBy(ecol)
        .agg(*[named(monoid.merge(f, ident(cols[f.name])), cols[f.name])
               for f in plan.features])
        .selectExpr(
            ident(ecol),
            *[f"{monoid.finalize(f, ident(cols[f.name]))} AS {ident(f.name)}"
              for f in plan.features],
        )
    )
    # re-emit CSE-shared folds, then the postcomp stage (same contract
    # as run_plan / compile_native)
    for dup, kept in _dups.items():
        out = out.withColumn(dup, F.col(kept))
    return apply_postcomps(out, full, now_sql=f"TIMESTAMP '{snapshot}'")

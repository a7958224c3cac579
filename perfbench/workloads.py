"""The workloads. Each of the three base ones loads a different layer
of the engine; ``snapshot_store`` runs two of them in one cycle.

A workload prepares seeded inputs and its oracle, then runs cycles.
``cycle`` does only engine work and returns the operations it ran,
each with an untimed ``check`` that compares the operation's output
with its oracle. Every engine entry point is wrapped in a tracer span
named after the public function it calls.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

from perfbench import datagen, oracles


@dataclass
class Op:
    """One operation: a cycle, or one query of ``query_mix``."""

    name: str
    facts: int = 0
    error: str | None = None
    wall_s: float = 0.0
    check: Callable[[], str | None] | None = field(default=None, repr=False)


def _attempt(op: Op, fn: Callable[[], None]) -> Op:
    """Run one operation; an exception fails the operation, not the run."""
    t0 = time.perf_counter()
    try:
        fn()
    except Exception as e:  # noqa: BLE001 - a failed op is data, not a crash
        traceback.print_exc(file=sys.stderr)
        op.error = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"[:300]
    op.wall_s = time.perf_counter() - t0
    return op


class Workload:
    name = ""
    warm_cycles = 1

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.data = os.path.join(work, "data")
        self.out = os.path.join(work, "out")

    def inputs(self) -> None:
        """Write the seeded inputs (part of set-up)."""

    def oracle(self) -> None:
        """Compute what every operation must return (untimed)."""

    def cycle(self) -> list[Op]:
        raise NotImplementedError


# ---- snapshot_fused ----------------------------------------------------------

FUSED_PROGRAM = {
    "sum_ntok": "from facts ~> sum n_tok",
    "cnt": "from facts ~> count n_tok",
    "mean_ntok": "from facts ~> mean n_tok",
    "min_ntok": "from facts ~> min n_tok",
    "max_ntok": "from facts ~> max n_tok",
    "newest_ntok": "from facts ~> newest n_tok",
    "win30_sum": "from facts ~> windowed 30 days ~> sum n_tok",
    "win30_cnt": "from facts ~> windowed 30 days ~> count n_tok",
    "latest5_mean": "from facts ~> latest 5 ~> mean n_tok",
    "web_cnt": 'from facts ~> filter source == "web" ~> count n_tok',
    "by_source": "from facts ~> group source ~> count n_tok",
    "avg_manual": "from facts ~> sum n_tok / count n_tok",
}
FUSED_SNAP = "2024-05-30 00:00:00"


class SnapshotFused(Workload):
    """Icicle source -> fused 12-output plan -> one snapshot -> parquet."""

    name = "snapshot_fused"
    warm_cycles = 3
    n_facts, n_docs = 300_000, 15_000

    def inputs(self) -> None:
        from icicle_spark.sources.benchgen import generate

        self.path = generate(n_rows=self.n_facts, n_docs=self.n_docs,
                             seed=self.seed, out_dir=self.data)

    def oracle(self) -> None:
        self.want = oracles.fold_oracle([self.path], FUSED_SNAP, list(FUSED_PROGRAM))

    def cycle(self) -> list[Op]:
        from icicle_spark.plans import run_plan
        from icicle_spark.source_lang import parse_program

        t, out = self.tracer, os.path.join(self.out, "features")

        def run():
            with t.span("source_lang.parse_program", layer="source_lang"):
                plan = parse_program(
                    FUSED_PROGRAM, dialect="sql", skip_nulls=True,
                    entity_col="doc_id", time_col="event_time", seq_col="seq",
                )["facts"]
            with t.span("plans.executor.run_plan", layer="plans.executor"):
                facts = self.spark.read.parquet(self.path).drop("tokens")
                res = run_plan(facts, plan, snapshot=FUSED_SNAP, strategy="auto")
            with t.span("write.parquet", layer="spark", action=True):
                res.write.mode("overwrite").parquet(out)

        op = Op(self.name, facts=self.n_facts)
        op.check = lambda: oracles.frames_equal(
            oracles.read_output(out, ("by_source",)), self.want, "doc_id")
        return [_attempt(op, run)]


# ---- query_mix ---------------------------------------------------------------

# two auto/native twin pairs of the certified fold queries: the same
# plan through the Arrow executors (snapshot: vexec, chord: chordexec)
# and through the native Catalyst compiler
MIX = [
    "asof_snapshot_folds", "asof_snapshot_native",
    "asof_chord", "asof_chord_native",
]


class QueryMix(Workload):
    """Certified fold-engine contract queries, back to back."""

    name = "query_mix"
    warm_cycles = 2
    n_facts = 100_000

    def inputs(self) -> None:
        self.sf_dir = os.path.join(self.data, "sf")
        datagen.events(os.path.join(self.sf_dir, "events.parquet"), self.seed,
                       n_rows=self.n_facts)

    def oracle(self) -> None:
        import duckdb

        import __spark_entry__ as entry

        sqls = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.sf_dir, 'events.parquet')}')")
            self.want = {q: con.execute(sqls[q]).df() for q in MIX}
        finally:
            con.close()

    def cycle(self) -> list[Op]:
        import __spark_entry__ as entry
        from tools.check_contract import compare

        qs, t, ops = entry.queries(), self.tracer, []
        for q in MIX:
            out = os.path.join(self.out, q)

            def run(q=q, out=out):
                with t.span(f"query.{q}", kind="step", layer="query"):
                    with t.span("plans.executor.run_plan", layer="plans.executor"):
                        df = qs[q](self.spark, self.sf_dir)
                    with t.span("write.parquet", layer="spark", action=True):
                        df.write.mode("overwrite").parquet(out)

            op = Op(q, facts=self.n_facts)
            op.check = lambda q=q, out=out: compare(
                oracles.read_output(out), self.want[q])
            ops.append(_attempt(op, run))
        return ops


# ---- store_ingest ------------------------------------------------------------

STORE_CK = "2024-06-19 00:00:00"  # day 170: the base ends, the deltas begin
STORE_SNAP = "2024-07-19 00:00:00"  # day 200: after every fact


def store_plan():
    """bench.py's fused plan (resumable, 30 days of history)."""
    from icicle_spark.plans import Agg, Feature, Plan, Window

    v = "n_tok"
    return Plan(
        [
            Feature("sum_ntok", Agg.SUM, v, skip_nulls=True),
            Feature("cnt", Agg.COUNT, v, skip_nulls=True),
            Feature("mean_ntok", Agg.MEAN, v, skip_nulls=True),
            Feature("min_ntok", Agg.MIN, v, skip_nulls=True),
            Feature("max_ntok", Agg.MAX, v, skip_nulls=True),
            Feature("newest_ntok", Agg.NEWEST, v, skip_nulls=True),
            Feature("win30_sum", Agg.SUM, v, window=Window(30), skip_nulls=True),
            Feature("win30_cnt", Agg.COUNT, v, window=Window(30), skip_nulls=True),
            Feature("latest5_mean", Agg.MEAN, v, latest=5, skip_nulls=True),
            Feature("web_cnt", Agg.COUNT, v, where="source == 'web'", skip_nulls=True),
            Feature("decay7", Agg.DECAYED_SUM, v, half_life_days=7.0, skip_nulls=True),
        ],
        entity_col="doc_id", time_col="event_time", seq_col="seq",
    )


class StoreIngest(Workload):
    """Write a fact store, append deltas, read it merged, compact it,
    read it arranged, and resume a checkpoint over the new facts."""

    name = "store_ingest"
    warm_cycles = 1
    n_base, n_delta, n_batches, n_docs = 100_000, 10_000, 4, 10_000
    buckets = os.cpu_count() or 1

    def inputs(self) -> None:
        self.base = datagen.token_facts(
            os.path.join(self.data, "base.parquet"), self.seed, self.n_base,
            self.n_docs, 0, 170)
        self.deltas = [
            datagen.token_facts(
                os.path.join(self.data, f"delta{i}.parquet"), self.seed,
                self.n_delta, self.n_docs, 170, 200,
                seq_start=self.n_base + i * self.n_delta)
            for i in range(self.n_batches)
        ]

    def oracle(self) -> None:
        """The plan over base plus deltas, straight from the raw facts.
        DuckDB, not a native ``run_plan`` in the benchmark's JVM: a
        native run slows the vectorized cycles after it (README)."""
        cols = [f.name for f in store_plan().features]
        self.want = oracles.fold_oracle([self.base, *self.deltas], STORE_SNAP, cols)

    def cycle(self) -> list[Op]:
        from pyspark.sql import functions as F

        from icicle_spark.plans import run_plan
        from icicle_spark.plans.resume import fold_states, required_history, resume_plan
        from icicle_spark.sources import io

        t, spark = self.tracer, self.spark
        store = os.path.join(self.out, "store")
        outs = {k: os.path.join(self.out, k) for k in ("merged", "compacted", "resumed", "ck")}
        plan = store_plan()
        shutil.rmtree(self.out, ignore_errors=True)

        def snapshot(step: str, out: str):
            with t.span(step, kind="step", layer="sources.io"):
                with t.span("sources.io.read_fact_store", layer="sources.io"):
                    facts, _meta = io.read_fact_store(spark, store)
                with t.span("plans.executor.run_plan", layer="plans.executor"):
                    res = run_plan(facts, plan, snapshot=STORE_SNAP,
                                   strategy="auto", assume_arranged=True)
                with t.span("write.parquet", layer="spark", action=True):
                    res.write.mode("overwrite").parquet(out)
            return facts

        def run():
            with t.span("sources.io.write_fact_store", layer="sources.io", action=True):
                io.write_fact_store(spark.read.parquet(self.base), store, "doc_id",
                                    "event_time", "seq", buckets=self.buckets)
            for i, d in enumerate(self.deltas):
                with t.span("sources.io.append_fact_store", layer="sources.io",
                            action=True):
                    io.append_fact_store(spark.read.parquet(d), store, batch_id=i)
            self.layout = store_layout(store)
            snapshot("sources.io.merge_read_snapshot", outs["merged"])
            with t.span("sources.io.compact_fact_store", layer="sources.io",
                        action=True):
                io.compact_fact_store(spark, store)
            facts = snapshot("sources.io.arranged_snapshot", outs["compacted"])
            with t.span("plans.resume.fold_states", layer="plans.resume", action=True):
                fold_states(facts, plan, as_of=STORE_CK).write.mode(
                    "overwrite").parquet(outs["ck"])
            with t.span("plans.resume.resume_plan", layer="plans.resume", action=True):
                since = F.lit(STORE_CK).cast("timestamp") - F.expr(
                    f"INTERVAL {required_history(plan)} DAYS")
                resume_plan(facts.where(F.col("event_time") >= since), plan,
                            spark.read.parquet(outs["ck"]), snapshot=STORE_SNAP,
                            ).write.mode("overwrite").parquet(outs["resumed"])

        def check() -> str | None:
            for k in ("merged", "compacted", "resumed"):
                msg = oracles.frames_equal(oracles.read_output(outs[k]), self.want, "doc_id")
                if msg:
                    return f"{k}: {msg}"
            return None

        op = Op(self.name, facts=self.n_base + self.n_batches * self.n_delta, check=check)
        return [_attempt(op, run)]


def store_layout(path: str) -> dict[str, int]:
    """Data files and bytes of a fact store directory."""
    files = nbytes = 0
    for d, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, n))
    return {"store_files": files, "store_bytes": nbytes}


# ---- snapshot_store ----------------------------------------------------------

class SnapshotStore(Workload):
    """``snapshot_fused`` then ``store_ingest`` in one cycle, so both the
    exchange path over raw parquet and the store's write, merge and
    resume paths are measured in one run."""

    name = "snapshot_store"
    warm_cycles = 2  # the JIT slope runs longer; a third cycle does not fit the run budget

    def __init__(self, spark, tracer, work: str, seed: int):
        super().__init__(spark, tracer, work, seed)
        self.parts = [SnapshotFused(spark, tracer, os.path.join(work, "fused"), seed),
                      StoreIngest(spark, tracer, os.path.join(work, "store"), seed)]

    @property
    def layout(self) -> dict[str, int]:
        return self.parts[1].layout

    def inputs(self) -> None:
        for p in self.parts:
            p.inputs()

    def oracle(self) -> None:
        for p in self.parts:
            p.oracle()

    def cycle(self) -> list[Op]:
        return [op for p in self.parts for op in p.cycle()]


WORKLOADS = {w.name: w for w in (SnapshotFused, QueryMix, StoreIngest, SnapshotStore)}

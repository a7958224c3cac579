"""Per-partition lineage manifests and run metrics (north rule).

A feature-engineering run at 10^12-row scale must be auditable:
which input files fed it, what each output partition contains, and
whether a rerun would produce the same thing. ``run_with_lineage``
executes a plan, writes the output, and records:

* input manifest  — one row per input FILE: path, rows, time range,
  distinct-entity estimate (the scan-side lineage unit)
* output manifest — one row per output PARTITION: spark partition id,
  rows, entity range (the shuffle-side lineage unit; entity-hash
  partitioning means partition membership is reproducible)
* run record      — plan fingerprint (sha256 of the canonical plan),
  snapshot time, row counts in/out, wall seconds (split into the
  plan build and the write), engine strategy,
  the backend that strategy chose and why, relevant spark conf

The manifests are written as PARQUET DATAFRAMES under
``<out>/_lineage/{inputs,partitions}`` — never collected to the
driver: at 10^12-row scale the input manifest is ~10^6 file rows,
which stays distributed end-to-end. The JSON run record keeps only
scalar aggregates (counts, sums) of the manifests so a resume
(plans.resume) or a rerun can verify it consumed exactly the
recorded inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, functions as F

from icicle_spark.plans.ir import Agg, Plan


def plan_fingerprint(plan: Plan) -> str:
    """Deterministic digest of the logical plan (fusion-order
    insensitive: features are sorted by name)."""
    parts = []
    for f in sorted(plan.features, key=lambda f: f.name):
        agg = f.agg.value if isinstance(f.agg, Agg) else "custom"
        parts.append(
            "|".join(
                str(x)
                for x in (
                    f.name, agg,
                    f.expr if isinstance(f.expr, str) else "<fn>",
                    f.where if isinstance(f.where, str) else f.where and "<fn>",
                    f.window and (f.window.newer_than_days, f.window.older_than_days),
                    f.latest, f.skip_nulls, f.half_life_days,
                    f.group if isinstance(f.group, str) else f.group and "<fn>",
                    f.distinct if isinstance(f.distinct, str) else f.distinct and "<fn>",
                )
            )
        )
    blob = ";".join(
        [plan.entity_col, plan.time_col, str(plan.seq_col), str(plan.tombstone_col)]
        + parts
    )
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def input_manifest(facts: DataFrame, plan: Plan) -> DataFrame:
    """Per input file: rows, time range, entity-cardinality estimate.
    Returned as a DataFrame (one row per file) — written, not
    collected; a 100 TB input has ~10^6 files."""
    return facts.groupBy(F.input_file_name().alias("file")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.min(plan.time_col).cast("string").alias("min_time"),
        F.max(plan.time_col).cast("string").alias("max_time"),
        F.approx_count_distinct(plan.entity_col).alias("approx_entities"),
    )


def output_manifest(result: DataFrame, entity_col: str) -> DataFrame:
    """Per output partition: id, rows, entity range — as a DataFrame."""
    return (
        result.withColumn("partition", F.spark_partition_id())
        .groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.min(entity_col).cast("string").alias("min_entity"),
            F.max(entity_col).cast("string").alias("max_entity"),
        )
    )


def run_with_lineage(
    facts: DataFrame,
    plan: Plan,
    out_path: str,
    snapshot: Any | None = None,
    chords: DataFrame | None = None,
    strategy: str = "native",
    assume_arranged: bool = False,
) -> dict[str, Any]:
    """Execute the plan, write parquet output + lineage manifests;
    returns the run record (scalar summary only — the per-file and
    per-partition manifests live beside it as parquet)."""
    from icicle_spark.plans import run_plan
    from icicle_spark.plans.executor import choose_backend

    spark = facts.sparkSession
    backend, route_reason = choose_backend(
        plan, snapshot, chords, strategy, assume_arranged
    )
    t0 = time.time()
    result = run_plan(
        facts, plan, snapshot=snapshot, chords=chords, strategy=strategy,
        assume_arranged=assume_arranged,
    )
    built = time.time()
    result.write.mode("overwrite").parquet(out_path)
    done = time.time()
    written = spark.read.parquet(out_path)
    lineage_dir = os.path.join(out_path, "_lineage")
    inputs_path = os.path.join(lineage_dir, "inputs")
    parts_path = os.path.join(lineage_dir, "partitions")
    input_manifest(facts, plan).write.mode("overwrite").parquet(inputs_path)
    output_manifest(written, plan.entity_col).write.mode("overwrite").parquet(
        parts_path
    )
    # scalar rollups of the manifests (aggregate-only — no row collect)
    in_sum = (
        spark.read.parquet(inputs_path)
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("rows").alias("rows"),
            F.min("min_time").alias("min_time"),
            F.max("max_time").alias("max_time"),
        )
        .first()
    )
    out_sum = (
        spark.read.parquet(parts_path)
        .agg(F.count(F.lit(1)).alias("n_parts"), F.sum("rows").alias("rows"))
        .first()
    )
    record = {
        "plan_fingerprint": plan_fingerprint(plan),
        "features": [f.name for f in plan.features],
        "snapshot": str(snapshot) if snapshot is not None else None,
        "strategy": strategy,
        "backend": backend,
        "route_reason": route_reason,
        "rows_in": in_sum["rows"],
        "rows_out": out_sum["rows"],
        "wall_seconds": round(done - t0, 3),
        # the driver-side plan build, then the Spark job that writes it
        "build_seconds": round(built - t0, 3),
        "write_seconds": round(done - built, 3),
        "input_files": in_sum["n_files"],
        "input_time_range": [in_sum["min_time"], in_sum["max_time"]],
        "output_partitions": out_sum["n_parts"],
        "inputs_manifest": "_lineage/inputs",
        "partitions_manifest": "_lineage/partitions",
        "spark_conf": {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.shuffle.partitions",
                "spark.sql.adaptive.enabled",
                "spark.master",
            )
        },
    }
    with open(os.path.join(lineage_dir, "manifest.json"), "w") as fh:
        json.dump(record, fh, indent=2)
    return record

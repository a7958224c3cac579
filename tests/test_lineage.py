from __future__ import annotations

import json
import os

import pytest

from icicle_spark.lineage import plan_fingerprint, run_with_lineage
from icicle_spark.plans import Agg, Feature, Plan
from icicle_spark.sources.fixtures import SNAPSHOT, token_facts


def test_lineage_manifest(spark, tmp_path):
    facts = token_facts(spark, n_rows=1000, n_docs=50)
    # write to parquet first so input_file_name() has real files
    src = str(tmp_path / "facts")
    facts.write.parquet(src)
    facts = spark.read.parquet(src)
    plan = Plan(
        [
            Feature("s", Agg.SUM, "n_tok", skip_nulls=True),
            Feature("c", Agg.COUNT, "n_tok", skip_nulls=True),
        ],
        entity_col="doc_id",
        time_col="event_time",
        seq_col="seq",
    )
    out = str(tmp_path / "out")
    n_in = facts.count()
    n_entities = facts.select("doc_id").distinct().count()
    rec = run_with_lineage(facts, plan, out, snapshot=SNAPSHOT)
    assert rec["rows_in"] == n_in
    assert rec["rows_out"] == n_entities
    # manifests are parquet DataFrames beside the output, not collected
    inputs = spark.read.parquet(os.path.join(out, rec["inputs_manifest"])).toPandas()
    parts = spark.read.parquet(
        os.path.join(out, rec["partitions_manifest"])
    ).toPandas()
    assert inputs["rows"].sum() == n_in
    assert parts["rows"].sum() == n_entities
    assert rec["input_files"] == len(inputs)
    assert rec["output_partitions"] == len(parts)
    assert inputs["file"].str.startswith("file:").all()
    on_disk = json.load(open(os.path.join(out, "_lineage", "manifest.json")))
    assert on_disk["plan_fingerprint"] == plan_fingerprint(plan)
    # the run record names the backend the strategy chose, and why
    assert on_disk["backend"] == rec["backend"] == "native"
    assert on_disk["route_reason"] == rec["route_reason"] == "strategy='native'"
    # wall time splits into the plan build and the write
    for k in ("build_seconds", "write_seconds"):
        assert on_disk[k] == rec[k] >= 0
    assert rec["build_seconds"] + rec["write_seconds"] == pytest.approx(
        rec["wall_seconds"], abs=0.002
    )
    # fingerprint is stable and order-insensitive
    plan2 = Plan(
        list(reversed(plan.features)),
        entity_col="doc_id",
        time_col="event_time",
        seq_col="seq",
    )
    assert plan_fingerprint(plan2) == plan_fingerprint(plan)

"""Production entry point — run a fused feature plan via spark-submit.

    zip -r icicle_spark.zip icicle_spark
    spark-submit --py-files icicle_spark.zip jobs/run_features.py \\
        --input  /data/tokenfacts \\
        --output /data/features_2024_05_30 \\
        --snapshot "2024-05-30 00:00:00" \\
        --entity-col doc_id --time-col event_time --seq-col seq \\
        [--chords /data/chords] [--checkpoint /data/fold_states] \\
        [--resume-from /data/fold_states_prev] [--strategy native]

Reads parquet or Iceberg (`--format iceberg` + table name as input),
executes the demo fused plan (swap ``build_plan`` for your feature
registry), writes parquet + `_lineage/manifest.json`, and optionally
saves/loads fold-state checkpoints for incremental runs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# plain `python jobs/...` (no spark-submit --py-files) must still
# find the library beside jobs/ — on the driver AND in the Python
# workers Spark forks (they unpickle UDF closures that import it)
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
os.environ["PYTHONPATH"] = _ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")


def load_dictionary(spec: str):
    """Load a Dictionary from ``path/to/module.py:ATTR`` — the
    dictionary-driven entry point (reference Command/Compile.hs:127-175
    compiles everything from the declared dictionary). A ``.icicle``
    path is parsed as dictionary SOURCE (module/input/feature blocks,
    `in` pipelines) with skipped declarations reported to stderr."""
    import importlib.util
    import sys as _sys

    path, _, attr = spec.partition(":")
    if path.endswith(".icicle"):
        from icicle_spark.source_lang import parse_dictionary_source

        kw = {}
        if attr:  # module.icicle:entity_col,time_col,seq_col
            parts = attr.split(",")
            kw = dict(zip(("entity_col", "time_col", "seq_col"), parts))
        import os as _os

        d, skipped = parse_dictionary_source(
            open(path).read(),
            base_dir=_os.path.dirname(_os.path.abspath(path)), **kw
        )
        for name, why in skipped.items():
            print(f"dictionary: skipped {name}: {why}", file=_sys.stderr)
        return d
    if not attr:
        raise SystemExit("--dictionary wants path/to/module.py:ATTR "
                         "or path/to/dict.icicle[:entity,time,seq]")
    mod_spec = importlib.util.spec_from_file_location("_feature_dict", path)
    mod = importlib.util.module_from_spec(mod_spec)
    mod_spec.loader.exec_module(mod)
    return getattr(mod, attr)


def build_plan(args) -> "Plan":
    """Demo fused plan over the token table; replace with a feature
    registry for real deployments."""
    from icicle_spark.plans import Agg, Feature, Plan, Window

    v = args.value_col
    return Plan(
        [
            Feature("sum_v", Agg.SUM, v, skip_nulls=True),
            Feature("cnt", Agg.COUNT, v, skip_nulls=True),
            Feature("mean_v", Agg.MEAN, v, skip_nulls=True),
            Feature("newest_v", Agg.NEWEST, v, skip_nulls=True),
            Feature("win30_sum", Agg.SUM, v, window=Window(30),
                    skip_nulls=True),
            Feature("latest5_mean", Agg.MEAN, v, latest=5,
                    skip_nulls=True),
            Feature("decay7", Agg.DECAYED_SUM, v,
                    half_life_days=7.0, skip_nulls=True),
        ],
        entity_col=args.entity_col,
        time_col=args.time_col,
        seq_col=args.seq_col,
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--snapshot")
    ap.add_argument("--chords")
    ap.add_argument("--entity-col", default="doc_id")
    ap.add_argument("--time-col", default="event_time")
    ap.add_argument("--seq-col", default="seq")
    ap.add_argument("--value-col", default="n_tok")
    ap.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    ap.add_argument(
        "--dictionary",
        help="path/to/module.py:ATTR — a Dictionary registry; replaces "
        "the demo plan with the fused plan of every output over "
        "--dict-input (facts still come from --input)",
    )
    ap.add_argument("--dict-input", default="facts",
                    help="declared input name within --dictionary")
    ap.add_argument("--strategy", default="native")
    ap.add_argument("--checkpoint", help="write fold states here")
    ap.add_argument("--resume-from", help="resume from fold states here")
    ap.add_argument(
        "--error-codes",
        action="store_true",
        help="also write the Error64 audit table (<output>_errors): "
        "per-feature tombstone / fold1-no-value / cannot-compute codes",
    )
    args = ap.parse_args(argv)
    if not args.snapshot and not args.chords:
        ap.error("one of --snapshot / --chords required")

    from icicle_spark.lineage import run_with_lineage
    from icicle_spark.plans.resume import fold_states, resume_plan
    from icicle_spark.session import get_spark
    from icicle_spark.sources.io import read_iceberg

    spark = get_spark(app_name="icicle_spark_features")
    import os as _os

    arranged = False
    if args.format == "iceberg":
        facts = read_iceberg(spark, args.input)
    elif _os.path.exists(_os.path.join(args.input, "_fact_store.json")):
        # arranged fact store (write_fact_store): the vectorized
        # executor can skip its entity exchange + sort entirely
        from icicle_spark.sources.io import read_fact_store

        facts, _store_meta = read_fact_store(spark, args.input)
        arranged = (
            args.snapshot is not None
            and args.strategy in ("auto", "vectorized")
        )
    else:
        facts = spark.read.parquet(args.input)
    if args.dictionary:
        # dictionary-driven: the declared registry validates the facts
        # against its encoding, applies the InputKey nub, and supplies
        # the fused plan of every output over --dict-input
        d = load_dictionary(args.dictionary)
        facts = d.load(spark, args.dict_input, df=facts)
        plan = d.plan_for(args.dict_input)
    else:
        plan = build_plan(args)

    if args.resume_from and args.snapshot:
        states = spark.read.parquet(args.resume_from)
        out = resume_plan(facts, plan, states, snapshot=args.snapshot)
        out.write.mode("overwrite").parquet(args.output)
        record = {"mode": "resume", "output": args.output}
    else:
        chords = spark.read.parquet(args.chords) if args.chords else None
        record = run_with_lineage(
            facts,
            plan,
            args.output,
            snapshot=args.snapshot,
            chords=chords,
            strategy=args.strategy,
            assume_arranged=arranged,
        )
        record["mode"] = "full"
        if arranged:
            record["arranged_store"] = True
    if args.checkpoint and args.snapshot:
        fold_states(facts, plan, as_of=args.snapshot).write.mode(
            "overwrite"
        ).parquet(args.checkpoint)
        record["checkpoint"] = args.checkpoint
    if args.error_codes:
        from icicle_spark.plans import error_codes

        chords = spark.read.parquet(args.chords) if args.chords else None
        err_path = args.output.rstrip("/") + "_errors"
        error_codes(
            facts, plan, snapshot=args.snapshot, chords=chords
        ).write.mode("overwrite").parquet(err_path)
        record["error_codes"] = err_path
    print(json.dumps({k: record[k] for k in record if k != "inputs"}, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""End-to-end corpus curation pipeline (spark-submit entry):

    [URL canonicalize + blocklist gate] -> exact dedup ->
    [line-level / substring boilerplate removal] ->
    [C4 line-level cleaning rewrite] ->
    [benchmark n-gram decontamination] -> quality
    signals (word count, Gopher repetition stats, type-token ratio,
    unigram LM log-prob) -> declarative quality policy ->
    [DSIR importance resampling toward a target seed] ->
    [trained quality-classifier Pareto gate] ->
    [per-domain quota cap] -> [temperature source rebalancing] ->
    [leakage-safe train/val/test split] ->
    kept / dropped(+reason) parquet + a per-reason summary

This is the composition a training-data refresh actually runs at
100 TB: every stage is one scan or one broadcast join; the only
corpus-sized shuffles are exact-dedup's groupBy and the word-freq
build (skippable with --no-logprob).

    spark-submit jobs/run_curation.py \
        --input corpus.parquet --output out/ \
        --benchmark eval.parquet --min-words 20 --max-dup2 0.5
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


def build_rules(args) -> list[tuple[str, str]]:
    """Ordered policy: first failing rule is the recorded reason."""
    rules = [
        ("too_short", f"n_words >= {args.min_words}"),
        ("too_long", f"n_words <= {args.max_words}"),
        ("repetitive_2gram", f"dup2_frac <= {args.max_dup2}"),
        ("low_diversity",
         f"distinct_word_ratio >= {args.min_distinct_ratio}"),
    ]
    if not args.no_logprob:
        rules.append(("gibberish", f"logprob >= {args.min_logprob}"))
    for spec in args.rule:
        reason, _, expr = spec.partition(":")
        if not reason or not expr:
            raise SystemExit(f"--rule wants REASON:PASS_EXPR, got {spec!r}")
        rules.append((reason, expr))
    if getattr(args, "gopher", False):
        from icicle_spark.functions.text import GOPHER_RULES

        rules.extend(GOPHER_RULES)
    if getattr(args, "c4", False):
        from icicle_spark.functions.text import C4_RULES

        rules.extend(C4_RULES)
    return rules


def load_signal_dictionary(spec: str, id_col: str):
    """The quality-signal Dictionary for the curation pipeline.

    ``path/to/dict.icicle[:entity,time,seq]`` parses dictionary
    SOURCE; the entity column defaults to the job's --id-col and the
    time column to a synthetic instant (a curation corpus is
    point-in-time — each doc is one fact). ``module.py:ATTR`` loads a
    prebuilt Dictionary exactly like jobs/run_features.py."""
    import sys as _sys

    path, _, attr = spec.partition(":")
    if path.endswith(".icicle"):
        from icicle_spark.source_lang import parse_dictionary_source

        kw = {"entity_col": id_col, "time_col": "__sig_time"}
        if attr:
            parts = attr.split(",")
            kw.update(
                dict(zip(("entity_col", "time_col", "seq_col"), parts))
            )
        import os as _os

        kw["base_dir"] = _os.path.dirname(_os.path.abspath(path))
        d, skipped = parse_dictionary_source(
            open(path).read(), skip_nulls=True, **kw
        )
        for name, why in skipped.items():
            print(f"dictionary: skipped {name}: {why}", file=_sys.stderr)
        return d
    from jobs.run_features import load_dictionary

    return load_dictionary(spec)


def dictionary_signals(spark, docs, d, id_col, snapshot):
    """Evaluate every declared output over the cleaned corpus and
    return ``[(input_name, signal_frame)]`` keyed by --id-col.

    The declared entity encoding is String (PSV parity), so the id
    column is cast for the run and cast back for the join; inputs
    whose declared time column is absent from the corpus get one
    synthetic instant per doc (point-in-time semantics — aggregates
    reduce each doc's single fact). Each input's plan runs on the
    backend ``run_plan``'s 'auto' strategy chooses."""
    from pyspark.sql import functions as F

    from icicle_spark.plans import run_plan

    id_type = dict(docs.dtypes)[id_col]
    out = []
    for name, inp in d.inputs.items():
        if d._plans[name] is None:
            continue
        fr = docs.withColumn(
            inp.entity_col, F.col(id_col).cast("string")
        )
        if inp.time_col not in fr.columns:
            fr = fr.withColumn(
                inp.time_col,
                F.lit("2000-01-01 00:00:00").cast("timestamp"),
            )
        facts = d.load(spark, name, df=fr)
        res = run_plan(facts, d.plan_for(name), snapshot=snapshot)
        ent = inp.entity_col
        res = res.withColumn(ent, F.col(ent).cast(id_type))
        if ent != id_col:
            res = res.withColumnRenamed(ent, id_col)
        out.append((name, res))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--benchmark",
                    help="eval-set parquet to decontaminate against")
    ap.add_argument("--ngram", type=int, default=13,
                    help="decontamination n-gram size")
    ap.add_argument("--embeddings",
                    help="corpus embeddings parquet (id_col + "
                         "embedding) for SEMANTIC decontamination")
    ap.add_argument("--benchmark-embeddings",
                    help="eval-set embeddings parquet")
    ap.add_argument("--semantic-threshold", type=float, default=0.9)
    ap.add_argument("--line-dedup", action="store_true",
                    help="remove corpus-repeated lines (boilerplate) "
                         "before signals; see dedup.line_dedup — "
                         "incremental index reuse is operator-level")
    ap.add_argument("--line-min-count", type=int, default=2)
    ap.add_argument("--substring-dedup", type=int, default=0,
                    metavar="K",
                    help="remove duplicated >=K-token runs "
                         "(ExactSubstr; dedup.substring_dedup); 0=off")
    ap.add_argument("--span-dedup", type=int, default=0,
                    help="remove duplicated word n-gram spans of this "
                         "size KEEPING one canonical min-(doc_id,pos) "
                         "occurrence per gram (span_dedup."
                         "strip_repeated_spans — the keep-one dedup "
                         "complement of --substring-dedup's drop-all "
                         "boilerplate pass); 0=off")
    ap.add_argument("--min-words", type=int, default=20)
    ap.add_argument("--max-words", type=int, default=100_000)
    ap.add_argument("--max-dup2", type=float, default=0.5)
    ap.add_argument("--min-distinct-ratio", type=float, default=0.2)
    ap.add_argument("--min-logprob", type=float, default=-12.0)
    ap.add_argument("--no-logprob", action="store_true",
                    help="skip the word-freq build + LM proxy")
    ap.add_argument("--novelty-index",
                    metavar="PATH[:K]",
                    help="persisted gram_hash_counts parquet: adds "
                         "novelty signals (n_grams, n_novel, "
                         "novelty) vs the held corpus, referencable "
                         "from --rule (e.g. 'stale:novelty >= 0.05')")
    ap.add_argument("--dictionary",
                    help="quality-signal dictionary: path/to/dict"
                         ".icicle[:entity,time,seq] or module.py:ATTR"
                         " — declared outputs join the signal frame "
                         "and are referencable from --rule")
    ap.add_argument("--dict-snapshot", default="9999-01-01 00:00:00",
                    help="snapshot instant for the dictionary run "
                         "(default: everything visible)")
    ap.add_argument("--url-col", default="",
                    help="URL column: canonicalize + gate on the "
                         "blocklists BEFORE any content stage (adds "
                         "canonical_url/domain columns downstream)")
    ap.add_argument("--block-domain", action="append", default=[],
                    help="registered domain to drop (repeatable)")
    ap.add_argument("--block-pattern", action="append", default=[],
                    help="canonical-URL regex to drop (repeatable)")
    ap.add_argument("--cap-group", default="",
                    help="column for per-group quota capping of the "
                         "kept corpus (e.g. domain)")
    ap.add_argument("--cap-max", type=int, default=1000,
                    help="max kept docs per --cap-group value")
    ap.add_argument("--mix-alpha", type=float, default=0.0,
                    help="after the policy, rebalance KEPT docs by "
                         "temperature: keep-rate r_s = (n_min/n_s)^"
                         "(1-alpha) per source (0 = off; 0.5 = the "
                         "common sqrt reweighting)")
    ap.add_argument("--mix-source-col", default="source",
                    help="grouping column for --mix-alpha")
    ap.add_argument("--report", action="store_true",
                    help="after the kept corpus is written, publish "
                         "its telemetry (one-scan ROLLUP stats; chars "
                         "derived from the cleaned text) as "
                         "kept_stats.parquet + summary['kept_stats']")
    ap.add_argument("--split", default="",
                    metavar="NAME=FRAC,...",
                    help="leakage-safe split of the kept corpus, e.g. "
                         "train=0.9,val=0.05,test=0.05 — near-dup "
                         "clusters never straddle a boundary; output "
                         "is partitioned by the split column")
    ap.add_argument("--split-pairs", default="",
                    help="precomputed near-dup pair parquet "
                         "(id_a,id_b) for --split, e.g. run_dedup.py "
                         "output; when absent, MinHash+LSH pairs are "
                         "computed over the kept corpus inline")
    ap.add_argument("--split-threshold", type=float, default=0.7,
                    help="Jaccard threshold for the inline MinHash "
                         "pair pass (ignored with --split-pairs)")
    ap.add_argument("--audit-leakage", type=int, default=0,
                    metavar="N",
                    help="with --split: audit word N-gram overlap "
                         "between each eval split and train; "
                         "per-split contamination lands in the "
                         "summary (the release gate)")
    ap.add_argument("--c4", action="store_true",
                    help="apply the C4 (Raffel et al. 2020 2.2) "
                         "line-level cleaning rewrite and add its "
                         "page gates to the policy")
    ap.add_argument("--compression", action="store_true",
                    help="add the zlib compression_ratio signal "
                    "(Dolma-style; pair with --rule gates)")
    ap.add_argument("--gopher", action="store_true",
                    help="add the Gopher (Rae et al. 2021 A1.1) "
                         "signal set and its published rule bounds "
                         "to the policy")
    ap.add_argument("--dsir-keep", type=int, default=0,
                    help="DSIR importance resampling of the kept "
                         "corpus: keep the K docs most like the "
                         "target seed (Gumbel top-k; 0 = off)")
    ap.add_argument("--dsir-target", default="",
                    help="Spark-SQL boolean over kept columns "
                         "defining the in-corpus target seed, e.g. "
                         "\"source IN ('wiki','books')\"")
    ap.add_argument("--dsir-target-path", default="",
                    help="parquet of an external target seed corpus "
                         "(same text column) — overrides "
                         "--dsir-target")
    ap.add_argument("--dsir-buckets", type=int, default=10_000,
                    help="hashed n-gram feature buckets")
    ap.add_argument("--dsir-seed", type=int, default=0)
    ap.add_argument("--qmodel-target", default="",
                    help="train a seed-vs-crawl logistic quality "
                         "classifier on this Spark-SQL boolean seed "
                         "definition and gate the kept corpus with "
                         "the deterministic Pareto rule")
    ap.add_argument("--qmodel-path", default="",
                    help="score with a PRETRAINED LogisticRegression"
                         "Model directory instead of training")
    ap.add_argument("--qmodel-alpha", type=float, default=9.0,
                    help="Pareto shape of the keep gate (GPT-3 uses "
                         "9); larger = closer to a hard threshold")
    ap.add_argument("--qmodel-buckets", type=int, default=1 << 18)
    ap.add_argument("--epoch-budget", type=int, default=0,
                    help="multi-epoch mixture: total token budget; "
                    "plans epochs-per-source (weights from "
                    "--epoch-weight, uniform otherwise) and emits "
                    "labelled epoch copies of the kept corpus")
    ap.add_argument("--epoch-weight", action="append", default=[],
                    help="SRC=W target mixture weight (repeatable)")
    ap.add_argument("--epoch-cap", type=float, default=4.0,
                    help="max epochs any source may repeat")
    ap.add_argument("--rule", action="append", default=[],
                    metavar="REASON:PASS_EXPR",
                    help="extra policy rule: boolean Spark-SQL PASS "
                         "condition over base + dictionary signals "
                         "(first failing rule is the reason; "
                         "repeatable)")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from icicle_spark.functions.text import (
        doc_logprob,
        quality_filter,
        repetition_stats,
        word_freq,
    )
    from icicle_spark.operators.dedup import (
        _norm_tokens,
        decontaminate,
        exact_dedup,
    )
    from icicle_spark.session import get_spark

    spark = get_spark(app_name="icicle_spark_curation")
    docs = spark.read.parquet(args.input)
    n_input = docs.count()

    # 0. URL gate — the cheapest filter runs first (zero shuffle, one
    # narrow map over the scan); canonical_url/domain ride downstream
    n_url_dropped = 0
    if args.url_col:
        from icicle_spark.functions.urls import url_filter

        if args.url_col not in docs.columns:
            raise SystemExit(
                f"--url-col {args.url_col!r} not in input columns "
                f"{docs.columns}"
            )
        gated = url_filter(
            docs, args.url_col,
            blocked_domains=args.block_domain or None,
            blocked_patterns=args.block_pattern or None,
        )
        docs = gated.where("kept").drop("kept", "reason")
        n_url_dropped = n_input - docs.count()

    # 1. exact dedup (hash + groupBy, map-side combine)
    docs = exact_dedup(docs, args.text_col, args.id_col)

    # 1.5 boilerplate removal — content REWRITES, so they run before
    # any signal is computed; removal totals land in the job record
    removal_totals = {}
    if args.line_dedup:
        from icicle_spark.operators.dedup import line_dedup

        docs = line_dedup(
            docs, args.text_col, args.id_col,
            min_count=args.line_min_count,
        )
        docs = docs.withColumnRenamed("n_removed", "__lines_rm")
    if args.substring_dedup:
        from icicle_spark.operators.dedup import substring_dedup

        docs = substring_dedup(
            docs, args.text_col, args.id_col, k=args.substring_dedup
        )
        docs = docs.withColumnRenamed("n_removed", "__tokens_rm")
    if args.span_dedup:
        from icicle_spark.operators.span_dedup import strip_repeated_spans

        cleaned = strip_repeated_spans(
            docs, args.text_col, args.id_col, n=args.span_dedup,
            key="hash",
        ).select(
            F.col(args.id_col),
            F.col("n_removed").alias("__span_tokens_rm"),
            F.col("cleaned").alias(args.text_col),
        )
        docs = docs.drop(args.text_col).join(
            cleaned, on=args.id_col, how="inner"
        )
    if args.c4:
        # C4 line-level cleaning REWRITES the text (terminal-punct /
        # 3-word / javascript line filters); its page-gate columns
        # ride into the signal stage for C4_RULES
        from icicle_spark.functions.text import c4_clean

        docs = c4_clean(docs, args.text_col)
        docs = docs.withColumnRenamed("c4_lines_dropped", "__c4_lines_rm")

    # 2. benchmark decontamination (broadcast gram index), optionally
    # followed by embedding-space decontamination (paraphrases share
    # no n-gram; the flagged id set anti-joins the docs)
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
        docs = decontaminate(
            docs, bench, args.text_col, args.id_col, n=args.ngram
        )
    if args.embeddings and args.benchmark_embeddings:
        from icicle_spark.operators.similarity import (
            semantic_contamination,
        )

        emb = spark.read.parquet(args.embeddings)
        bemb = spark.read.parquet(args.benchmark_embeddings)
        flagged = (
            semantic_contamination(emb, bemb, id_col=args.id_col)
            .where(F.col("max_sim") >= args.semantic_threshold)
            .select(args.id_col)
        )
        docs = docs.join(F.broadcast(flagged), on=args.id_col,
                         how="left_anti")
    # persist the cleaned corpus: the signal stage, the (optional)
    # word-freq build, both writes and the reason summary all read it
    # — without this the dedup+decontamination DAG re-executes up to
    # five times
    docs = docs.persist()
    n_clean = docs.count()
    for col, key in (("__lines_rm", "lines_removed"),
                     ("__tokens_rm", "tokens_removed"),
                     ("__span_tokens_rm", "span_tokens_removed"),
                     ("__c4_lines_rm", "c4_lines_removed")):
        if col in docs.columns:
            removal_totals[key] = int(
                docs.agg(F.sum(col)).first()[0] or 0
            )  # one bounded scalar off the persisted frame
            docs = docs.drop(col)

    # 3. quality signals: one scan-side stage; log-prob adds the
    # word-freq build (one explode+groupBy) + a broadcast join
    sig = repetition_stats(docs, args.text_col).withColumn(
        "n_words", F.size(_norm_tokens(F.col(args.text_col)))
    )
    if args.gopher:
        # named Gopher signals join the same scan-side stage (pure
        # Column exprs, zero extra passes)
        from icicle_spark.functions.text import gopher_signals

        sig = gopher_signals(sig, args.text_col)
    if args.compression:
        # Dolma-style zlib ratio (Arrow-batched mapInPandas; gate the
        # tails with e.g. --rule "too_compressible:compression_ratio
        # >= 0.25" --rule "gibberish_entropy:compression_ratio <= 1.0")
        from icicle_spark.functions.text import compression_ratio

        sig = compression_ratio(sig, args.text_col)
    if not args.no_logprob:
        freq = word_freq(docs, args.text_col)
        lp = doc_logprob(docs, freq, args.text_col, args.id_col)
        sig = sig.join(
            lp.select(args.id_col, "logprob"), on=args.id_col, how="left"
        )
    if args.novelty_index:
        # new-information-rate vs a persisted held-corpus gram index
        # (one 8-byte-key membership join; ~snapshot-sized cost)
        from icicle_spark.operators.dedup import gram_novelty

        spec = args.novelty_index
        path, _, kk = spec.rpartition(":")
        if path and kk.isdigit():
            nk = int(kk)
        else:
            path, nk = spec, 10
        nov = gram_novelty(
            docs, spark.read.parquet(path), args.text_col,
            args.id_col, k=nk,
        )
        sig = sig.join(
            nov.select(args.id_col, "n_grams", "n_novel", "novelty"),
            on=args.id_col, how="left",
        )
    if args.dictionary:
        # declared quality signals (.icicle feature outputs) join the
        # signal frame — one fused pass per declared input
        d = load_signal_dictionary(args.dictionary, args.id_col)
        for name, res in dictionary_signals(
            spark, docs, d, args.id_col, args.dict_snapshot
        ):
            dup = (set(res.columns) & set(sig.columns)) - {args.id_col}
            if dup:
                raise SystemExit(
                    f"dictionary input {name!r} declares signal "
                    f"columns colliding with the base signals: "
                    f"{sorted(dup)}"
                )
            sig = sig.join(res, on=args.id_col, how="left")

    # 4. declarative policy (first failing rule recorded); persisted
    # because kept/dropped writes and the reason summary each consume
    # it
    out = quality_filter(sig, build_rules(args)).persist()

    kept_path = os.path.join(args.output, "kept")
    dropped_path = os.path.join(args.output, "dropped")
    kept_df = out.where("passed").drop("passed", "fail_reason")
    mix_info = {}
    if args.dsir_keep:
        # 4.4 DSIR importance resampling: of the policy survivors,
        # keep the K most target-like by hashed-n-gram importance
        # weight (deterministic Gumbel top-k). The k-row selection
        # broadcasts back onto the corpus.
        from icicle_spark.operators.dsir import dsir_resample

        if args.dsir_target_path:
            target = spark.read.parquet(args.dsir_target_path)
        elif args.dsir_target:
            target = kept_df.where(args.dsir_target)
        else:
            raise SystemExit(
                "--dsir-keep needs --dsir-target or --dsir-target-path"
            )
        sel = dsir_resample(
            kept_df, target, args.dsir_keep,
            text_col=args.text_col, id_col=args.id_col,
            buckets=args.dsir_buckets, seed=args.dsir_seed,
        )
        kept_df = kept_df.join(
            F.broadcast(sel.select(args.id_col)), on=args.id_col
        )
        mix_info["dsir_keep"] = args.dsir_keep
        mix_info["dsir_target"] = args.dsir_target_path or args.dsir_target
    if args.qmodel_target or args.qmodel_path:
        # 4.45 model-based quality gate (GPT-3/CCNet classifier):
        # train on the declared seed (or load a persisted model),
        # score every kept doc (one scan, broadcast coefficients),
        # keep via the deterministic Pareto rule
        from icicle_spark.operators.quality_model import (
            pareto_keep,
            score_quality,
            train_quality_classifier,
        )
        from icicle_spark.operators.sampling import deterministic_sample

        if args.qmodel_path:
            from pyspark.ml.classification import LogisticRegressionModel

            qmodel = LogisticRegressionModel.load(args.qmodel_path)
        else:
            pos = kept_df.where(args.qmodel_target)
            neg = deterministic_sample(
                kept_df.where(f"NOT ({args.qmodel_target})"), 0.5,
                args.id_col,
            )
            qmodel = train_quality_classifier(
                pos, neg, text_col=args.text_col,
                buckets=args.qmodel_buckets,
            )
        scored = score_quality(
            kept_df, qmodel, text_col=args.text_col,
            id_col=args.id_col, buckets=args.qmodel_buckets,
        )
        keep_ids = (
            pareto_keep(scored, id_col=args.id_col,
                        alpha=args.qmodel_alpha)
            .where("kept")
            .select(args.id_col)
        )
        kept_df = kept_df.join(keep_ids, on=args.id_col)
        mix_info["qmodel"] = args.qmodel_path or args.qmodel_target
        mix_info["qmodel_alpha"] = args.qmodel_alpha
    if args.cap_group:
        # 4.5 per-group quota (anti-spam): deterministic hash-ranked
        # survivors, one rank-window shuffle
        from icicle_spark.operators.sampling import cap_per_group

        if args.cap_group not in kept_df.columns:
            raise SystemExit(
                f"--cap-group {args.cap_group!r} not in kept columns "
                f"{kept_df.columns}"
            )
        kept_df = cap_per_group(
            kept_df, args.cap_group, args.cap_max, key_col=args.id_col
        )
        mix_info["cap_group"] = args.cap_group
        mix_info["cap_max"] = args.cap_max
    if args.mix_alpha:
        # 5. temperature rebalancing of the kept corpus (XLM-R/Gopher
        # p^alpha): one tiny count agg for the rates, then a
        # zero-shuffle hash gate — deterministic at any parallelism
        from icicle_spark.operators.sampling import (
            _BUCKETS,
            temperature_mix,
            temperature_rates,
        )

        if args.mix_source_col not in kept_df.columns:
            raise SystemExit(
                f"--mix-alpha needs a {args.mix_source_col!r} column "
                f"(set --mix-source-col); input has {kept_df.columns}"
            )
        rates = temperature_rates(
            kept_df, args.mix_alpha, args.mix_source_col
        )
        kept_df = temperature_mix(
            kept_df, args.mix_alpha, args.mix_source_col,
            key_col=args.id_col, rates=rates,
        )
        mix_info.update({
            "mix_alpha": args.mix_alpha,
            "mix_rates": {s: t / _BUCKETS for s, t in sorted(rates.items())},
        })
    apply_epochs = None
    if args.epoch_budget:
        # 5b. multi-epoch mixture: plan epochs-per-source against the
        # token budget on the UNIQUE kept corpus now; the labelled
        # epoch copies materialize only after the split stage (an
        # epoch-duplicated corpus fed into the split join would fan
        # out e x e rows) — deterministic, zero shuffle
        from icicle_spark.functions.text import token_count
        from icicle_spark.operators.sampling import (
            epoch_upsample,
            plan_source_epochs,
        )

        src_col = args.mix_source_col
        if src_col not in kept_df.columns:
            raise SystemExit(
                f"--epoch-budget needs a {src_col!r} column "
                f"(set --mix-source-col); input has {kept_df.columns}"
            )
        counted = kept_df.withColumn(
            "__epoch_tok", token_count(F.col(args.text_col))
        )
        if args.epoch_weight:
            weights = {}
            for part in args.epoch_weight:
                name, _, w = part.partition("=")
                if not name or not w:
                    raise SystemExit(
                        f"--epoch-weight wants SRC=W, got {part!r}"
                    )
                weights[name.strip()] = float(w)
        else:
            weights = {
                r[src_col]: 1.0
                for r in kept_df.select(src_col).distinct().collect()
            }
        plan = plan_source_epochs(
            counted, weights, args.epoch_budget,
            tok_col="__epoch_tok", source_col=src_col,
            max_epochs=args.epoch_cap,
        )
        rates = {p["source"]: p["epochs"] for p in plan}

        def apply_epochs(df, _rates=rates, _src=src_col,
                         only_where=None):
            return epoch_upsample(
                df, _rates, source_col=_src, id_col=args.id_col,
                only_where=only_where,
            )

        mix_info["epoch_plan"] = [
            {**p, "epochs": round(p["epochs"], 6)} for p in plan
        ]
    split_info = {}
    if args.split:
        # 6. leakage-safe splits: near-dup clusters (precomputed pair
        # graph, or an inline MinHash+LSH pass over the kept corpus)
        # gate WHOLE through one deterministic hash on the component
        # representative — an eval doc's near-copy can never train
        from icicle_spark.operators.dedup import minhash_dedup_pairs
        from icicle_spark.operators.sampling import leakage_safe_split

        fractions: dict[str, float] = {}
        for part in args.split.split(","):
            name, _, frac = part.partition("=")
            if not name or not frac:
                raise SystemExit(
                    f"--split wants NAME=FRAC[,NAME=FRAC...], got "
                    f"{args.split!r}"
                )
            fractions[name.strip()] = float(frac)
        if args.split_pairs:
            pairs = spark.read.parquet(args.split_pairs)
        else:
            pairs = minhash_dedup_pairs(
                kept_df, args.text_col, args.id_col,
                threshold=args.split_threshold,
            )
        assigned = leakage_safe_split(
            kept_df, pairs, fractions, id_col=args.id_col
        )
        kept_df = kept_df.join(
            assigned.select(args.id_col, "split"), on=args.id_col
        )
        if apply_epochs is not None:
            # Epoch upsampling is a TRAIN-set treatment: eval splits
            # stay one-copy (epoch 0). Upsampled eval rows would
            # double-count eval examples downstream and inflate the
            # leakage audit's per-split n_docs denominator,
            # understating contaminated_frac by ~the epoch factor.
            # only_where keeps this ONE pass over the (expensive)
            # split-join lineage — a two-branch union would evaluate
            # the minhash/LSH split assignment twice.
            if "train" not in fractions:
                raise SystemExit(
                    "--epoch-budget with --split requires a split "
                    "named 'train' (epochs apply to train only; the "
                    f"leakage audit keys on it too): {args.split!r}"
                )
            kept_df = apply_epochs(
                kept_df, only_where=F.col("split") == "train"
            )
        kept_df.write.mode("overwrite").partitionBy("split").parquet(
            kept_path
        )
        split_info["split_counts"] = {
            r["split"]: r["n"]
            for r in spark.read.parquet(kept_path)
            .groupBy("split")
            .agg(F.count("*").alias("n"))
            .collect()  # bounded: one row per split name
        }
        if args.audit_leakage:
            # release gate: word n-gram overlap of each eval split
            # vs train, over the WRITTEN corpus (two scans, broadcast
            # gram indexes — see cross_split_contamination)
            from icicle_spark.operators.dedup import (
                cross_split_contamination,
            )

            split_info["split_leakage"] = {
                r["split"]: {
                    "n_docs": r["n_docs"],
                    "n_contaminated": r["n_contaminated"],
                    "contaminated_frac": r["contaminated_frac"],
                }
                for r in cross_split_contamination(
                    spark.read.parquet(kept_path),
                    text_col=args.text_col,
                    id_col=args.id_col,
                    n=args.audit_leakage,
                ).collect()  # bounded: one row per eval split
            }
    else:
        if apply_epochs is not None:
            kept_df = apply_epochs(kept_df)
        kept_df.write.mode("overwrite").parquet(kept_path)
    if mix_info:
        mix_info["kept_after_mix"] = spark.read.parquet(kept_path).count()
    out.where("NOT passed").write.mode("overwrite").parquet(dropped_path)

    reasons = {
        r["fail_reason"]: r["n"]
        for r in out.where("NOT passed")
        .groupBy("fail_reason")
        .agg(F.count("*").alias("n"))
        .collect()  # bounded: one row per policy rule
    }
    n_kept = n_clean - sum(reasons.values())
    report_info = {}
    if args.report:
        # telemetry over the PERSISTED kept corpus (re-read, same
        # re-execution guard as the other consumers): chars derived
        # from the cleaned text, lang column used when present
        from icicle_spark.operators.reporting import corpus_stats

        kept_read = spark.read.parquet(kept_path)
        if "lang" not in kept_read.columns:
            kept_read = kept_read.withColumn("lang", F.lit("und"))
        kept_read = kept_read.withColumn(
            "__chars", F.length(args.text_col)
        )
        group = (args.mix_source_col
                 if args.mix_source_col in kept_read.columns else "lang")
        stats = corpus_stats(
            kept_read, group_col=group, char_col="__chars",
            text_col=args.text_col, lang_col="lang",
        )
        stats_path = os.path.join(args.output, "kept_stats.parquet")
        stats.write.mode("overwrite").parquet(stats_path)
        report_info["kept_stats"] = {
            r[group]: {
                "n_docs": r["n_docs"],
                "total_chars": r["total_chars"],
                "p50_chars": r["p50_chars"],
                "dup_ratio": r["dup_ratio"],
            }
            for r in spark.read.parquet(stats_path).collect()
        }  # bounded: one row per source + TOTAL
    summary = {
        "input_docs": n_input,
        "after_dedup_decontamination": n_clean,
        "kept": n_kept,
        "dropped_by_reason": reasons,
        **({"url_dropped": n_url_dropped} if args.url_col else {}),
        **removal_totals,
        **mix_info,
        **split_info,
        **report_info,
    }
    os.makedirs(args.output, exist_ok=True)
    with open(os.path.join(args.output, "summary.json"), "w") as f:
        json.dump(summary, f, indent=2, sort_keys=True)
    print(json.dumps(summary, sort_keys=True))
    out.unpersist()
    docs.unpersist()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
